package graft

import org.scalatest.funsuite.AnyFunSuite

/** Synthetic exercise of the drift-normalized bench regression gate
  * (r9 verdict ask #4) — pure logic, no Spark session. */
class BenchGateSpec extends AnyFunSuite {

  private def names(regs: Seq[String]): Set[String] =
    regs.flatMap("\"q\":\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1))).toSet
  private def kinds(regs: Seq[String]): Map[String, String] =
    regs.flatMap { r =>
      for {
        q <- "\"q\":\"([^\"]+)\"".r.findFirstMatchIn(r).map(_.group(1))
        k <- "\"kind\":\"([^\"]+)\"".r.findFirstMatchIn(r).map(_.group(1))
      } yield q -> k
    }.toMap

  test("a flag whose wall excess is covered by its own GC self-classifies") {
    // many calm queries pin the median at 1.0; two flagged: one whose
    // min-run spent 2.6 s in GC (covers the 2.5 s excess -> noise),
    // one with near-zero GC (unexplained -> re-measure)
    val prior = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.8, "q4" -> 5.0,
      "gcnoise" -> 1.0, "real" -> 1.0)
    val now = prior ++ Map("gcnoise" -> 3.5, "real" -> 3.5)
    val gc = Map("gcnoise" -> 2600L, "real" -> 40L, "q1" -> 5L)
    val (_, regs) = Bench.findRegressions(prior, now, gc)
    assert(names(regs) == Set("gcnoise", "real"), s"got $regs")
    val byQ = regs.map(r => names(Seq(r)).head -> r).toMap
    assert(byQ("gcnoise").contains("\"gc_dominated\":true"), byQ("gcnoise"))
    assert(byQ("real").contains("\"gc_dominated\":false"), byQ("real"))
    // no telemetry recorded (old artifact) -> never claims gc-dominated
    val (_, regs2) = Bench.findRegressions(prior, now)
    assert(regs2.forall(_.contains("\"gc_dominated\":false")), regs2)
  }

  test("uniform box drift flags nothing, whatever its magnitude") {
    val prior = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.8, "q4" -> 5.0)
    // the whole suite at 1.9x — the r9 loaded-box shape; the old
    // absolute-only gate would have flagged every query over 0.25 s
    val now = prior.view.mapValues(_ * 1.9).toMap
    val (median, regs) = Bench.findRegressions(prior, now)
    assert(math.abs(median - 1.9) < 1e-9)
    assert(regs.isEmpty, s"ambient drift must not flag: $regs")
  }

  test("a real regression under calm-box cover is caught (the silent-pass case)") {
    // suite at 0.9x (calm box), one query at 1.9x: absolute gate says
    // fine (< 2x), normalized gate must flag it
    val prior = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 3.0, "q4" -> 1.5,
      "bad" -> 2.0)
    val now = Map("q1" -> 0.9, "q2" -> 1.8, "q3" -> 2.7, "q4" -> 1.35,
      "bad" -> 3.8)
    val (median, regs) = Bench.findRegressions(prior, now)
    assert(math.abs(median - 0.9) < 1e-9)
    assert(names(regs) == Set("bad"), s"got $regs")
    assert(kinds(regs)("bad") == "normalized")
  }

  test("a genuine >2x regression on a calm box flags as both") {
    val prior = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 3.0, "bad" -> 2.0)
    val now = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 3.0, "bad" -> 5.0)
    val (_, regs) = Bench.findRegressions(prior, now)
    assert(names(regs) == Set("bad"))
    assert(kinds(regs)("bad") == "both")
  }

  test("whole-suite real regression still surfaces via the absolute secondary") {
    // every query 3x slower — the median normalizes it away, but the
    // absolute flag keeps the catastrophe visible
    val prior = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 1.5)
    val now = prior.view.mapValues(_ * 3.0).toMap
    val (_, regs) = Bench.findRegressions(prior, now)
    assert(names(regs) == Set("q1", "q2", "q3"))
    assert(kinds(regs).values.toSet == Set("absolute"))
  }

  test("sub-quarter-second jitter on tiny queries stays exempt") {
    val prior = Map("q1" -> 0.05, "q2" -> 1.0)
    val now = Map("q1" -> 0.2, "q2" -> 1.0) // 4x but +0.15 s
    val (_, regs) = Bench.findRegressions(prior, now)
    assert(regs.isEmpty, s"tiny-query jitter flagged: $regs")
  }

  test("failed (-1) and unmatched queries never poison the median") {
    val prior = Map("q1" -> 1.0, "q2" -> 1.0, "gone" -> 9.0)
    val now = Map("q1" -> 1.0, "q2" -> -1.0, "new" -> 5.0)
    val (median, regs) = Bench.findRegressions(prior, now)
    assert(median == 1.0)
    assert(regs.isEmpty)
  }

  test("empty prior disarms the gate cleanly") {
    val (median, regs) = Bench.findRegressions(Map.empty, Map("q1" -> 1.0))
    assert(median == 1.0 && regs.isEmpty)
  }

  test("Json.str round-trips quote, backslash, newline, tab and control chars") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (s <- Seq("\"", "\\", "\n", "\t", "\u0001", "a\"b\\c\nd\te\u0001f\r")) {
      val lit = Json.str(s)
      assert(!lit.exists(_ < ' '), s"raw control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) == s, lit)
    }
  }

  test("the rendered result lines: full line parses, carries layers, value last; total line compact") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val layers = QueryLayers(12.5, 340.25, 3, 1, 24, 4096, 900, 10, 2048)
    val report = Bench.Report("/root/testdata/sf0.1", "/root/testdata/sf0.1", 32,
      Seq("q9_bad: line one\nline two"), 1.0123, Seq.empty, "[0.5,0.4,0.3]",
      "[1.0,0.9,0.8]", 0.25,
      Seq(Map("q1_ok" -> 0.5, "q9_bad" -> -1.0), Map("q1_ok" -> 0.4, "q9_bad" -> -1.0)),
      Map("q1_ok" -> Bench.Run(0.4000001, 7L, 900L, layers), "q9_bad" -> Bench.FailedRun))
    for (rounded <- Seq(true, false)) {
      val line = Bench.fullLine(report, rounded)
      val tree = mapper.readTree(line)
      assert(tree.get("failed").asInt == 1 && tree.get("value").asDouble == 0.4000001, line)
      val qs = tree.get("queries")
      assert(qs.get("q1_ok").asDouble == (if (rounded) 0.4 else 0.4000001), line)
      val keys = Bench.layerFields(layers).map(_._1)
      assert(keys.take(3) == Seq("construct_ms", "exec_ms", "spark.jobs"))
      Seq("q1_ok", "q9_bad").foreach { q =>
        val l = tree.get("layers").get(q)
        assert(keys.forall(l.has), s"$q layers: $l")
      }
      assert(tree.get("layers").get("q1_ok").get("spark.jobs").asLong == 3)
      assert(tree.get("layers").get("q9_bad").get("spark.jobs").asLong == -1)
      import scala.jdk.CollectionConverters._
      assert(tree.fieldNames.asScala.toSeq.last == "value", line)
    }
    val total = Bench.totalLine(report)
    assert(total.length < 200, total)
    assert(mapper.readTree(total).get("cpus").asInt == 32, total)
  }

  test("every printed line parses once sbt's [info] prefix is stripped; chunks cover the queries") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    val layers = QueryLayers(1.0, 2.0, 1, 0, 4, 0, 3, 0, 0)
    // 60 queries with realistic names, one failed; an sf with a quote
    // and a backslash, which the total line must escape
    val best = (1 to 60).map { i =>
      f"q$i%03d_operator_pack_query_name" ->
        (if (i == 7) Bench.FailedRun else Bench.Run(i * 0.0123456, 1L, 2L, layers))
    }.toMap
    val report = Bench.Report("/data/sf\"0.1\\x", "", 4, Seq.empty, 1.0, Seq.empty,
      "[]", "[]", -1.0, Seq(best.view.mapValues(_.wallS).toMap), best)
    val lines = Bench.printedLines(report)
      .map("[info] " + _).map(_.stripPrefix("[info] "))
    val trees = lines.map(l => l -> mapper.readTree(l))
    assert(trees.forall(_._2.get("metric") != null), lines)
    assert(trees.head._2.get("metric").asText == "total" && trees.head._2.has("queries"))
    assert(trees.last._2.get("metric").asText == "total" && !trees.last._2.has("queries"))
    assert(trees.last._2.get("sf").asText == report.sf, trees.last._1)
    val chunks = trees.drop(1).dropRight(1)
    assert(chunks.size > 1, "60 queries must not fit one chunk")
    chunks.zipWithIndex.foreach { case ((l, t), i) =>
      assert(l.length < 200, l)
      assert(t.get("metric").asText == "chunk" && t.get("i").asInt == i + 1 &&
        t.get("of").asInt == chunks.size, l)
    }
    val fromChunks = chunks.flatMap { case (_, t) =>
      t.get("qs").fields.asScala.map(e => e.getKey -> e.getValue.asDouble) }
    val full = trees.head._2.get("queries").fields.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toSeq
    assert(fromChunks == full)
    assert(fromChunks.toMap.apply("q007_operator_pack_query_name") == -1.0)
  }
}
