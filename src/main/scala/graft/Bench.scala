package graft
object Bench {
  /** One timed run of one query: wall seconds, the JVM's GC and
    * process-CPU ms over it, and its layers. */
  private[graft] final case class Run(wallS: Double, gcMs: Long, cpuMs: Long,
      layers: QueryLayers)
  private[graft] val FailedRun =
    Run(-1.0, -1L, -1L, QueryLayers(-1, -1, -1, -1, -1, -1, -1, -1, -1))

  /** Everything one bench run reports; [[fullLine]] and [[totalLine]]
    * render it. `passes` holds each pass's per-query walls, `best` each
    * query's min-wall run across passes (wall -1 = every pass failed). */
  private[graft] final case class Report(sf: String, priorSf: String, cpus: Int,
      errors: Seq[String], medianRatio: Double, regressions: Seq[String],
      loadBegin: String, loadEnd: String, setupLsh: Double,
      passes: Seq[Map[String, Double]], best: Map[String, Run]) {
    def failed: Int = best.values.count(_.wallS < 0)
    def total: Double = best.values.map(_.wallS).filter(_ >= 0).sum
  }

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The per-query layers `Bench` ships, under perfbench's `per_layer`
    * names where it has one. */
  private[graft] def layerFields(l: QueryLayers): Seq[(String, String)] =
    Seq("construct_ms" -> fmt(l.constructMs), "exec_ms" -> fmt(l.execMs),
      "spark.jobs" -> l.jobs.toString, "spark.construct_jobs" -> l.constructJobs.toString,
      "spark.tasks" -> l.tasks.toString,
      "spark.shuffle_write_bytes" -> l.shuffleWriteBytes.toString,
      "spark.executor_busy_ms" -> l.executorBusyMs.toString)

  /** The full result line: the stdout artifact with per-query walls
    * rounded to ms (`rounded`), the file artifact at full precision.
    * Keys are sorted so a clipped stdout tail loses entries from the
    * FRONT deterministically, and "value" (the headline total) sits
    * LAST so it always survives. */
  private[graft] def fullLine(r: Report, rounded: Boolean): String = {
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    def perQuery(f: Run => String) =
      obj(r.best.toSeq.sortBy(_._1).map { case (q, run) => q -> f(run) })
    obj(Seq("metric" -> "\"total\"", "unit" -> "\"sec\"", "sf" -> Json.str(r.sf),
      "prior_sf" -> Json.str(r.priorSf), "failed" -> r.failed.toString,
      "errors" -> r.errors.map(Json.str).mkString("[", ",", "]"),
      "median_ratio" -> f"${r.medianRatio}%.4f",
      "regressions" -> r.regressions.mkString("[", ",", "]"),
      // box state + per-query JVM telemetry: loadavg shows how contended
      // the box was, the gc/cpu maps and the layers let any flag be
      // adjudicated without a re-run
      "loadavg_begin" -> r.loadBegin, "loadavg_end" -> r.loadEnd,
      "setup" -> obj(Seq("lsh_index" -> fmt(r.setupLsh))),
      "passes" -> r.passes.map(p => obj(p.toSeq.sortBy(_._1)
        .map { case (q, v) => q -> fmt(v) })).mkString("[", ",", "]"),
      "gc_ms" -> perQuery(_.gcMs.toString), "cpu_ms" -> perQuery(_.cpuMs.toString),
      "layers" -> perQuery(run => obj(layerFields(run.layers))),
      "queries" -> perQuery(run => if (rounded) fmt(run.wallS) else run.wallS.toString),
      "value" -> r.total.toString))
  }

  /** The per-query walls (rounded to ms, -1 = failed) as compact lines
    * `{"metric":"chunk","i":k,"of":n,"qs":{…}}`, k = 1..n, each under
    * 200 chars: a bounded stdout tail that front-clips the full line
    * still keeps whole chunks of it. */
  private[graft] def chunkLines(r: Report): Seq[String] = {
    val entries = r.best.toSeq.sortBy(_._1).map { case (q, run) =>
      Json.str(q) + ":" + fmt(run.wallS) }
    // room for the frame with k and n at their widest
    val digits = entries.size.toString.length
    val room = 199 - s"""{"metric":"chunk","i":,"of":,"qs":{}}""".length - 2 * digits
    val groups = entries.foldLeft(Vector.empty[Vector[String]]) { (gs, e) =>
      if (gs.nonEmpty && (gs.last :+ e).mkString(",").length <= room)
        gs.init :+ (gs.last :+ e)
      else gs :+ Vector(e)
    }
    groups.zipWithIndex.map { case (g, i) =>
      s"""{"metric":"chunk","i":${i + 1},"of":${groups.size},"qs":{${g.mkString(",")}}}"""
    }
  }

  /** The last stdout line, compact (<200 chars): a bounded stdout tail
    * front-clips the full line into unparseable JSON, but always keeps
    * this one intact. */
  private[graft] def totalLine(r: Report): String =
    s"""{"metric":"total","unit":"sec","sf":${Json.str(r.sf)},"cpus":${r.cpus},""" +
      s""""failed":${r.failed},"n":${r.best.size},"value":${r.total}}"""

  /** Every stdout line of a run, in order: the full line, the chunks,
    * the total line. */
  private[graft] def printedLines(r: Report): Seq[String] =
    (fullLine(r, rounded = true) +: chunkLines(r)) :+ totalLine(r)

  /** Resolve the standing LSH index for `sfDir`'s documents before
    * any measured query — every main that measures queries calls this
    * first: a build inside a measured query would land its one-time
    * cost in that query's figures, and only on a cold cache. Same path
    * string as the queries, so the fingerprint keys the same cache
    * entry. Returns the seconds taken, −1 when there is no corpus. */
  private[graft] def resolveLshIndex(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Double =
    if (new java.io.File(s"$sfDir/documents.parquet").exists) {
      val t0 = System.nanoTime()
      graft.operators.LshIndex.buildOrLoad(spark,
        spark.read.parquet(s"$sfDir/documents.parquet"),
        s"$sfDir/documents.parquet")
      (System.nanoTime() - t0) / 1e9
    } else -1.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain()
    // optional regex over query names for local iteration; unset, the
    // full suite is measured
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
    val selected = SparkEntry.selected(filter)
    // Warm up JVM/codegen per query at the smallest SF: generated code
    // depends on plan structure, not data volume, so the timed runs
    // measure steady-state execution, not first-compile latency.
    val warm = warmDir(sfDir)
    selected.foreach { case (_, fn) =>
      try fn(spark, warm).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // Per-query GC and CPU telemetry: a regression flag whose wall
    // excess is GC-dominated self-classifies. local[N] executors ARE
    // the driver JVM, so the management beans see the whole execution.
    import scala.jdk.CollectionConverters._
    def jvmGcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    def procCpuMs(): Long = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1000000L
        case _ => -1L
      }
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Exception => "[]" }
    val loadBegin = loadavg()
    // timed apart as "setup":{"lsh_index":s}
    val setupLsh: Double =
      try resolveLshIndex(spark, sfDir)
      catch { case e: Throwable =>
        errors += s"setup:lsh_index: ${e.getMessage}"; -1.0 }
    // The noop sink executes the FULL plan; a bare .count() lets
    // Catalyst delete global sorts and prune most columns.
    val profile = QueryProfile.install(spark)
    def once(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Run = {
      val (g0, c0) = (jvmGcMs(), procCpuMs())
      val (_, layers) = profile.measure(fn(spark, sfDir))(
        _.write.format("noop").mode("overwrite").save())
      Run(layers.wallMs / 1e3, jvmGcMs() - g0, procCpuMs() - c0, layers)
    }
    // Min of 3 runs per pass, so a one- or two-run stall (GC, page-cache
    // eviction) rarely reaches the artifact; two temporally separated
    // passes, so a multi-minute contention window does not either. Each
    // query reports its cross-pass min-wall run (gc/cpu/layers included)
    // and fails only when no pass measured it; both pass maps ship.
    def runPass(): Map[String, Run] = selected.map { case (name, fn) =>
      name -> (try Seq(once(fn), once(fn), once(fn)).minBy(_.wallS)
        catch { case e: Throwable =>
          errors += s"$name: ${e.getMessage}"; FailedRun })
    }.toMap
    val passRuns = Seq(runPass(), runPass())
    val best = passRuns.head.keys.map { name =>
      val ok = passRuns.flatMap(_.get(name)).filter(_.wallS >= 0)
      name -> (if (ok.nonEmpty) ok.minBy(_.wallS) else FailedRun)
    }.toMap
    val results = best.view.mapValues(_.wallS).toMap
    // "failed" is a first-class field and rc stays 0: a nonzero exit
    // would trade visibility for data loss; stderr covers interactive use.
    val failed = results.values.count(_ < 0)
    if (failed > 0)
      System.err.println(
        s"bench: $failed quer${if (failed == 1) "y" else "ies"} FAILED: " +
          errors.map(_.takeWhile(_ != '\n')).mkString(" | "))
    // Per-query regression gate against the previous full-precision
    // artifact (bench_full_latest.json or SPARK_GRAFT_BENCH_PRIOR), read
    // before this run overwrites it. Inert, visibly, across sfs.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
      "bench_full_latest.json")
    val (priorSf, priorTimes): (String, Map[String, Double]) =
      try {
        val txt = scala.io.Source.fromFile(priorPath, "UTF-8").mkString
        val sfRe = "\"sf\":\"([^\"]*)\"".r
        // E-notation too (a sub-ms prior is written as 9.0E-4); the
        // "queries" map is the line's last per-query number map, so its
        // entries win
        val qRe = "\"(q[0-9][^\"]*)\":(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)".r
        (sfRe.findFirstMatchIn(txt).map(_.group(1)).getOrElse(""),
          qRe.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap)
      } catch { case _: Throwable => ("", Map.empty[String, Double]) }
    val (medianRatio, regressions0) =
      if (priorSf == sfDir)
        Bench.findRegressions(priorTimes, results, best.view.mapValues(_.gcMs).toMap)
      else (1.0, Seq.empty[String])
    if (priorTimes.nonEmpty && priorSf != sfDir)
      System.err.println(s"bench: regression gate INERT — prior artifact " +
        s"measured sf '$priorSf', this run is '$sfDir' (see prior_sf in " +
        "the artifact)")
    // Each flag (at most 8, the rest reported) is re-measured min-of-3
    // after a GC settle, now that the suite is done, and ships its
    // `isolated_s` beside `now`, so it adjudicates itself.
    val isolatedCap = 8
    val flaggedQs = regressions0.flatMap(s =>
      "\"q\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1)))
    if (flaggedQs.size > isolatedCap)
      System.err.println(s"bench: ${flaggedQs.size} flags exceed the " +
        s"isolated re-measure cap ($isolatedCap) — un-remeasured: " +
        flaggedQs.drop(isolatedCap).mkString(" "))
    val isolated: Map[String, Double] =
      flaggedQs.take(isolatedCap).flatMap { q =>
        try {
          System.gc(); Thread.sleep(500)
          val fn = SparkEntry.queries(q)
          Some(q -> Seq(once(fn), once(fn), once(fn)).map(_.wallS).min)
        } catch { case _: Throwable => None }
      }.toMap
    val regressions = regressions0.map { s =>
      "\"q\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1))
        .flatMap(isolated.get)
        .map(v => s.dropRight(1) + s""","isolated_s":${fmt(v)}}""")
        .getOrElse(s)
    }
    if (regressions.nonEmpty) {
      val (gcDom, unexplained) =
        regressions.partition(_.contains("\"gc_dominated\":true"))
      if (gcDom.nonEmpty)
        System.err.println(s"bench: ${gcDom.size} flag(s) GC-DOMINATED " +
          "(wall excess explained by the measured run's own GC pauses — " +
          "suite-JVM noise, no re-measure needed): " + gcDom.mkString(" "))
      if (unexplained.nonEmpty)
        System.err.println(s"bench: ${unexplained.size} quer" +
          s"${if (unexplained.size == 1) "y" else "ies"} regressed " +
          f">2x the suite-median drift ($medianRatio%.2fx) " +
          s"vs $priorPath, UNEXPLAINED by GC — re-measure exclusively " +
          "before trusting: " + unexplained.mkString(" "))
    }
    val report = Report(sfDir, priorSf, GraftSession.mainCpus, errors.toSeq,
      medianRatio, regressions, loadBegin, loadavg(), setupLsh,
      passRuns.map(_.view.mapValues(_.wallS).toMap), best)
    // cwd-relative default, override with SPARK_GRAFT_BENCH_OUT. A
    // filtered run writes it only when that is set: a partial map at the
    // default path would disarm the gate for every unmeasured query.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full_latest.json")
    if (filter.isDefined && !sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      System.err.println("bench: filter active — skipping the " +
        s"$fullPath artifact write (set SPARK_GRAFT_BENCH_OUT to force)")
    } else try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(fullLine(report, rounded = false))
      finally w.close()
    } catch { case e: java.io.IOException =>
      System.err.println(s"bench: could not write $fullPath: $e")
    }
    printedLines(report).foreach(println)
    spark.stop()
  }

  /** The warm-up scale for `sfDir`: its sibling `sf0.001` when that
    * exists, else `sfDir` itself. */
  private[graft] def warmDir(sfDir: String): String = {
    val d = new java.io.File(sfDir).getParent + "/sf0.001"
    if (new java.io.File(d).isDirectory) d else sfDir
  }

  /** Drift-normalized regression gate (r9 verdict ask #4), pure so a
    * spec can exercise it synthetically. The shared box drifts as a
    * WHOLE — r9's driver run showed untouched sub-second scans at
    * 1.5-2x alongside the suite median of 1.59x — so an absolute >2x
    * flag both cries wolf on calm code during a loaded run AND would
    * let a real 1.8x regression hide inside a 0.9x calm run. Each
    * query's ratio is therefore compared against the SUITE-MEDIAN
    * ratio of the same run (ambient drift cancels); the absolute >2x
    * flag is kept as a secondary (kind=absolute) so a whole-suite
    * regression — where the median itself is the problem — still
    * surfaces. Sub-quarter-second deltas stay exempt (tiny-query
    * jitter).
    *
    * Self-adjudication (r10 verdict ask #3): when the measured run's
    * own GC pauses cover at least half of a flagged query's wall
    * excess over the drift-adjusted prior, the flag is marked
    * `gc_dominated` — r10 carried five flags, all later adjudicated as
    * suite-JVM GC noise at the cost of an exclusive re-measure each;
    * this classification ships in the artifact instead.
    *
    * Returns (median ratio, regression JSON objects sorted by name):
    * {"q","prior","now","ratio","norm","kind","gc_ms","gc_dominated"}
    * with kind in normalized | absolute | both, norm = ratio/median. */
  private[graft] def findRegressions(prior: Map[String, Double],
      now: Map[String, Double],
      gcMs: Map[String, Long] = Map.empty): (Double, Seq[String]) = {
    val joined = now.toSeq.sortBy(_._1).flatMap { case (name, v) =>
      prior.get(name) match {
        case Some(p) if p > 0 && v >= 0 => Some((name, p, v, v / p))
        case _ => None
      }
    }
    val ratios = joined.map(_._4).sorted
    val median =
      if (ratios.isEmpty) 1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    val regs = joined.flatMap { case (name, p, v, r) =>
      // normalized: slower than 2x what the rest of THIS run drifted;
      // the jitter floor compares against the drift-adjusted prior
      val norm = v > 2 * p * median && v - p * median > 0.25
      val abs = v > 2 * p && v - p > 0.25
      val kind =
        if (norm && abs) Some("both")
        else if (norm) Some("normalized")
        else if (abs) Some("absolute")
        else None
      kind.map { k =>
        val gc = gcMs.getOrElse(name, -1L)
        val gcDom = gc >= 0 && gc / 1000.0 >= 0.5 * (v - p * median)
        s"""{"q":"$name","prior":${fmt(p)},"now":${fmt(v)},""" +
          f""""ratio":${fmt(r)},"norm":${fmt(r / median)},"kind":"$k",""" +
          s""""gc_ms":$gc,"gc_dominated":$gcDom}"""
      }
    }
    (median, regs)
  }
}
