package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Functional quality checks of the df-level dedup API on a corpus
  * with KNOWN near-duplicates (not just determinism/parity). */
class DedupApiSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val corpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then runs far away into the deep green forest tonight"
    Seq(
      (1L, base),
      (2L, base.replace("tonight", "forever")),      // near-dup of 1 (tail edit)
      (3L, base),                                    // exact dup of 1
      (4L, "completely different words about spark catalyst optimizer plans and shuffle exchange partitioning strategy here"),
      (5L, "yet another unrelated document mentioning parquet files columnar storage compression encodings and row groups")
    ).toDF("doc_id", "text")
  }

  test("identical docs share the full minhash signature") {
    val sig = Dedup.minhashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i)).toSeq).toMap
    assert(sig(1L) == sig(3L))
    assert(sig(1L) != sig(4L))
  }

  test("LSH finds the exact and near pair, not the unrelated ones") {
    val pairs = Dedup.lshCandidates(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 3L)), s"exact dup pair missed: $pairs")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 3L)),
      s"near-dup pair missed: $pairs")
    assert(!pairs.contains((4L, 5L)), s"false positive on unrelated docs: $pairs")
  }

  test("connected components cluster transitive near-dups under the min id") {
    import spark.implicits._
    // path graph 1-2-3 plus isolated pair 7-9: the label must cross the
    // full path (transitivity), and separate components stay separate
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // on the real corpus: both endpoints of every LSH pair share a label
    val cand = Dedup.lshCandidates(corpus)
    val labels = Dedup.connectedComponents(cand)
    val broken = cand
      .join(labels.withColumnRenamed("node", "doc_a")
        .withColumnRenamed("label", "la"), "doc_a")
      .join(labels.withColumnRenamed("node", "doc_b")
        .withColumnRenamed("label", "lb"), "doc_b")
      .filter(col("la") =!= col("lb"))
    assert(broken.isEmpty, "pair endpoints landed in different clusters")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap

  test("distributed star loop matches union-find, in fewer rounds than chain diameter") {
    import spark.implicits._
    // 3 components: a 60-node chain (diameter 59 — what label
    // propagation would need in rounds), a star, and a pair
    val chain = (1000L until 1059L).map(i => (i, i + 1))
    val star = Seq((1L, 5000L), (1L, 5001L), (1L, 5002L))
    val pair = Seq((7L, 9L))
    val pairs = (chain ++ star ++ pair).toDF("doc_a", "doc_b")
    val exact = labelsOf(Dedup.connectedComponents(pairs))
    assert(Dedup.lastCcRounds == 0, "expected the union-find fast path")
    // threshold 0 forces the distributed loop: a graph this small
    // otherwise takes the union-find fast path
    val looped = labelsOf(Dedup.connectedComponents(pairs, 50, 0L))
    val rounds = Dedup.lastCcRounds
    assert(looped == exact, "star loop disagrees with union-find")
    assert(looped(1059L) == 1000L && looped(5002L) == 1L && looped(9L) == 7L)
    assert(rounds > 0 && rounds < 59,
      s"star should converge in O(log n) rounds, took $rounds (diameter 59)")
  }

  test("distributed star loop matches union-find on the q72 LSH-pair corpus") {
    val docs = GraftSession.table(spark, sf, "documents")
    val cand = Dedup.lshCandidates(docs).localCheckpoint()
    val exact = labelsOf(Dedup.connectedComponents(cand))
    val looped = labelsOf(Dedup.connectedComponents(cand, 50, 0L))
    assert(Dedup.lastCcRounds > 0, "threshold 0 must force the loop")
    assert(exact.nonEmpty && looped == exact)
  }

  test("self-loop pairs contribute no node, on both paths") {
    import spark.implicits._
    // (5, 5) is dropped with every other hi == lo edge: 5 gets no label
    // row, and the real pair is clustered as usual
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("doc_a", "doc_b")
    val exact = labelsOf(Dedup.connectedComponents(pairs))
    assert(exact == Map(1L -> 1L, 2L -> 1L))
    assert(labelsOf(Dedup.connectedComponents(pairs, 50, 0L)) == exact)
  }

  test("reliable checkpoints yield identical clusters (and fail fast without a checkpoint dir)") {
    import spark.implicits._
    val pairs = ((1000L until 1030L).map(i => (i, i + 1)) ++
      Seq((1L, 5000L), (1L, 5001L), (7L, 9L))).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    assert(prior.isEmpty, "test assumes no ambient checkpoint dir")
    val exact = labelsOf(Dedup.connectedComponents(pairs))
    val local = labelsOf(Dedup.connectedComponents(pairs, 50, 0L))
    assert(local == exact)
    spark.conf.set(GraftSession.ReliableCheckpointsConf, "true")
    try {
      // fail fast, not N rounds in, when the reliable dir is missing
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs)
      }
      val ckptDir = java.nio.file.Files.createTempDirectory("cc-reliable")
      sc.setCheckpointDir(ckptDir.toString)
      val reliable = labelsOf(Dedup.connectedComponents(pairs, 50, 0L))
      assert(reliable == local, "checkpoint mode changed cluster labels")
      assert(labelsOf(Dedup.connectedComponents(pairs)) == exact)
    } finally {
      spark.conf.unset(GraftSession.ReliableCheckpointsConf)
      // SparkContext has no unsetCheckpointDir; the conf object does —
      // keep the shared session pristine for other suites
      sc.setCheckpointDir(null)
    }
  }

  test("editDistancePairs: blocked typo-class pairs found, oversized blocks culled") {
    import spark.implicits._
    val docs = Seq(
      (1L, "PREFIX00 the quick brown fox jumps over the lazy dog today"),
      (2L, "PREFIX00 the quick brown fox jumps over the lazy cat today"), // 3 edits from 1
      (3L, "PREFIX00 something else entirely different in every word!!"), // same block, far
      (4L, "OTHERBLK the quick brown fox jumps over the lazy dog today")  // near doc 1, other block
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, blockLen = 8, pfxLen = 60,
      maxDist = 15, maxBlock = 1000)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("lev"))).toSet
    // only the in-block typo pair survives: 3 is beyond maxDist, 4 is
    // blocked apart (the documented recall trade of prefix blocking)
    assert(pairs == Set((1L, 2L, 3)))
    // a block over maxBlock is dropped whole — boilerplate can't go quadratic
    val boiler = (0L until 10L).map(i => (i, s"SAMEPREF doc $i"))
      .toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(boiler, maxBlock = 5).count() == 0L)
  }

  test("editDistanceDroppedBlocks reports every over-cap block, and only those") {
    import spark.implicits._
    // 8 docs behind one boilerplate prefix (over the cap of 5), 3
    // behind another (under) — the audit face must surface exactly the
    // boilerplate block with its true size, so the q119 coverage cap
    // is never silent
    val docs = ((0L until 8L).map(i => (i, s"BOILERPL licence header variant $i")) ++
      (100L until 103L).map(i => (i, s"RAREPREF unique content $i")))
      .toDF("doc_id", "text")
    val dropped = Dedup.editDistanceDroppedBlocks(docs, blockLen = 8, maxBlock = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dropped == Map("BOILERPL" -> 8L), s"got $dropped")
    // and the pair query under the same params excludes that block whole
    assert(Dedup.editDistancePairs(docs, blockLen = 8, maxBlock = 5)
      .filter(col("doc_a") < 100L).count() == 0L)
  }

  test("anchoredWindows: content-defined anchors survive an alignment shift") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green turtles carry mysterious packages across the wide frozen river"
    val docs = Seq(
      (1L, body),
      (2L, "UNALIGNED-PREFIX-OF-ODD-LENGTH@@@ " + body + " AND A TRAILER")
    ).toDF("doc_id", "text")
    val aw = Dedup.anchoredWindows(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val shared = aw.filter(_._1 == 1L).map(_._2).toSet
      .intersect(aw.filter(_._1 == 2L).map(_._2).toSet)
    // a fixed-stride window scheme shares NOTHING here (the 34-char
    // prefix realigns every stride); content-defined anchors share the
    // interior windows of the copied span
    assert(shared.nonEmpty,
      "shifted copy must share anchored windows with the original")
  }

  test("dupSpanMask: copies flagged, uniques clean, short docs null-frac") {
    import spark.implicits._
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val other = "совершенно другой текст without any overlap at all here " +
      "nothing shared between these two documents in any fifty char span " +
      "qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd fff ggg hhh"
    val docs = Seq((1L, body), (2L, body), (3L, other), (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val m = Dedup.dupSpanMask(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(m(1L)._1 > 0 && m(1L)._2 == m(1L)._1 && m(1L)._3.contains(1.0),
      s"exact copy must be fully dup-masked: ${m(1L)}")
    assert(m(3L)._2 == 0L && m(3L)._3.contains(0.0),
      s"unique doc must have zero dup windows: ${m(3L)}")
    assert(m(4L) == ((0L, 0L, None)),
      s"sub-window doc: no windows, null frac: ${m(4L)}")
  }

  test("containmentPairs: embedded quote scores ~1, boilerplate culled") {
    import spark.implicits._
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, body),
      (2L, "LONG INTRODUCTION WITH ENTIRELY ITS OWN CONTENT >> " + body +
        " << FOLLOWED BY A LONG TRAILING DISCUSSION SECTION")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L,
      s"quote pair expected: ${got.toSeq}")
    assert(got.head._3 >= 0.8,
      s"embedded quote must score high containment: ${got.head._3}")
    // boilerplate cull: the same span in > maxDocFreq docs pairs NOTHING
    val boiler = (0L until 12L).map(i => (i, s"distinct head number $i >> " + body))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(boiler, maxDocFreq = 10).count() == 0L)
  }

  test("incrementalLshCandidates: batch finds corpus near-dups without a corpus self-join") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "while seventeen green turtles carry packages across the frozen water"
    val corpus = Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")), // near-dup of the batch copy
      (3L, "entirely different content with no shared shingles at all " +
        "zebra xylophone quantum marmalade frequencies oscillate wildly today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, base),                          // exact re-post of doc 1
      (101L, "brand new never seen before text with its own vocabulary " +
        "completely disjoint from everything already standing in the corpus")
    ).toDF("doc_id", "text")
    val cand = Dedup.incrementalLshCandidates(corpus, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((100L, 1L)), s"exact re-post must collide: $cand")
    assert(!cand.exists(_._1 == 101L), s"novel doc must not collide: $cand")
    assert(!cand.exists(_._2 == 3L), s"unrelated corpus doc clean: $cand")
  }

  test("dupSpans: full copy fully masked as ONE span, quote one interior span, unique clean") {
    import spark.implicits._
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val other = "совершенно другой текст without any overlap at all here " +
      "nothing shared between these two documents in any fifty char span " +
      "qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd fff ggg hhh"
    val docs = Seq(
      (1L, body),
      (2L, body), // verbatim copy
      (3L, "QUOTE>> " + body + " <<END PLUS ORIGINAL TRAILING COMMENTARY"),
      (4L, other),
      (5L, "tiny doc")
    ).toDF("doc_id", "text")
    val m = Dedup.dupSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // exact copies: their shared anchored windows overlap chain-like →
    // one merged span covering most of the doc
    assert(m(1L)._1 == 1L && m(1L)._3 > 0.7, s"copy: ${m(1L)}")
    assert(m(2L) == m(1L), "verbatim copy masks identically")
    // embedded quote: one interior span, strictly smaller than the doc
    assert(m(3L)._1 == 1L && m(3L)._3 > 0.4 && m(3L)._3 < 1.0,
      s"quote: ${m(3L)}")
    // unique + sub-window docs: nothing masked
    assert(m(4L) == ((0L, 0L, 0.0)), s"unique: ${m(4L)}")
    assert(m(5L) == ((0L, 0L, 0.0)), s"tiny: ${m(5L)}")
    // masked extent can never exceed the anchored coverage bound:
    // span chars ≤ windows × win
    assert(m(1L)._2 <= body.length)
  }

  test("reliable round checkpoints rotate: old rounds are deleted, not accumulated") {
    import spark.implicits._
    // a 30-node chain forces several star rounds — without rotation
    // the shared checkpoint dir would hold one edge-set copy PER ROUND
    // (distributed loop forced: the rotation under test only exists
    // there; a graph this small otherwise union-finds driver-side)
    val pairs = (2000L until 2030L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test assumes no ambient checkpoint dir")
    val ckptDir = java.nio.file.Files.createTempDirectory("cc-rotate")
    sc.setCheckpointDir(ckptDir.toString)
    spark.conf.set(GraftSession.ReliableCheckpointsConf, "true")
    try {
      val labels = labelsOf(Dedup.connectedComponents(pairs, 50, 0L))
      assert(labels.values.toSet == Set(2000L), "chain must collapse to one cluster")
      val rounds = Dedup.lastCcRounds
      assert(rounds >= 3, s"chain should need several rounds, took $rounds")
      val rddDirs = {
        val s = java.nio.file.Files.walk(ckptDir)
        try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally s.close()
      }
      // only the FINAL round's edge set remains
      assert(rddDirs <= 1,
        s"expected <=1 surviving checkpoint after $rounds rounds, found $rddDirs")
    } finally {
      spark.conf.unset(GraftSession.ReliableCheckpointsConf)
      sc.setCheckpointDir(null)
    }
  }

  test("small-graph CC fast path matches the distributed loops exactly") {
    import spark.implicits._
    // r14: under 1M edges connectedComponents solves components via
    // driver-side union-find — the distributed loop's 3-5 AQE jobs PER
    // ROUND are pure fixed overhead on a broadcast-class edge list.
    // Exactness contract: identical (node, label = component min)
    // either way, on messy input (duplicate + reversed duplicate edges
    // included).
    val pairs = ((1000L until 1040L).map(i => (i, i + 1)) ++
      Seq((1L, 5000L), (5000L, 1L), (1L, 5001L), (7L, 9L), (9L, 7L),
        (5001L, 5002L))).toDF("doc_a", "doc_b")
    val fast = labelsOf(Dedup.connectedComponents(pairs))
    assert(Dedup.lastCcRounds == 0, "expected the union-find fast path")
    val dist = labelsOf(Dedup.connectedComponents(pairs, 50, 0L))
    assert(Dedup.lastCcRounds > 0, "threshold 0 must force the loop")
    assert(fast == dist, "fast path diverged from the distributed loop")
    assert(fast(1040L) == 1000L && fast(5002L) == 1L && fast(9L) == 7L)
  }

  test("spark.graft.reliableCheckpoints conf flips ckpt sites with identical results") {
    import org.apache.spark.sql.functions.col
    def run(): (Seq[String], Seq[String]) = (
      SparkEntry.queries("q103_percentile_dist")(spark, sf)
        .collect().map(_.toString).toSeq,
      SparkEntry.queries("q93_cluster_representatives")(spark, sf)
        .orderBy(col("cluster_id")).collect().map(_.toString).toSeq)
    val (p103, p93) = run()
    val sc = spark.sparkContext
    spark.conf.set(GraftSession.ReliableCheckpointsConf, "true")
    try {
      // fail fast when reliable mode is on without a checkpoint dir
      if (sc.getCheckpointDir.isEmpty)
        intercept[IllegalArgumentException] { run() }
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-rel-ckpt").toString)
      val (r103, r93) = run()
      assert(r103 == p103, "q103 changed under reliable checkpoints")
      assert(r93 == p93, "q93 changed under reliable checkpoints")
    } finally {
      spark.conf.unset(GraftSession.ReliableCheckpointsConf)
      sc.setCheckpointDir(null)
    }
  }

  test("simhash_agg custom aggregate equals the declarative 16-column simhash") {
    val docs = GraftSession.table(spark, sf, "documents")
    val declarative = Dedup.simhash(docs)
      .select("doc_id", "simhash16").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val imperative = Dedup.simhashFast(docs)
      .select("doc_id", "simhash16").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(imperative.size == declarative.size)
    assert(imperative == declarative)
  }

  test("simhash64_agg custom aggregate equals the declarative 64-column simhash64") {
    val docs = GraftSession.table(spark, sf, "documents")
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (1 to 5).map(r.getLong).toSeq
    val declarative = Dedup.simhash64(docs).collect().map(key).toMap
    val imperative = Dedup.simhash64Fast(docs).collect().map(key).toMap
    assert(imperative.size == declarative.size)
    assert(imperative == declarative)
  }

  test("simhash64 band blocking: recall 1 for hamming<=3, prunes the pair space") {
    val d = GraftSession.table(spark, sf, "documents")
    // Inject exact dups (like q64) so tight near-dup pairs exist.
    val docs = d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L))
    val rows = Dedup.simhash64(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), (2 to 5).map(r.getLong).toSeq))
    val pairs = for {
      (ia, fa, ba) <- rows; (ib, fb, bb) <- rows if ia < ib
    } yield {
      val hamming = java.lang.Long.bitCount(fa ^ fb)
      val shared = ba.zip(bb).exists { case (x, y) => x == y }
      (hamming, shared)
    }
    val tight = pairs.filter(_._1 <= 3)
    assert(tight.nonEmpty, "no tight near-dup pairs — dup injection broken")
    // Pigeonhole: <=3 differing bits across 4 bands leaves a clean band.
    assert(tight.forall(_._2), "a hamming<=3 pair missed band blocking")
    val candRatio = pairs.count(_._2).toDouble / pairs.length
    assert(candRatio < 0.2,
      f"band blocking barely prunes: $candRatio%.3f of all pairs are candidates")
  }

  test("simhash: near-dups are close in hamming distance, unrelated far") {
    val sh = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash16")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(4L)),
      s"near-dup ${ham(sh(1L), sh(2L))} not closer than unrelated ${ham(sh(1L), sh(4L))}")
  }

  test("simhashPairsBanded: stop-print cap bounds hot keys, rare near-dups survive") {
    import spark.implicits._
    // A corpus-fraction-scale exact-dup cluster (200 of 260 docs share
    // one text => one fingerprint => every band key hot) plus a rare
    // near-dup pair and unrelated filler.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val cluster = (0 until 200).map(i => (1000L + i, base))
    val rareA = (1L, "orange bicycle thunder meadow crystal harbor velvet canyon sunrise ember willow frost")
    val rareB = (2L, "orange bicycle thunder meadow crystal harbor velvet canyon sunrise ember willow mist")
    val filler = (0 until 58).map(i =>
      (3000L + i, s"filler${i}a word${i}b token${i}c item${i}d gram${i}e bit${i}f doc${i}g chunk${i}h"))
    val docs = (cluster ++ Seq(rareA, rareB) ++ filler).toDF("doc_id", "text")
    val sh = Dedup.simhashFast(docs)
    val pairs = Dedup.simhashPairsBanded(sh).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // The hot cluster's quadratic pair list is stop-capped away...
    assert(!pairs.exists { case (a, b) => a >= 1000L && b < 3000L && b >= 1000L },
      s"stop-print cap failed: hot-cluster pairs emitted (${pairs.size} pairs)")
    // ...while the rare near-dup pair (only if actually hamming<=3 —
    // verify precondition first) survives band blocking.
    val fp = sh.collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash16")).toMap
    if (java.lang.Long.bitCount(fp(1L) ^ fp(2L)) <= 3)
      assert(pairs.contains((1L, 2L)), s"rare near-dup pair missed: $pairs")
    // Cap invariant by the same arithmetic the operator uses: every
    // SURVIVING band key holds <= n/20 docs.
    val n = docs.count()
    val bandKeys = sh.select(col("doc_id"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash16"), 4 * b).bitwiseAND(15L)
            .as("bval"))): _*)).as("bs"))
      .select(col("bs.band"), col("bs.bval"))
      .groupBy("band", "bval").count()
      .filter(col("count") * 20 <= n || col("count") <= 64)
    val maxSurviving = bandKeys.agg(max(col("count"))).head.getLong(0)
    assert(maxSurviving <= math.max(64L, n / 20),
      s"surviving band key above the cap: $maxSurviving of $n")
  }

  test("simhash64PairsBanded: stop-print cap bounds hot keys, rare near-dups survive") {
    import spark.implicits._
    // Same shape as the simhash16 cap spec: a corpus-fraction-scale
    // exact-dup cluster (every band key hot), a rare near-dup pair,
    // unrelated filler. The r9 sf0.1 audit showed q64's raw 16-bit
    // band keys skew too (5.75% hot key) — this pins the cull.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val cluster = (0 until 200).map(i => (1000L + i, base))
    val rareA = (1L, "orange bicycle thunder meadow crystal harbor velvet canyon sunrise ember willow frost")
    val rareB = (2L, "orange bicycle thunder meadow crystal harbor velvet canyon sunrise ember willow mist")
    val filler = (0 until 58).map(i =>
      (3000L + i, s"filler${i}a word${i}b token${i}c item${i}d gram${i}e bit${i}f doc${i}g chunk${i}h"))
    val docs = (cluster ++ Seq(rareA, rareB) ++ filler).toDF("doc_id", "text")
    val sh = Dedup.simhash64Fast(docs)
    val pairs = Dedup.simhash64PairsBanded(sh).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(!pairs.exists { case (a, b) => a >= 1000L && b < 3000L && b >= 1000L },
      s"stop-print cap failed: hot-cluster pairs emitted (${pairs.size} pairs)")
    // pigeonhole guarantees band sharing only at hamming <= 3 — gate
    // the survival assertion on the precondition, like the 16-bit spec
    val fp = sh.select(col("doc_id"), col("simhash64")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (java.lang.Long.bitCount(fp(1L) ^ fp(2L)) <= 3)
      assert(pairs.contains((1L, 2L)), s"rare near-dup pair missed: $pairs")
    // every surviving band key holds <= n/20 docs
    val n = docs.count()
    val maxSurviving = sh.select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"band$b").as("bval"))): _*)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.bval").as("bval"))
      .groupBy("band", "bval").count()
      .filter(col("count") * 20 <= n || col("count") <= 64)
      .agg(max(col("count"))).head.getLong(0)
    assert(maxSurviving <= math.max(64L, n / 20),
      s"surviving band key above the cap: $maxSurviving of $n")
  }

  test("bloom sketch functions: no false negatives, filters most non-members") {
    import spark.implicits._
    val members = (0L until 1000L).map(_ * 7 + 3)
    val bloom = members.toDF("v")
      .agg(org.apache.spark.sql.functions.call_function(
        "bloom_agg", org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.lit(1000L)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val probed = (0L until 20000L).toDF("v")
      .filter(org.apache.spark.sql.functions.call_function(
        "bloom_might_contain",
        org.apache.spark.sql.functions.lit(bloom),
        org.apache.spark.sql.functions.col("v")))
      .collect().map(_.getLong(0)).toSet
    val memberSet = members.toSet
    assert(memberSet.subsetOf(probed), "bloom must never reject a member")
    // 3% default fpp: the 19k non-members should almost all be dropped
    assert(probed.size < memberSet.size + 2000,
      s"bloom passed ${probed.size - memberSet.size} of 19000 non-members")
  }

  test("q149 KMV source overlap: estimate tracks exact Jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // source A: 40 distinct docs; source B: 20 of A's docs + 20 fresh
    // -> exact shingle-set Jaccard is known to be roughly 1/3
    val mk = (i: Int) => (100 to 119).map(w => s"tok${i}_$w").mkString(" ")
    val aDocs = (0 until 40).map(i => (i.toLong, mk(i), "srcA"))
    val bDocs = (0 until 20).map(i => (100L + i, mk(i), "srcB")) ++
      (40 until 60).map(i => (100L + i, mk(i), "srcB"))
    val docs = (aDocs ++ bDocs).toDF("doc_id", "text", "source")
    val got = graft.operators.Dedup.sourceOverlap(docs, k = 128).collect()
    assert(got.length == 1)
    val est = got.head.getAs[Double]("est_jaccard")
    // exact: |A∩B| = 20 docs' shingles, |A∪B| = 60 docs' shingles
    val sh = docs.select(col("source"),
      explode(call_function("shingle_hashes", col("text"))).as("p"))
    val inter = sh.groupBy("p").agg(countDistinct("source").as("ns"))
      .filter(col("ns") === 2).count().toDouble
    val union = sh.select("p").distinct().count().toDouble
    val exact = inter / union
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
    assert(est > 0.15 && est < 0.55, s"est=$est implausible for ~1/3")
  }

  test("q81 bloom-prefiltered contamination screen equals q69 byte-for-byte") {
    val q69 = SparkEntry.queries("q69_contamination")(spark, sf).collect()
    val q81 = SparkEntry.queries("q81_contamination_bloom")(spark, sf).collect()
    assert(q69.nonEmpty)
    assert(q81.toSeq === q69.toSeq)
  }

  test("mega-dup bucket emits its star, not its clique — clusters intact") {
    import spark.implicits._
    // 200 docs: 150 exact copies (every band bucket 150-strong —
    // over the n/20-and-64 cap) + 50 distinct. The raw clique is
    // C(150,2) = 11,175 pairs on ONE join key; the star-cap contract
    // is ≤ m-1 pairs per hot bucket with IDENTICAL components.
    val mega = "one viral page copied verbatim across the whole crawl " +
      "with enough distinct words to shingle into a realistic signature"
    val docs = ((1L to 150L).map(i => (i, mega)) ++
      (151L to 200L).map(i => (i, s"unique document number $i talking " +
        s"about topic-$i in its own particular words and phrasing style")))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshCandidates(docs)
    val n = pairs.count()
    assert(n < 1000, s"star cap failed: $n pairs (clique would be 11k+)")
    // the mega cluster must still be ONE component with min-id label 1
    val labels = Dedup.connectedComponents(pairs
      .select(col("doc_a"), col("doc_b"))).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    (1L to 150L).foreach(i => assert(labels.getOrElse(i, i) == 1L,
      s"doc $i lost from the mega cluster: label=${labels.get(i)}"))
    // star pairs all verify at jaccard 1.0 (exact copies)
    val verified = Dedup.lshVerifiedPairs(docs)
      .filter(col("doc_b") <= 150 && col("jaccard") < 1.0).count()
    assert(verified == 0, s"$verified mega-cluster star pairs below jaccard 1")
  }
}
