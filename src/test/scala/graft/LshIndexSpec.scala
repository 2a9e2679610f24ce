package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.log.FsLease
import graft.operators.{Dedup, LshIndex}

/** The standing near-dup index (r10 verdict ask #1): a probe against a
  * persisted index must be byte-identical to the index-free
  * incremental path, survive append, engage the star-cap, and never
  * answer from a stale cache. */
class LshIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog near " +
    "the river while seventeen green turtles carry packages across the water"
  private def corpus = docs(
    1L -> base,
    2L -> base.replace("lazy", "sleepy"),
    3L -> ("entirely different content with no shared shingles at all " +
      "zebra xylophone quantum marmalade frequencies oscillate wildly"),
    4L -> ("spark catalyst optimizer exchanges partitions broadcast " +
      "joins whole stage codegen tungsten memory format columnar scans"))
  private def batch = docs(
    100L -> base,                                   // re-post of doc 1
    101L -> ("brand new never seen before text with its own vocabulary " +
      "completely disjoint from everything already in the standing corpus"))

  private def probeSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("probe against a persisted index == index-free incremental candidates") {
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val viaIndex = probeSet(LshIndex.probe(ix, batch))
    val direct = probeSet(Dedup.incrementalLshCandidates(corpus, batch))
    assert(viaIndex == direct, s"index probe diverged: $viaIndex vs $direct")
    assert(viaIndex.exists { case (b, c, _) => b == 100L && c == 1L },
      s"re-post must collide with its original: $viaIndex")
    // load() round-trip answers identically
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    assert(probeSet(LshIndex.probe(reloaded, batch)) == direct)
  }

  test("append: index grown doc-by-doc == index built on the full corpus") {
    val dir = Files.createTempDirectory("lshix").toString
    val full = LshIndex.build(corpus, s"$dir/full")
    val grown = LshIndex.build(corpus.filter(col("doc_id") <= 2), s"$dir/grown")
    LshIndex.append(grown, corpus.filter(col("doc_id") > 2))
    assert(probeSet(LshIndex.probe(grown, batch)) ==
      probeSet(LshIndex.probe(full, batch)))
    // signature sets identical, not just probe answers
    val a = full.signatures.orderBy("doc_id").collect().toSeq
    val b = grown.signatures.orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("append is idempotent: re-appending indexed docs adds nothing") {
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val n0 = ix.signatures.count()
    LshIndex.append(ix, corpus) // crashed-cycle re-run shape
    assert(ix.signatures.count() == n0,
      "re-appended docs must be skipped, not duplicated")
  }

  test("star-cap engages in the persisted probe table: viral bucket enters via its anchor") {
    // 150 exact copies: every band key of the copied text is a
    // 150-member bucket (> 64 and > tot/(20*BANDS)) — the probe table
    // must hold ONE anchor row per hot key, and a probing re-post must
    // match the anchor only, not all 150 members.
    val viral = (0L until 150L).map(i => (500L + i) -> base) ++
      Seq(1L -> ("one ordinary standalone document with completely " +
        "unrelated vocabulary talking about gardens tomatoes rainfall"))
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(docs(viral: _*), s"$dir/ix")
    val got = probeSet(LshIndex.probe(ix, docs(9000L -> base)))
    assert(got.size == 1 && got.head._2 == 500L,
      s"probe must hit the bucket anchor alone: $got")
    // identical to the index-free guard
    assert(got == probeSet(
      Dedup.incrementalLshCandidates(docs(viral: _*), docs(9000L -> base))))
    // and the probe table is star-capped on disk, not just at probe time
    val probeRows = ix.probeSide.count()
    assert(probeRows < 150L * 4 / 2,
      s"persisted probe side must not fan out the viral bucket: $probeRows rows")
  }

  test("buildOrLoad: cache hit on the same snapshot, rebuild on rewrite") {
    val dir = Files.createTempDirectory("lshix").toString
    val cacheRoot = s"$dir/cache"
    corpus.write.parquet(s"$dir/documents.parquet")
    val stored = spark.read.parquet(s"$dir/documents.parquet")
    val ix1 = LshIndex.buildOrLoad(spark, stored, s"$dir/documents.parquet", cacheRoot)
    val ix2 = LshIndex.buildOrLoad(spark, stored, s"$dir/documents.parquet", cacheRoot)
    assert(ix1.path == ix2.path, "same snapshot must hit the same cached index")
    // rewrite the corpus (different content) -> different fingerprint;
    // the old cache entry must NOT answer for the new data
    spark.read.parquet(s"$dir/documents.parquet").limit(0)
    docs(7L -> "fresh corpus rewritten from scratch with new content words here")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stored2 = spark.read.parquet(s"$dir/documents.parquet")
    val ix3 = LshIndex.buildOrLoad(spark, stored2, s"$dir/documents.parquet", cacheRoot)
    assert(ix3.path != ix1.path, "rewritten corpus must get a fresh index")
    assert(ix3.signatures.count() == 1L)
  }

  test("generations: an in-flight probe survives one append; older gens retire") {
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus.filter(col("doc_id") <= 2), s"$dir/ix")
    // plan a probe against gen-1 BEFORE appending
    val inFlight = LshIndex.probe(ix, batch)
    val expectedOld = probeSet(LshIndex.probe(ix, batch))
    LshIndex.append(ix, corpus.filter(col("doc_id") > 2)) // publishes gen-2
    // the in-flight plan still reads gen-1's files — executing it after
    // the append must neither throw nor see gen-2
    assert(probeSet(inFlight) == expectedOld,
      "a probe planned before an append must keep its snapshot")
    assert(new java.io.File(s"$dir/ix/gen-1").exists(),
      "one generation must be retained for in-flight readers")
    // fresh probes see the appended corpus
    assert(probeSet(LshIndex.probe(ix, batch)) ==
      probeSet(Dedup.incrementalLshCandidates(corpus, batch)))
    // a second append publishes gen-3 and retires gen-1
    LshIndex.append(ix, docs(42L ->
      "completely novel appended document with fresh vocabulary about lighthouses"))
    assert(!new java.io.File(s"$dir/ix/gen-1").exists(),
      "generations older than current-1 must be garbage-collected")
    assert(new java.io.File(s"$dir/ix/gen-2").exists() &&
      new java.io.File(s"$dir/ix/gen-3").exists())
  }

  test("append is O(batch): segments carry forward by reference, no index rescan") {
    // 3000 standing docs (above the small-corpus full-recompute
    // regime), 8 appended: the append may read the batch's own
    // segment and ≤160-row warm/risky frames — NEVER the standing
    // band rows or key counts (watermark validation is parquet-footer
    // metadata; the phase-1 risky scan row-group-prunes to zero on a
    // clean corpus; the idempotence anti-join is skipped via
    // assumeNew). Pin it two ways: (1) the standing segment's files
    // are byte-identical (same mtime+len) across the append; (2)
    // total rows read during the append stay batch-proportional.
    val dir = Files.createTempDirectory("lshix").toString
    import spark.implicits._
    val standing = spark.range(3000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 8).map(j =>
        md5(concat(col("id").cast("string"), lit(s"-$j")))): _*).as("text"))
    val ix = LshIndex.build(standing, s"$dir/ix")
    val segFiles = new java.io.File(s"$dir/ix/seg-1f/bands").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val batch = spark.range(8).select((col("id") + 10000L).as("doc_id"),
      concat_ws(" ", (0 until 8).map(j =>
        md5(concat((col("id") + 10000L).cast("string"), lit(s"-$j")))): _*)
        .as("text"))
    var rowsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          rowsRead += te.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      LshIndex.append(ix, batch, assumeNew = true)
      // listener events are async: settle until the counter stops moving
      var prev = -1L
      while (prev != rowsRead) { prev = rowsRead; Thread.sleep(200) }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(new java.io.File(s"$dir/ix/seg-1f/bands").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet == segFiles,
      "the standing band segment must carry forward untouched")
    // batch = 8 docs -> 32 band rows, re-read a handful of times
    // (segment agg, warm/risky frames). 3000 standing docs x 4 bands
    // = 12,000 band rows (and 12,000 kc rows) must NOT be read.
    assert(rowsRead < 500L,
      s"append read $rowsRead rows — an index-sized rescan leaked in")
    // and the grown index answers identically to a full rebuild
    val rebuilt = LshIndex.build(standing.unionByName(batch), s"$dir/rebuilt")
    assert(probeSet(LshIndex.probe(ix, batch)) ==
      probeSet(LshIndex.probe(rebuilt, batch)))
  }

  test("tiered compaction: many small appends stay bounded, standing segment untouched") {
    // 35 × 4-doc appends onto a 200-doc index. Size-tiered compaction
    // must (a) keep the segment count O(log index) — not 36 — while
    // (b) NEVER rewriting the standing 800-band-row segment (its size
    // class is never reached by the small merges; the old
    // merge-everything-at-32 policy would have rewritten it on append
    // #32), and (c) answering byte-identically to a full rebuild.
    val dir = Files.createTempDirectory("lshix").toString
    val standing = docs((0L until 200L).map(i => i ->
      s"standing document number $i with vocabulary ${i * 31} and ${i * 97} tail"): _*)
    val ix = LshIndex.build(standing, s"$dir/ix")
    val segBefore = new java.io.File(s"$dir/ix/seg-1f/bands").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    var all = standing
    for (i <- 0 until 35) {
      val batch = docs((0L until 4L).map(j => (10000L + i * 10 + j) ->
        s"appended batch $i doc $j about ${i * 13 + j} lighthouses and ${i * 7 + j} storms"): _*)
      all = all.unionByName(batch)
      LshIndex.append(ix, batch, assumeNew = true)
    }
    val m = ix.currentManifest
    assert(m.segs.size <= 14,
      s"tiering must bound segments, got ${m.segs.size}: ${m.segs}")
    assert(new java.io.File(s"$dir/ix/seg-1f/bands").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet == segBefore,
      "small-tier merges must never rewrite the standing segment")
    // exact segment row accounting survives the merges
    assert(m.segs.map(_.rows).sum == (200L + 140L) * 4L)
    assert(ix.keyCounts.agg(sum(col("bn"))).collect().head.getLong(0) ==
      (200L + 140L) * 4L)
    // and the tiered index answers like a from-scratch build
    val rebuilt = LshIndex.build(all, s"$dir/rebuilt")
    val probe = docs(9000L ->
      "appended batch 7 doc 2 about 93 lighthouses and 51 storms")
    assert(probeSet(LshIndex.probe(ix, probe)) ==
      probeSet(LshIndex.probe(rebuilt, probe)))
  }

  test("dup-heavy append: risky-key path keeps the warm list exact") {
    // Standing corpus: 200 distinct docs. Append: 120 copies of ONE
    // text — its band keys hold >1/160 of the batch's bands (risky)
    // AND cross the hot rule (bn=120 > 64, 120*80 > tot=1288). The
    // grown index must star-cap exactly like a from-scratch build, and
    // both must equal the index-free incremental path.
    val dir = Files.createTempDirectory("lshix").toString
    val standing = docs((0L until 200L).map(i => i ->
      s"standing document number $i with vocabulary ${i * 31} and ${i * 97} tail"): _*)
    val viralBatch = docs((0L until 120L).map(i => (5000L + i) -> base): _*)
    val ix = LshIndex.build(standing, s"$dir/ix")
    LshIndex.append(ix, viralBatch)
    val rebuilt = LshIndex.build(standing.unionByName(viralBatch), s"$dir/rebuilt")
    // probe with a re-post of the viral text: both must answer with
    // the bucket anchor (5000) alone
    val probe = docs(9000L -> base)
    val got = probeSet(LshIndex.probe(ix, probe))
    assert(got == probeSet(LshIndex.probe(rebuilt, probe)),
      s"grown-index star-cap diverged from full rebuild: $got")
    assert(got.size == 1 && got.head._2 == 5000L,
      s"viral bucket must enter through its min-doc_id anchor: $got")
    assert(got == probeSet(Dedup.incrementalLshCandidates(
      standing.unionByName(viralBatch), probe)))
    // the capped probe frame stays small despite 480 viral band rows
    assert(ix.probeSide.count() < 1300L)
  }

  test("dup-heavy append onto a MULTI-segment index: weighted pigeonhole stays exact") {
    // The risky-key candidate scan bars each segment at
    // ceil((lo+1)·rows_i/R) — the weighted pigeonhole. Build a
    // standing index of UNEVEN segments (one big build + two small
    // appends, sizes differing by >30×), then append a viral batch
    // whose keys cross the hot rule. The grown index must star-cap
    // exactly like a from-scratch build over everything — wrong
    // per-segment bars would either miss a crossing key (under-cap:
    // probe fans out) or cost nothing visible, so equality on the
    // capped probe is the sharp assert.
    val dir = Files.createTempDirectory("lshix").toString
    val standing = docs((0L until 200L).map(i => i ->
      s"standing document number $i with vocabulary ${i * 31} and ${i * 97} tail"): _*)
    val extraA = docs((300L until 306L).map(i => i ->
      s"first extra append doc $i about ${i * 7} gardens and ${i * 3} rivers"): _*)
    val extraB = docs((400L until 406L).map(i => i ->
      s"second extra append doc $i about ${i * 11} bridges and ${i * 5} storms"): _*)
    val ix = LshIndex.build(standing, s"$dir/ix")
    LshIndex.append(ix, extraA, assumeNew = true)
    LshIndex.append(ix, extraB, assumeNew = true)
    assert(ix.currentManifest.segs.size >= 2,
      s"precondition: uneven multi-segment index, got ${ix.currentManifest.segs}")
    val viralBatch = docs((0L until 120L).map(i => (5000L + i) -> base): _*)
    LshIndex.append(ix, viralBatch)
    val rebuilt = LshIndex.build(
      standing.unionByName(extraA).unionByName(extraB).unionByName(viralBatch),
      s"$dir/rebuilt")
    val probe = docs(9000L -> base)
    val got = probeSet(LshIndex.probe(ix, probe))
    assert(got == probeSet(LshIndex.probe(rebuilt, probe)),
      s"multi-segment grown star-cap diverged from full rebuild: $got")
    assert(got.size == 1 && got.head._2 == 5000L,
      s"viral bucket must enter through its min-doc_id anchor: $got")
  }

  test("concurrent appenders serialize under the lease; prober never breaks") {
    // r10 verdict ask #2's done bar: two racing appends (threads) ->
    // both batches present exactly once, generation sequence has no
    // gaps or torn manifests, and a prober hammering throughout never
    // throws.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val batchA = docs((0L until 30L).map(i => (2000L + i) ->
      s"appender alpha document $i about ${i * 13} lighthouses and ${i * 7} storms"): _*)
    val batchB = docs((0L until 30L).map(i => (3000L + i) ->
      s"appender beta document $i covering ${i * 11} orchards and ${i * 5} rivers"): _*)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try assert(LshIndex.probe(ix, batch).count() >= 0L)
        catch { case t: Throwable => errs.add(t); stop.set(true) }
      }
    })
    prober.start()
    val writers = Seq(batchA, batchB).map(b => new Thread(() => {
      try LshIndex.append(ix, b)
      catch { case t: Throwable => errs.add(t) }
    }))
    writers.foreach(_.start()); writers.foreach(_.join())
    stop.set(true); prober.join()
    assert(errs.isEmpty, s"concurrent append/probe failed: ${errs.peek()}")
    // both batches present exactly once
    val ids = ix.signatures.groupBy(col("doc_id"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(ids.filter(col("n") =!= 1L).count() == 0L, "duplicated signatures")
    assert(ix.signatures.count() == 4L + 60L)
    // generations 2 and 3 both published, no torn state: a fresh load
    // validates (watermark == manifest) and answers like a rebuild
    assert(new java.io.File(s"$dir/ix/gen-3").exists(), "lost a generation")
    val rebuilt = LshIndex.build(
      corpus.unionByName(batchA).unionByName(batchB), s"$dir/rebuilt")
    assert(probeSet(LshIndex.probe(LshIndex.load(spark, s"$dir/ix"), batch)) ==
      probeSet(LshIndex.probe(rebuilt, batch)))
  }

  test("crashed append (signatures ahead of the manifest) self-repairs on load") {
    // Simulate the r10 ADVICE crash window: signature rows land but the
    // generation never publishes. The watermark disagreement must
    // trigger a re-derive — the crashed docs can never be silently
    // skipped by the next cycle's anti-join while staying invisible to
    // probes.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    // crash-write: append signatures DIRECTLY, bypassing the publish
    graft.operators.Dedup.minhashSignatures(docs(777L -> base))
      .write.mode("append").parquet(s"$dir/ix/signatures")
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    val got = probeSet(LshIndex.probe(reloaded, docs(9000L -> base)))
    assert(got.exists(_._2 == 777L),
      s"repaired index must see the crashed doc: $got")
    assert(got == probeSet(Dedup.incrementalLshCandidates(
      corpus.unionByName(docs(777L -> base)), docs(9000L -> base))))
  }

  test("buildOrLoad never trusts a tampered/truncated cache entry") {
    val dir = Files.createTempDirectory("lshix").toString
    val cacheRoot = s"$dir/cache"
    corpus.write.parquet(s"$dir/documents.parquet")
    val stored = spark.read.parquet(s"$dir/documents.parquet")
    val ix1 = LshIndex.buildOrLoad(spark, stored, s"$dir/documents.parquet", cacheRoot)
    val expected = probeSet(LshIndex.probe(ix1, batch))
    // tmp-reaper damage: the current generation dir vanishes
    val genDir = new java.io.File(ix1.path).listFiles()
      .filter(_.getName.startsWith("gen-")).maxBy(_.getName)
    genDir.listFiles().foreach(_.delete()); genDir.delete()
    val ix2 = LshIndex.buildOrLoad(spark, stored, s"$dir/documents.parquet", cacheRoot)
    assert(probeSet(LshIndex.probe(ix2, batch)) == expected,
      "a half-reaped cache entry must be rebuilt, not trusted")
    // pre-planted entry: right marker, WRONG corpus fingerprint
    val planted = s"$cacheRoot/planted"
    LshIndex.build(docs(1L -> "completely unrelated planted content here"),
      planted)
    val fp = LshIndex.pathFingerprint(spark, s"$dir/documents.parquet")
    val victim = new java.io.File(s"$cacheRoot/$fp")
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    deleteRec(victim)
    new java.io.File(planted).renameTo(victim)
    val ix3 = LshIndex.buildOrLoad(spark, stored, s"$dir/documents.parquet", cacheRoot)
    assert(probeSet(LshIndex.probe(ix3, batch)) == expected,
      "an entry whose manifest does not re-state the corpus fingerprint " +
        "must be discarded and rebuilt")
  }

  test("pairs ledger: append accumulates, empty index reads an empty frame") {
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    assert(ix.pairs.count() == 0L)
    import spark.implicits._
    LshIndex.appendPairs(ix, Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    LshIndex.appendPairs(ix, Seq((1L, 100L)).toDF("doc_a", "doc_b"))
    assert(ix.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 100L)))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("doc_a"), col("doc_b"), col("n_shared_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("candidatePairs: manifest-fed self-candidates == in-plan star-capped compute") {
    // The r12 near-dup-report feed: candidate pairs built from the
    // persisted segments + the manifest's exact hot list must be
    // byte-identical to Dedup.lshCandidates' corpus-wide compute — on
    // a clean corpus (no hot keys), on a viral corpus (the star-cap
    // engaged), and on an index GROWN there by appends that flip a
    // key's hot status (the warm-list induction carrying the exact
    // (bn, anchor) the cap rule needs).
    val dir = Files.createTempDirectory("lshix").toString
    // clean corpus: hot list empty, plan collapses to the self-join
    val clean = LshIndex.build(corpus, s"$dir/clean")
    assert(pairSet(LshIndex.candidatePairs(clean)) ==
      pairSet(Dedup.lshCandidates(corpus)))
    // the empty hot frame leaves no anti-join and no star branch in
    // the optimized plan (the q32/q72/q77/q93/q143/q179 feed)
    val cleanPlan = LshIndex.candidatePairs(clean).queryExecution.optimizedPlan
    assert(cleanPlan.find {
      case j: Join => j.joinType == LeftAnti
      case _: Union => true
      case _ => false
    }.isEmpty, s"clean candidatePairs plan kept a star-cap branch:\n$cleanPlan")
    // viral corpus: 150 copies -> every copied band key is hot
    val viral = docs(((0L until 150L).map(i => (500L + i) -> base) ++
      Seq(1L -> ("one ordinary standalone document with completely " +
        "unrelated vocabulary talking about gardens tomatoes rainfall"))): _*)
    val hotIx = LshIndex.build(viral, s"$dir/viral")
    assert(hotIx.currentManifest.hot.nonEmpty, "viral corpus must go hot")
    assert(pairSet(LshIndex.candidatePairs(hotIx)) ==
      pairSet(Dedup.lshCandidates(viral)))
    // grown index: start small (below the hot floor), append the rest
    // in batches so the warm list crosses ratios incrementally
    val grown = LshIndex.build(viral.filter(col("doc_id") < 540L), s"$dir/grown")
    LshIndex.append(grown, viral.filter(col("doc_id") >= 540L && col("doc_id") < 600L))
    LshIndex.append(grown, viral.filter(col("doc_id") >= 600L))
    assert(pairSet(LshIndex.candidatePairs(grown)) ==
      pairSet(Dedup.lshCandidates(viral)),
      "grown index's manifest hot list must reproduce the exact cap")
  }

  test("retainGenerations=3: a probe planned before TWO appends still collects") {
    // r11 verdict ask #2: one-generation retention makes a slow probe
    // spanning two publishes lose its files. With K=3 the gen-N reader
    // keeps every file through two subsequent publishes.
    spark.conf.set("spark.graft.lsh.retainGenerations", "3")
    try {
      val dir = Files.createTempDirectory("lshix").toString
      val ix = LshIndex.build(corpus.filter(col("doc_id") <= 2), s"$dir/ix")
      val inFlight = LshIndex.probe(ix, batch) // planned against gen-1
      val expected = probeSet(LshIndex.probe(ix, batch))
      LshIndex.append(ix, corpus.filter(col("doc_id") > 2)) // gen-2
      LshIndex.append(ix, docs(42L ->
        "completely novel appended document with fresh vocabulary about lighthouses")) // gen-3
      assert(probeSet(inFlight) == expected,
        "a probe planned two publishes ago must keep its snapshot under K=3")
      assert(new java.io.File(s"$dir/ix/gen-1").exists(),
        "gen-1 must survive two publishes at K=3")
      LshIndex.append(ix, docs(43L ->
        "a fourth generation document mentioning observatories and granite")) // gen-4
      assert(!new java.io.File(s"$dir/ix/gen-1").exists(),
        "gen-1 must retire once it falls out of the K=3 window")
    } finally spark.conf.unset("spark.graft.lsh.retainGenerations")
  }

  test("fenced publish: a stale-broken lease aborts before the marker and the retry is exactly-once") {
    // r11 verdict ask #3: a renewal-starved holder whose lock was
    // token-CAS-broken must not complete its publish. Steal the lock
    // at the exact pre-marker moment via the test hook; the append
    // must fence, retry under a fresh lease, fold the orphaned
    // signature rows in via watermark repair, and land each doc
    // exactly once.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val markerGen0 = ix.currentManifest.gen
    @volatile var fired = 0
    FsLease.testBeforeFence = what =>
      if (what.endsWith(" marker")) {
        fired += 1
        if (fired == 1) // simulate a waiter's token-CAS break of OUR lock
          new java.io.File(s"$dir/ix/_writer.lock").delete()
      }
    try {
      LshIndex.append(ix, docs(777L -> base), assumeNew = true)
    } finally FsLease.testBeforeFence = _ => ()
    assert(fired >= 2, s"the fenced attempt must retry (fired=$fired)")
    // no torn generation: the index loads, validates, and the marker
    // points at a manifest whose watermark matches the signatures
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    assert(reloaded.currentManifest.gen > markerGen0)
    // exactly-once: the appended doc has ONE signature row
    assert(reloaded.signatures.filter(col("doc_id") === 777L).count() == 1L)
    assert(reloaded.signatures.count() ==
      reloaded.signatures.select("doc_id").distinct().count())
    // and probes see it
    assert(probeSet(LshIndex.probe(reloaded, docs(9000L -> base)))
      .exists(_._2 == 777L))
  }

  test("a writer fenced on every retry surfaces FsLease.FencedException") {
    // The append retries a fenced publish a bounded number of times; a
    // writer whose lock is stolen before EVERY marker rename must give
    // up with the fence's own exception type, never having moved the
    // marker, and the next load must fold its orphaned rows in once.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val markerGen0 = ix.currentManifest.gen
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    FsLease.testBeforeFence = what =>
      if (what.endsWith(" marker")) {
        fired.incrementAndGet()
        new java.io.File(s"$dir/ix/_writer.lock").delete()
      }
    try intercept[FsLease.FencedException] {
      LshIndex.append(ix, docs(777L -> base), assumeNew = true)
    } finally FsLease.testBeforeFence = _ => ()
    assert(fired.get() == 3, s"one fenced marker per attempt (fired=$fired)")
    val markerTxt = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/ix/_graft_lsh_index")), "UTF-8")
    assert(markerTxt.trim.endsWith(s"gen=$markerGen0"),
      s"a fenced writer must never move the marker: $markerTxt")
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    assert(reloaded.currentManifest.gen > markerGen0)
    assert(reloaded.signatures.filter(col("doc_id") === 777L).count() == 1L)
  }

  test("standing index stands across sessions: a fresh session resolves the same cache entry with zero jobs") {
    // r12 verdict ask #1: the cache root used to fall back to the
    // session's checkpoint dir — per-session-unique on clusters, so a
    // restarted session re-signatured an UNCHANGED corpus (at 100 TB,
    // the most expensive operation in the system). Resolution is now
    // session-independent; a second session configured the
    // cluster-recommended way (its own fresh checkpoint dir) must hit
    // the same entry and run ZERO jobs — the load is pure driver-side
    // metadata (marker + manifest + parquet footers).
    val dir = Files.createTempDirectory("lshix").toString
    corpus.write.parquet(s"$dir/documents.parquet")
    val root = s"$dir/cache"
    val sA = spark.newSession()
    sA.conf.set("spark.graft.lsh.cacheRoot", root)
    val ixA = LshIndex.buildOrLoad(sA,
      sA.read.parquet(s"$dir/documents.parquet"), s"$dir/documents.parquet")
    val expected = probeSet(LshIndex.probe(ixA, batch))
    // second session: fresh state, fresh (session-unique) checkpoint
    // dir — the exact configuration that used to force a full rebuild
    val sB = spark.newSession()
    sB.conf.set("spark.graft.lsh.cacheRoot", root)
    sB.sparkContext.setCheckpointDir(
      Files.createTempDirectory("lshix-ckpt").toString)
    // the docs frame is resolved OUTSIDE the measured window: parquet
    // schema inference runs one footer-reading job of its own, and on
    // a cache hit buildOrLoad never executes the frame anyway — the
    // zero-jobs claim is about the INDEX resolution
    val docsB = sB.read.parquet(s"$dir/documents.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sB.sparkContext.addSparkListener(listener)
    val ixB =
      try {
        val ix = LshIndex.buildOrLoad(sB, docsB, s"$dir/documents.parquet")
        // listener bus is async: settle until the counter stops moving
        var prev = -1
        while (prev != jobs.get()) { prev = jobs.get(); Thread.sleep(200) }
        ix
      } finally {
        sB.sparkContext.removeSparkListener(listener)
        // the checkpoint dir is CONTEXT-level state shared with every
        // other suite — leave the session pristine
        sB.sparkContext.setCheckpointDir(null)
      }
    assert(ixB.path == ixA.path,
      "a fresh session must resolve the same standing cache entry")
    assert(jobs.get() == 0,
      s"resolving a standing index from a fresh session ran ${jobs.get()} " +
        "job(s) — a tokenize/minhash rebuild (or any scan) leaked in")
    assert(probeSet(LshIndex.probe(ixB, batch)) == expected)
  }

  test("pre-write fence: a fenced-out writer never writes its doomed same-numbered manifest") {
    // r12 ADVICE (medium): a renewal-starved writer resuming from a
    // stall computes the same gen number as the thief that broke its
    // lock (both m0.gen+1 off the same base). Without a fence BEFORE
    // the manifest write it would overwrite the thief's
    // already-published manifest — the marker still points there, so
    // the thief's segment references and warm stats are lost until a
    // watermark repair. Steal the lock at publish ENTRY, run a full
    // real thief append inside the stall, and pin via the manifest-
    // write observation hook that the loser never writes gen-2 at all.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val writes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val phase = new java.util.concurrent.atomic.AtomicInteger(0)
    LshIndex.testOnManifestWrite = g => writes.synchronized { writes += g }
    FsLease.testBeforeFence = what =>
      if (what.endsWith(" manifest") && phase.incrementAndGet() == 1) {
        // our lock is token-CAS-broken while we stall...
        new java.io.File(s"$dir/ix/_writer.lock").delete()
        // ...and the thief completes a FULL append before we resume.
        // Its first act under the lease is the watermark repair (our
        // orphaned 777 signature rows fold in as gen-2), then its own
        // batch publishes gen-3.
        LshIndex.append(ix, docs(888L ->
          ("thief document about entirely different topics such as " +
            "glaciers penguins and the long antarctic night")),
          assumeNew = true)
      }
    try LshIndex.append(ix, docs(777L -> base), assumeNew = true)
    finally {
      FsLease.testBeforeFence = _ => ()
      LshIndex.testOnManifestWrite = _ => ()
    }
    // the ONLY manifest writes: the thief's repair (gen-2) and its own
    // append (gen-3). The fenced loser's same-numbered gen-2 write —
    // which would appear as a duplicate 2 AFTER the 3 — must be absent
    // (its retry re-validates, finds 777 already folded in, and has
    // nothing left to publish).
    assert(writes.synchronized(writes.toSeq) == Seq(2L, 3L),
      s"unexpected manifest-write sequence: $writes")
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    assert(reloaded.currentManifest.gen == 3L)
    assert(reloaded.signatures.count() == 6L)
    assert(reloaded.signatures.select("doc_id").distinct().count() == 6L)
    val got = probeSet(LshIndex.probe(reloaded, docs(9000L -> base)))
    assert(got.exists(_._2 == 777L), s"the fenced writer's doc is lost: $got")
  }

  test("steal inside the residual fence window: last-writer-wins + re-validation keep exactly-once") {
    // The fence is check-then-act (documented in publish's scaladoc):
    // a steal CAN land between the passed fence check and the marker
    // rename. Inject exactly there — the rename still lands (atomic
    // last-writer-wins, and the loser's state is internally consistent
    // so nothing tears), the loser must NOT free the thief's lock on
    // release, and the next writer re-validates and builds on top.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val lock = new java.io.File(s"$dir/ix/_writer.lock")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    LshIndex.testAfterFenceCheck = () =>
      if (fired.incrementAndGet() == 1) {
        // thief: break our lock and acquire with its own token
        lock.delete()
        java.nio.file.Files.writeString(lock.toPath, "thief-token")
      }
    try LshIndex.append(ix, docs(777L -> base), assumeNew = true)
    finally LshIndex.testAfterFenceCheck = () => ()
    assert(fired.get() >= 1)
    // the publish went through whole (gen-2, consistent watermark) and
    // the loser's release left the thief's lock untouched
    assert(java.nio.file.Files.readString(lock.toPath) == "thief-token",
      "the fenced-out loser must not free the thief's lock on release")
    lock.delete() // thief "releases"
    // next writer re-validates against the published gen-2 and builds on
    LshIndex.append(ix, docs(888L ->
      "another appended document describing meteor showers over canyons"))
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    assert(reloaded.currentManifest.gen == 3L)
    assert(reloaded.signatures.count() == 6L)
    assert(reloaded.signatures.select("doc_id").distinct().count() == 6L)
    assert(probeSet(LshIndex.probe(reloaded, docs(9000L -> base)))
      .exists(_._2 == 777L))
  }

  test("release-window steal: the compare-and-delete may kill the thief's fresh lock; the system self-heals") {
    // release() is best-effort check-then-act too (FsLease scaladoc):
    // a thief acquiring between the token read and the delete loses
    // its brand-new lock. Pin the documented aftermath — the lock is
    // gone, and every subsequent operation (which would have been the
    // thief's fenced publish + retry) stays exactly-once.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val lock = new java.io.File(s"$dir/ix/_writer.lock")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.log.FsLease.testBeforeReleaseDelete = () =>
      if (fired.incrementAndGet() == 1) {
        // thief steals in the window: our token compared equal, but by
        // the time we delete, the file carries the thief's token
        java.nio.file.Files.writeString(lock.toPath, "thief-token")
      }
    try LshIndex.append(ix, docs(777L -> base), assumeNew = true)
    finally graft.log.FsLease.testBeforeReleaseDelete = () => ()
    assert(fired.get() >= 1)
    assert(!lock.exists(),
      "the holder's compare-and-delete kills the thief's fresh lock " +
        "(the documented benign race)")
    // the thief's own pre-publish fence would catch its vanished lock
    // and retry; from here the index must stay consistent and
    // exactly-once for every later writer
    LshIndex.append(ix, docs(888L ->
      "a follow-up document recounting lighthouse storms and quiet harbors"))
    val reloaded = LshIndex.load(spark, s"$dir/ix")
    assert(reloaded.signatures.count() == 6L)
    assert(reloaded.signatures.select("doc_id").distinct().count() == 6L)
  }

  /** A state where gen-(N-1) references segments the new gen-N
    * manifest does NOT (a compaction publish): gen-1 holds seg-1f,
    * gens 2..8 add seven tier-0 segments, and the 8th small append
    * merges them, so gen-9 references the merged segment only and
    * seg-2..seg-8 stay live solely through gcRefs(gen-8). `onGcRead`
    * is the [[LshIndex.testGcRefsRead]] hook for that compaction
    * publish; the segments and a probe planned against gen-8 must
    * survive it, and the next publish, which retires gen-8, must
    * collect them. */
  private def compactionKeepsGen8Segments(onGcRead: (String, Long) => Unit): Unit = {
    val dir = Files.createTempDirectory("lshix").toString
    val standing = docs((0L until 200L).map(i => i ->
      s"standing document number $i with vocabulary ${i * 31} and ${i * 97} tail"): _*)
    val ix = LshIndex.build(standing, s"$dir/ix") // gen-1: seg-1f (tier 1)
    for (i <- 0 until 7) // gens 2..8: seven tier-0 segments
      LshIndex.append(ix, docs((0L until 4L).map(j => (10000L + i * 10 + j) ->
        s"appended batch $i doc $j about ${i * 13 + j} lighthouses"): _*),
        assumeNew = true)
    // a probe planned against gen-8 reads seg-1f + seg-2..seg-8
    val inFlight = LshIndex.probe(ix,
      docs(9000L -> "appended batch 3 doc 1 about 40 lighthouses"))
    val expected = probeSet(LshIndex.probe(ix,
      docs(9000L -> "appended batch 3 doc 1 about 40 lighthouses")))
    LshIndex.testGcRefsRead = onGcRead
    try LshIndex.append(ix, docs((0L until 4L).map(j => (20000L + j) ->
        s"final batch doc $j about ${j * 17} orchards"): _*), assumeNew = true)
    finally LshIndex.testGcRefsRead = (_, _) => ()
    assert(ix.currentManifest.segs.exists(_.name.contains("m")),
      s"precondition: compaction must have merged, got ${ix.currentManifest.segs}")
    for (g <- 2 to 8)
      assert(new java.io.File(s"$dir/ix/seg-$g").exists(),
        s"seg-$g was GC'd although gen-8's references were unknown — " +
          "GC must err toward KEEPING")
    assert(probeSet(inFlight) == expected,
      "the in-flight gen-8 probe lost its files to an over-eager GC")
    LshIndex.append(ix, docs(30000L ->
      "one more appended document about granite observatories"), assumeNew = true)
    assert(!new java.io.File(s"$dir/ix/gen-8").exists())
    assert(!new java.io.File(s"$dir/ix/seg-2").exists(),
      "GC must resume once the retained manifests read cleanly")
  }

  test("gcRefs transient read error keeps (not deletes) the retained generation's segments") {
    // r12 ADVICE: gcRefs used to return empty on ANY exception, so a
    // transient IO error reading a retained manifest dropped its seg
    // dirs from the live set and publish deleted them — the opposite
    // of err-toward-keeping
    compactionKeepsGen8Segments { (_, gen) =>
      if (gen == 8L) throw new RuntimeException("injected transient IO error")
    }
  }

  test("a torn retained manifest keeps (not deletes) its generation's segments") {
    // gcRefs reads a retained manifest with the one strict parse: one
    // that reads but does not parse has unknown references, so seg GC
    // stops for that publish rather than drop them. gen-8's manifest
    // is torn (its `end` sentinel dropped) as the GC reads it.
    val torn = new java.util.concurrent.atomic.AtomicBoolean(false)
    compactionKeepsGen8Segments { (path, gen) =>
      if (gen == 8L) {
        val mf = java.nio.file.Paths.get(s"$path/gen-8/manifest")
        val text = java.nio.file.Files.readString(mf)
        java.nio.file.Files.writeString(mf, text.stripSuffix("end\n"))
        torn.set(text.endsWith("end\n"))
      }
    }
    assert(torn.get(), "gen-8's manifest must have been read whole, then torn")
  }

  test("retention K persists in the manifest: a default-conf writer cannot shrink a K=3 window") {
    // r12 verdict ask #7: retainGenerations used to be read from the
    // PUBLISHING writer's session conf, so one default-configured
    // writer could GC a generation a slow K=3 prober still needs. K
    // now rides the manifest monotonically: set K=3 for the BUILD
    // only, then let default-conf writers publish — the K=3 window
    // must hold anyway.
    spark.conf.set("spark.graft.lsh.retainGenerations", "3")
    val dir = Files.createTempDirectory("lshix").toString
    val ix =
      try LshIndex.build(corpus.filter(col("doc_id") <= 2), s"$dir/ix")
      finally spark.conf.unset("spark.graft.lsh.retainGenerations")
    val inFlight = LshIndex.probe(ix, batch) // planned against gen-1
    val expected = probeSet(LshIndex.probe(ix, batch))
    LshIndex.append(ix, corpus.filter(col("doc_id") > 2)) // gen-2
    LshIndex.append(ix, docs(42L ->
      "completely novel appended document with fresh vocabulary about lighthouses")) // gen-3
    assert(new java.io.File(s"$dir/ix/gen-1").exists(),
      "a default-conf writer must honor the K=3 the build persisted")
    assert(probeSet(inFlight) == expected,
      "the slow gen-1 probe lost its snapshot to a shrunken window")
    LshIndex.append(ix, docs(43L ->
      "a fourth generation document mentioning observatories and granite")) // gen-4
    assert(!new java.io.File(s"$dir/ix/gen-1").exists(),
      "gen-1 must still retire once it falls out of the K=3 window")
  }

  test("torn-manifest repair recovers retainK from prior readable manifests") {
    // r13 ADVICE: the repair path (prev = None) used to reset retainK
    // to the conf default (floor 2), so a repair publish could GC
    // generations a long-retention (K=3) prober still depends on.
    // retainK rides the manifest monotonically, so the repair must
    // recover the max over whatever prior manifests still read.
    spark.conf.set("spark.graft.lsh.retainGenerations", "3")
    val dir = Files.createTempDirectory("lshix").toString
    val ix =
      try LshIndex.build(corpus, s"$dir/ix")
      finally spark.conf.unset("spark.graft.lsh.retainGenerations")
    LshIndex.append(ix, docs(42L ->
      "a novel appended document about lighthouses and granite storms")) // gen-2, K=3 carried
    // tear the CURRENT manifest (drop the end sentinel): the next load
    // takes the repair path with prev = None
    val mf = java.nio.file.Paths.get(s"$dir/ix/gen-2/manifest")
    java.nio.file.Files.writeString(mf,
      java.nio.file.Files.readString(mf).stripSuffix("end\n"))
    LshIndex.load(spark, s"$dir/ix") // repair publishes gen-3
    val m3 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/ix/gen-3/manifest"))
    assert(m3.contains("retainK 3"),
      s"repair must recover the persisted K=3, not reset to the default:\n$m3")
    assert(new java.io.File(s"$dir/ix/gen-1").exists(),
      "the recovered window must keep protecting gen-1")
  }

  test("stale dead-holder lock: the breaker repairs the half-written state before appending") {
    // The FsLease scaladoc contract: a stale break repairs nothing, and
    // LshIndex's repair runs post-acquisition — a waiter that breaks a
    // dead holder's lock must still fold the dead holder's orphaned
    // signature rows in before building on top.
    val dir = Files.createTempDirectory("lshix").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    // dead holder: signature rows landed, no publish, lock left behind
    // with an mtime far past the staleness floor
    graft.operators.Dedup.minhashSignatures(docs(888L -> base))
      .write.mode("append").parquet(s"$dir/ix/signatures")
    val lock = new java.io.File(s"$dir/ix/_writer.lock")
    java.nio.file.Files.writeString(lock.toPath, "dead-holder-token")
    lock.setLastModified(System.currentTimeMillis() - 20 * 60 * 1000L)
    // a new appender must break the stale lock, repair (fold doc 888
    // into the manifest), then append its own batch
    LshIndex.append(ix, docs(999L ->
      "a completely fresh appended document about canyons and meteor showers"))
    val got = probeSet(LshIndex.probe(ix, docs(9000L -> base)))
    assert(got.exists(_._2 == 888L),
      s"the dead holder's orphaned doc must survive the stale break: $got")
    assert(ix.signatures.filter(col("doc_id").isin(888L, 999L)).count() == 2L)
    assert(!lock.exists() || !java.nio.file.Files.readString(lock.toPath)
      .contains("dead-holder-token"), "the stale lock must have been broken")
  }
}
