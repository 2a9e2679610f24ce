package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, LshIndex}

/** The live near-dup screen (r10 verdict ask #5): a foreachBatch front
  * probing the standing LshIndex per micro-batch. Done bar — drained
  * stream verdicts == batch q131 verdicts on the same corpus+batch,
  * per-batch generation pinning, and no un-pruned corpus scan in any
  * per-batch job (the DedupReportPlanSpec discipline, checked against
  * the EXECUTED plans of everything the drain runs). */
class NearDupScreenSpec extends AnyFunSuite {
  import SparkTestSession._

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def rowKey(r: Row): (Long, Long, Long, Long, Long, Long, Double) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getDouble(6))

  /** Run the screen over `srcDir` (1 file per micro-batch) until all
    * files are drained; returns every emitted verdict row plus each
    * batch's emitted frame for plan inspection. */
  private def drainScreen(srcDir: String, schema: org.apache.spark.sql.types.StructType,
      ix: LshIndex.Index, corpus: DataFrame)
      : (Seq[Row], Int) = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val ckpt = Files.createTempDirectory("nd-ckpt").toString
    val q = Curation.screenNearDups(stream, ix, corpus, ckpt) {
      (verdicts, _) =>
        verdicts.collect().foreach(out.add)
        batches.incrementAndGet()
        ()
    }
    try q.processAllAvailable() finally q.stop()
    (out.toArray(Array.empty[Row]).toSeq, batches.get())
  }

  test("drained screen == batch q131 on the driver's own corpus+batch") {
    val corpus = GraftSession.table(spark, sf, "documents")
    val batch = Dedup.recrawlBatch(spark, sf)
    val dir = Files.createTempDirectory("nd-screen").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    // split the q131 re-crawl batch into two micro-batch files
    batch.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(s"$dir/src")
    batch.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(s"$dir/src")
    val (got, nBatches) = drainScreen(s"$dir/src", batch.schema, ix, corpus)
    assert(nBatches >= 2, s"expected ≥2 micro-batches, saw $nBatches")
    // q131's own gate output (standing buildOrLoad index, ordered) —
    // the literal done bar: same corpus, same batch, same verdicts
    val q131 = SparkEntry.queries("q131_incremental_lsh")(spark, sf)
      .collect().map(rowKey).toSet
    val drained = got.map(rowKey).toSet
    assert(drained == q131,
      s"drained screen diverged from batch q131: " +
        s"missing=${(q131 -- drained).take(5)} extra=${(drained -- q131).take(5)}")
    assert(drained.nonEmpty)
  }

  test("per-batch scan discipline: index reads + pushed-IN corpus reads only") {
    val corpus = GraftSession.table(spark, sf, "documents")
    val batch = Dedup.recrawlBatch(spark, sf)
    val dir = Files.createTempDirectory("nd-plan").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    batch.coalesce(1).write.parquet(s"$dir/src")
    // capture the EXECUTED plan of every job the drain runs (the ckpt
    // materializations included — that is where the file scans live;
    // the emitted frame's final plan is ckpt-pinned and scan-free)
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.FileSourceScanExec]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        Diag.collectScans(qe.executedPlan,
          new java.util.IdentityHashMap[
            org.apache.spark.sql.execution.SparkPlan, Boolean]())
          .foreach(scans.add)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      val (got, _) = drainScreen(s"$dir/src", batch.schema, ix, corpus)
      assert(got.nonEmpty)
      // listener bus is async — settle until the scan count stops moving
      var prev = -1
      while (prev != scans.size) { prev = scans.size; Thread.sleep(300) }
    } finally spark.listenerManager.unregister(ql)
    val all = scans.toArray(Array.empty[
      org.apache.spark.sql.execution.FileSourceScanExec]).toSeq
    val offenders = all.filter { s =>
      val paths = s.relation.location.rootPaths.map(_.toString)
      val inIndex = paths.forall(_.contains(s"$dir/ix"))
      val isSource = paths.forall(_.contains(s"$dir/src"))
      // accept any VALUE-constraining pushed filter on doc_id, not
      // just the literal In(doc_id...) spelling — above
      // spark.sql.parquet.pushdown.inFilterThreshold Spark may push a
      // large IN as InSet or a range pair — but match the pruning
      // forms EXPLICITLY: a bare IsNotNull(doc_id) rides along on
      // virtually any join-keyed scan, so `contains("doc_id")` would
      // pass a regression that silently lost the real pruning and
      // fell back to a full corpus scan (r12 ADVICE)
      val pruningForms = Seq("In(doc_id", "InSet(doc_id", "EqualTo(doc_id",
        "GreaterThanOrEqual(doc_id", "LessThanOrEqual(doc_id",
        "GreaterThan(doc_id", "LessThan(doc_id")
      val prunedCorpus = paths.forall(_.contains("documents.parquet")) &&
        s.metadata.get("PushedFilters")
          .exists(pf => pruningForms.exists(pf.contains))
      !(inIndex || isSource || prunedCorpus)
    }
    assert(offenders.isEmpty,
      s"un-pruned scans leaked into the screen's jobs:\n" +
        offenders.map(s => s.relation.location.rootPaths.mkString(",") +
          " " + s.metadata.getOrElse("PushedFilters", "")).mkString("\n"))
    // and the probe really read the index
    assert(all.exists(_.relation.location.rootPaths
      .exists(_.toString.contains(s"$dir/ix"))))
  }

  test("generation pinning: a batch screened after append sees the grown index") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river while seventeen green turtles carry packages across the water"
    val novel = "completely novel appended document with fresh vocabulary " +
      "about lighthouses foghorns keepers and the long winter watches"
    val corpus0 = docs(
      1L -> base,
      2L -> ("spark catalyst optimizer exchanges partitions broadcast " +
        "joins whole stage codegen tungsten memory format columnar scans"))
    val dir = Files.createTempDirectory("nd-gen").toString
    val ix = LshIndex.build(corpus0, s"$dir/ix")
    val schema = corpus0.schema
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    docs(100L -> base).coalesce(1).write.mode("append").parquet(s"$dir/src")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    // the screen's corpus arg is BY-NAME: the read expression itself
    // goes in, so each micro-batch re-lists the growing corpus dir
    docs(1L -> base).write.mode("append").parquet(s"$dir/corpus")
    val q = Curation.screenNearDups(stream, ix,
        spark.read.schema(schema).parquet(s"$dir/corpus"),
        s"$dir/ckpt") { (v, _) => v.collect().foreach(out.add); () }
    try {
      q.processAllAvailable()
      val firstHits = out.toArray(Array.empty[Row]).map(rowKey).toSeq
      assert(firstHits.exists(h => h._1 == 100L && h._2 == 1L),
        s"batch 1 must match the standing corpus: $firstHits")
      assert(!firstHits.exists(_._2 == 42L))
      // grow the index (and the corpus dir) between micro-batches
      docs(42L -> novel).write.mode("append").parquet(s"$dir/corpus")
      LshIndex.append(ix, docs(42L -> novel))
      out.clear()
      docs(200L -> novel).coalesce(1).write.mode("append").parquet(s"$dir/src")
      q.processAllAvailable()
      val secondHits = out.toArray(Array.empty[Row]).map(rowKey).toSeq
      assert(secondHits.exists(h => h._1 == 200L && h._2 == 42L),
        s"batch 2 must probe the grown generation: $secondHits")
    } finally q.stop()
  }

  test("topic face: verdicts land exactly once, thresholded on jaccard") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river while seventeen green turtles carry packages across the water"
    val corpus = docs(
      1L -> base,
      2L -> ("spark catalyst optimizer exchanges partitions broadcast " +
        "joins whole stage codegen tungsten memory format columnar scans"))
    val dir = Files.createTempDirectory("nd-topic").toString
    val ix = LshIndex.build(corpus, s"$dir/ix")
    val verdictTopic = graft.log.TopicLog.prepare(spark, s"$dir/verdicts",
      numPartitions = 2)
    docs(100L -> base, 101L -> ("unrelated text about gardens tomatoes " +
      "rainfall and the patient work of growing things from seed"))
      .coalesce(1).write.parquet(s"$dir/src")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = Curation.screenNearDupsToTopic(stream, ix, corpus, verdictTopic,
      s"$dir/ckpt", minJaccard = 0.5)
    try q.processAllAvailable() finally q.stop()
    val recs = verdictTopic.read().filter(col("event") === "near_dup")
      .select(col("key"), col("message")).collect()
    assert(recs.length == 1, s"expected exactly one verdict: ${recs.toSeq}")
    assert(recs.head.getString(0) == "100")
    assert(recs.head.getString(1).contains("\"corpus_id\":1"))
  }
}
