package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession.{ckpt, table}

/** One-call training-data curation: the composition of the C-pack —
  * quality gate → exact dedup → LSH near-dup dedup → benchmark
  * contamination screen → per-source quota — as a single lazy
  * DataFrame program. Output = the input docs plus a `verdict` column:
  * `keep`, or the FIRST stage that dropped the doc (`quality`,
  * `exact_dup`, `near_dup`, `contaminated`, `source_cap`).
  *
  * Scale shape: every stage is the proven per-query plan — quality is
  * scan-side flags (no shuffle), exact dedup one content-hash
  * aggregation, near-dup the banded LSH + star-contraction components
  * (never an all-pairs join), contamination a broadcast of the BENCH
  * gram set (the corpus-side gram stream never shuffles against
  * itself), the quota one window over the uniform source key. Calling
  * curate materializes the stage checkpoints (quality flags, the
  * survivor corpus, and the near-dup contraction's edge list — each
  * consumed by several downstream chains); the returned verdict frame
  * itself stays lazy — verdict counts are one extra aggregation on
  * it, and the kept corpus is a filter.
  *
  * Verdict precedence is pipeline order, and each stage only examines
  * the previous stage's survivors — a low-quality clone can never
  * claim exact-dup survivorship from a clean original, and quota ranks
  * are computed over docs that survived everything else.
  */
object Curation {

  /** Verdict values in pipeline order ("dup_spans" only occurs when
    * [[curate]] runs with `spanTrim = true`). */
  val Stages: Seq[String] =
    Seq("quality", "exact_dup", "dup_spans", "near_dup", "contaminated",
      "source_cap")

  /** The streaming face of the first two curation stages: the quality
    * gate is stateless scan-side work (it applies to a stream
    * unchanged — StreamBatchParitySpec proves batch/stream equality),
    * and exact dedup becomes watermark-bounded streaming state
    * ([[graft.streaming.TopicStream.dedupByContent]]). Near-dup/LSH,
    * contamination and quotas are batch stages by nature (they need
    * corpus-wide views); run them on the accumulated output — this is
    * the standard lambda split for a live ingest front.
    */
  def curateStream(stream: DataFrame, tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    graft.streaming.TopicStream.dedupByContent(
      TextOps.qualityFilter(stream).filter(col("keep") === 1),
      contentCol = "text", tsCol = tsCol, watermark = watermark)

  /** LIVE near-dup screen off the standing [[LshIndex]] — the
    * streaming face of q131 (r10 verdict ask #5): each micro-batch of
    * `(doc_id, text)` docs is probed against the persisted index and
    * `emit` receives the batch's q131-shaped verified verdicts
    * (batch_id, corpus_id, n_shared_bands, n_batch, n_corpus, n_inter,
    * jaccard) plus the epoch batch id. A drained screen over a corpus
    * batch equals batch q131 on the same corpus+batch row-for-row
    * (NearDupScreenSpec) — the per-pair verification is independent
    * across batch docs, so micro-batch boundaries cannot change any
    * verdict.
    *
    * Scale shape, per micro-batch: batch-sized signature work + ONE
    * pruned read of the index's star-capped probe table + a literal-IN
    * candidate-pruned corpus read ([[Dedup.indexProbeVerified]] —
    * parquet pushes the collected candidate id set into the scan, so
    * the corpus text is never streamed off disk per batch; the id set is bounded by the star-capped candidate
    * count, batch-proportional by construction). The index GENERATION
    * is resolved once per batch (the probe side pins its manifest
    * snapshot at plan time), so a screen running concurrently with
    * [[LshIndex.append]] answers each batch from one consistent
    * generation and never tears between two.
    *
    * The screen only READS the index — verdicts for docs the index has
    * not absorbed yet are "not a near-dup of the standing corpus",
    * exactly q131's contract. Run [[curateCycle]] (or
    * [[LshIndex.append]]) to absorb screened batches; the next
    * micro-batch then probes the grown generation automatically.
    *
    * `corpus` is BY-NAME, re-evaluated once per micro-batch: a batch
    * DataFrame pins its file listing at `spark.read` time, so a
    * growing corpus dir passed as a pre-built frame would serve
    * verification text from a stale snapshot (candidates of appended
    * docs would silently drop out of the inner verify join). Pass the
    * read expression itself for a live corpus; a val still works for
    * a static one. */
  def screenNearDups(docs: DataFrame, ix: LshIndex.Index,
      corpus: => DataFrame, checkpointDir: String)
      (emit: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val b = batch.select(col("doc_id"), col("text")).persist()
        try {
          if (b.limit(1).count() > 0)
            emit(Dedup.indexProbeVerified(ix, b, corpus), batchId)
        } finally { b.unpersist(); () }
      }
      .start()

  /** [[screenNearDups]] publishing into a verdict topic: one
    * `near_dup` record per verified candidate pair at or above
    * `minJaccard`, keyed by the probing doc_id with a JSON payload
    * (corpus_id, n_shared_bands, jaccard). Exactly-once per
    * micro-batch via the topic's txn markers (the
    * [[graft.streaming.TopicStream.publishSinkExactlyOnce]] id
    * discipline: checkpoint + persistent query id + epoch batch id),
    * so a foreachBatch re-execution after any failure past its
    * publish's marker never double-writes a batch's verdicts; only an
    * abort between the append and the marker re-appends
    * ([[graft.log.TopicLog.publishIdempotent]]). */
  def screenNearDupsToTopic(docs: DataFrame, ix: LshIndex.Index,
      corpus: => DataFrame, verdictTopic: graft.log.TopicLog,
      checkpointDir: String, minJaccard: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val mint = new graft.streaming.TopicStream.TxnIdMinter(
      verdictTopic.spark, checkpointDir)
    screenNearDups(docs, ix, corpus, checkpointDir) { (verdicts, batchId) =>
      verdictTopic.publishIdempotent(
        verdicts.filter(col("jaccard") >= minJaccard)
          .select(lit("near_dup").as("event"),
            col("batch_id").cast("string").as("key"),
            to_json(struct(col("corpus_id"), col("n_shared_bands"),
              col("jaccard"))).as("message"),
            current_timestamp().as("ts")),
        mint("ndscreen", batchId))
      ()
    }
  }

  /** `spanTrim = true` (r9, verdict #9) inserts the Lee et al.
    * exact-substring REMOVAL action between exact dedup and the late
    * stages: duplicated anchored windows are cut from every
    * non-canonical doc ([[Dedup.trimDupSpans]] — the q130 machinery as
    * an action, not just a report). Docs reduced below one window of
    * text get verdict `dup_spans`; survivors continue through
    * near-dup/contamination/quota WITH their trimmed text (and
    * recomputed n_chars), and the output gains `text_final` (the
    * post-trim text, null for dropped docs) and `masked_chars`
    * columns. With the default `spanTrim = false` the output schema
    * and verdicts are byte-identical to prior rounds (the q113 gate).
    *
    * Span-canon caveat (documented contract, not a bug): trimming
    * keeps each duplicated span only in its CANONICAL (min-doc_id)
    * holder, and that holder can still be dropped by a LATER stage
    * (contamination, quota) — in which case the span's text leaves
    * the kept corpus entirely. This is the standard behavior of
    * pipeline-ordered curation (Lee et al. dedup composed with
    * downstream filters has the same property: any filter after dedup
    * can kill a cluster's sole survivor), and it is usually wanted —
    * a span whose canonical home is benchmark-contaminated SHOULD
    * leave the corpus. Callers needing guaranteed span retention
    * should run [[Dedup.trimDupSpans]] after the drop stages
    * instead of using `spanTrim`. */
  def curate(docs: DataFrame, bench: DataFrame,
      capPerSource: Int = 1000, spanTrim: Boolean = false,
      spanTrimWin: Int = 50): DataFrame = {
    // 1. quality: scan-side composite gate (TextOps.qualityFilter).
    // Checkpointed once (doc_id + flag — the narrow projection): the
    // regex/array-fold quality scan is the single most expensive
    // per-doc computation here, and without the checkpoint it re-runs
    // in every downstream branch (exact keep-set, survivor corpus,
    // final stitch). Same q93 rule as the near-dup stage below, whose
    // contraction loop already materializes its edge list at call
    // time.
    // r15 (guide §2.4 — remove a shuffle outright): the content hash
    // rides IN the quality checkpoint (8 more bytes/doc on a frame that
    // existed anyway), so exact dedup's min-doc_id-per-hash aggregation
    // runs off this narrow materialized frame instead of re-scanning
    // the corpus joined back against qual — the old plan's
    // docs⋈qual join (one exchange + a second full xxhash64-over-text
    // pass) is gone; the survivor corpus attaches with ONE semi-join.
    val qual = ckpt(TextOps.qualityFilter(docs)
      .select(col("doc_id").as("q_id"), col("keep").as("q_ok"),
        xxhash64(col("text")).as("__h")))

    // 2. exact dedup over quality survivors: survivor = min doc_id per
    // content hash (one map-side-combinable aggregation over the
    // KB-class quality frame). The survivor corpus feeds three chains
    // (LSH candidates, contamination grams, the quota ranking) —
    // checkpoint it once too.
    val exactKeep = qual.filter(col("q_ok") === 1)
      .groupBy(col("__h"))
      .agg(min(col("q_id")).as("e_id"))
      .select(col("e_id"))
    val exactOk = ckpt(docs.join(exactKeep,
      col("doc_id") === col("e_id"), "left_semi"))

    // 2.5 (opt-in): exact-substring span trim over the content-distinct
    // survivors — cut duplicated spans (canonical occurrence kept),
    // drop docs trimmed to a husk, feed the TRIMMED text to the late
    // stages so near-dup/contamination/quota judge what would actually
    // ship.
    val trimInfo = if (!spanTrim) None else Some(ckpt(
      Dedup.trimDupSpans(exactOk, spanTrimWin)
        .select(col("doc_id"), col("text_trimmed"), col("masked_chars"),
          // husk = REDUCED below one window BY TRIMMING — a doc that
          // was short to begin with (masked_chars = 0) is not a dup
          // husk and must continue through the late stages untouched
          (col("masked_chars") > 0 &&
            length(col("text_trimmed")) < spanTrimWin).as("husk"))))
    val lateInput = trimInfo match {
      case None => exactOk
      case Some(t) => exactOk.drop("text")
        .join(t.filter(!col("husk"))
          .select(col("doc_id"), col("text_trimmed")), Seq("doc_id"))
        .withColumn("text", col("text_trimmed"))
        .withColumn("n_chars", length(col("text_trimmed")).cast("long"))
        .drop("text_trimmed")
    }

    // 3-5. the corpus-wide late stages (near-dup, contamination,
    // quota) — shared with [[curateCycle]]'s batch phase so the
    // one-call and stream→batch faces are the same code by
    // construction, not by parallel maintenance
    val late = lateStageVerdicts(lateInput, bench, capPerSource)
      .select(col("doc_id").as("l_id"), col("verdict").as("l_verdict"))

    // stitch: left-join each stage's drop/keep marker, precedence in
    // pipeline order. NO separate exact-survivor join (r14 job-count
    // reclaim): [[lateStageVerdicts]] emits one NON-NULL verdict per
    // exact-dedup survivor, so `l_id IS NULL` among quality passers IS
    // the exact_dup marker — the old full-corpus e_keep join (one of
    // the stitch's two sort-merge exchanges) carried no extra
    // information. In the spanTrim branch the trim frame plays the
    // same role (it covers every exact survivor, husk or not), and
    // husk docs — absent from `late`'s input — are told apart from
    // exact dups by `t_id`.
    val base = docs
      .join(qual.select(col("q_id"), col("q_ok")),
        col("doc_id") === col("q_id"), "left")
      .join(late, col("doc_id") === col("l_id"), "left")
    trimInfo match {
      case None => base
        .withColumn("verdict",
          when(col("q_ok") =!= 1, lit("quality"))
            .when(col("l_id").isNull, lit("exact_dup"))
            .otherwise(col("l_verdict")))
        .drop("q_id", "q_ok", "l_id", "l_verdict")
      case Some(t) => base
        .join(t.select(col("doc_id").as("t_id"), col("text_trimmed"),
          col("masked_chars").as("t_masked"), col("husk")),
          col("doc_id") === col("t_id"), "left")
        .withColumn("verdict",
          when(col("q_ok") =!= 1, lit("quality"))
            .when(col("t_id").isNull, lit("exact_dup"))
            .when(col("husk") === true, lit("dup_spans"))
            .otherwise(col("l_verdict")))
        .withColumn("text_final",
          when(col("verdict") === "keep", col("text_trimmed")))
        .withColumn("masked_chars",
          coalesce(col("t_masked"), lit(0L)))
        .drop("q_id", "q_ok", "l_id", "l_verdict",
          "t_id", "text_trimmed", "t_masked", "husk")
    }
  }

  /** Stages 3-5 over an already quality-passed, content-distinct
    * corpus: banded-LSH near-dup components, benchmark contamination,
    * and the per-source quota, with verdict precedence in pipeline
    * order. Returns one `(doc_id, verdict)` row per input doc with
    * `verdict` in `near_dup | contaminated | source_cap | keep`.
    * These are the corpus-wide stages — the part of curation that
    * cannot stream — so both [[curate]] and [[curateCycle]] call this
    * on their respective survivor corpora. */
  private[operators] def lateStageVerdicts(exactOk: DataFrame,
      bench: DataFrame, capPerSource: Int,
      candPairs: Option[DataFrame] = None): DataFrame = {
    // The corpus shingle-hash stream feeds BOTH the LSH minhash
    // aggregation and the contamination probe — materialize it once
    // (tokenize → 3-gram shingle → md5 is the heaviest per-doc work
    // after the quality scan; 24 B/shingle beats recomputing it).
    // Non-distinct is fine for minhash (min is multiset-invariant);
    // contamination distincts after its broadcast-join cut.
    val sh = ckpt(Dedup.shingleHashStream(exactOk))

    // near-dup: every non-representative component member drops.
    // ckpt'd (a doc_id list — KB-class): the frame feeds BOTH the
    // quota's survivor filter and the final verdict stitch, and
    // without the pin each consumer re-runs the LSH aggregation and
    // the whole CC contraction loop.
    //
    // `candPairs` (r10): an INCREMENTALLY-ACCRUED candidate ledger
    // (curateCycle's standing LshIndex) replaces the corpus-wide LSH
    // recompute. The ledger's pair LIST differs from a recompute
    // (per-cycle star-caps, no stale re-finds) but its connected
    // COMPONENTS are provably identical — every pair of docs sharing
    // a band key is transitively connected through the cycle that
    // introduced the younger doc (see LshIndexSpec / CurationSpec) —
    // and components are all this stage consumes.
    // r14 (guide §2.6): the near-dup CC chain and the contamination
    // probe both hang off the ckpt'd shingle stream but are mutually
    // independent — built concurrently so the CC contraction loop's
    // job tail overlaps the contamination ckpt instead of preceding it
    // serially. Frames identical either way.
    val benchGrams = Dedup.shingleHashes(bench)
      .select(col("h1"), col("h2")).distinct()
    val (nearDropped, contaminated) = graft.GraftSession.par2(
      ckpt(Dedup
        .connectedComponents(
          candPairs.getOrElse(
            Dedup.lshCandidatesFromSignatures(Dedup.minhashFromHashes(sh)))
            .select(col("doc_a"), col("doc_b")))
        .filter(col("node") =!= col("label"))
        .select(col("node").as("n_id"))),
      // contamination: any 3-gram shingle shared with the bench set;
      // the bench grams broadcast (q69's shape). ckpt'd for the same
      // two-consumer reason as nearDropped.
      ckpt(sh
        .join(broadcast(benchGrams), Seq("h1", "h2"))
        .select(col("doc_id").as("c_id")).distinct()))

    // per-source quota among docs surviving all prior stages,
    // best-first by n_chars (q100's shape). The quota-th best
    // (n_chars, doc_id) per source comes from the native bounded-heap
    // groupTopK (≤ quota rows per (source, partition) cross the
    // exchange — a source-partitioned window would sort a hot
    // source's survivors on ONE reducer), collapses to a |sources|-row
    // CUTOFF table, and the over-quota docs are a broadcast-join
    // FILTER against that cutoff — the survivor corpus itself never
    // shuffles. priorOk stays LAZY: its two consumers (heap + filter)
    // each re-run only a scan of the ckpt'd exactOk anti-joined with
    // the two ckpt'd id lists — cheap by construction. n_chars is
    // non-null here: the quality gate rejects null-text docs, so the
    // strict (n_chars, doc_id) comparison is total.
    val priorOk = exactOk
      .join(nearDropped, col("doc_id") === col("n_id"), "left_anti")
      .join(contaminated, col("doc_id") === col("c_id"), "left_anti")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val cut = TopK.groupTopK(priorOk,
        Seq("source"), Seq(("n_chars", true), ("doc_id", false)),
        capPerSource)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kn"),
        min(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("worst"))
    val capped = priorOk.join(broadcast(cut), Seq("source"))
      .filter(col("kn") === capPerSource &&
        (col("n_chars") < col("worst.n_chars") ||
          (col("n_chars") === col("worst.n_chars") &&
            -col("doc_id") < col("worst.nd"))))
      .select(col("doc_id").as("k_id"))

    exactOk.select(col("doc_id"))
      .join(nearDropped.withColumn("n_drop", lit(1)),
        col("doc_id") === col("n_id"), "left")
      .join(contaminated.withColumn("c_drop", lit(1)),
        col("doc_id") === col("c_id"), "left")
      .join(capped.withColumn("k_drop", lit(1)),
        col("doc_id") === col("k_id"), "left")
      .withColumn("verdict",
        when(col("n_drop") === 1, lit("near_dup"))
          .when(col("c_drop") === 1, lit("contaminated"))
          .when(col("k_drop") === 1, lit("source_cap"))
          .otherwise(lit("keep")))
      .select(col("doc_id"), col("verdict"))
  }

  // --------------------------------------- stream→batch cycle (one API)

  /** Canonical doc payload carried in a topic record's `message`. */
  val DocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))

  /** Encode a docs frame as topic records (`event="doc"`,
    * `key=doc_id`, `message=` the JSON doc) for publishing into the
    * ingest topic [[curateCycle]] consumes. */
  def docRecords(docs: DataFrame): DataFrame =
    docs.select(lit("doc").as("event"),
      col("doc_id").cast("string").as("key"),
      to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("message"),
      col("ts"))

  /** Decode topic records back into doc rows (+ the record ts). */
  def parseDocs(records: DataFrame): DataFrame =
    records.select(from_json(col("message"), DocSchema).as("d"), col("ts"))
      .select(col("d.doc_id"), col("d.text"), col("d.lang"),
        col("d.source"), col("d.n_chars"), col("ts"))

  /** The verdict topic as a table: latest verdict per doc. Verdict
    * records are keyed by doc_id, and a topic key always hashes to the
    * same log partition, where offsets are monotone — so "latest"
    * is exactly max-offset per key (Kafka compaction semantics as a
    * read-time view; `compact()` makes it physical). One shuffle on
    * the uniform doc_id key. */
  def currentVerdicts(verdictTopic: graft.log.TopicLog): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("offset").desc)
    verdictTopic.read().filter(col("event") === "verdict")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("key").cast("long").as("doc_id"),
        col("message").as("verdict"))
  }

  /** One stream→batch curation cycle over a live ingest topic —
    * [[curateStream]]'s lambda split closed into a single call
    * (r4 verdict ask #8). Each cycle:
    *
    *  1. **Stream front** (two `Trigger.AvailableNow` queries over the
    *     docs topic, each resuming its own checkpoint, so a cycle
    *     processes only records that arrived since the last one):
    *     quality REJECTS go straight to the verdict topic through the
    *     exactly-once publish sink; quality keepers flow through the
    *     watermark-bounded streaming content dedup and accumulate in
    *     `keptDir` via the transactional file sink (its `_spark_metadata`
    *     commit log makes batch re-reads exactly-once too).
    *  2. **Batch phase**: [[lateStageVerdicts]] — the same code
    *     [[curate]] runs — over the full accumulated kept corpus, plus
    *     `exact_dup` for every published doc that neither failed
    *     quality nor survived the content dedup. All batch verdicts
    *     are (re)published to the verdict topic keyed by doc_id.
    *
    * The verdict topic is a CHANGELOG: late stages are corpus-wide, so
    * a later cycle may lawfully revise an earlier verdict (a new
    * higher-quality doc can push an old `keep` over the source quota;
    * a new near-dup can join an old doc's cluster). Re-publishing a
    * doc's current verdict each cycle makes [[currentVerdicts]]
    * (latest-per-key) always reflect the full corpus seen so far — and
    * makes a crashed cycle safely re-runnable (same values, latest
    * wins). Returns the post-cycle [[currentVerdicts]] view.
    *
    * Scale shape: the stream front touches only the cycle's new
    * records (stateless quality scan + 16 B/distinct-content dedup
    * state); the batch phase is the proven late-stage plan over the
    * kept corpus (banded LSH, broadcast bench grams, one quota
    * window), re-run per cycle — the standard compaction-cycle cost,
    * amortized by running cycles at ingest-batch cadence rather than
    * per record. */
  def curateCycle(docsTopic: graft.log.TopicLog,
      verdictTopic: graft.log.TopicLog, keptDir: String,
      checkpointDir: String, bench: DataFrame, capPerSource: Int = 1000,
      watermark: String = "1 hour",
      lshIndexDir: Option[String] = None): DataFrame = {
    import graft.streaming.TopicStream
    val spark = docsTopic.spark

    // stream front A: stateless quality routing → verdict changelog
    val qualFails = TextOps.qualityFilter(
        parseDocs(TopicStream.subscribe(docsTopic, fromNow = false)))
      .filter(col("keep") =!= 1)
      .select(lit("verdict").as("event"),
        col("doc_id").cast("string").as("key"),
        lit("quality").as("message"), col("ts"))
    val routeQ = TopicStream.publishSinkExactlyOnce(qualFails, verdictTopic,
        s"$checkpointDir/quality")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

    // stream front B: quality keepers → streaming content dedup →
    // transactional parquet accumulation
    val keptQ = curateStream(
        parseDocs(TopicStream.subscribe(docsTopic, fromNow = false)),
        tsCol = "ts", watermark = watermark)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("ts"))
      .writeStream.format("parquet")
      .option("path", keptDir)
      .option("checkpointLocation", s"$checkpointDir/kept")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    routeQ.awaitTermination()
    keptQ.awaitTermination()

    // batch phase: late stages over the ACCUMULATED kept corpus (the
    // root-dir read honors the file sink's _spark_metadata commit log)
    val keptDocs = spark.read
      .schema(org.apache.spark.sql.types.StructType(DocSchema.fields :+
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      .parquet(keptDir)
    // near-dup stage: with `lshIndexDir` set, the cycle maintains a
    // STANDING LshIndex over the kept corpus (r9 verdict ask #1) —
    // signatures are computed for THIS cycle's new docs only, their
    // candidates come from one batch self-join plus one index probe
    // (batch-sized work + a pruned index read), and clustering runs
    // over the accumulated pair ledger (component-identical to a full
    // recompute — see lateStageVerdicts). Without it, the near-dup
    // stage re-runs the full-corpus signature pass every cycle.
    // Ledger-before-signatures append order makes a crashed cycle
    // re-runnable: un-indexed docs are re-probed and their pairs
    // re-appended (duplicate edges are CC-idempotent).
    val late = lshIndexDir match {
      case None => lateStageVerdicts(keptDocs, bench, capPerSource)
      case Some(ixPath) =>
        val keptD = keptDocs.select(col("doc_id"), col("text"))
        val ix =
          if (!LshIndex.exists(spark, ixPath)) {
            val sig = ckpt(Dedup.minhashSignatures(keptD))
            // the base corpus's pairs ride INTO the initial build (it
            // writes the ledger before publishing the marker): a crash
            // anywhere in here leaves exists() false and the re-run
            // rebuilds — a valid-looking index can never sit over an
            // empty ledger (r10 ADVICE)
            LshIndex.buildFromSignatures(sig, ixPath,
              initialPairs = Some(Dedup.lshCandidatesFromSignatures(sig)
                .select(col("doc_a"), col("doc_b"))))
          } else {
            val ix0 = LshIndex.load(spark, ixPath)
            val newDocs = keptD.join(ix0.docIds, Seq("doc_id"), "left_anti")
            val sig = ckpt(Dedup.minhashSignatures(newDocs))
            val selfPairs = Dedup.lshCandidatesFromSignatures(sig)
              .select(col("doc_a"), col("doc_b"))
            val probePairs = LshIndex.probeSignatures(ix0, sig)
              .select(col("batch_id").as("doc_a"),
                col("corpus_id").as("doc_b"))
            LshIndex.appendPairs(ix0, selfPairs.unionByName(probePairs))
            // sig is anti-joined against the index's own ids just
            // above — assumeNew skips the redundant doc_id re-read.
            // Crash re-runs stay safe: the watermark repair inside
            // appendSignatures dedups, and re-appended pairs are
            // CC-idempotent.
            LshIndex.appendSignatures(ix0, sig, assumeNew = true)
            ix0
          }
        lateStageVerdicts(keptDocs, bench, capPerSource,
          candPairs = Some(ix.pairs))
    }

    // exact_dup = published ∖ quality-failed ∖ kept (the docs the
    // streaming content dedup swallowed). Read the fail set from the
    // changelog itself — never recomputed.
    val allIds = parseDocs(docsTopic.read()).select(col("doc_id")).distinct()
    val qualityFailIds = currentVerdicts(verdictTopic)
      .filter(col("verdict") === "quality").select(col("doc_id"))
    val exactDup = allIds
      .join(keptDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(qualityFailIds, Seq("doc_id"), "left_anti")
      .withColumn("verdict", lit("exact_dup"))

    verdictTopic.publish(late.unionByName(exactDup)
      .select(lit("verdict").as("event"),
        col("doc_id").cast("string").as("key"),
        col("verdict").as("message"),
        current_timestamp().as("ts")))
    currentVerdicts(verdictTopic)
  }

  /** The driver gate for the flagship composition (r4 verdict ask #2):
    * per-doc verdicts over the dup-injected corpus with the q69
    * bench split (every 97th original doc is "the benchmark"), the
    * per-source cap low enough (5) that the quota stage has real work
    * at sf0.01 — all six verdicts occur. The oracle composes the
    * five stages' own DuckDB mirrors in pipeline order — quality flags
    * (q73's SQL), min-doc_id-per-content exact dedup (q30's; md5
    * grouping equals xxhash64 grouping absent a 64-bit collision),
    * recursive-CTE components over band candidates of the stage-2
    * survivors (q72's), shared-shingle contamination (q69's), and the
    * rank-window quota (q100's) — so the verdict-PRECEDENCE logic is
    * what this gate uniquely checks.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q113_curation_verdicts" -> ((s, dir) => {
      // Corpus = the dup-injected docs (q30's corpus) minus the bench
      // split; bench = every 97th ORIGINAL doc (q69's split). With
      // cap=5 every stage has real work at sf0.01: quality drops
      // ~58%, clones of in-corpus originals fall to exact_dup, clones
      // of BENCH originals fall to contaminated (their text lives on
      // the bench side), LSH picks off near-dups, and ~20 sources x
      // >5 survivors exercises the quota.
      val d = Dedup.docsWithDups(s, dir)
      curate(d.filter(col("doc_id") % 97 =!= 0),
          table(s, dir, "documents").filter(col("doc_id") % 97 === 0),
          capPerSource = 5)
        .select(col("doc_id"), col("verdict"))
        .orderBy(col("doc_id"))
    })
  )

  // `edges` is MATERIALIZED: DuckDB otherwise re-runs the whole
  // shingle/minhash/band pipeline on every iteration of the recursive
  // `reach` and runs out of memory at sf0.01
  val oracle: Map[String, String] = Map(
    "q113_curation_verdicts" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT * FROM (${Dedup.dupSql}) dd WHERE doc_id % 97 <> 0),
         |q AS (${TextOps.qualityFlagsSqlFrom("corpus")}),
         |qok AS (
         |  SELECT c.* FROM corpus c JOIN q ON q.doc_id = c.doc_id
         |  WHERE q.keep = 1),
         |ek AS (SELECT MIN(doc_id) AS doc_id FROM qok GROUP BY md5(text)),
         |eok AS (SELECT * FROM qok WHERE doc_id IN (SELECT doc_id FROM ek)),
         |sh AS (${Dedup.shinglesSqlFrom("eok")}),
         |sig AS (${Dedup.signaturesSql}),
         |bands AS (${Dedup.bandsSql}),
         |bx AS (${Dedup.lshBxSql}),
         |cand AS (${Dedup.lshCandSql}),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT src AS node, src AS label FROM edges
         |  UNION
         |  SELECT e.src AS node, r.label
         |  FROM edges e JOIN reach r ON r.node = e.dst),
         |comp AS (
         |  SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
         |ndrop AS (SELECT node AS doc_id FROM comp WHERE node <> cluster_id),
         |shh AS (${Dedup.shingleHashSqlFrom("sh")}),
         |bsh AS (${Dedup.shinglesSqlFrom(
              "(SELECT * FROM documents WHERE doc_id % 97 = 0) bd")}),
         |bgr AS (
         |  SELECT DISTINCT h1, h2
         |  FROM (${Dedup.shingleHashSqlFrom("bsh")}) bx),
         |cont AS (
         |  SELECT DISTINCT s.doc_id
         |  FROM shh s JOIN bgr b ON s.h1 = b.h1 AND s.h2 = b.h2),
         |prior AS (
         |  SELECT * FROM eok
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)
         |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |capped AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rk FROM prior) pr
         |  WHERE rk > 5)
         |SELECT d.doc_id,
         |  CASE WHEN q.keep <> 1 THEN 'quality'
         |    WHEN d.doc_id NOT IN (SELECT doc_id FROM ek) THEN 'exact_dup'
         |    WHEN d.doc_id IN (SELECT doc_id FROM ndrop) THEN 'near_dup'
         |    WHEN d.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         |    WHEN d.doc_id IN (SELECT doc_id FROM capped) THEN 'source_cap'
         |    ELSE 'keep' END AS verdict
         |FROM corpus d JOIN q ON q.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
  )
}
