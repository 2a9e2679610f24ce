package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.log.TopicLog

/** Handle for a named live subscription — the reference's subscription
  * object (`topic.js:110-116` unsubscribe, `topic.js:20-24` close).
  * The acked watermarks are written per micro-batch AFTER the user's
  * processing function runs (at-least-once), so [[unsubscribe]] only
  * has to stop the query: the batch-path [[graft.log.TopicLog.replay]]
  * and the streaming [[TopicStream.replayThenLive]] both resume
  * exactly after the last processed record. */
final class Subscription private[streaming] (
    val topic: TopicLog, val name: String, val query: StreamingQuery) {

  def isActive: Boolean = query.isActive

  /** Register a callback fired exactly once when the underlying query
    * terminates — `None` for a clean stop, `Some(error)` when the query
    * died. The reference surfaces tailable-cursor errors through the
    * subscriber callback (`topic.js:49-88` error paths); this is the
    * Spark-native equivalent via StreamingQueryListener. Safe to call
    * on an already-dead subscription (fires immediately). */
  def onTerminated(callback: Option[String] => Unit): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val streams = topic.spark.streams
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id && fired.compareAndSet(false, true)) {
          try callback(e.exception) finally streams.removeListener(listener)
        }
    }
    streams.addListener(listener)
    // the query may have died before the listener registered — its
    // terminated event is gone; fire from the query's own state (the
    // AtomicBoolean keeps the two paths once-only)
    if (!query.isActive && fired.compareAndSet(false, true)) {
      streams.removeListener(listener)
      callback(Option(query.exception.orNull).map(_.getMessage))
    }
  }

  /** Block until every record published so far has been processed and
    * acked (test/drain aid; the reference's flush-before-unsubscribe). */
  def drain(): Unit = query.processAllAvailable()

  /** Stop tailing. Acks already persisted stay; a later subscribe or
    * replay under the same name continues after them. */
  def unsubscribe(): Unit = {
    if (query.isActive) query.stop()
    // a dead query's awaitTermination RETHROWS its failure — but
    // unsubscribe of an already-failed subscription must stay a clean
    // teardown (the error already surfaced via onTerminated or the
    // caller's own awaitTermination)
    try query.awaitTermination()
    catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
    }
  }
}

/** Structured-Streaming face of a [[graft.log.TopicLog]] — the live
  * half of the reference's subscribe semantics (kafkaish
  * `src/topic.js:42-117`).
  *
  *  - ephemeral subscribe (topic.js:49-88 `listen`: find head, tail
  *    `_id > head`): capture the current heads at subscribe time and
  *    stream only records after them — subscribers "see messages
  *    published from now on".
  *  - durable subscribe (topic.js:89-117 + ack): [[subscribeDurable]]
  *    (live) and [[drainOnce]] (backlog, then stop) resume after the
  *    named subscriber's acked watermark and ack each processed
  *    micro-batch into the topic's subscriber sidecar — the reference's
  *    `<topic>_subscribers` document — so [[graft.log.TopicLog.replay]],
  *    [[graft.log.TopicLog.watermarks]] and `q22_consumer_lag` see the
  *    same position. Delivery is at-least-once (a crash between
  *    processing and the ack redelivers the batch).
  *  - event filter (topic.js:169-171): a row filter applied after the
  *    read, not pushed into the source.
  *
  * The file source re-lists the whole log directory on every trigger
  * and keeps only the files its seen-files log has not recorded, so an
  * idle subscriber's cost grows with the number of log files (keep it
  * bounded with retention and compaction); state is bounded by
  * watermarks, and per-key session state lives in the state store
  * (RocksDB-backed on a real cluster).
  *
  * Compaction contract: [[graft.log.TopicLog.compact]] REWRITES log
  * files (swap-in of new file names), and a file-source subscriber
  * identifies records by FILE, not offset — a subscription running
  * across a compaction sees the compacted survivors again as "new"
  * files (duplicate delivery of already-seen offsets), the same
  * at-least-once caveat Kafka consumers have around log-compaction
  * races. Spec-pinned across a compaction: no survivor is lost, every
  * redelivered `(log_part, offset)` is a survivor, and the acked
  * watermark never moves back. Run compaction on topics with no live
  * subscriptions (its writer lease already excludes concurrent
  * PUBLISHERS, not readers; a listing that races the partition-dir
  * swap can fail the query), or dedup downstream on
  * `(log_part, offset)` — [[dedupByContent]]'s keyed-state pattern
  * does exactly this. Batch [[graft.log.TopicLog.replay]]
  * is unaffected: offsets survive compaction, so a durable subscriber's
  * watermark keeps meaning "everything after" (spec-pinned).
  */
object TopicStream {

  /** Live tail of a topic as an unbounded DataFrame. `event = None`
    * subscribes to all events (reference `subscribe(null, ...)`). */
  def subscribe(topic: TopicLog, event: Option[String] = None,
      fromNow: Boolean = true): DataFrame = {
    val heads = if (fromNow) topic.heads() else Map.empty[Int, Long]
    subscribeAfter(topic, heads, event)
  }

  /** The reference's full `replay` semantics (topic.js:118-197) in ONE
    * streaming query: a named durable subscriber drains its backlog
    * (everything after its acked watermark — or from the beginning for
    * a new subscriber) and then keeps tailing live, with the sink
    * checkpoint carrying the position from there on. */
  def replayThenLive(topic: TopicLog, name: String,
      event: Option[String] = None): DataFrame =
    subscribeAfter(topic, topic.watermarks(name), event)

  /** Backlog cut: records strictly after the per-partition watermarks
    * ([[graft.log.TopicLog.after]], the same per-row predicate as batch
    * [[graft.log.TopicLog.replay]]). The file source lists the whole
    * log on every trigger and drops the files it has already seen;
    * partition-directory pruning is not available to a streaming
    * source, which is why the cut is per-row in the first place. */
  private def subscribeAfter(topic: TopicLog, watermarks: Map[Int, Long],
      event: Option[String]): DataFrame = {
    val afterMark = TopicLog.after(topic.readStream(), watermarks,
      topic.numPartitions)
    event.fold(afterMark)(e => afterMark.filter(col("event") === e))
  }

  /** Use a topic as a streaming SINK with exactly-once batches: each
    * micro-batch is published through
    * [[graft.log.TopicLog.publishIdempotent]] (expects the canonical
    * record columns event, key, message, ts), so a streaming pipeline
    * can terminate in a durable, replayable topic. The txn id mixes the
    * checkpoint location, the streaming query's PERSISTENT id, and the
    * epoch batch id. The query id (minted at query start, stored in
    * `<checkpoint>/metadata`) is stable across restarts of the SAME
    * checkpoint — so a foreachBatch re-execution after ANY failure
    * once its publish's marker landed (a crash before the checkpoint
    * commit, or a publish that threw after its marker) finds the
    * marker and skips the append — but is RE-MINTED when the
    * checkpoint dir is wiped and the query restarted (routine ops
    * recovery). Without it, batchIds restart at 0 while the old run's
    * txn markers persist in the topic, and genuinely NEW batches would
    * be "skipped" as replays — silent data loss; with it, a post-wipe
    * run gets fresh txn ids and degrades to at-least-once, the
    * survivable direction ([[graft.log.TopicLog.publishIdempotent]]
    * documents the one remaining at-least-once window). */
  def publishSinkExactlyOnce(records: DataFrame, topic: TopicLog,
      checkpointDir: String): DataStreamWriter[Row] = {
    val mint = new TxnIdMinter(topic.spark, checkpointDir)
    records.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        topic.publishIdempotent(
          batch.select(col("event"), col("key"), col("message"), col("ts")),
          mint("sink", batchId))
        ()
      }
  }

  /** The ONE txn-id minting discipline for every foreachBatch sink
    * that publishes into a topic exactly-once (shared so a future
    * change to the scheme lands everywhere at once):
    * `<prefix><sinkId>q<queryTag>b<batchId>`, where sinkId derives
    * from the checkpoint location and queryTag from the query's
    * PERSISTENT id, read from the `sql.streaming.queryId` local
    * property Spark sets on the thread that runs each batch (the id
    * stored in `<checkpoint>/metadata`, not the per-start run id; see
    * [[publishSinkExactlyOnce]]'s scaladoc for why it must
    * participate). Minting outside a streaming batch fails fast:
    * deriving txn ids without the query id would reopen the
    * checkpoint-wipe silent-skip hazard. */
  private[graft] final class TxnIdMinter(spark: SparkSession,
      checkpointDir: String) {
    private val sinkId = java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes("UTF-8")).toString.replace("-", "")
    def apply(prefix: String, batchId: Long): String = {
      val queryId = Option(spark.sparkContext.getLocalProperty(QueryIdKey))
        .getOrElse(throw new IllegalStateException(
          s"no streaming query id on this thread ($QueryIdKey unset) — " +
            "exactly-once txn ids are minted inside a streaming batch"))
      s"$prefix${sinkId}q${queryId.replace("-", "")}b$batchId"
    }
  }

  /** The local property carrying the running query's persistent id
    * (Spark's `StreamExecution.QUERY_ID_KEY`). */
  private[graft] val QueryIdKey = "sql.streaming.queryId"

  /** The one durable-consumer query behind [[subscribeDurable]] and
    * [[drainOnce]]: [[replayThenLive]] from the subscriber's acked
    * watermark, then per micro-batch persist, run the caller's
    * `process`, ack the batch's max offset per partition into the
    * subscriber sidecar, unpersist; checkpointed at `checkpointDir`.
    * The trigger is the only difference between the two callers.
    * `onAck` runs after each non-empty batch's ack. */
  private def startDurable(topic: TopicLog, name: String,
      checkpointDir: String, event: Option[String], trigger: Trigger,
      onAck: () => Unit)(process: DataFrame => Unit): StreamingQuery =
    replayThenLive(topic, name, event).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val b = batch.persist()
        try {
          process(b.toDF())
          val marks = b.groupBy(col("log_part"))
            .agg(max(col("offset")).as("o"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          if (marks.nonEmpty) { topic.ack(name, marks); onAck() }
        } finally { b.unpersist(); () }
      }
      .start()

  /** The reference's `subscribe(event, name, callback)` in full
    * (topic.js:89-117): drain the named subscriber's backlog, keep
    * tailing live, run `process` on every micro-batch, and ack the
    * batch's max offsets per partition AFTER processing succeeds
    * (at-least-once — a crash between process and ack redelivers).
    * Returns a [[Subscription]] handle; its `unsubscribe()` stops the
    * tail and the persisted acks let `replay(name)` pick up exactly
    * where processing stopped. */
  def subscribeDurable(topic: TopicLog, name: String,
      checkpointDir: String, event: Option[String] = None)
      (process: DataFrame => Unit): Subscription =
    new Subscription(topic, name, startDurable(topic, name, checkpointDir,
      event, Trigger.ProcessingTime(0L), () => ())(process))

  /** Bounded catch-up drain: process the named subscriber's CURRENT
    * backlog and stop (`Trigger.AvailableNow` — everything present at
    * start, nothing that arrives later). Same query as
    * [[subscribeDurable]], but it terminates at the backlog end
    * instead of tailing live — the shape for scheduled consumers
    * (nightly syncs, cron-fed compaction) that want "replay then STOP"
    * rather than the reference's replay-then-live. Acks persist
    * through the topic's subscriber sidecar, so interleaved
    * [[graft.log.TopicLog.replay]] calls and later drains all resume
    * after the last processed record, even with a fresh checkpoint per
    * drain. Blocks until the drain completes; returns the number of
    * NON-EMPTY micro-batches (0 = the backlog was empty — an empty
    * AvailableNow batch still runs `process` but is not counted, by
    * the TopicStreamSpec drain-twice contract). */
  def drainOnce(topic: TopicLog, name: String,
      checkpointDir: String, event: Option[String] = None)
      (process: DataFrame => Unit): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    startDurable(topic, name, checkpointDir, event, Trigger.AvailableNow(),
      () => { batches.incrementAndGet(); () })(process).awaitTermination()
    batches.get()
  }

  /** Stream-static as-of enrichment: each live record joined to the
    * LATEST dim row at-or-before its event time (the "state of the
    * world when the event happened" join, e.g. price-at-trade-time).
    * Runs the broadcast as-of operator per micro-batch — the dim index
    * is broadcast once per batch and the stream side keeps its scan
    * partitioning, so the hot path adds one binary search per record
    * and NO shuffle. A plain stream-static equi join cannot express
    * "latest at-or-before" without a per-record argmax aggregation,
    * which streaming append mode disallows mid-query. */
  def enrichAsof(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String,
      streamTime: String, dimTime: String,
      tiebreak: Seq[String] = Nil): DataFrame =
    graft.operators.AsofNative.asofJoin(stream, dim, streamKey, dimKey,
      streamTime, dimTime, tiebreak, graft.plans.AsofBroadcast)

  /** Stream-stream correlation join of two live topics: records with
    * the same key where the right event lands within `within` after the
    * left event. Watermarks on both sides bound the join state (Spark
    * drops buffered rows older than watermark + interval).
    */
  def streamJoin(left: DataFrame, right: DataFrame,
      within: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("key").as("l_key"), col("ts").as("l_ts"),
        col("event").as("l_event"), col("message").as("l_message"))
    val r = right.withWatermark("ts", watermark)
      .select(col("key").as("r_key"), col("ts").as("r_ts"),
        col("event").as("r_event"), col("message").as("r_message"))
    l.join(r, expr(
      s"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL $within"))
  }

  /** Streaming exact content dedup — the live face of the batch
    * dedup rung (q30 exact / q97 incremental): drop records whose
    * content was already seen, state bounded by the event-time
    * watermark horizon (`dropDuplicatesWithinWatermark`, so late
    * duplicates beyond the horizon are the documented trade — exactly
    * the contract of a streaming re-crawl screen). Dedup keys on the
    * 128-bit content digest, not the payload: state stores 16 bytes
    * per distinct content instead of the document text. (NOT a 64-bit
    * hash: at 10^11 docs a 64-bit birthday collision is ~0.3 expected
    * — one silently dropped unique doc; 128 bits puts it at ~1e-17.)
    * First arrival wins (arrival order, not min-id — batch dedup picks
    * min doc_id; the KEPT CONTENT set is identical, spec-proved).
    */
  def dedupByContent(stream: DataFrame, contentCol: String,
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    // NULL content bypasses dedup entirely: md5(null) is null and
    // dropDuplicates treats null keys as EQUAL, so tombstones /
    // metadata-only records (message = null is a first-class topic
    // citizen — compaction's delete markers) would collapse to one
    // per watermark horizon (r9 review fix). Contentless records have
    // nothing to dedup on; they pass through unchanged.
    val marked = stream.withWatermark(tsCol, watermark)
    marked.filter(col(contentCol).isNotNull)
      .withColumn("__content_h", unhex(md5(col(contentCol))))
      .dropDuplicatesWithinWatermark("__content_h")
      .drop("__content_h")
      .unionByName(marked.filter(col(contentCol).isNull))
  }

  /** Back this session's streaming state with RocksDB instead of the
    * default in-memory HDFS-backed store. At corpus scale the state for
    * windowed aggs / sessionization / dedup outgrows executor heap
    * (HDFSBackedStateStoreProvider keeps every key in memory); RocksDB
    * spills to local disk and, with changelog checkpointing, uploads
    * only per-batch deltas instead of full snapshots. Returns an undo
    * handle restoring the previous provider (state store choice is fixed
    * per checkpoint — never flip providers mid-checkpoint).
    */
  def useRocksDBState(spark: SparkSession): () => Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    val prevChangelog = spark.conf.getOption(changelog)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelog, "true")
    () => {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevChangelog match {
        case Some(v) => spark.conf.set(changelog, v)
        case None => spark.conf.unset(changelog)
      }
    }
  }

  /** Watermarked tumbling-window aggregation over a live topic. */
  def windowedCounts(stream: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event"), col("n_events"))

  case class SessionEvent(key: String, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(key: String, startMs: Long, endMs: Long, nEvents: Int)

  case class RegEvent(key: String, ts: java.sql.Timestamp)
  case class RegState(n: Long, last: Long, sg: Long, sg2: Long)
  case class RegOut(key: String, nEvents: Long, meanGapS: Double,
    cv: Double, regular: Boolean)

  /** Custom stateful sessionization via flatMapGroupsWithState: a
    * session closes (and is emitted) when a later event for the same key
    * arrives more than `gapMs` after the session's last event; with
    * `eventTimeFlush`, quiet keys are additionally flushed when the
    * watermark passes their gap (the cluster-idiomatic EventTimeTimeout).
    *
    * Default is NoTimeout: a quiet key keeps its open session in state
    * until the next event. (A ProcessingTimeTimeout variant would spin
    * empty micro-batches continuously on an idle stream — and deadlocks
    * Spark 4.1's checksum checkpoint writer on small local rigs.) */
  def sessionize(spark: SparkSession, stream: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      eventTimeFlush: Boolean = false,
      watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    val src = if (eventTimeFlush) stream.withWatermark("ts", watermark) else stream
    val typed = src
      .select(coalesce(col("key"), lit("")).as("key"), col("ts"))
      .as[SessionEvent]
    val timeoutConf =
      if (eventTimeFlush) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (key: String, events: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(key, s.start, s.last, s.n))
          } else {
            val sorted = events.map(_.ts.getTime).toSeq.sorted
            if (sorted.isEmpty) Iterator.empty
            else {
              var closed = List.empty[SessionOut]
              var cur = state.getOption.getOrElse(
                SessionState(sorted.head, sorted.head, 0))
              sorted.foreach { t =>
                if (t - cur.last > gapMs) {
                  closed ::= SessionOut(key, cur.start, cur.last, cur.n)
                  cur = SessionState(t, t, 1)
                } else {
                  // clamp: a cross-batch LATE event (t < cur.last) must
                  // not regress the session boundary — a regressed last
                  // both splits sessions spuriously and can set an
                  // event-time timeout at/below the watermark (fatal).
                  // The late event still counts into the session.
                  cur = SessionState(cur.start, math.max(cur.last, t),
                    cur.n + 1)
                }
              }
              state.update(cur)
              if (eventTimeFlush) state.setTimeoutTimestamp(cur.last + gapMs)
              closed.reverseIterator
            }
          }
      }.toDF()
  }

  /** The LIVE face of the q151 inter-arrival bot screen: per-key
    * running gap statistics via mapGroupsWithState, emitting the
    * current (n, mean gap, cv, regular) verdict for every key touched
    * in a micro-batch (Update mode — the dashboard/alerting shape).
    * State is FOUR longs per key: event count, last event second, Σgap
    * and Σgap² — constant per key regardless of history length, so
    * state size is O(active keys) at any stream volume. The gap
    * arithmetic is integer-exact and ORDER-CONSISTENT with the batch
    * operator (gaps accumulate in event-time order within and across
    * batches), so a drained stream reproduces
    * `EventOps.interarrivalRegularity` exactly — spec-proved, and
    * proved batch-boundary-invariant (1 batch vs many). Late data:
    * events older than a key's last-seen second are DROPPED (they
    * would fold a negative gap into the running sums and permanently
    * corrupt the cv); in-order delivery is the normal case anyway —
    * TopicLog guarantees offset order per partition key. A true
    * reorder buffer would need a watermark + flatMapGroupsWithState. */
  def interarrivalMonitor(spark: SparkSession, stream: DataFrame,
      minEvents: Long = 20L, cvThreshold: Double = 0.3): DataFrame = {
    import spark.implicits._
    val typed = stream
      .select(coalesce(col("key"), lit("")).as("key"), col("ts"))
      .as[RegEvent]
    typed
      .groupByKey(_.key)
      .mapGroupsWithState[RegState, RegOut](GroupStateTimeout.NoTimeout) {
        (key: String, events: Iterator[RegEvent], state: GroupState[RegState]) =>
          val sorted = events.map(_.ts.getTime / 1000L).toSeq.sorted
          var s = state.getOption.getOrElse(RegState(0L, 0L, 0L, 0L))
          sorted.foreach { t =>
            s =
              if (s.n == 0L) RegState(1L, t, 0L, 0L)
              // Guard, not just a scaladoc assumption (advisor, r9): a
              // late cross-batch arrival (t < state.last) would fold a
              // NEGATIVE gap into sg/sg2 and permanently corrupt the
              // key's cv. Drop such events — the monitor's verdict
              // stays a function of the in-order arrival process.
              else if (t < s.last) s
              else {
                val g = t - s.last
                RegState(s.n + 1, t, s.sg + g, s.sg2 + g * g)
              }
          }
          state.update(s)
          val m = s.n - 1
          if (s.n >= minEvents && m > 0 && s.sg > 0) {
            val mean = s.sg.toDouble / m
            val variance =
              (m.toDouble * s.sg2.toDouble - s.sg.toDouble * s.sg.toDouble) /
                (m.toDouble * m.toDouble)
            val cv = math.sqrt(variance) / mean
            RegOut(key, s.n, mean, cv, cv < cvThreshold)
          } else RegOut(key, s.n, Double.NaN, Double.NaN, false)
      }.toDF()
  }
}
