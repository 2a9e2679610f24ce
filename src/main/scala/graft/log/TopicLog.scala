package graft.log

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native re-expression of the reference's durable topic
  * (kafkaish `src/topic.js`): an append-only, partitioned log with
  * monotonic per-partition offsets, named durable subscribers with
  * acked watermarks, replay-from-offset, head lookup, compaction and
  * retention (offset-, time- and size-capped).
  *
  * Mapping from the reference (cited file:line):
  *  - topic = capped collection            -> partitioned parquet log dir
  *    (`topic.js:266-296` create)             `<path>/log/log_part=N/log_date=D/`
  *  - `_id` monotonic ObjectId             -> `offset` long, monotonic per
  *                                            `log_part` (Kafka-style)
  *  - publish w/ confirm (`topic.js:26-41`)-> [[publish]] batch append,
  *    returns the assigned per-partition offset ranges (the reference's
  *    insert callback returning the stored doc)
  *  - ack upsert (`topic.js:198-223`)      -> [[ack]] subscriber watermark
  *  - replay from last ack                 -> [[replay]] offset-predicate
  *    (`topic.js:142-197` replayFrom)         scan
  *  - latest() head (`topic.js:224-250`)   -> [[latest]] / [[heads]]
  *  - capped-size retention (`topic.js:8`) -> [[retainToSize]] oldest-file
  *    drop; plus [[retainAfter]] (time) and [[retainFrom]] (offset)
  *  - (Kafka analogue, not in reference)   -> [[compact]] latest-per-key
  *
  * Slow-consumer contract (spec-pinned): when retention trims PAST a
  * durable subscriber's acked watermark, [[replay]] resumes at the
  * oldest RETAINED offset with no error — the records between the
  * watermark and the retention horizon are a silent data-loss window,
  * exactly the reference's capped-collection overwrite semantics
  * (`topic.js:8-10`). Monitor consumer lag (head − acked watermark
  * per partition, from [[heads]] and [[watermarks]]; the
  * `q22_consumer_lag` query computes it for every subscriber) against
  * the retention horizon to catch subscribers drifting toward the edge.
  *
  * Scale design:
  *  - Offsets need no global coordination — each log_part numbers
  *    independently. Current heads live in a tiny `_offsets.json`
  *    sidecar maintained by every mutation, so [[heads]] and therefore
  *    [[publish]] are O(partitions) metadata reads — the log itself is
  *    NEVER scanned to assign offsets (a cold sidecar falls back to a
  *    one-time scan and writes the sidecar).
  *  - [[publish]]'s per-partition record counts are collected with an
  *    [[org.apache.spark.sql.Observation]] piggybacked on the write
  *    job — no second pass over the batch, no read-back.
  *  - The log is laid out `log_part=N/log_date=D`, so time retention is
  *    a DIRECTORY DROP for whole days (plus a rewrite of the single
  *    boundary date), and compaction/offset-retention swap only the
  *    affected `log_part` subtrees; untouched partitions' files are
  *    byte-identical afterwards.
  *  - Directory swaps are crash-safe: live dirs are renamed aside
  *    (into `log.aside`, outside the tree a read lists) before the
  *    staged result moves in, and [[recover]] (run on open) rolls a
  *    torn swap back, so a crash never leaves the log absent.
  *  - CONCURRENT PUBLISHERS are safe (the reference gets this from
  *    MongoDB's atomic inserts, `topic.js:26-41`): [[publish]] runs
  *    under a `_publish.lock` lease file acquired with an atomic
  *    create-if-absent, so two producers serialize and assign disjoint,
  *    gapless offset ranges. The lock doubles as the crash marker: a
  *    publisher that died mid-append leaves its lock behind, and
  *    whoever breaks the stale lease first reconciles the sidecar
  *    against a log scan (elementwise max — correct both for a crashed
  *    append, where the scan is ahead, and for a fully-trimmed
  *    partition, where the sidecar is ahead). Compaction and retention
  *    take the SAME lease, so a maintenance swap can never race a
  *    concurrent publish (which would silently drop the appended
  *    batch); the lease renews itself for the duration of long jobs.
  *  - Replay is `offset > watermark` + event filter, evaluated per row
  *    after the scan: the watermark is a per-partition array literal
  *    indexed by `log_part` ([[TopicLog.after]]), which parquet cannot
  *    push down, so a replay still lists and reads every retained file.
  */
final class TopicLog(val spark: SparkSession, val path: String, val numPartitions: Int = 8) {

  private val logDir = s"$path/log"
  private val asideDir = s"$path/log.aside"
  private val subsDir = s"$path/subscribers"
  private val txnsDir = s"$path/txns"
  private val headsPath = s"$path/_offsets.json"
  private val lockPath = new Path(s"$path/_publish.lock")

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The topic's writer lease. `onStaleBreak` is the sidecar
    * reconcile: a stale lock means a publisher died between append and
    * sidecar write, and the breaker must heal heads BEFORE freeing
    * other waiters to publish against them. Every write that COMMITS
    * state under the lease — the heads-sidecar replace, a txn marker, a
    * partition-dir swap, each retention deletion — first passes
    * `held.fence`: a renewal-starved publisher whose lock was
    * stale-broken must not land them, because the thief reconciled
    * heads and may be committing its own (a zombie sidecar replace
    * would REGRESS heads the thief advanced; a zombie swap or deletion
    * could drop records the thief just published). Declared before the
    * constructor's [[recover]] call, which uses it. */
  private val publishLease: FsLease =
    new FsLease(fs, lockPath, () => reconcileHeads())

  // Partition count is LAYOUT, not a per-open knob: record routing
  // (pmod(hash, numPartitions)), offset assignment, and the
  // idempotence-marker packing (p / p + numPartitions) all key off it,
  // so reopening an existing topic with a different count would
  // silently break per-key partition affinity and the sidecar math
  // with no error. The count is pinned in a `_partitions` sidecar on
  // first prepare and validated on every subsequent open — the
  // GraftConnection cache guard only protects a single process; this
  // protects reopen-after-close and cross-process opens. A
  // pre-sidecar log adopts the requested count once (unverifiable).
  // Checked BEFORE recover(): a wrong-count open must not get to
  // break locks or reconcile sidecars first.
  readKv(new Path(s"$path/_partitions")) match {
    case Some(kv) =>
      // a present-but-keyless sidecar is CORRUPTION, not absence: fall
      // back to the caller's count and a truncated pin silently
      // re-adopts whatever the caller passed — the exact failure the
      // pin exists to prevent (r9 ADVICE fix). Fail loudly instead.
      val disk = kv.getOrElse(0, throw new IllegalStateException(
        s"topic at $path has a corrupt _partitions pin (no key 0) — " +
          "refusing to guess the partition count; restore or delete " +
          "the sidecar after verifying the layout"))
      require(disk == numPartitions.toLong,
        s"topic at $path was created with $disk partitions; " +
          s"reopening with $numPartitions would corrupt routing/offsets")
    case None =>
      writeKv(new Path(s"$path/_partitions"), Map(0 -> numPartitions.toLong))
  }

  recover()
  fs.mkdirs(new Path(logDir)) // prepareTopic creates the topic infra (works for hdfs://, file://, plain paths alike)

  // ---------------------------------------------------------------- heads

  /** Current per-partition head offsets (−1 when empty): an
    * O(partitions) read of the `_offsets.json` sidecar — no log scan.
    * A missing sidecar (e.g. a pre-sidecar log) is rebuilt once from a
    * full scan and persisted. Heads survive retention: a fully-trimmed
    * partition keeps its head so offsets stay monotonic forever (Kafka's
    * log-end-offset semantics). */
  def heads(): Map[Int, Long] = readSidecar().getOrElse(scanHeads())

  /** [[heads]] + sidecar persist — called ONLY under the publish lock:
    * a lock-free reader must never write the sidecar (its delete+
    * rename could race a publisher's replace and resurrect stale heads
    * → duplicate offsets). Readers pay the one-time scan until a
    * locked operation materializes the sidecar. */
  private def headsPersist(): Map[Int, Long] = readSidecar().getOrElse {
    val scanned = scanHeads()
    writeSidecar(scanned)
    scanned
  }

  private def scanHeads(): Map[Int, Long] =
    read().groupBy(col("log_part")).agg(max(col("offset")).as("head"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Sidecar format (heads, per-subscriber watermarks, txn markers,
    * the `_partitions` pin): one `int:long` pair per line — trivially
    * parseable, atomically replaced via [[AtomicFiles.writeReplace]],
    * so a concurrent reader sees old or new WHOLE bytes, never a
    * missing or torn file, and same-target racers land
    * last-writer-wins. */
  private def writeKv(target: Path, kv: Map[Int, Long]): Unit =
    AtomicFiles.writeReplace(fs, spark.sparkContext.hadoopConfiguration,
      target, kv.toSeq.sorted.map { case (p, h) => s"$p:$h" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))

  /** A [[writeKv]] sidecar, `None` when absent; a read error
    * propagates ([[AtomicFiles.read]]). */
  private def readKv(p: Path): Option[Map[Int, Long]] =
    AtomicFiles.read(fs, p).map(_.split("\n").iterator.map(_.trim)
      .filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split(":")
        k.toInt -> v.toLong
      }.toMap)

  private def writeSidecar(heads: Map[Int, Long]): Unit =
    writeKv(new Path(headsPath), heads)

  private def readSidecar(): Option[Map[Int, Long]] =
    readKv(new Path(headsPath))

  // -------------------------------------------------------------- publish

  /** Run `body` holding the topic's exclusive writer lease, renewed
    * for the duration. Publish, compaction, and retention all take it:
    * a compactor swapping a partition directory while a publisher
    * appends into it would silently drop the concurrent batch. */
  private def withPublishLock[T](body: FsLease.Held => T): T =
    publishLease.withLeaseHeld(body)

  /** Test-only accessor: acquire the topic's publish lease directly
    * (the lock-honoring/stale-window specs need to drive `acquire`
    * with a short timeout without going through a publish). */
  private[graft] def acquirePublishLockForTest(timeoutMs: Long): FsLease.Held =
    publishLease.acquire(timeoutMs)

  /** Publish a batch of records: columns (event, key, message, ts).
    * Assigns log_part = pmod(hash(key)) and per-partition monotonic
    * offsets continuing from the current heads. The whole batch is
    * appended atomically-enough for a single writer (new files only).
    *
    * Returns the assigned offsets as log_part -> (base, count): the
    * batch's records in partition p received offsets
    * (base, base+count] — the reference's publish-confirm callback
    * (`topic.js:25-40` returns the inserted doc). Counts come from an
    * Observation on the write job itself — publishing does zero reads
    * of the log. */
  def publish(records: DataFrame): Map[Int, TopicLog.OffsetRange] =
    withPublishLock { held => publishLocked(records, held, None) }

  /** Publish EXACTLY ONCE per `txnId`: the commit records the batch's
    * offset ranges in a `txns/<txnId>` marker (tmp+rename, under the
    * writer lease) BEFORE the heads-sidecar replace, and any later call
    * with the same id returns the recorded ranges WITHOUT appending. A
    * call that returned is in; ANY exception means "retry the same
    * txnId" — a failure after the marker landed makes the retry a
    * no-op, which is what closes the duplicate window of a checkpointed
    * streaming sink (foreachBatch re-executes its last uncommitted
    * batch under the same id on restart; see
    * [[graft.streaming.TopicStream.publishSinkExactlyOnce]]). One
    * at-least-once window remains: a crash or abort BETWEEN the data
    * append and the marker leaves the appended copy behind (the
    * reconcile keeps offsets sane) and the retry re-appends — the same
    * producer contract Kafka has without full transactions, and
    * strictly stronger than the reference's fire-and-forget insert
    * (topic.js:26-41). */
  def publishIdempotent(records: DataFrame, txnId: String): Map[Int, TopicLog.OffsetRange] = {
    require(txnId.nonEmpty && !txnId.exists(c => c == '/' || c == ':'),
      s"txnId must be a plain token: '$txnId'")
    withPublishLock { held =>
      // committed before: ranges were flattened as p -> base and
      // (p + numPartitions) -> count
      readKv(txnMarker(txnId)).map { kv =>
        kv.collect { case (p, base) if p < numPartitions =>
          p -> TopicLog.OffsetRange(base, kv(p + numPartitions))
        }
      }.getOrElse(publishLocked(records, held, Some(txnId)))
    }
  }

  private def txnMarker(txnId: String): Path = new Path(txnsDir, txnId)

  /** The one publish commit: append the batch, then — each behind its
    * own fence — the txn marker (only when `txn` is set) and the
    * heads-sidecar replace. The marker goes FIRST: it is written only
    * after the append landed under a held lease, so every later
    * reconcile (stale-break, the catch-all below, recovery on reopen)
    * folds the batch into heads, and a failure after it turns the
    * txn's retry into a no-op. */
  private def publishLocked(records: DataFrame, held: FsLease.Held,
      txn: Option[String]): Map[Int, TopicLog.OffsetRange] = {
    val base = headsPersist()
    // per-partition base offsets as an array literal indexed by
    // log_part: no join (and no broadcast job), and the literal reaches
    // generated code by reference, so the code is the same on every
    // publish and is not recompiled
    val bases = typedLit((0 until numPartitions).map(p => base.getOrElse(p, -1L)))
    val w = Window.partitionBy(col("log_part"))
      .orderBy(col("ts"), col("event"), col("key"), col("message"))
    val obs = Observation()
    val counts = (0 until numPartitions).map(p =>
      sum(when(col("log_part") === p, 1L).otherwise(0L)).as(s"n_$p"))
    records
      .withColumn("log_part",
        pmod(hash(coalesce(col("key"), col("message"))), lit(numPartitions)).cast("int"))
      .withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("offset", element_at(bases, col("log_part") + 1) + col("seq"))
      .withColumn("log_date", to_date(col("ts")))
      .select(col("offset"), col("ts"), col("event"), col("key"),
        col("message"), col("log_part"), col("log_date"))
      .observe(obs, counts.head, counts.tail: _*)
      .write.mode(SaveMode.Append)
      .partitionBy("log_part", "log_date").parquet(logDir)
    val got = obs.get
    val ranges = (0 until numPartitions).flatMap { p =>
      val n = got(s"n_$p") match { case null => 0L; case x: Number => x.longValue() }
      if (n > 0) Some(p -> TopicLog.OffsetRange(base.getOrElse(p, -1L), n)) else None
    }.toMap
    // fence BEFORE the marker and the sidecar replace: if our lease
    // was stale-broken during the append job, the thief already
    // reconciled heads (and may have advanced them with its own
    // publish) — our last-writer-wins replace would REGRESS them and
    // every later publish would re-issue the thief's offsets until the
    // next stale break. The appended data files staying behind without
    // a marker or sidecar update is the same at-least-once window a
    // crash here always had; the reconcile heals it.
    try {
      txn.foreach { id =>
        held.fence(s"txn marker $id")
        writeKv(txnMarker(id), ranges.flatMap { case (p, r) =>
          Seq(p -> r.base, (p + numPartitions) -> r.count)
        })
      }
      held.fence("the heads sidecar")
      writeSidecar(base ++ ranges.map { case (p, r) => p -> (r.base + r.count) })
    } catch {
      // a FENCED abort means a thief broke our lease and already
      // reconciled (and may be advancing heads right now) — hands off
      // the sidecar, surface the abort, let the caller retry
      case e: FsLease.FencedException => throw e
      // any OTHER failure here (an IO error writing the marker or
      // replacing the sidecar; a crash injected at a fence) leaves the
      // batch APPENDED with the sidecar stale — and nothing would heal
      // it: the lock is released normally on the way out, so no
      // stale-break reconcile ever runs, and the NEXT publish (any
      // process) would read the stale heads and re-issue this batch's
      // offsets — permanent duplicate (part, offset) pairs, the one
      // invariant the lock exists to protect (r14 chaos-spec-found:
      // only process DEATH was covered, not a surviving writer whose
      // commit step threw). We still hold the lease, so reconcile
      // (elementwise max of sidecar and scan — folds the orphaned
      // append in) before rethrowing; without a marker the records
      // stay behind as the usual at-least-once window.
      case e: Throwable =>
        try reconcileHeads()
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    ranges
  }

  // ---------------------------------------------------------------- reads

  /** The full log as a DataFrame (partition-pruned reads downstream).
    * Explicit schema so empty (just-prepared) topics read as 0 rows. */
  def read(): DataFrame =
    spark.read.schema(TopicLog.SCHEMA).parquet(logDir)

  /** The log as a streaming file source: [[read]]'s schema and
    * directory, at most 32 new files per micro-batch. Spark re-lists the
    * whole directory on every trigger and keeps the files its seen-files
    * log has not recorded; nothing makes the listing incremental. */
  def readStream(): DataFrame =
    spark.readStream.schema(TopicLog.SCHEMA)
      .option("maxFilesPerTrigger", "32").parquet(logDir)

  /** Typed view of the log for callers that want compile-time field
    * checks on record handling. */
  def readTyped(): org.apache.spark.sql.Dataset[TopicRecord] = {
    implicit val enc: org.apache.spark.sql.Encoder[TopicRecord] =
      org.apache.spark.sql.Encoders.product[TopicRecord]
    read().select(col("offset"), col("ts"), col("event"), col("key"),
      col("message"), col("log_part")).as[TopicRecord]
  }

  /** Head offset info, the reference's `latest()` (topic.js:224-250).
    * Includes live record counts, so this one scans (it's an analytics
    * query; use [[heads]] for the O(partitions) offset-only path). */
  def latest(): DataFrame =
    read().groupBy(col("log_part"))
      .agg(max(col("offset")).as("head_offset"), count(lit(1)).as("n_records"))

  private val subsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("log_part", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("last_offset", org.apache.spark.sql.types.LongType)))

  private def subFile(name: String): Path = new Path(subsDir,
    java.net.URLEncoder.encode(name, "UTF-8") + ".json")

  /** Durable subscriber watermarks (name, log_part, last_offset): one
    * tiny `subscribers/<name>.json` sidecar per subscriber, parsed
    * driver-side (subscriber counts are human-scale) — the all-
    * subscribers view for monitoring; replays read [[watermarks]]. */
  def subscribers(): DataFrame = {
    val d = new Path(subsDir)
    val rows: Seq[org.apache.spark.sql.Row] =
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
        .flatMap { st =>
          val name = java.net.URLDecoder.decode(
            st.getPath.getName.stripSuffix(".json"), "UTF-8")
          readKv(st.getPath).toSeq.flatten.map { case (p, o) =>
            org.apache.spark.sql.Row(name, p, o)
          }
        }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), subsSchema)
  }

  /** Upsert a subscriber's acked watermark (reference `ack`,
    * topic.js:198-223): merge per (name, log_part), last write wins —
    * the reference's per-subscriber document upsert. PURE METADATA: one
    * tmp+rename of the subscriber's own sidecar, no Spark job (this
    * sits on the per-micro-batch ack hot path), and different
    * subscribers never touch each other's files, so concurrent acks
    * across subscribers cannot lose updates. */
  def ack(name: String, watermarks: Map[Int, Long]): Unit = {
    val f = subFile(name)
    val merged = readKv(f).getOrElse(Map.empty) ++ watermarks
    writeKv(f, merged)
  }

  /** One subscriber's acked watermarks (log_part -> last acked
    * offset), read from its own sidecar — the file [[ack]] merges into.
    * Empty for a subscriber that never acked. */
  def watermarks(name: String): Map[Int, Long] =
    readKv(subFile(name)).getOrElse(Map.empty)

  /** Replay for a durable subscriber (reference `replay`/`replayFrom`,
    * topic.js:118-197): records strictly after the acked watermark of
    * `name`, optionally filtered to one event type (null = all, matching
    * topic.js:169-171). New subscribers replay from the beginning. */
  def replay(name: String, event: Option[String] = None): DataFrame = {
    val base = TopicLog.after(read(), watermarks(name), numPartitions)
    event.fold(base)(e => base.filter(col("event") === e))
      .orderBy(col("log_part"), col("offset"))
  }

  /** Time-based replay: records with ts >= since, oldest first. The
    * `log_date` predicate PARTITION-PRUNES the `log_date=D` directory
    * tree, so replaying the last hour of a 100 TB topic lists and scans
    * only the tail date partitions — the ts predicate then trims the
    * boundary date via parquet row-group stats. (The reference can only
    * replay by id; time travel is the Spark-native bonus the layout
    * gives for free.) */
  def replaySince(since: java.sql.Timestamp,
      event: Option[String] = None): DataFrame = {
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    val day = java.sql.Date.valueOf(
      since.toInstant.atZone(zone).toLocalDate.toString)
    val base = read()
      .filter(col("log_date") >= lit(day) && col("ts") >= lit(since))
    event.fold(base)(e => base.filter(col("event") === e))
      .orderBy(col("log_part"), col("offset"))
  }

  // ----------------------------------------------- compaction / retention

  /** Drop committed-txn markers older than [[TopicLog.TxnMarkerTtlMs]]
    * — without this a long-running exactly-once sink accumulates one
    * small filesystem object per micro-batch forever. Runs under the writer
    * lease (a marker must never vanish while its publish could still
    * be mid-commit) and is invoked by every maintenance op (compact,
    * all three retention flavors), so a topic that gets ANY maintenance
    * keeps its marker directory bounded; callers with no maintenance
    * schedule can invoke it directly. */
  def pruneTxnMarkers(): Unit =
    withPublishLock { held => pruneTxnMarkersLocked(held) }

  private def pruneTxnMarkersLocked(held: FsLease.Held): Unit = {
    val d = new Path(txnsDir)
    if (fs.exists(d)) {
      held.fence("txn-marker pruning")
      val cutoff = System.currentTimeMillis() - TopicLog.TxnMarkerTtlMs
      fs.listStatus(d).foreach { st =>
        if (st.isFile && st.getModificationTime < cutoff)
          fs.delete(st.getPath, false)
      }
    }
  }

  /** Kafka-style log compaction: keep only the latest record per key.
    * Rewrites ONLY the given partitions' `log_part=N` subtrees (default
    * all); other partitions' files are untouched (byte-identical). The
    * head record of every partition is its key's latest, so heads are
    * unchanged — except under `dropTombstones`, see below.
    *
    * `dropTombstones = true` adds Kafka's compacted-topic delete
    * semantics: a record whose `message` is null is a tombstone, and a
    * key whose LATEST record is a tombstone is removed entirely (the
    * tombstone row included). Publishing `(key, null)` therefore
    * deletes the key from the compacted view. Since the dropped
    * tombstone may be a partition's head record, the offset sidecar is
    * materialized first — a later cold-rebuild scan must never
    * under-compute heads and re-issue the tombstone's offset. */
  def compact(partitions: Seq[Int] = 0 until numPartitions,
      dropTombstones: Boolean = false): Unit =
    withPublishLock { held =>
      pruneTxnMarkersLocked(held)
      if (dropTombstones) headsPersist() // pin heads before rows can vanish
      val affected = partitions.distinct.filter(p =>
        fs.exists(new Path(s"$logDir/log_part=$p")))
      if (affected.nonEmpty) {
        val w = Window.partitionBy(col("log_part"), col("key"))
          .orderBy(col("offset").desc)
        val src = read().filter(col("log_part").isin(affected: _*))
        val latest = src.filter(col("key").isNotNull)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        val keptKeyed =
          if (dropTombstones) latest.filter(col("message").isNotNull)
          else latest
        // null-key records are NOT compacted: with no key there is no
        // "latest per key", and grouping all nulls as one key would
        // silently keep a single record per partition (Kafka rejects
        // null keys on compacted topics for the same reason). Under
        // dropTombstones a null-key NULL-MESSAGE record is dropped too:
        // it deletes nothing (no key) and would otherwise be rewritten
        // verbatim by every compaction forever.
        val nullKey =
          if (dropTombstones)
            src.filter(col("key").isNull && col("message").isNotNull)
          else src.filter(col("key").isNull)
        val compacted = keptKeyed.unionByName(nullKey)
        swapLogSubdirs(compacted, affected.map(p => s"log_part=$p"), held)
      }
    }

  /** Time-based retention: drop records with ts < minTs (the wall-clock
    * face of the capped collection, topic.js:8-10). Whole days older
    * than minTs's date are DIRECTORY DROPS (no read, no rewrite); only
    * the single boundary `log_date` partition is rewritten, and only in
    * partitions that have it. Heads (sidecar) are unchanged, so offsets
    * stay monotonic even if a partition empties. */
  def retainAfter(minTs: java.sql.Timestamp): Unit = withPublishLock { held =>
    pruneTxnMarkersLocked(held)
    headsPersist() // materialize the sidecar before trimming (fallback = scan)
    // log_date was written via to_date(ts), which resolves in the SESSION
    // timezone — derive the whole-day cutoff in the same zone, or the
    // directory drops would misalign with the ts >= minTs predicate.
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    val cutoff = minTs.toInstant.atZone(zone).toLocalDate
    val boundaryHasOlder =
      minTs.toInstant != cutoff.atStartOfDay(zone).toInstant
    var boundaryParts = List.empty[String]
    // fenced: a record can carry an OLD ts, so a zombie's directory
    // drop could delete a date dir the thief just published into
    held.fence("retention directory drops")
    listSubdirs(logDir, "log_part=").foreach { partDir =>
      listSubdirs(partDir.toString, "log_date=").foreach { dateDir =>
        val d = java.time.LocalDate.parse(
          dateDir.getName.stripPrefix("log_date="))
        if (d.isBefore(cutoff)) {
          // RE-fenced per delete (r13 ADVICE, mirroring LshIndex's GC
          // sweep): the loop can run long, and a lease stolen mid-loop
          // would otherwise let the zombie keep dropping date dirs the
          // thief may concurrently be publishing into. Aborting (not
          // skipping) also keeps the boundary rewrite below from
          // running fenced; retention is idempotent, so the caller
          // just re-runs.
          held.fence(s"retention drop of ${dateDir.getName}")
          fs.delete(dateDir, true) // directory drop
        } else if (d == cutoff && boundaryHasOlder)
          boundaryParts ::= s"${partDir.getName}/${dateDir.getName}"
      }
    }
    if (boundaryParts.nonEmpty) {
      val kept = read()
        .filter(col("log_date") === lit(java.sql.Date.valueOf(cutoff.toString)))
        .filter(col("ts") >= lit(minTs))
      swapLogSubdirs(kept, boundaryParts, held)
    }
  }

  /** Offset-based retention trim: drop records strictly BELOW the given
    * per-partition offset watermarks (records with offset >= the
    * watermark survive). Rewrites only the named partitions' subtrees.
    * Heads (sidecar) are unchanged. */
  def retainFrom(minOffsets: Map[Int, Long]): Unit = withPublishLock { held =>
    pruneTxnMarkersLocked(held)
    headsPersist() // materialize the sidecar before trimming
    val affected = minOffsets.keys.toSeq.distinct.filter(p =>
      fs.exists(new Path(s"$logDir/log_part=$p")))
    if (affected.nonEmpty) {
      val keep = affected.map { p =>
        col("log_part") === p && col("offset") >= minOffsets(p)
      }.reduce(_ || _)
      swapLogSubdirs(read().filter(keep), affected.map(p => s"log_part=$p"), held)
    }
  }

  /** Size-capped retention — the reference's ONLY retention semantic
    * (capped collection, default 5 MiB, oldest-drop; `topic.js:8-10`):
    * delete oldest data files (by log_date, then file mtime) until the
    * log's total size fits maxBytes. Pure file-listing metadata work —
    * NO data is read or rewritten, newest records always survive, and
    * offsets/heads are stable (sidecar untouched). */
  def retainToSize(maxBytes: Long): Unit = withPublishLock { held =>
    pruneTxnMarkersLocked(held)
    headsPersist() // materialize the sidecar before trimming
    case class DataFile(p: Path, date: String, mtime: Long, size: Long)
    val files = listSubdirs(logDir, "log_part=").flatMap { partDir =>
      listSubdirs(partDir.toString, "log_date=").flatMap { dateDir =>
        fs.listStatus(dateDir).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .map(st => DataFile(st.getPath, dateDir.getName,
            st.getModificationTime, st.getLen))
      }
    }
    // fenced: a zombie's oldest-first deletions racing a thief's
    // publish could push the trim past records the thief just landed
    held.fence("size-capped retention deletions")
    var excess = files.map(_.size).sum - maxBytes
    files.sortBy(f => (f.date, f.mtime, f.p.toString)).foreach { f =>
      if (excess > 0) {
        // RE-fenced per delete (r13 ADVICE): the per-file loop is the
        // longest deletion path in the class — a steal mid-loop must
        // stop the sweep before it trims files a thief is publishing
        // next to. Idempotent; the caller re-runs.
        held.fence(s"retention trim of ${f.p.getName}")
        fs.delete(f.p, false); excess -= f.size
      }
    }
    // drop now-empty date/part dirs so future listings stay tight
    listSubdirs(logDir, "log_part=").foreach { partDir =>
      listSubdirs(partDir.toString, "log_date=").foreach { dateDir =>
        if (fs.listStatus(dateDir).forall(st =>
          st.isFile && st.getPath.getName.startsWith("_")))
          fs.delete(dateDir, true)
      }
    }
  }

  // ------------------------------------------------- publish lock / lease

  /** Heal the sidecar against the log itself: elementwise max of the
    * sidecar and a one-time scan. Max is correct in both failure
    * directions — a crashed publish leaves the SCAN ahead (data landed,
    * sidecar stale); a fully-trimmed partition leaves the SIDECAR ahead
    * (heads outlive retention by design). */
  private def reconcileHeads(): Unit = {
    val sidecar = readSidecar().getOrElse(Map.empty[Int, Long])
    val scanned = scanHeads()
    writeSidecar((sidecar.keySet ++ scanned.keySet).map { p =>
      p -> math.max(sidecar.getOrElse(p, -1L), scanned.getOrElse(p, -1L))
    }.toMap)
  }

  /** Test-only: the chaos suite's steal injection must model the FULL
    * breaker protocol — a real waiter runs `onStaleBreak` (this
    * reconcile) BEFORE deleting a stale lock, so a raw lock delete
    * without it would simulate a protocol violation no conforming
    * breaker commits. */
  private[graft] def reconcileHeadsForTest(): Unit = reconcileHeads()

  // ------------------------------------------------------ swap machinery

  private def listSubdirs(dir: String, prefix: String): Seq[Path] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
  }

  /** Rewrite exactly the given partition subdirs (relative to logDir)
    * with df's output; everything else is untouched. Crash-safe per
    * subdir: live is renamed aside to `log.aside/<parent>/_old.<dir>`
    * before staging moves in; [[recover]] rolls back any torn swap. The
    * aside tree sits next to `log/`, not in it: Spark's listing skips
    * underscore names only when they hold no "=", so an in-tree
    * `_old.log_part=5` would fail a lock-free read() planned mid-swap
    * with CONFLICTING_PARTITION_COLUMN_NAMES. */
  private def swapLogSubdirs(df: DataFrame, subdirs: Seq[String],
      held: FsLease.Held): Unit = {
    val tmp = s"$logDir.staging"
    fs.delete(new Path(tmp), true)
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("log_part", "log_date").parquet(tmp)
    // fenced AFTER the (long) staging write, immediately before the
    // live swaps: a zombie compactor swapping a partition dir a thief
    // just published into would silently drop the concurrent batch
    held.fence(s"the ${subdirs.size} partition-dir swap(s)")
    subdirs.foreach { rel =>
      val live = new Path(s"$logDir/$rel")
      val stag = new Path(s"$tmp/$rel")
      val old = new Path(s"$asideDir/${rel.replaceFirst("[^/]+$", "_old.$0")}")
      fs.delete(old, true)
      if (fs.exists(live)) { fs.mkdirs(old.getParent); fs.rename(live, old) }
      if (fs.exists(stag)) { fs.mkdirs(live.getParent); fs.rename(stag, live) }
      fs.delete(old, true)
    }
    fs.delete(new Path(tmp), true)
    fs.delete(new Path(asideDir), true)
  }

  /** Roll back any swap a crash tore mid-flight: an `_old.log_part=N`
    * or `_old.log_date=D` dir (in the `log.aside` tree, or in `log/`
    * itself where builds before the aside tree left it) whose live twin
    * is missing is renamed back; one with a healthy live twin, the
    * aside tree and `log.staging` are droppable garbage.
    * Compaction/retention are idempotent, so rolling BACK is always
    * safe — the caller just re-runs. */
  private def recover(): Unit = {
    def rollBack(aside: Path, live: Path): Unit =
      if (fs.exists(aside)) fs.listStatus(aside).filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_old.")) {
          val twin = new Path(live, n.stripPrefix("_old."))
          if (!fs.exists(twin)) { fs.mkdirs(live); fs.rename(st.getPath, twin) }
          else fs.delete(st.getPath, true)
        } else if (n.startsWith("log_part=")) rollBack(st.getPath, new Path(live, n))
      }
    fs.delete(new Path(s"$logDir.staging"), true)
    rollBack(new Path(asideDir), new Path(logDir))
    rollBack(new Path(logDir), new Path(logDir))
    fs.delete(new Path(asideDir), true)
    // A leftover publish lock past its lease = a publisher died between
    // append and sidecar write; reconcile so heads() never re-issues
    // offsets (FsLease.breakIfStale runs onStaleBreak = reconcileHeads
    // BEFORE the compare-and-delete). A FRESH lock is a live publisher
    // in another process — left alone to complete its own sidecar
    // update.
    publishLease.breakIfStale()
  }
}

/** One record of a topic log (typed face of TopicLog.SCHEMA). */
case class TopicRecord(
    offset: Long,
    ts: java.sql.Timestamp,
    event: String,
    key: String,
    message: String,
    log_part: Int)

object TopicLog {
  import org.apache.spark.sql.types._

  /** How long committed-txn markers (`txns/<txnId>`, written by
    * [[TopicLog.publishIdempotent]]) are kept before maintenance
    * prunes them: 7 days. A marker is only needed while a redelivery
    * of its batch is still possible — for a checkpointed streaming
    * sink that window is one restart, not forever — so any horizon
    * comfortably past the longest plausible recovery gap is safe.
    * After the horizon a redelivered txn re-appends (at-least-once),
    * the same contract as the marker-loss window publishIdempotent
    * already documents. */
  val TxnMarkerTtlMs: Long = 7 * 24 * 60 * 60 * 1000L

  /** Records of `log` strictly after per-partition watermarks
    * (log_part -> last acked offset): one per-row predicate
    * `offset > marks[log_part]` over an array literal indexed by
    * log_part (the [[TopicLog.publish]] base-offset mechanism), −1 for a
    * partition without a mark — exact, since offsets start at 0. An
    * empty map adds no filter. Batch [[TopicLog.replay]] and the
    * streaming backlog cut both go through here. */
  private[graft] def after(log: DataFrame, marks: Map[Int, Long],
      numPartitions: Int): DataFrame =
    if (marks.isEmpty) log
    else {
      val cut = typedLit((0 until numPartitions).map(p => marks.getOrElse(p, -1L)))
      log.filter(col("offset") > element_at(cut, col("log_part") + 1))
    }

  /** The offsets a publish assigned in one partition: records got
    * offsets (base, base + count] — base is the partition's previous
    * head (−1 for a fresh partition). */
  case class OffsetRange(base: Long, count: Long) {
    def first: Long = base + 1
    def last: Long = base + count
  }

  /** Canonical log record schema (SURVEY.md §3). `log_part`/`log_date`
    * are the physical partition directory columns — they must come LAST
    * and in partitionBy order: the streaming file source emits rows as
    * dataSchema ++ partitionSchema, and a user schema in any other
    * order silently misaligns columns. */
  val SCHEMA: StructType = StructType(Seq(
    StructField("offset", LongType),
    StructField("ts", TimestampType),
    StructField("event", StringType),
    StructField("key", StringType),
    StructField("message", StringType),
    StructField("log_part", IntegerType),
    StructField("log_date", DateType)))

  /** prepareTopic (reference connection.js:40-56). */
  def prepare(spark: SparkSession, path: String, numPartitions: Int = 8): TopicLog =
    new TopicLog(spark, path, numPartitions)
}
