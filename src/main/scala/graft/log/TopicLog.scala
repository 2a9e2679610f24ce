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
  *    one-time scan, which the next lease holder writes back).
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
  *    staged result moves in, and [[heal]] rolls a torn swap back
  *    before the next writer writes, so a crash never leaves the log
  *    absent.
  *  - CONCURRENT PUBLISHERS are safe (the reference gets this from
  *    MongoDB's atomic inserts, `topic.js:26-41`): [[publish]] runs
  *    under a `_publish.lock` lease file acquired with an atomic
  *    create-if-absent, so two producers serialize and assign disjoint,
  *    gapless offset ranges. Compaction and retention take the SAME
  *    lease, so a swap can never race a publish (which would silently
  *    drop the appended batch); the lease renews itself for long jobs.
  *  - Repair is ONE path, [[heal]], run only under the lease: a stale
  *    break writes nothing but the lock, a crashed publish's intent
  *    file tells the next holder to heal, and an open never repairs
  *    lock-free.
  *  - Replay is `offset > watermark` + event filter, evaluated per row
  *    after the scan: the watermark is a per-partition array literal
  *    indexed by `log_part` ([[TopicLog.after]]), which parquet cannot
  *    push down, so a replay still lists and reads every retained file.
  */
final class TopicLog(val spark: SparkSession, val path: String, val numPartitions: Int = 8) {

  private val logDir = s"$path/log"
  private val stagingDir = s"$path/log.staging"
  private val asideDir = s"$path/log.aside"
  private val subsDir = s"$path/subscribers"
  private val txnsDir = s"$path/txns"
  private val headsPath = s"$path/_offsets.json"
  private val pinPath = new Path(s"$path/_partitions")
  private val lockPath = new Path(s"$path/_publish.lock")
  private val intentPath = new Path(s"$path/_publish.intent")

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The topic's writer lease, a lock with fences: its stale break
    * writes nothing but the lock, and the next holder heals what the
    * dead one left ([[withPublishLock]]). Every write that COMMITS
    * state under the lease first passes `held.fence`: a stale-broken
    * zombie must not regress heads or drop records the thief has
    * written since. */
  private val publishLease: FsLease = new FsLease(fs, lockPath)

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
  // Checked BEFORE any heal: a wrong-count open must not get to break
  // locks or reconcile sidecars first.
  private def pinned(): Boolean = readKv(pinPath) match {
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
      true
    case None => false
  }

  // The open writes nothing lock-free: a first open pins the count
  // under the lease (re-read there, so of two first opens with
  // different counts the second is refused), and a pinned one takes
  // the lease and heals only when no live holder does and a dead one
  // left its lock (all a publish that crashed before the intent
  // existed left), a publish intent or a torn swap.
  locally {
    val unpinned = !pinned()
    val crashed = !publishLease.liveHolder() &&
      (fs.exists(lockPath) || leftovers() || tornSwaps().nonEmpty)
    if (unpinned || crashed) publishLease.withLeaseHeld { _ =>
      if (!pinned()) {
        fs.mkdirs(new Path(logDir))
        writeKv(pinPath, Map(0 -> numPartitions.toLong))
      }
      if (crashed) heal()
    }
  }

  // ---------------------------------------------------------------- heads

  /** Current per-partition head offsets (−1 when empty): an
    * O(partitions) read of the `_offsets.json` sidecar — no log scan.
    * A missing sidecar (e.g. a pre-sidecar log) falls back to a full
    * scan, which only the next lease holder persists (see
    * [[withPublishLock]]). Heads survive retention: a fully-trimmed
    * partition keeps its head so offsets stay monotonic forever (Kafka's
    * log-end-offset semantics). */
  def heads(): Map[Int, Long] = readSidecar().getOrElse(scanHeads())

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

  /** Run `body` holding the topic's writer lease (publish, compaction
    * and retention all take it), handing it the current heads. The
    * prologue heals what the last holder left unfinished, so nothing
    * builds on stale heads or in a torn partition, and is the one place
    * that rebuilds a missing heads sidecar: never a lock-free reader
    * (its replace could race a publisher's), always before maintenance
    * can drop a head record. */
  private def withPublishLock[T](body: (FsLease.Held, Map[Int, Long]) => T): T =
    publishLease.withLeaseHeld { held =>
      if (leftovers()) heal()
      val heads = readSidecar().getOrElse {
        val scanned = scanHeads()
        writeSidecar(scanned)
        scanned
      }
      body(held, heads)
    }

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
    withPublishLock { (held, heads) => publishLocked(records, held, heads, None) }

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
    withPublishLock { (held, heads) =>
      // committed before: ranges were flattened as p -> base and
      // (p + numPartitions) -> count
      readKv(txnMarker(txnId)).map { kv =>
        kv.collect { case (p, base) if p < numPartitions =>
          p -> TopicLog.OffsetRange(base, kv(p + numPartitions))
        }
      }.getOrElse(publishLocked(records, held, heads, Some(txnId)))
    }
  }

  private def txnMarker(txnId: String): Path = new Path(txnsDir, txnId)

  /** The one publish commit: append the batch on top of the `base`
    * heads the lease prologue read, then — each behind its own fence —
    * the txn marker (only when `txn` is set) and the heads-sidecar
    * replace. The marker goes FIRST: it is written only after the
    * append landed under a held lease, so every later
    * [[reconcileHeads]] folds the batch into heads, and a failure after
    * it turns the txn's retry into a no-op. The publish intent is
    * written before the append and removed after the sidecar replace
    * only while the lease holds, so a zombie never clears a thief's.
    * Neither the intent nor the append is fenced: a writer that lost
    * its lease still writes both until its next fence aborts it. */
  private def publishLocked(records: DataFrame, held: FsLease.Held,
      base: Map[Int, Long], txn: Option[String]): Map[Int, TopicLog.OffsetRange] = {
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
    AtomicFiles.writeReplace(fs, spark.sparkContext.hadoopConfiguration,
      intentPath, Array.emptyByteArray)
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
    // fence BEFORE the marker and the sidecar replace: a thief that
    // broke our lease during the append may have advanced heads, which
    // our replace would REGRESS. Data files without a marker stay
    // behind either way: the documented at-least-once window.
    healOnFailure(held) {
      txn.foreach { id =>
        held.fence(s"txn marker $id")
        writeKv(txnMarker(id), ranges.flatMap { case (p, r) =>
          Seq(p -> r.base, (p + numPartitions) -> r.count)
        })
      }
      held.fence("the heads sidecar")
      writeSidecar(base ++ ranges.map { case (p, r) => p -> (r.base + r.count) })
    }
    if (held.holds()) fs.delete(intentPath, false)
    ranges
  }

  /** Run a step that changes the tree under `held`; a failure heals
    * before it rethrows, so the release leaves a whole tree. Not once
    * the lease is lost, fenced abort or not: a zombie's write can fail
    * on a tree the thief is rewriting. */
  private def healOnFailure[T](held: FsLease.Held)(step: => T): T =
    try step catch {
      case e: FsLease.FencedException => throw e
      case e: Throwable =>
        try { if (held.holds()) heal() } catch { case r: Throwable => e.addSuppressed(r) }
        throw e
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
    withPublishLock { (held, _) => pruneTxnMarkersLocked(held) }

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
    * deletes the key from the compacted view. The dropped tombstone
    * may be a partition's head record; heads survive it because the
    * lease prologue has written the sidecar before any row vanishes. */
  def compact(partitions: Seq[Int] = 0 until numPartitions,
      dropTombstones: Boolean = false): Unit =
    withPublishLock { (held, _) =>
      pruneTxnMarkersLocked(held)
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
  def retainAfter(minTs: java.sql.Timestamp): Unit = withPublishLock { (held, _) =>
    pruneTxnMarkersLocked(held)
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
  def retainFrom(minOffsets: Map[Int, Long]): Unit = withPublishLock { (held, _) =>
    pruneTxnMarkersLocked(held)
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
  def retainToSize(maxBytes: Long): Unit = withPublishLock { (held, _) =>
    pruneTxnMarkersLocked(held)
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

  // ------------------------------------------------------------ repair

  /** The one repair of the topic's tree: roll torn swaps back (an
    * `_old.` dir whose live twin is missing is renamed back; one with a
    * twin is a completed swap's old copy), drop `log.staging` and the
    * aside tree, [[reconcileHeads]], and last drop the publish intent,
    * so a heal cut short is redone. Rolling BACK is safe: compaction
    * and retention are idempotent. Only a lease holder runs it: a live
    * compactor's staging is its rewrite, and a partition published
    * into after a crash makes its aside copy look stale. */
  private def heal(): Unit = {
    tornSwaps().foreach { case (old, live) =>
      if (fs.exists(live)) fs.delete(old, true)
      else { fs.mkdirs(live.getParent); fs.rename(old, live) }
    }
    fs.delete(new Path(stagingDir), true)
    fs.delete(new Path(asideDir), true)
    reconcileHeads()
    fs.delete(intentPath, false)
  }

  /** Set the heads sidecar to the elementwise max of itself and a log
    * scan: a crashed publish leaves the scan ahead, a fully-trimmed
    * partition the sidecar. [[heal]]'s heads step; it only ever moves
    * a head forward and drops nothing. */
  private def reconcileHeads(): Unit = {
    val sidecar = readSidecar().getOrElse(Map.empty[Int, Long])
    val scanned = scanHeads()
    writeSidecar((sidecar.keySet ++ scanned.keySet).map { p =>
      p -> math.max(sidecar.getOrElse(p, -1L), scanned.getOrElse(p, -1L))
    }.toMap)
  }

  /** Every `_old.log_part=N` or `_old.log_date=D` dir a torn swap left
    * behind, paired with its live twin: in the `log.aside` tree, and
    * in `log/` itself where builds before the aside tree left them. */
  private def tornSwaps(): Seq[(Path, Path)] = {
    // absent, or vanished under an open's lock-free look: nothing
    def olds(dir: Path, live: Path): Seq[(Path, Path)] =
      (try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty })
        .filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_old.")) Seq(st.getPath -> new Path(live, n.stripPrefix("_old.")))
        else if (n.startsWith("log_part=")) olds(st.getPath, new Path(live, n))
        else Seq.empty
      }
    olds(new Path(asideDir), new Path(logDir)) ++ olds(new Path(logDir), new Path(logDir))
  }

  /** Whether the last holder left a publish intent or a swap's staging
    * or aside tree for [[heal]]. Only the open also looks for a dead
    * lock and in-tree `_old.` dirs (legacy swaps). */
  private def leftovers(): Boolean = fs.exists(intentPath) ||
    fs.exists(new Path(stagingDir)) || fs.exists(new Path(asideDir))

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
    * before staging moves in, and [[heal]] rolls back a torn swap. The
    * aside tree sits next to `log/`, not in it: Spark's listing skips
    * underscore names only when they hold no "=", so an in-tree
    * `_old.log_part=5` would fail a lock-free read() planned mid-swap
    * with CONFLICTING_PARTITION_COLUMN_NAMES. Failures go through
    * [[healOnFailure]], as a publish commit's do. */
  private def swapLogSubdirs(df: DataFrame, subdirs: Seq[String],
      held: FsLease.Held): Unit = healOnFailure(held) {
    fs.delete(new Path(stagingDir), true)
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("log_part", "log_date").parquet(stagingDir)
    // fenced AFTER the (long) staging write, immediately before the
    // live swaps: a zombie compactor swapping a partition dir a thief
    // just published into would silently drop the concurrent batch
    held.fence(s"the ${subdirs.size} partition-dir swap(s)")
    subdirs.foreach { rel =>
      // RE-fenced per subdir, as the retention loops are: a lease
      // stolen mid-loop stops the swaps before the next live dir moves
      held.fence(s"the swap of $rel")
      val live = new Path(s"$logDir/$rel")
      val stag = new Path(s"$stagingDir/$rel")
      val old = new Path(s"$asideDir/${rel.replaceFirst("[^/]+$", "_old.$0")}")
      fs.delete(old, true)
      if (fs.exists(live)) { fs.mkdirs(old.getParent); fs.rename(live, old) }
      if (fs.exists(stag)) { fs.mkdirs(live.getParent); fs.rename(stag, live) }
      fs.delete(old, true)
    }
    fs.delete(new Path(stagingDir), true)
    fs.delete(new Path(asideDir), true)
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
