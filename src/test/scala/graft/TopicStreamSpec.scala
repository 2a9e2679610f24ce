package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{FsLease, TopicLog}
import graft.streaming.TopicStream

class TopicStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  private def mkRecords(n: Int, startId: Int = 0) = {
    import spark.implicits._
    (startId until startId + n).map { i =>
      (s"evt-${i % 3}", s"key-${i % 5}", s"""{"i":$i}""",
        new java.sql.Timestamp(1700000000000L + i * 60000L))
    }.toDF("event", "key", "message", "ts")
  }

  test("ephemeral subscribe only sees records published after joining") {
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(30))
    // subscribe now: the 30 existing records must NOT be delivered
    val stream = TopicStream.subscribe(topic, event = None, fromNow = true)
    val q = stream.writeStream.format("memory").queryName("eph")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM eph").count() == 0)
      topic.publish(mkRecords(12, startId = 30))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM eph").count() == 12)
    } finally q.stop()
  }

  test("event-filtered subscription delivers only that event type") {
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(5))
    val stream = TopicStream.subscribe(topic, event = Some("evt-1"), fromNow = true)
    val q = stream.writeStream.format("memory").queryName("flt")
      .outputMode("append").start()
    try {
      topic.publish(mkRecords(30, startId = 5))
      q.processAllAvailable()
      val got = spark.sql("SELECT DISTINCT event FROM flt").collect().map(_.getString(0))
      assert(got.sameElements(Array("evt-1")))
      assert(spark.sql("SELECT * FROM flt").count() == 10) // 30/3
    } finally q.stop()
  }

  test("durable subscription resumes from checkpoint after restart") {
    val dir = Files.createTempDirectory("stream").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(20))
    def ids(b: org.apache.spark.sql.DataFrame) =
      b.select(get_json_object(col("message"), "$.i").cast("int"))
        .collect().map(_.getInt(0))
    // first run drains the backlog (replay-from-beginning semantics)
    val first = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sub1 = TopicStream.subscribeDurable(topic, "resumer", ckpt) { b =>
      ids(b).foreach(first.add)
    }
    try sub1.drain() finally sub1.unsubscribe()
    assert(first.asScala.toSeq.sorted == (0 until 20))
    // publish while "disconnected", then restart the same name on the
    // SAME checkpoint: exactly the new records are delivered
    topic.publish(mkRecords(7, startId = 20))
    val second = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sub2 = TopicStream.subscribeDurable(topic, "resumer", ckpt) { b =>
      ids(b).foreach(second.add)
    }
    try sub2.drain() finally sub2.unsubscribe()
    assert(second.asScala.toSeq.sorted == (20 until 27),
      s"restart delivered ${second.asScala.toSeq.sorted}")
    assert(topic.replay("resumer").count() == 0, "the restart acked its batch")
  }

  test("a live durable subscriber across compact(): no survivor lost, the ack never moves back") {
    // the at-least-once caveat of TopicStream's class doc: compaction
    // rewrites files, and a file-source subscriber may see survivors
    // again. What must hold whatever the source: every record that
    // survives compaction is delivered, every redelivered (log_part,
    // offset) is a survivor, and the acked watermark only moves forward.
    // The subscriber is paused mid-batch while compact() runs, so its
    // listing cannot race the partition-dir swap (the documented
    // transient window of reading a tree mid-swap)
    val dir = Files.createTempDirectory("stream").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40)) // 5 keys: compaction keeps 5 records
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val acked = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val regressions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def checkAck(): Unit = topic.watermarks("moving").foreach { case (p, o) =>
      val prev = acked.getOrDefault(p, -1L)
      if (o < prev) regressions.add(s"part $p: ack $prev -> $o")
      acked.put(p, math.max(o, prev))
    }
    val pauseArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val paused = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val sub = TopicStream.subscribeDurable(topic, "moving", ckpt) { b =>
      checkAck() // the previous batch's ack
      b.select(col("log_part"), col("offset")).collect()
        .foreach(r => delivered.add((r.getInt(0), r.getLong(1))))
      if (pauseArmed.compareAndSet(true, false)) {
        paused.countDown()
        assert(resume.await(120, java.util.concurrent.TimeUnit.SECONDS))
      }
    }
    val survivors = try {
      sub.drain()
      assert(delivered.size == 40)
      pauseArmed.set(true)
      topic.publish(mkRecords(10, startId = 40))
      assert(paused.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the subscriber never reached the new batch")
      val kept =
        try {
          topic.compact()
          topic.read().select(col("log_part"), col("offset")).collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSet
        } finally resume.countDown()
      sub.drain()
      topic.publish(mkRecords(10, startId = 50))
      sub.drain()
      checkAck()
      kept
    } finally sub.unsubscribe()
    assert(survivors.size == 5, s"test shape: compaction keeps one record per key: $survivors")
    val all = delivered.asScala.toSeq
    val live = topic.read().select(col("log_part"), col("offset")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(live.subsetOf(all.toSet), s"records never delivered: ${live -- all.toSet}")
    val redelivered = all.groupBy(identity).collect { case (po, n) if n.size > 1 => po }.toSet
    assert(redelivered.subsetOf(survivors),
      s"redelivered non-survivors: ${redelivered -- survivors}")
    assert(regressions.isEmpty, s"the ack moved back: ${regressions.peek()}")
    assert(topic.watermarks("moving") == topic.heads(), "the ack must end at the heads")
  }

  test("watermarked windowed aggregation over the live topic") {
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    val stream = TopicStream.subscribe(topic, fromNow = false)
    val agg = TopicStream.windowedCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try {
      topic.publish(mkRecords(60)) // 60 events, 1/min -> one hour
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win").collect()
      assert(rows.map(_.getAs[Long]("n_events")).sum == 60)
      assert(rows.forall(_.getAs[java.sql.Timestamp]("win_start") != null))
    } finally q.stop()
  }

  test("stream-stream join correlates two live topics within the bound") {
    val dirA = Files.createTempDirectory("sj-a").toString
    val dirB = Files.createTempDirectory("sj-b").toString
    val orders = TopicLog.prepare(spark, dirA, numPartitions = 2)
    val ships = TopicLog.prepare(spark, dirB, numPartitions = 2)
    val joined = TopicStream.streamJoin(
      TopicStream.subscribe(orders, fromNow = false),
      TopicStream.subscribe(ships, fromNow = false),
      within = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode("append").start()
    try {
      import spark.implicits._
      val t0 = 1700000000000L
      orders.publish(Seq(
        ("order", "k1", "o1", new java.sql.Timestamp(t0)),
        ("order", "k2", "o2", new java.sql.Timestamp(t0)))
        .toDF("event", "key", "message", "ts"))
      ships.publish(Seq(
        // k1 ships within 30 min -> joins; k2 ships 2h later -> dropped
        ("ship", "k1", "s1", new java.sql.Timestamp(t0 + 10 * 60000L)),
        ("ship", "k2", "s2", new java.sql.Timestamp(t0 + 120 * 60000L)))
        .toDF("event", "key", "message", "ts"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT l_key, r_message FROM sj").collect()
      assert(rows.length == 1, s"expected 1 correlated pair, got ${rows.length}")
      assert(rows.head.getString(0) == "k1")
    } finally q.stop()
  }

  test("publishSinkExactlyOnce: a streaming pipeline terminates in a replayable topic") {
    val dirIn = Files.createTempDirectory("ps-in").toString
    val dirOut = Files.createTempDirectory("ps-out").toString
    val ckpt = Files.createTempDirectory("ps-ckpt").toString
    val src = TopicLog.prepare(spark, dirIn, numPartitions = 2)
    val dst = TopicLog.prepare(spark, dirOut, numPartitions = 2)
    src.publish(mkRecords(30))
    // stream src -> filter one event type -> publish into dst
    val filtered = TopicStream.subscribe(src, event = Some("evt-0"), fromNow = false)
    val q = TopicStream.publishSinkExactlyOnce(filtered, dst, ckpt).start()
    try q.processAllAvailable() finally q.stop()
    // dst is a real topic: offsets assigned, replayable
    assert(dst.replay("reader").count() == 10)
    val offs = dst.read().select("log_part", "offset").collect()
    assert(offs.map(r => (r.getInt(0), r.getLong(1))).distinct.length == 10)
  }

  test("publishSinkExactlyOnce: a re-executed foreachBatch never duplicates its batch") {
    val dirIn = Files.createTempDirectory("px-in").toString
    val dirOut = Files.createTempDirectory("px-out").toString
    val ckpt = Files.createTempDirectory("px-ckpt").toString
    val src = TopicLog.prepare(spark, dirIn, numPartitions = 2)
    val dst = TopicLog.prepare(spark, dirOut, numPartitions = 2)
    src.publish(mkRecords(30))
    val stream = TopicStream.subscribe(src, fromNow = false)
    val q = TopicStream.publishSinkExactlyOnce(stream, dst, ckpt).start()
    try q.processAllAvailable() finally q.stop()
    assert(dst.read().count() == 30)
    // simulate the crash-before-checkpoint-commit redelivery: replay
    // the SAME derived txn id by hand, minted on a thread carrying the
    // query's persistent id as a batch thread does — the marker must
    // make it a no-op
    spark.sparkContext.setLocalProperty(TopicStream.QueryIdKey, q.id.toString)
    val txn =
      try new TopicStream.TxnIdMinter(spark, ckpt)("sink", 0)
      finally spark.sparkContext.setLocalProperty(TopicStream.QueryIdKey, null)
    dst.publishIdempotent(src.read()
      .select(col("event"), col("key"), col("message"), col("ts")), txn)
    assert(dst.read().count() == 30, "redelivered batch 0 duplicated rows")
  }

  test("publishSinkExactlyOnce: a batch whose publish failed after its marker is not re-appended on restart") {
    // the lease is stolen at batch 0's heads-sidecar fence, after its
    // txn marker landed: the query dies, and the restart re-runs
    // batch 0 under the same txn id — the marker makes that a no-op
    val dirIn = Files.createTempDirectory("pf-in").toString
    val dirOut = Files.createTempDirectory("pf-out").toString
    val ckpt = Files.createTempDirectory("pf-ckpt").toString
    val src = TopicLog.prepare(spark, dirIn, numPartitions = 2)
    val dst = TopicLog.prepare(spark, dirOut, numPartitions = 2)
    src.publish(mkRecords(30))
    val lock = new java.io.File(s"$dirOut/_publish.lock")
    FsLease.testBeforeFence = what =>
      if (what == "the heads sidecar") {
        FsLease.testBeforeFence = _ => () // fire once
        lock.delete()
        Files.writeString(lock.toPath, "thief-token")
      }
    val q1 = TopicStream.publishSinkExactlyOnce(
      TopicStream.subscribe(src, fromNow = false), dst, ckpt).start()
    val died =
      try intercept[StreamingQueryException](q1.processAllAvailable())
      finally { q1.stop(); FsLease.testBeforeFence = _ => () }
    assert(Iterator.iterate[Throwable](died)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[FsLease.FencedException]), died.toString)
    assert(lock.delete(), "the thief's lock must survive the fenced publish")
    val q2 = TopicStream.publishSinkExactlyOnce(
      TopicStream.subscribe(src, fromNow = false), dst, ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(dst.read().count() == 30, "the restart re-appended batch 0")
    val dup = dst.read().groupBy(col("log_part"), col("offset"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dup == 0L)
  }

  test("publishSinkExactlyOnce: a checkpoint wipe must NOT silently skip new batches") {
    val dirIn = Files.createTempDirectory("pw-in").toString
    val dirOut = Files.createTempDirectory("pw-out").toString
    val ckpt = Files.createTempDirectory("pw-ckpt").toString
    val src = TopicLog.prepare(spark, dirIn, numPartitions = 2)
    val dst = TopicLog.prepare(spark, dirOut, numPartitions = 2)
    src.publish(mkRecords(30))
    val q1 = TopicStream.publishSinkExactlyOnce(
      TopicStream.subscribe(src, fromNow = false), dst, ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    assert(dst.read().count() == 30)
    // ops recovery: wipe the checkpoint, publish NEW records, restart
    // under the SAME checkpoint path. The fresh run restarts batchIds
    // at 0 while the old run's txn markers persist in dst — with a
    // checkpoint-path-only txn id the new batch would be "skipped" as
    // a replay and the new records silently lost.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    src.publish(mkRecords(10, startId = 30))
    val q2 = TopicStream.publishSinkExactlyOnce(
      TopicStream.subscribe(src, fromNow = false), dst, ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    // post-wipe the sink is at-least-once (the 30 pre-wipe records are
    // re-read and re-appended under the new query id) — the records
    // published AFTER the wipe must all be present
    val newMsgs = (30 until 40).map(i => s"""{"i":$i}""").toSet
    val landed = dst.read().select(col("message")).collect()
      .map(_.getString(0)).toSet
    assert(newMsgs.subsetOf(landed),
      s"post-wipe batch lost: ${newMsgs -- landed}")
    assert(dst.read().count() == 70,
      "expected 30 + 40 re-read rows (at-least-once after a wipe)")
  }

  test("replayThenLive drains the backlog past the ack, then tails live") {
    val dir = Files.createTempDirectory("rtl").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    // subscriber has acked half of each partition
    topic.ack("sub", topic.heads().map { case (p, h) => p -> h / 2 })
    val expectedBacklog = topic.replay("sub").count()
    assert(expectedBacklog > 0 && expectedBacklog < 20)
    val q = TopicStream.replayThenLive(topic, "sub")
      .writeStream.format("memory").queryName("rtl").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM rtl").count() == expectedBacklog)
      // live phase: new records keep flowing in the same query
      topic.publish(mkRecords(6, startId = 20))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM rtl").count() == expectedBacklog + 6)
    } finally q.stop()
  }

  test("streaming dedup: redelivered records collapse within the watermark") {
    val dir = Files.createTempDirectory("sdd").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    val deduped = TopicStream.subscribe(topic, fromNow = false)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key", "message")
    val q = deduped.writeStream.format("memory").queryName("sdd")
      .outputMode("append").start()
    try {
      val batch = mkRecords(10)
      topic.publish(batch)   // original delivery
      topic.publish(batch)   // redelivery (at-least-once)
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sdd").count() == 10,
        "redelivered records were not deduped")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization emits closed sessions") {
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    val sess = TopicStream.sessionize(spark,
      TopicStream.subscribe(topic, fromNow = false), gapMs = 10 * 60 * 1000L)
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      import spark.implicits._
      // two bursts for one key, 30 min apart -> first burst closes when
      // the second arrives (gap 10 min)
      val burst1 = (0 until 5).map(i =>
        ("e", "k1", "{}", new java.sql.Timestamp(1700000000000L + i * 60000L)))
      val burst2 = (0 until 3).map(i =>
        ("e", "k1", "{}", new java.sql.Timestamp(1700000000000L + 30 * 60000L + i * 60000L)))
      topic.publish(burst1.toDF("event", "key", "message", "ts"))
      val qq = q
      qq.processAllAvailable()
      topic.publish(burst2.toDF("event", "key", "message", "ts"))
      qq.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess").collect()
      assert(rows.length == 1, s"expected 1 closed session, got ${rows.length}")
      assert(rows.head.getAs[Int]("nEvents") == 5)
    } finally q.stop()
  }

  test("drainOnce processes exactly the backlog, acks, then terminates") {
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(40))
    val n1 = new java.util.concurrent.atomic.AtomicLong(0)
    val b1 = TopicStream.drainOnce(topic, "nightly",
      Files.createTempDirectory("ckpt").toString) { b => n1.addAndGet(b.count()); () }
    assert(n1.get() == 40, s"first drain: ${n1.get()}")
    assert(b1 >= 1)
    // the drain acked: a second drain (FRESH checkpoint — position comes
    // from the subscriber sidecar, not the old checkpoint) sees nothing
    val n2 = new java.util.concurrent.atomic.AtomicLong(0)
    val b2 = TopicStream.drainOnce(topic, "nightly",
      Files.createTempDirectory("ckpt").toString) { b => n2.addAndGet(b.count()); () }
    assert(n2.get() == 0, s"re-drain saw ${n2.get()} rows")
    assert(b2 == 0)
    // new publishes -> the next drain delivers exactly those
    topic.publish(mkRecords(12, startId = 40))
    val n3 = new java.util.concurrent.atomic.AtomicLong(0)
    TopicStream.drainOnce(topic, "nightly",
      Files.createTempDirectory("ckpt").toString) { b => n3.addAndGet(b.count()); () }
    assert(n3.get() == 12, s"catch-up drain: ${n3.get()}")
    // and the batch replay agrees the backlog is empty again
    assert(topic.replay("nightly").count() == 0)
  }

  test("subscription handle: unsubscribe acks, replay resumes exactly after") {
    val dir = Files.createTempDirectory("stream").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(50))
    val processed = new java.util.concurrent.atomic.AtomicLong(0)
    val sub = TopicStream.subscribeDurable(topic, "worker", ckpt) { batch =>
      processed.addAndGet(batch.count()); ()
    }
    try {
      sub.drain()
      assert(sub.isActive)
      assert(processed.get() == 50, s"backlog drained: ${processed.get()}")
      // live tail still delivers (and acks) post-subscribe publishes
      topic.publish(mkRecords(10, startId = 50))
      sub.drain()
      assert(processed.get() == 60)
    } finally sub.unsubscribe()
    assert(!sub.isActive)
    // post-unsubscribe publishes are NOT processed...
    topic.publish(mkRecords(30, startId = 60))
    assert(processed.get() == 60)
    // ...and the batch-path replay returns EXACTLY those records
    val replayed = topic.replay("worker").collect()
    assert(replayed.length == 30, s"replay rows: ${replayed.length}")
    val got = topic.replay("worker")
      .select(get_json_object(col("message"), "$.i").cast("int").as("i"))
      .collect().map(_.getInt(0)).sorted
    assert(got.sameElements(60 until 90), "exactly the post-unsubscribe ids")
    // a fresh subscription under the same name resumes after the acks
    val ckpt2 = Files.createTempDirectory("ckpt").toString
    val n2 = new java.util.concurrent.atomic.AtomicLong(0)
    val sub2 = TopicStream.subscribeDurable(topic, "worker", ckpt2) { b =>
      n2.addAndGet(b.count()); ()
    }
    try { sub2.drain(); assert(n2.get() == 30) } finally sub2.unsubscribe()
  }

  test("RocksDB state store: stateful streams produce identical results") {
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(60))

    def runWindowed(name: String): Array[(java.sql.Timestamp, String, Long)] = {
      val agg = TopicStream.windowedCounts(
        TopicStream.subscribe(topic, fromNow = false), "1 hour", "2 hours")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        spark.sql(s"SELECT * FROM $name").collect()
          .map(r => (r.getAs[java.sql.Timestamp]("win_start"),
            r.getAs[String]("event"), r.getAs[Long]("n_events")))
          .sortBy(_.toString)
      } finally q.stop()
    }

    val baseline = runWindowed("rocks_base")
    val undo = TopicStream.useRocksDBState(spark)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
      val rocks = runWindowed("rocks_on")
      assert(rocks.sameElements(baseline),
        s"RocksDB-backed results diverged: ${rocks.toSeq} vs ${baseline.toSeq}")
      // sessionization (flatMapGroupsWithState state) also runs on RocksDB
      import spark.implicits._
      val sess = TopicStream.sessionize(spark,
        TopicStream.subscribe(topic, fromNow = false), gapMs = 10 * 60 * 1000L)
      val q = sess.writeStream.format("memory").queryName("rocks_sess")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // one more burst 30 min later closes the open sessions
        topic.publish(mkRecords(5, startId = 200).withColumn("ts",
          lit(new java.sql.Timestamp(1700000000000L + 90 * 60000L))))
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM rocks_sess").count() > 0)
      } finally q.stop()
    } finally undo()
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  // ---- round-3: termination callback + backlog-join plan shape ----

  test("onTerminated fires once on unsubscribe; late registration fires immediately") {
    val dir = Files.createTempDirectory("stream").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(10))
    val sub = TopicStream.subscribeDurable(topic, "cb", ckpt)(_ => ())
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[String]]()
    sub.onTerminated(e => seen.put(e))
    sub.drain()
    sub.unsubscribe()
    val fired = seen.poll(15, java.util.concurrent.TimeUnit.SECONDS)
    assert(fired != null, "callback never fired")
    assert(fired.isEmpty, s"clean stop must report no error, got $fired")
    assert(!sub.isActive)
    // registering on an already-dead subscription fires immediately
    val late = new java.util.concurrent.LinkedBlockingQueue[Option[String]]()
    sub.onTerminated(e => late.put(e))
    assert(late.poll(5, java.util.concurrent.TimeUnit.SECONDS) != null)
  }

  test("onTerminated surfaces a processing error; isActive flips") {
    val dir = Files.createTempDirectory("stream").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(10))
    val sub = TopicStream.subscribeDurable(topic, "boom", ckpt) { _ =>
      throw new RuntimeException("subscriber exploded")
    }
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[String]]()
    sub.onTerminated(e => seen.put(e))
    intercept[Throwable] { sub.drain() }
    val fired = seen.poll(15, java.util.concurrent.TimeUnit.SECONDS)
    assert(fired != null, "callback never fired")
    assert(fired.exists(_.contains("subscriber exploded")),
      s"error must reach the callback, got $fired")
    assert(!sub.isActive)
  }

  test("backlog cut is one array-literal watermark predicate, no join or filter chain") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 32)
    topic.publish(mkRecords(64))
    // fromNow=true: 32 per-partition watermarks feed the backlog cut
    val stream = TopicStream.subscribe(topic, fromNow = true)
    val plan = stream.queryExecution.analyzed
    val joins = plan.collect { case j: Join => j }
    val filters = plan.collect { case f: Filter => f }
    assert(joins.isEmpty, s"the watermark cut must not join: $joins")
    assert(filters.size == 1 && filters.head.condition.toString.contains("element_at"),
      s"expected one element_at watermark predicate, got $filters")
    // a fresh durable subscriber has no marks: no filter at all
    val fresh = TopicStream.replayThenLive(topic, "fresh").queryExecution.analyzed
    assert(fresh.collect { case f: Filter => f }.isEmpty, fresh.toString)
  }

  test("minting outside a streaming batch fails fast") {
    // txn ids minted without the query's persistent id would reopen the
    // checkpoint-wipe silent-skip hazard, so a thread that carries no
    // query id must throw
    val dir = Files.createTempDirectory("ckpt").toString
    assert(spark.sparkContext.getLocalProperty(TopicStream.QueryIdKey) == null)
    val e = intercept[IllegalStateException](
      new TopicStream.TxnIdMinter(spark, dir)("sink", 0))
    assert(e.getMessage.contains("no streaming query id"), e.getMessage)
  }

  test("watermarks missing some partitions: replay and replayThenLive keep those partitions whole") {
    val dir = Files.createTempDirectory("partial").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    import spark.implicits._
    // 80 distinct keys, so every partition receives records
    topic.publish((0 until 80).map(i => ("evt", s"k-$i", s"""{"i":$i}""",
      new java.sql.Timestamp(1700000000000L + i * 60000L)))
      .toDF("event", "key", "message", "ts"))
    val heads = topic.heads()
    assert(heads.keySet == Set(0, 1, 2, 3), heads)
    // only partitions 1 and 3 ever acked: 0 (the array's first slot)
    // and 2 (a middle one) have no mark and replay from offset 0
    val marks = Map(1 -> heads(1) / 2, 3 -> heads(3) / 2)
    topic.ack("sub", marks)
    assert(topic.watermarks("sub") == marks)
    def expected(p: Int): Set[Long] =
      ((marks.getOrElse(p, -1L) + 1) to heads(p)).toSet
    def byPart(rows: Array[org.apache.spark.sql.Row]): Map[Int, Set[Long]] =
      rows.groupBy(_.getAs[Int]("log_part"))
        .map { case (p, rs) => p -> rs.map(_.getAs[Long]("offset")).toSet }
    val want = (0 until 4).map(p => p -> expected(p)).toMap
    assert(byPart(topic.replay("sub").collect()) == want)
    val q = TopicStream.replayThenLive(topic, "sub")
      .writeStream.format("memory").queryName("partial_rtl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(byPart(spark.sql("SELECT * FROM partial_rtl").collect()) == want)
    } finally q.stop()
  }

  test("enrichAsof joins each live record to the latest dim state at event time") {
    import spark.implicits._
    val t0 = 1700000000000L
    val dir = Files.createTempDirectory("stream").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    // dim: per uid, a base price valid from t0 and a bumped price valid
    // from record index 36's timestamp
    val dim = (0 until 5).flatMap { u =>
      Seq((u.toLong, new java.sql.Timestamp(t0), u * 10.0),
        (u.toLong, new java.sql.Timestamp(t0 + 36 * 60000L), u * 10.0 + 1))
    }.toDF("uid", "valid_from", "price")
    val stream = TopicStream.subscribe(topic, event = None, fromNow = true)
      .withColumn("uid", substring(col("key"), 5, 10).cast("long"))
    val enriched = TopicStream.enrichAsof(
      stream, dim, "uid", "uid", "ts", "valid_from")
    val q = enriched.writeStream.format("memory").queryName("asof_live")
      .outputMode("append").start()
    try {
      topic.publish(mkRecords(12, startId = 30)) // i = 30..41, ts = t0 + i*60000
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, ts, price FROM asof_live").collect()
      assert(rows.length == 12)
      rows.foreach { r =>
        val uid = r.getString(0).stripPrefix("key-").toLong
        val i = (r.getTimestamp(1).getTime - t0) / 60000L
        val want = uid * 10.0 + (if (i >= 36) 1 else 0)
        assert(r.getDouble(2) == want,
          s"key=${r.getString(0)} i=$i got ${r.getDouble(2)}, want $want")
      }
    } finally q.stop()
  }
}
