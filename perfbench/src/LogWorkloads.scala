package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.log.{GraftConnection, TopicLog}
import graft.streaming.TopicStream

/** Generated topic records: 5 event types, keys Zipf-skewed over 10k
  * users, JSON messages of about 100 bytes. Every column is a hash of
  * (seed, batch, row), so the same seed gives the same records. */
object Records {
  val Events: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  private val Prime = 1000000007L

  private def u(seed: Long, batch: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), lit(batch), col("id"), lit(salt)), lit(Prime))
      .cast("double") / lit(Prime.toDouble)

  def batch(spark: SparkSession, seed: Long, batch: Long, n: Long, ts: Column): DataFrame =
    spark.range(n).select(
      element_at(array(Events.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(batch), col("id"), lit(1)), lit(5L)) + 1).cast("int"))
        .as("event"),
      concat(lit("user-"),
        (floor(exp(u(seed, batch, 2) * lit(math.log(10001.0)))) - 1).cast("string")).as("key"),
      round(u(seed, batch, 3) * 500, 2).as("amount"),
      sha1(concat_ws(":", lit(seed), lit(batch), col("id"))).as("session"),
      ts.as("ts"))
      .select(col("event"), col("key"),
        to_json(struct(col("key").as("user"), col("event").as("type"),
          col("amount"), col("session"))).as("message"),
        col("ts"))

  /** Run a replay frame to completion (noop sink: the full plan,
    * ordering included) and return its row count. */
  def drain(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Data files (and their bytes) under a topic's log directory. */
  def files(topicPath: String): Seq[(Path, Long)] = {
    val dir = Paths.get(topicPath, "log")
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet")
      }.map(p => p -> Files.size(p)).toList
      finally s.close()
    }
  }
}

/** Checks of a topic's publishes and heads, each counted in the report. */
final class LogChecks(ctx: Ctx, topic: TopicLog) {
  private val r = ctx.report
  /** Heads as the benchmark expects them from its own publishes. */
  var heads: Map[Int, Long] = Map.empty

  /** Publish `df` (n records) under a span; check the returned ranges
    * are gapless from the previous heads, one per partition, and sum
    * to n. Returns the publish wall in ns. */
  def publish(df: DataFrame, n: Long, req: Long): Option[Long] =
    r.op("publish") {
      val (ranges, ns) = Stats.timed(ctx.tracer.span("log.publish", req)(topic.publish(df)))
      r.check("publish ranges sum to the batch size")(ranges.values.map(_.count).sum == n)
      r.check("publish ranges continue gaplessly from the heads")(ranges.forall {
        case (p, rg) => rg.base == heads.getOrElse(p, -1L) && rg.count > 0
      })
      heads = heads ++ ranges.map { case (p, rg) => p -> rg.last }
      ns
    }

  /** Time `heads()` and check it equals the sum of the published ranges. */
  def checkHeads(req: Long): Option[Long] =
    r.op("heads") {
      val (h, ns) = Stats.timed(ctx.tracer.span("log.heads", req)(topic.heads()))
      r.check("heads equal the published ranges")(h == heads)
      ns
    }
}

/** The log as a reader uses it, on `pubsub-live`'s topic after its
  * measured live phase: tail replays for three durable subscribers each
  * 1% behind the heads, a full replay for a new subscriber, replaySince
  * from the middle of the measured batches, and size-capped retention
  * down to half the bytes. Every result is checked; the timings go on
  * the detail line only. */
object LogReads {
  def run(ctx: Ctx, topic: TopicLog, chk: LogChecks, since: Timestamp, sinceRows: Long): Unit = {
    val r = ctx.report
    val t = ctx.tracer
    val tailNs = Seq.newBuilder[Long]
    val ackNs = Seq.newBuilder[Long]
    val headsNs = Seq.newBuilder[Long]
    val replayScan = Seq.newBuilder[(Long, Long, Long, Long, Double)]
    for (i <- 0 until 3) {
      val name = s"tail-$i"
      chk.checkHeads(i).foreach(headsNs += _)
      val h = chk.heads
      val mark = h.map { case (p, o) => p -> (o - math.ceil((o + 1) / 100.0).toLong) }
      topic.ack(name, mark)
      r.op(s"replay $name") {
        val (n, ns) = Stats.timed(t.span("log.replay", i)(Records.drain(topic.replay(name))))
        tailNs += ns
        r.check("tail replay returns heads minus watermark")(
          n == h.map { case (p, o) => o - mark(p) }.sum)
        if (t.enabled) {
          val (read, scanned, planMs) = ctx.lastScan()
          replayScan += ((read, Records.files(topic.path).size.toLong, n, scanned, planMs))
        }
      }
      r.op(s"ack $name") {
        val (_, ns) = Stats.timed(t.span("log.ack", i)(topic.ack(name, h)))
        ackNs += ns
      }
    }

    var fullRps = Double.NaN
    r.op("full replay") {
      val h = chk.heads
      val (n, ns) = Stats.timed(t.span("log.replay.full")(Records.drain(topic.replay("full"))))
      r.check("full replay returns every record")(n == h.values.map(_ + 1).sum)
      fullRps = n / (ns / 1e9)
      val (_, ack) = Stats.timed(t.span("log.ack")(topic.ack("full", h)))
      ackNs += ack
    }
    var sinceMs = Double.NaN
    r.op("replaySince") {
      val (n, ns) = Stats.timed(t.span("log.replay.since")(Records.drain(topic.replaySince(since))))
      r.check("replaySince returns the records from its time on")(n == sinceRows)
      sinceMs = Stats.ms(ns)
    }
    var retainMs = Double.NaN
    var deleted = 0L
    r.op("retainToSize") {
      val before = Records.files(topic.path)
      val (_, ns) = Stats.timed(t.span("log.retain")(topic.retainToSize(before.map(_._2).sum / 2)))
      retainMs = Stats.ms(ns)
      deleted = before.size - Records.files(topic.path).size
      r.check("heads survive retention")(topic.heads() == chk.heads)
      val newest = topic.read().groupBy(col("log_part")).agg(max(col("offset")))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      r.check("newest records survive retention")(newest == chk.heads)
    }

    val tail = tailNs.result().map(Stats.ms)
    r.info("replay_tail_ms_p50", Stats.p50(tail), "ms", tail.size)
    r.info("replay_full_rps", fullRps, "1/s", 1)
    r.info("replay_since_ms_p50", sinceMs, "ms", 1)
    val acks = ackNs.result().map(Stats.ms)
    r.info("ack_ms_p50", Stats.p50(acks), "ms", acks.size)
    val hs = headsNs.result().map(Stats.ms)
    r.info("log.heads_ms_p50", Stats.p50(hs), "ms", hs.size)
    r.info("log.retain_ms", retainMs, "ms", 1)
    r.info("log.retain.files_deleted", deleted.toDouble, "count")
    r.info("log.records_published", chk.heads.values.map(_ + 1).sum.toDouble, "count")
    if (t.enabled) LogLayers.replay(ctx, replayScan.result())
  }
}

/** Per-layer figures of `graft.log`, from the traced spans. */
object LogLayers {
  /** Job time, driver time (wall minus job time), jobs, tasks and
    * shuffle bytes of every span called `name` in the measured phase
    * or after it. */
  def callSplit(ctx: Ctx, name: String): Seq[(Double, Double, Long, Long, Long)] =
    ctx.tracer.spans.filter(s => s.name == name && s.startNs >= ctx.measureStartNs).map { s =>
      val acc = ctx.probe.span(s.id)
      val jobMs = acc.map(a => Stats.ms(a.jobNs.get)).getOrElse(0.0)
      (jobMs, math.max(0.0, s.wallMs - jobMs), acc.map(_.jobs.get).getOrElse(0L),
        acc.map(_.tasks.get).getOrElse(0L), acc.map(_.shuffleBytes.get).getOrElse(0L))
    }

  def publish(ctx: Ctx, files: Seq[Double], bytesPerRec: Seq[Double]): Unit = {
    ctx.drainEvents()
    val r = ctx.report
    val s = callSplit(ctx, "log.publish")
    r.info("log.publish.job_ms_p50", Stats.p50(s.map(_._1)), "ms", s.size)
    r.info("log.publish.driver_ms_p50", Stats.p50(s.map(_._2)), "ms", s.size)
    r.info("log.publish.jobs", Stats.p50(s.map(_._3.toDouble)), "count", s.size)
    r.info("log.publish.tasks", Stats.p50(s.map(_._4.toDouble)), "count", s.size)
    r.info("log.publish.shuffle_bytes", Stats.p50(s.map(_._5.toDouble)), "bytes", s.size)
    r.info("log.publish.files", Stats.p50(files), "count", files.size)
    r.info("log.publish.bytes_per_record", Stats.p50(bytesPerRec), "bytes", bytesPerRec.size)
  }

  /** `scans`: (files read, files listed, rows returned, rows scanned,
    * planning ms) per tail replay. */
  def replay(ctx: Ctx, scans: Seq[(Long, Long, Long, Long, Double)]): Unit = {
    ctx.drainEvents()
    val r = ctx.report
    val s = callSplit(ctx, "log.replay")
    r.info("log.replay.plan_ms_p50", Stats.p50(scans.map(_._5)), "ms", scans.size)
    r.info("log.replay.driver_ms_p50", Stats.p50(s.map(_._2)), "ms", s.size)
    r.info("log.replay.jobs", Stats.p50(s.map(_._3.toDouble)), "count", s.size)
    r.info("log.replay.shuffle_bytes", Stats.p50(s.map(_._5.toDouble)), "bytes", s.size)
    val (read, listed) = (scans.map(_._1).sum, scans.map(_._2).sum)
    val (ret, scanned) = (scans.map(_._3).sum, scans.map(_._4).sum)
    r.info("log.replay.files_read", read.toDouble, "count")
    r.info("log.replay.files_listed", listed.toDouble, "count")
    r.info("log.replay.files_read_share", read.toDouble / math.max(1L, listed), "ratio")
    r.info("log.replay.rows_returned", ret.toDouble, "count")
    r.info("log.replay.rows_scanned", scanned.toDouble, "count")
    r.info("log.replay.rows_returned_share", ret.toDouble / math.max(1L, scanned), "ratio")
  }
}

/** `pubsub-live`: an open-loop generator publishes a batch on a fixed
  * schedule; one durable subscriber processes and acks live. After the
  * measured phase, [[LogReads]] replays and retains the same topic. */
object PubSubLive {
  final case class Pub(i: Long, dueMs: Long, startMs: Long, startNs: Long, endNs: Long)
  final case class Seen(atMs: Double, startNs: Long, endNs: Long, rows: Seq[(Int, Long, Long)])

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val r = ctx.report
    val t = ctx.tracer
    val spark = ctx.spark
    val batchN = if (a.smoke) 100L else 1000L
    val periodMs = if (a.smoke) 500L else 2000L
    val seen = new ConcurrentLinkedQueue[Seen]()
    val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    })

    // the subscriber: note when each record is seen, then ack (the
    // ack runs inside TopicStream after this returns)
    def process(df: DataFrame): Unit = {
      val now = java.time.Instant.now()
      val atMs = now.getEpochSecond * 1000.0 + now.getNano / 1e6
      val start = System.nanoTime()
      val rows = t.span("subscriber.process") {
        df.select(col("log_part"), col("offset"), col("ts")).collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getTimestamp(2).getTime)).toSeq
      }
      seen.add(Seen(atMs, start, System.nanoTime(), rows))
    }

    var topic: TopicLog = null
    var chk: LogChecks = null
    var sub: graft.streaming.Subscription = null
    var batchNo = 0L
    def batchAt(dueMs: Long): DataFrame = {
      batchNo += 1
      val df = Records.batch(spark, a.seed, batchNo, batchN, lit(new Timestamp(dueMs))).cache()
      df.count()
      df
    }
    def awaitDelivered(n: Long): Unit = {
      val deadline = System.nanoTime() + 60000000000L
      while (seen.asScala.map(_.rows.size.toLong).sum < n && System.nanoTime() < deadline)
        Thread.sleep(5)
    }

    // set-up: a fresh topic, a live durable subscriber and one batch
    // delivered through it, three times (the median counts); the last
    // one stays up
    val setup = ctx.setupMedian(3) { rep =>
      if (sub != null) sub.unsubscribe()
      seen.clear()
      topic = GraftConnection.connect(spark, ctx.dir(s"topics-$rep")).prepareTopic("live", 8)
      chk = new LogChecks(ctx, topic)
      sub = TopicStream.subscribeDurable(topic, "live", ctx.dir(s"checkpoint-$rep"))(process)
      val df = batchAt(System.currentTimeMillis())
      chk.publish(df, batchN, 0L)
      df.unpersist()
      awaitDelivered(batchN)
    }
    // warm-up: back-to-back publishes while publish time still falls
    // steeply (over about the first 20 batches of a JVM)
    val warm = if (a.smoke) 2 else 20
    val (_, warmNs) = Stats.timed {
      for (_ <- 0 until warm) {
        val df = batchAt(System.currentTimeMillis())
        chk.publish(df, batchN, 0L)
        df.unpersist()
      }
      awaitDelivered(batchN * (warm + 1))
    }
    r.check("set-up batches delivered")(
      seen.asScala.map(_.rows.size).sum >= batchN * (warm + 1))

    Log("set-up done")
    ctx.startMeasure()
    progress.clear()
    val pubs = new ConcurrentLinkedQueue[Pub]()
    // traced: data files and bytes each publish adds to the topic
    val publishFiles = Seq.newBuilder[Double]
    val publishBytesPerRec = Seq.newBuilder[Double]
    val startMs = System.currentTimeMillis() + periodMs / 2
    val n = math.max(1L, a.seconds * 1000L / periodMs)
    var filesBefore = if (t.enabled) Records.files(topic.path) else Nil
    val gen = new Thread(() => {
      var next = batchAt(startMs)
      for (i <- 0L until n) {
        val due = startMs + i * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val (sMs, s) = (System.currentTimeMillis(), System.nanoTime())
        chk.publish(next, batchN, i + 1).foreach { _ =>
          pubs.add(Pub(i, due, sMs, s, System.nanoTime()))
        }
        if (t.enabled) {
          val files = Records.files(topic.path)
          publishFiles += (files.size - filesBefore.size).toDouble
          publishBytesPerRec += (files.map(_._2).sum - filesBefore.map(_._2).sum).toDouble / batchN
          filesBefore = files
        }
        next.unpersist()
        if (i + 1 < n) next = batchAt(startMs + (i + 1) * periodMs)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    val t0 = System.nanoTime()
    gen.start()
    gen.join()
    val backlog = chk.heads.values.map(_ + 1).sum -
      seen.asScala.flatMap(_.rows.map(x => (x._1, x._2))).toSet.size
    r.op("drain subscriber")(sub.drain())
    val loopNs = System.nanoTime() - t0

    // every published (log_part, offset) seen at least once; the
    // subscriber's ack ends at the heads
    val got = new ConcurrentHashMap[(Int, Long), Int]()
    seen.asScala.foreach(_.rows.foreach { case (p, o, _) => got.merge((p, o), 1, _ + _) })
    val published = chk.heads.toSeq.flatMap { case (p, h) => (0L to h).map(o => (p, o)) }
    r.check("every published record delivered live")(published.forall(got.containsKey))
    r.check("subscriber ack equals the heads")(r.op("read acks") {
      topic.subscribers().filter(col("name") === "live").collect()
        .map(x => x.getInt(1) -> x.getLong(2)).toMap
    }.contains(chk.heads))
    val duplicates = got.values.asScala.map(_ - 1L).sum
    r.op("unsubscribe")(sub.unsubscribe())

    // delivery latency per record: seen minus the batch's due time (ts)
    val ps = pubs.asScala.toSeq.sortBy(_.i)
    val dues = ps.map(_.dueMs).toSet
    val lat = seen.asScala.toSeq.flatMap(s => s.rows.collect {
      case (_, _, ts) if dues.contains(ts) => s.atMs - ts
    })
    // records of one batch seen in one micro-batch share their latency:
    // the sample count is such (micro-batch, batch) pairs
    val latN = seen.asScala.toSeq.map(_.rows.map(_._3).filter(dues.contains).distinct.size).sum
    val pubMs = ps.map(p => Stats.ms(p.endNs - p.startNs))
    val rps = pubMs.map(ms => batchN / (ms / 1000.0))
    r.e2e("setup_s", setup + warmNs / 1e9, "s", 3)
    r.e2e("latency_ms_p50", Stats.p50(lat), "ms", latN)
    r.e2e("throughput_per_s", Stats.p50(rps), "1/s", rps.size)
    r.info("publish_ms_p50", Stats.p50(pubMs), "ms", pubMs.size)
    r.info("publish_ms_p90", Stats.p90(pubMs), "ms", pubMs.size)
    r.info("deliver_ms_p50", Stats.p50(lat), "ms", latN)
    r.info("deliver_ms_p90", Stats.p90(lat), "ms", latN)
    val late = ps.map(p => (p.startMs - p.dueMs).toDouble)
    r.info("live.generator_late_ms_p90", Stats.p90(late), "ms", late.size)
    r.info("live.backlog_end_records", backlog.toDouble, "count")
    r.info("live.duplicates", duplicates.toDouble, "count")
    r.info("live.warmup_s", warmNs / 1e9, "s", warm.toLong)
    StreamLayers.report(ctx, progress.asScala.toSeq, seen.asScala.toSeq, ps)
    if (t.enabled) LogLayers.publish(ctx, publishFiles.result(), publishBytesPerRec.result())
    Layers.spark(ctx, loopNs)

    Log("measured loop done")
    val since = ps.lift(ps.size / 2).map(_.dueMs).getOrElse(startMs)
    LogReads.run(ctx, topic, chk, new Timestamp(since), ps.count(_.dueMs >= since) * batchN)
  }
}
