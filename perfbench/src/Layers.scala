package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer figures every workload reports in a traced run: the
  * Spark engine under the measured phase, how the traced calls split
  * between driver work and Spark jobs, and the tracer's own cost. */
object Layers {
  def spark(ctx: Ctx, measuredNs: Long): Unit = {
    if (!ctx.tracer.enabled) return
    ctx.drainEvents()
    val r = ctx.report
    val tot = ctx.probe.total
    val jobs = tot.jobs.get
    val wallMs = Stats.ms(measuredNs)
    r.layer("spark.jobs", jobs.toDouble, "count")
    r.layer("spark.tasks", tot.tasks.get.toDouble, "count")
    r.layer("spark.tasks_per_job", tot.tasks.get.toDouble / math.max(1L, jobs), "count")
    val jobMs = ctx.probe.jobMs
    r.layer("spark.job_ms_p50", Stats.p50(jobMs), "ms")
    r.layer("spark.executor_busy_ms", tot.busyMs.get.toDouble, "ms")
    r.layer("spark.utilisation", tot.busyMs.get / (wallMs * ctx.cpus), "ratio")
    r.layer("spark.shuffle_write_bytes", tot.shuffleBytes.get.toDouble, "bytes")
    r.layer("spark.gc_ms", tot.gcMs.get.toDouble, "ms")

    // whole span trees whose root started in the measured phase
    val all = ctx.tracer.spans
    val byId = all.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).map(root).getOrElse(s)
    val spans = all.filter(s => root(s).startNs >= ctx.measureStartNs)
    val calls = spans.filter(_.parent == 0L)
    val callMs = calls.map(_.wallMs).sum
    val callJobMs = spans.flatMap(s => ctx.probe.span(s.id)).map(a => Stats.ms(a.jobNs.get)).sum
    val callJobs = spans.flatMap(s => ctx.probe.span(s.id)).map(_.jobs.get).sum
    r.layer("calls.count", calls.size.toDouble, "count")
    r.layer("calls.jobs_per_call", callJobs.toDouble / math.max(1, calls.size), "count")
    r.layer("calls.driver_share", math.max(0.0, callMs - callJobMs) / math.max(1e-9, callMs), "ratio")
    r.info("trace.spans", spans.size.toDouble, "count")
    r.layer("trace.overhead_ms", ctx.tracer.overheadMs, "ms")
    r.layer("trace.overhead_share", ctx.tracer.overheadMs / wallMs, "ratio")

    // self time per span name; summed they equal the root spans' walls
    val self = Tracer.selfMs(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      r.info(s"trace.self_ms.$name", ss.map(s => self(s.id)).sum, "ms", ss.size)
    }
    r.info("trace.root_wall_ms", calls.map(_.wallMs).sum, "ms", calls.size)
  }
}

/** `graft.streaming` figures of `pubsub-live`, from the query's
  * progress events and the subscriber callback. */
object StreamLayers {
  private val Phases = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
    "queryPlanning" -> "planning", "addBatch" -> "add_batch", "walCommit" -> "wal_commit")

  def report(ctx: Ctx, progress: Seq[StreamingQueryProgress],
      seen: Seq[PubSubLive.Seen], pubs: Seq[PubSubLive.Pub]): Unit = {
    val r = ctx.report
    val batches = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    r.info("streaming.batches", batches.size.toDouble, "count")
    r.info("streaming.rows_per_batch_p50", Stats.p50(batches.map(_.numInputRows.toDouble)),
      "count", batches.size)
    r.info("streaming.trigger_ms_p50", Stats.p50(batches.map(dur(_, "triggerExecution"))),
      "ms", batches.size)
    Phases.foreach { case (k, name) =>
      r.info(s"streaming.${name}_ms_p50", Stats.p50(batches.map(dur(_, k))), "ms", batches.size)
    }
    val proc = seen.map(s => Stats.ms(s.endNs - s.startNs))
    r.info("streaming.process_ms_p50", Stats.p50(proc), "ms", proc.size)
    // publish done -> start of the first batch that delivered it
    val starts = batches.map(startMs).sorted
    val pickup = pubs.flatMap { p =>
      val doneMs = p.startMs + Stats.ms(p.endNs - p.startNs)
      seen.filter(_.rows.exists(_._3 == p.dueMs)).map(_.atMs).sorted.headOption
        .flatMap(at => starts.filter(_ <= at).lastOption).map(_ - doneMs)
    }
    r.info("streaming.pickup_ms_p50", Stats.p50(pickup), "ms", pickup.size)

    // micro-batch phases as spans, laid end to end from the trigger start
    if (ctx.tracer.enabled) {
      val offNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      batches.foreach { p =>
        val s0 = startMs(p) * 1000000L + offNs
        val end = s0 + (dur(p, "triggerExecution") * 1e6).toLong
        val root = ctx.tracer.record("stream.batch", 0L, p.batchId, s0, end)
        var at = s0
        Phases.foreach { case (k, name) =>
          val e = math.min(end, at + (dur(p, k) * 1e6).toLong)
          ctx.tracer.record(s"stream.$name", root, p.batchId, at, e)
          at = e
        }
      }
    }
  }
}
