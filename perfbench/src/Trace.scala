package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `parent` is 0 for a root span, `req` groups the
  * spans of one request (a publish batch, a query, a micro-batch). */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    startNs: Long, endNs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans around every call the benchmark makes into a layer. Spans stay
  * in memory until the run ends. The span id of the innermost open
  * span on a thread rides the Spark local property [[Tracer.SpanProp]],
  * so [[SparkProbe]] attributes each job to the call that ran it.
  * Disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = ArrayBuffer.empty[Span]
  private val rebuiltSpans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  // caller-thread time spent in the tracer's own bookkeeping
  private val ownNs = new AtomicLong(0)

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val start = System.nanoTime()
      ownNs.addAndGet(start - t0)
      try body
      finally {
        val end = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProp,
          if (parent == 0L) null else parent.toString)
        add(Span(id, name, parent, req, start, end))
        ownNs.addAndGet(System.nanoTime() - end)
      }
    }

  /** Record a span measured elsewhere (streaming phases rebuilt from
    * progress events); returns its id so children can point at it.
    * These are kept apart from [[spans]]: they overlap the calls made
    * on the stream's own thread. */
  def record(name: String, parent: Long, req: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      rebuiltSpans.synchronized { rebuiltSpans += Span(id, name, parent, req, startNs, endNs) }
      id
    }

  /** Id of the innermost open span on this thread (0 outside any). */
  def currentSpan: Long = open.get.headOption.getOrElse(0L)

  private def add(s: Span): Unit = done.synchronized { done += s; () }

  /** Spans around calls the benchmark made. */
  def spans: Seq[Span] = done.synchronized(done.toList)
  /** Spans recorded with [[record]]. */
  def rebuilt: Seq[Span] = rebuiltSpans.synchronized(rebuiltSpans.toList)
  def overheadMs: Double = ownNs.get / 1e6
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per span: its wall minus the union of its children's
    * intervals, clipped to its own. Summed over a tree, self times
    * equal the root's wall when children do not overlap each other. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark engine counters from a [[SparkListener]]: jobs, tasks,
  * executor busy time, shuffle bytes and GC, in total and per span
  * (via the job's [[Tracer.SpanProp]] local property). */
final class SparkProbe extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val busyMs = new AtomicLong; val shuffleBytes = new AtomicLong
    val gcMs = new AtomicLong; val jobNs = new AtomicLong
  }
  val total = new Acc
  private val bySpan = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val jobNsList = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())

  private def accs(span: Long): Seq[Acc] =
    if (span == 0L) Seq(total) else Seq(total, bySpan.computeIfAbsent(span, _ => new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobStart.put(e.jobId, (span, System.nanoTime()))
    accs(span).foreach(_.jobs.incrementAndGet())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      val ns = System.nanoTime() - t0
      jobNsList.add(ns)
      accs(span).foreach(_.jobNs.addAndGet(ns))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val m = Option(e.taskMetrics)
    accs(span).foreach { a =>
      a.tasks.incrementAndGet()
      m.foreach { tm =>
        a.busyMs.addAndGet(tm.executorRunTime)
        a.gcMs.addAndGet(tm.jvmGCTime)
        a.shuffleBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def span(id: Long): Option[Acc] = Option(bySpan.get(id))
  def jobMs: Seq[Double] = jobNsList.synchronized(jobNsList.asScala.toList).map(_ / 1e6)

  /** Zero every counter (end of set-up, start of the measured phase). */
  def reset(): Unit = {
    Seq(total.jobs, total.tasks, total.busyMs, total.shuffleBytes,
      total.gcMs, total.jobNs).foreach(_.set(0))
    bySpan.clear(); jobNsList.clear()
  }
}
