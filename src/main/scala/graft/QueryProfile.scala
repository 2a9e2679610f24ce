package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Where one query's wall went: construction (the eager jobs a query
  * runs while its DataFrame is built — checkpoints, collects, index
  * loads) vs execution of the final plan, and the Spark jobs, tasks,
  * shuffle bytes, executor-busy time and task input the query cost. */
final case class QueryLayers(constructMs: Double, execMs: Double,
    jobs: Long, constructJobs: Long, tasks: Long, shuffleWriteBytes: Long,
    executorBusyMs: Long, rowsRead: Long, bytesRead: Long) {
  def wallMs: Double = constructMs + execMs
}

/** The one per-query profiler: a [[SparkListener]] that splits each
  * query it measures into [[QueryLayers]]. Install it once per session;
  * [[measure]] profiles one query at a time.
  *
  * Attribution is exact rather than settled by sleeping. A job belongs
  * to a measurement when its `JobStart.time` is no earlier than the
  * measurement's start, a task when its stage belongs to such a job,
  * and the listener bus is drained once after the timed region, so
  * every event the query posted has been delivered before the figures
  * are read. A construction job is one whose `JobStart.time` precedes
  * the end of construction. */
final class QueryProfile private (spark: SparkSession) extends SparkListener {

  private final class Window(val fromMs: Long) {
    val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks, busyMs, shuffleBytes, rows, bytes = new AtomicLong
  }
  @volatile private var open: Window = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val w = open
    if (w != null && e.time >= w.fromMs) {
      e.stageIds.foreach(s => w.stages.add(s))
      w.jobStarts.add(e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = open
    if (w != null && w.stages.contains(e.stageId)) {
      w.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        w.busyMs.addAndGet(m.executorRunTime)
        w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.rows.addAndGet(m.inputMetrics.recordsRead)
        w.bytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Runs `construct`, then `execute` on what it built, and returns the
    * built value with the query's layers. The timed region ends when
    * `execute` returns; the drain that completes the counters runs
    * after it. */
  def measure[A](construct: => A)(execute: A => Unit): (A, QueryLayers) = {
    val w = new Window(System.currentTimeMillis())
    open = w
    try {
      val t0 = System.nanoTime()
      val built = construct
      val builtMs = System.currentTimeMillis()
      val t1 = System.nanoTime()
      execute(built)
      val t2 = System.nanoTime()
      GraftListenerBus.drain(spark.sparkContext)
      val starts = w.jobStarts.asScala.toSeq.map(_.longValue)
      (built, QueryLayers((t1 - t0) / 1e6, (t2 - t1) / 1e6, starts.size,
        starts.count(_ < builtMs), w.tasks.get, w.shuffleBytes.get,
        w.busyMs.get, w.rows.get, w.bytes.get))
    } finally open = null
  }
}

object QueryProfile {
  def install(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }
}
