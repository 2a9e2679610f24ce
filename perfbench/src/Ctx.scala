package perfbench

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Sizes of one workload run; `smoke` shrinks every one of them. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    smoke: Boolean, root: String)

/** Everything a workload needs: the session, its fresh run root, the
  * probes and the report. */
final class Ctx(val spark: SparkSession, val args: Args, val cpus: Int) {
  val report = new Report
  val probe = new SparkProbe
  val tracer = new Tracer(spark.sparkContext, args.trace)
  val lastQuery = new AtomicReference[QueryExecution]()
  if (args.trace) spark.sparkContext.addSparkListener(probe)
  @volatile var measureStartNs: Long = 0L
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastQuery.set(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  def dir(name: String): String = s"${args.root}/$name"

  def drainEvents(): Unit = PerfbenchListenerBus.drain(spark.sparkContext)

  /** Start of the measured phase: counters restart from zero. */
  def startMeasure(): Unit = {
    drainEvents()
    probe.reset()
    measureStartNs = System.nanoTime()
  }

  /** Set-up timing: `prepare` runs `reps` times, each into fresh
    * directories (`rep` tells it which); the median is the set-up
    * cost. Returns the median in seconds. */
  def setupMedian(reps: Int)(prepare: Int => Unit): Double = {
    val times = (0 until reps).map(r => Stats.timed(prepare(r))._2 / 1e9)
    Stats.p50(times)
  }

  /** Scan metrics of the last finished query: (files read, rows
    * scanned) summed over its file scans, and its Catalyst planning
    * time (analysis + optimisation + physical planning) in ms. */
  def lastScan(): (Long, Long, Double) = {
    drainEvents()
    val qe = lastQuery.get
    if (qe == null) (0L, 0L, 0.0)
    else {
      val scans = Ctx.nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
      def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum, planMs)
    }
  }
}

object Ctx {
  /** Every node of a physical plan, looking through adaptive plans and
    * their query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => Seq(other) ++ other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes)
  }
}
