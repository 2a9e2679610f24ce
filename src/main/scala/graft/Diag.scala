package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Diagnostic main (not part of the driver contract): one session, one
  * loop over the declared queries whose names match `nameRegex`, one
  * mode per run:
  *  - `audit`: plan red-flag audit — join strategies, exchange
  *    (shuffle) counts, scan pushdown — plus RUNTIME scan metrics
  *    (rows out of every parquet scan, bytes of the files read). Plan
  *    shape catches cartesians and funnels; a RE-EXECUTED subtree (a
  *    shared frame recomputed per consumer) only shows up in how many
  *    rows the scans actually produced. One `[audit] <q> :: …` line.
  *  - `plans`: writes `.explain("formatted")` plus the extended plan
  *    (expressions visible) to `<outDir>/<q>_<suffix>.txt` — the
  *    before/after plan evidence files under plans/. One `[plandump]`
  *    line per query.
  * Both execute each query to a noop sink first: AQE only finalizes
  * join strategies and stage boundaries at runtime. The standing LSH
  * index is resolved before the loop ([[Bench.resolveLshIndex]]), so a
  * cold cache does not make the first index query build it. Per-query
  * job, task and shuffle figures come from [[Bench]]'s layer fields,
  * per-job timelines from Spark's own event log
  * (`spark.eventLog.enabled`).
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR` (as in [[Bench]]); the
  * session is [[GraftSession.forMain]].
  *
  * Run: sbt "runMain graft.Diag <audit|plans> [sfDir] [nameRegex]
  *   [outDir suffix (plans only)]"
  */
object Diag {

  /** Every FileSourceScanExec in the FINAL adaptive plan, deduped by
    * identity (a ReusedExchange shares its child's node — counting it
    * twice would double its metrics, which are shared anyway).
    * Shared with ScaleSmoke's index-probe scan-discipline assert. */
  private[graft] def collectScans(p: SparkPlan,
      seen: java.util.IdentityHashMap[SparkPlan, Boolean]):
      Seq[FileSourceScanExec] = {
    if (seen.containsKey(p)) Seq.empty
    else {
      seen.put(p, true)
      val here = p match {
        case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan, seen)
        case q: QueryStageExec => collectScans(q.plan, seen)
        case r: ReusedExchangeExec => collectScans(r.child, seen)
        case s: FileSourceScanExec => Seq(s)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(collectScans(_, seen)) ++
        p.subqueries.flatMap(collectScans(_, seen))
    }
  }

  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Diag <audit|plans> [sfDir] [nameRegex] [outDir suffix]"
    val mode = args.headOption.getOrElse(sys.error(usage))
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val spark = GraftSession.forMain("ERROR")
    val (tag, run): (String, (String, Query) => Unit) = mode match {
      case "audit" => ("[audit]", audit(spark, dir))
      case "plans" =>
        ("[plandump]", plans(spark, dir, args.lift(3).getOrElse("plans"),
          args.lift(4).getOrElse("before")))
      case _ => sys.error(usage)
    }
    try Bench.resolveLshIndex(spark, dir)
    catch { case e: Throwable => println(s"$tag setup:lsh_index :: ERROR ${e.getMessage}") }
    SparkEntry.selected(args.lift(2)).foreach { case (name, fn) =>
      try run(name, fn)
      catch { case e: Throwable => println(s"$tag $name :: ERROR ${e.getMessage}") }
    }
    spark.stop()
  }

  /** Execute THIS QueryExecution to a noop sink (df.write would plan a
    * fresh one, leaving this plan's AQE un-finalized). */
  private def executeFinal(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(_ => ())

  private def audit(spark: SparkSession, dir: String): (String, Query) => Unit = {
    // Task-level input (job_rows_read / job_mb_read) comes from the
    // profiler: rows_scanned (plan walk) misses subtrees that execute
    // as EAGER jobs during query construction — localCheckpoints, index
    // builds — exactly where a recompute regression can hide.
    val profile = QueryProfile.install(spark)
    (name, fn) => {
      val (df, layers) = profile.measure(fn(spark, dir))(executeFinal)
      // The finalized AQE string echoes the initial plan below the
      // final one; audit only the final section. The final plan
      // renders codegen stages as "*(k)" prefixes — count distinct ids.
      val plan =
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      def n(p: String) = p.r.findAllIn(plan).length
      val codegenStages =
        "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      val flags = Seq(
        "cartesian" -> n("CartesianProduct"),
        "bnlj" -> n("BroadcastNestedLoopJoin"),
        "smj" -> n("SortMergeJoin"),
        "bhj" -> n("BroadcastHashJoin"),
        "shj" -> n("ShuffledHashJoin"),
        "exchange" -> n("Exchange (hashpartitioning|rangepartitioning|SinglePartition)"),
        "scans" -> n("FileScan parquet"),
        "pushed" -> n("PushedFilters: \\[[^\\]]"),
        "codegen" -> codegenStages)
        .filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" ")
      // runtime scan metrics off the executed plan: total rows the
      // parquet scans emitted (post-pushdown — a recomputed subtree
      // shows as a multiple of the table size) and file bytes read
      val scans = collectScans(df.queryExecution.executedPlan,
        new java.util.IdentityHashMap[SparkPlan, Boolean]())
      val rowsScanned = scans
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      val scanBytes = scans
        .flatMap(_.metrics.get("filesSize")).map(_.value).sum
      println(s"[audit] $name :: $flags rows_scanned=$rowsScanned " +
        s"scan_mb=${scanBytes / (1024 * 1024)} " +
        s"job_rows_read=${layers.rowsRead} " +
        s"job_mb_read=${layers.bytesRead / (1024 * 1024)}")
    }
  }

  private def plans(spark: SparkSession, dir: String, outDir: String,
      suffix: String): (String, Query) => Unit = {
    new java.io.File(outDir).mkdirs()
    (name, fn) => {
      val df = fn(spark, dir)
      executeFinal(df)
      // the formatted dump alone hides the expression trees, so the
      // extended-mode plan follows it in the same evidence file
      def explain(m: String) =
        df.queryExecution.explainString(ExplainMode.fromString(m))
      val out = s"$outDir/${name}_$suffix.txt"
      val w = new java.io.PrintWriter(out, "UTF-8")
      try {
        w.println(explain("formatted"))
        w.println()
        w.println("==== extended (expressions visible) ====")
        w.println(explain("extended"))
      } finally w.close()
      println(s"[plandump] $name -> $out")
    }
  }
}
