package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
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
  *  - `jobs`: Spark jobs and their wall spans during one evaluation of
  *    each query (after a warm-up run at the bench's warm-up scale),
  *    construction timed apart from the noop action — whether a
  *    query's wall is serial build-time jobs or the final plan's stage
  *    jobs. One `== <q> construct=… wall=… jobs=N` line, then one line
  *    per job.
  * `audit` and `plans` execute each query to a noop sink first: AQE
  * only finalizes join strategies and stage boundaries at runtime.
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR` (as in [[Bench]]); cores
  * and shuffle partitions come from `SPARK_GRAFT_CPUS` (default 8) and
  * `SPARK_GRAFT_PARTS` (default the core count).
  *
  * Run: sbt "runMain graft.Diag <audit|plans|jobs> [sfDir] [nameRegex]
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
    val usage = "usage: graft.Diag <audit|plans|jobs> [sfDir] [nameRegex] [outDir suffix]"
    val mode = args.headOption.getOrElse(sys.error(usage))
    val dir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val nameFilter = args.lift(2).map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus.toString).toInt
    val spark = GraftSession.build(s"local[$cpus]", parts)
    spark.sparkContext.setLogLevel("ERROR")
    val (tag, run): (String, (String, Query) => Unit) = mode match {
      case "audit" => ("[audit]", audit(spark, dir))
      case "plans" =>
        ("[plandump]", plans(spark, dir, args.lift(3).getOrElse("plans"),
          args.lift(4).getOrElse("before")))
      case "jobs" => ("==", jobs(spark, dir))
      case _ => sys.error(usage)
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
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
    // Listener-side input metrics: rows_scanned (plan walk) misses
    // subtrees that execute as EAGER jobs during query construction —
    // localCheckpoints, index builds — exactly where a recompute
    // regression can hide. Task-level input metrics see every job the
    // query triggers, whoever planned it.
    val jobRows = new java.util.concurrent.atomic.AtomicLong
    val jobBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          jobRows.addAndGet(m.inputMetrics.recordsRead)
          jobBytes.addAndGet(m.inputMetrics.bytesRead)
          ()
        }
    })
    (name, fn) => {
      val rows0 = jobRows.get(); val bytes0 = jobBytes.get()
      val df = fn(spark, dir)
      executeFinal(df)
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
      // listener delta covers EVERY job this query triggered, eager
      // ckpts and index builds included (listener events are async —
      // settle until BOTH counters stop moving before snapshotting: a
      // trailing job that reads bytes but zero records would otherwise
      // settle early and leak its bytes into the NEXT query's delta).
      var prevSeen = (-1L, -1L)
      var spins = 0
      while ((jobRows.get(), jobBytes.get()) != prevSeen && spins < 50) {
        prevSeen = (jobRows.get(), jobBytes.get())
        Thread.sleep(100); spins += 1
      }
      val totRows = jobRows.get() - rows0
      val totMb = (jobBytes.get() - bytes0) / (1024 * 1024)
      println(s"[audit] $name :: $flags rows_scanned=$rowsScanned " +
        s"scan_mb=${scanBytes / (1024 * 1024)} " +
        s"job_rows_read=$totRows job_mb_read=$totMb")
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

  private def jobs(spark: SparkSession, dir: String): (String, Query) => Unit = {
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val spans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, Long, String)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(j.jobId, (j.time,
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, d) = started.getOrDefault(j.jobId, (j.time, "?"))
        spans.add((j.jobId, t0, j.time, d))
      }
    })
    val warm = Bench.warmDir(dir)
    (name, fn) => {
      fn(spark, warm).write.format("noop").mode("overwrite").save()
      Thread.sleep(500)
      spans.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val tc = (System.nanoTime() - t0) / 1e6
      df.write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(500)
      println(s"== $name construct=${tc.round}ms wall=${wallMs.round}ms " +
        s"jobs=${spans.size}")
      spans.synchronized {
        val base = if (spans.isEmpty) 0L else spans.get(0)._2
        spans.forEach { case (id, s, e, d) =>
          println(f"  job $id%3d +${s - base}%6dms dur=${e - s}%5dms  ${d.take(90)}")
        }
      }
    }
  }
}
