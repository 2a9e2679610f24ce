package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark entry point, started by run.py with a fresh run root:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <dir> --expected <file> [--smoke]
  *
  * Prints the run's context, then (traced) every span, then a detail
  * line (every figure the run took, with sample counts), then the
  * result line. Exits 0 when it measured, even if checks failed (they are in
  * the result's `failed`), and 2 on bad arguments. */
object Main {
  val Workloads: Seq[String] = Seq("pubsub-live", "suite-packs")

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def flag(f: String) = argv.contains(f)
    val workload = kv.getOrElse("--workload", "")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val args = Args(workload, kv("--seed").toLong, kv("--seconds").toInt,
      kv.get("--trace").contains("1"), flag("--smoke"), kv("--root"))
    val expected = kv.get("--expected").map { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(_.split("\t")).collect { case Array(s, q, n) => s"$s\t$q" -> n.toLong }.toMap
    }.getOrElse(Map.empty)

    val cpus = Runtime.getRuntime.availableProcessors
    val (spark, sessionNs) = Stats.timed(GraftSession.build(s"local[$cpus]", cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args, cpus)
    println(context(ctx, sessionNs / 1e9))
    Log("session built")
    try workload match {
      case "pubsub-live" => PubSubLive.run(ctx)
      case "suite-packs" => Suite.run(ctx, expected)
    } catch {
      case e: Throwable => ctx.report.op("workload")(throw e)
    }
    Log("workload done")
    val r = ctx.report
    r.info("failed_frac", r.failed.toDouble / math.max(1L, r.attempted), "ratio", r.attempted)
    r.info("session_build_s", sessionNs / 1e9, "s", 1)
    r.info("host.calib_ms", Stats.calibMs(), "ms", 5)
    r.failures.take(20).foreach(f => System.err.println(s"perfbench: $f"))
    // the spans, written once at the end: id, name, parent, request,
    // start and end in ms since the first span
    if (args.trace) {
      val spans = (ctx.tracer.spans ++ ctx.tracer.rebuilt).sortBy(_.startNs)
      val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
      println(Json.obj(Seq("spans" -> spans.map { s =>
        Seq(s.id.toString, Json.str(s.name), s.parent.toString, s.req.toString,
          Json.num((s.startNs - t0) / 1e6), Json.num((s.endNs - t0) / 1e6)).mkString("[", ",", "]")
      }.mkString("[", ",", "]"))))
    }
    println(Json.obj(Seq(
      "detail" -> Json.metrics(r.detail),
      "samples" -> Json.obj(r.samples.map { case (k, n) => k -> n.toString }),
      "failures" -> r.failures.take(20).map(Json.str).mkString("[", ",", "]"))))
    val metrics = if (args.trace) r.perLayer else r.endToEnd
    println(Json.obj(Seq(
      "correct" -> (r.failed == 0L && r.attempted > 0L).toString,
      "attempted" -> math.max(1L, r.attempted).toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.metrics(metrics))))
    System.out.flush()
    spark.stop()
    Log("session stopped")
  }

  /** The run's context: effective Spark conf, JVM arguments, CPUs and
    * load average. */
  private def context(ctx: Ctx, sessionS: Double): String = {
    val loadavg = try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim finally s.close()
    } catch { case _: Exception => "" }
    val conf = ctx.spark.conf.getAll.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }
    Json.obj(Seq("context" -> Json.obj(Seq(
      "workload" -> Json.str(ctx.args.workload),
      "seed" -> ctx.args.seed.toString,
      "seconds" -> ctx.args.seconds.toString,
      "trace" -> ctx.args.trace.toString,
      "smoke" -> ctx.args.smoke.toString,
      "nproc" -> ctx.cpus.toString,
      "loadavg" -> Json.str(loadavg),
      "session_build_s" -> Json.num(sessionS),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(Json.str).mkString("[", ",", "]"),
      "spark_conf" -> Json.obj(conf)))))
  }
}
