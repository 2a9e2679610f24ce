package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._

/** The ten tables graft's queries read (TPC-H-ish star schema, an `events` log,
  * word-salad `documents`, 64-d `embeddings`), generated in Spark at a
  * scale factor. The content comes from a fixed data seed, so row
  * counts of every query are known in advance (expected_rows.tsv). */
object SuiteData {
  val DataSeed = 42L
  private val Prime = 1000000007L
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val DayUs = 86400L * 1000000L

  private def h(salt: Int, id: Column = col("id")): Column = xxhash64(lit(DataSeed), lit(salt), id)
  private def pick(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  private def u(salt: Int): Column = pmod(h(salt), lit(Prime)).cast("double") / lit(Prime.toDouble)
  private def oneOf(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, xs.size) + 1).cast("int"))
  private def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + u(salt) * (hi - lo), 2)
  private def day(salt: Int, fromDay: Long, days: Long): Column =
    timestamp_micros(lit(fromDay * DayUs) + pick(salt, days) * DayUs)
  private def padded(prefix: String): Column = concat(lit(prefix), lpad(col("id").cast("string"), 9, "0"))

  /** Write the ten tables under `dir`, `threads` tables at a time. */
  def write(spark: SparkSession, dir: String, sf: Double, threads: Int): Unit = {
    def n(base: Double, floor: Long = 1L): Long = math.max(floor, math.round(base * sf))
    val (nc, ns, np, no) = (n(150000), n(10000), n(200000), n(1500000))
    val (nl, ne, nd, nv) = (n(6000000), n(1000000), n(50000, 500), n(20000, 500))
    val tables = Seq.newBuilder[(String, DataFrame)]
    def out(name: String, df: DataFrame): Unit = tables += name -> df
    def r(n: Long): DataFrame = spark.range(n).toDF()

    out("region", r(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    out("nation", r(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")))
    out("customer", r(nc).select(col("id").as("c_custkey"), padded("Customer#").as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    out("supplier", r(ns).select(col("id").as("s_suppkey"), padded("Supplier#").as("s_name"),
      pick(4, 25).cast("int").as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal")))
    out("part", r(np).select(col("id").as("p_partkey"),
      concat_ws(" ", oneOf(6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        oneOf(7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), (pick(8, 25) + 1).cast("string")).as("p_brand"),
      oneOf(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pick(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice")))
    // 1995-01-01 is day 9131 after the epoch
    out("orders", r(no).select(col("id").as("o_orderkey"), pick(11, nc).as("o_custkey"),
      oneOf(12, Seq("F", "O", "P")).as("o_orderstatus"), money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, 9131, 2404).as("o_orderdate"),
      oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    out("lineitem", r(nl).select(pick(16, no).as("l_orderkey"), pick(17, np).as("l_partkey"),
      pick(18, ns).as("l_suppkey"), (pick(19, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, 50) + 1).cast("double").as("l_quantity"), money(21, 900.0, 105000.0).as("l_extendedprice"),
      (pick(22, 11) / 100.0).as("l_discount"), (pick(23, 9) / 100.0).as("l_tax"),
      oneOf(24, Seq("A", "N", "R")).as("l_returnflag"), oneOf(25, Seq("F", "O")).as("l_linestatus"),
      day(26, 9132, 2498).as("l_shipdate")))
    // event_id is the log offset: ts rises with it (2024-01-01 .. +30 days)
    val step = 30L * DayUs / ne
    out("events", r(ne).select(col("id").as("event_id"),
      timestamp_micros(lit(19723L * DayUs) + col("id") * step + pick(27, step)).as("ts"),
      pick(28, 1500).as("user_id"), oneOf(29, Records.Events).as("event_type"),
      money(30, 0.0, 560.0).as("value"),
      concat(lit("{\"k\": "), pick(31, 100).cast("string"), lit("}")).as("props")))
    // 10-100 words; every 50th doc copies its predecessor, the next one
    // copies it again with one word changed (exact and near duplicates)
    val src = when(pmod(col("id"), lit(50)) === 1, col("id") - 1)
      .when(pmod(col("id"), lit(50)) === 2, col("id") - 2).otherwise(col("id"))
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = r(nd).select(col("id"), src.as("src"),
      (pmod(xxhash64(lit(DataSeed), lit(32), src), lit(91L)) + 10).as("nw"))
      .withColumn("words", expr(s"transform(sequence(1, cast(nw as int)), i -> " +
        s"element_at($vocab, cast(pmod(xxhash64($DataSeed, 33, src, i), ${Vocab.size}) + 1 as int)))"))
      .withColumn("words", when(pmod(col("id"), lit(50)) === 2,
        expr("transform(words, (w, i) -> if(i = 3, 'dup', w))")).otherwise(col("words")))
      .withColumn("text", array_join(col("words"), " "))
    out("documents", docs.select(col("id").as("doc_id"), col("text"),
      oneOf(34, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pick(35, 20).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars")))
    out("embeddings", r(nv).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, 64), i -> cast((pmod(xxhash64($DataSeed, 36, id, i), 2000001) " +
        "- 1000000) / 5000000.0 as float))").as("embedding"),
      pick(37, 10).cast("int").as("label")))
    Par.run(threads)(tables.result().map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    })
  }
}

/** `suite`: one query from each of the 19 operator packs of
  * `SparkEntry.queries`, run back to back with the noop sink. */
object Suite {
  /** Pack name -> its queries, in `SparkEntry.queries` order. */
  val Packs: Seq[(String, Set[String])] = Seq(
    "relational" -> Relational.queries, "event_ops" -> EventOps.queries,
    "dedup" -> Dedup.queries, "similarity" -> (Similarity.queries ++ Similarity.queries2),
    "text_ops" -> TextOps.queries, "multimodal" -> Multimodal.queries,
    "curation" -> Curation.queries, "drift" -> Drift.queries, "sampling" -> Sampling.queries,
    "link_graph" -> LinkGraph.queries, "snapshot" -> Snapshot.queries,
    "profile" -> Profile.queries, "bpe" -> Bpe.queries, "featurize" -> Featurize.queries,
    "spectral" -> Spectral.queries, "extract" -> Extract.queries,
    "classify" -> Classify.queries, "event_stats" -> EventStats.queries,
    "top_k" -> TopK.queries).map { case (p, qs) => p -> qs.keySet }

  /** The cheapest query of each pack at sf0.1 on 32 cores: a pass costs
    * about what each pack's fixed per-query overhead costs (jobs,
    * planning). */
  val Chosen: Seq[String] = Seq("q03_topk", "q21_replay_all", "q30_exact_dedup",
    "q35_cosine_topk", "q66_stratified_sample", "q75_resize_plan", "q113_curation_verdicts",
    "q124_chi2_drift", "q117_weighted_sample", "q163_triangles", "q125_snapshot_diff",
    "q164_corpus_manifest", "q132_bpe_pair_counts", "q139_zipf_fit", "q147_top_pc",
    "q166_split_docs", "q157_nb_langid", "q173_diurnal_profile", "q176_group_topk")

  def packOf(q: String): String = Packs.find(_._2.contains(q)).map(_._1).get

  final case class Run(q: String, constructNs: Long, wallNs: Long, rows: Long,
      planMs: Double, spanId: Long, constructSpan: Long)

  def run(ctx: Ctx, expected: Map[String, Long]): Unit = {
    val a = ctx.args
    val r = ctx.report
    val t = ctx.tracer
    val spark = ctx.spark
    // job count, not data volume, sets a pass's time: sf0.01 tables
    // keep the set-up short
    val sf = if (a.smoke) 0.001 else 0.01
    val queries = SparkEntry.queries
    val chosen = if (a.smoke) Chosen.take(3) else Chosen
    val scale = if (a.smoke) "smoke" else "full"
    var dataDir = ""

    /** One query: construct (eager jobs run here), then run the final
      * plan (planning and execution) into the noop sink. */
    def one(q: String, req: Long): Option[Run] = r.op(s"query $q") {
      val obs = Observation()
      var (cNs, cSpan, qSpan) = (0L, 0L, 0L)
      val (_, wall) = Stats.timed(t.span("query", req) {
        qSpan = t.currentSpan
        val (df, ns) = Stats.timed(t.span("query.construct", req) {
          cSpan = t.currentSpan
          queries(q)(spark, dataDir)
        })
        cNs = ns
        t.span("query.exec", req) {
          df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        }
      })
      val planMs = if (t.enabled) ctx.lastScan()._3 else 0.0
      Run(q, cNs, wall, obs.get("n").asInstanceOf[Long], planMs, qSpan, cSpan)
    }

    // set-up: generate the tables twice into fresh directories (the
    // median counts), then one warm-up run of every query
    val gen = ctx.setupMedian(2) { rep =>
      dataDir = ctx.dir(s"data-$rep")
      SuiteData.write(spark, dataDir, sf, ctx.cpus)
    }
    // the warm-up runs the queries on `cpus` threads at once: it only
    // has to fill the code caches, and this keeps it short
    val (_, warmNs) = Stats.timed(Par.run(ctx.cpus)(chosen.zipWithIndex.map {
      case (q, i) => () => { one(q, -1L - i); () }
    }))

    Log("set-up done")
    ctx.startMeasure()
    val rnd = new Random(a.seed)
    val passes = Seq.newBuilder[(Long, Seq[Run])]
    val t0 = System.nanoTime()
    var pass = 0
    // passes while the next one fits in the measuring time (at least one)
    var lastNs = 0L
    while (pass == 0 || System.nanoTime() - t0 + lastNs <= a.seconds * 1000000000L) {
      val p0 = System.nanoTime()
      val runs = rnd.shuffle(chosen).zipWithIndex.flatMap { case (q, i) =>
        val run = one(q, pass * 1000L + i)
        run.foreach(x => r.check(s"$q returns its recorded row count")(
          expected.get(s"$scale\t$q").contains(x.rows)))
        run
      }
      lastNs = System.nanoTime() - p0
      passes += ((lastNs, runs))
      pass += 1
    }
    val loopNs = System.nanoTime() - t0
    val ps = passes.result()
    val all = ps.flatMap(_._2)

    val qMs = all.map(x => Stats.ms(x.wallNs))
    val passS = ps.map(_._1 / 1e9)
    r.e2e("setup_s", gen + warmNs / 1e9, "s", 2)
    // one query's latency: construction to the last row in the sink
    r.e2e("latency_ms_p50", Stats.p50(qMs), "ms", qMs.size)
    r.e2e("throughput_per_s", all.size / (loopNs / 1e9), "1/s", all.size)
    r.info("suite_s", Stats.p50(passS), "s", passS.size)
    r.info("suite.queries", chosen.size.toDouble, "count")
    r.info("query_s_p50", Stats.p50(qMs) / 1000, "s", qMs.size)
    r.info("query_s_p90", Stats.p90(qMs) / 1000, "s", qMs.size)
    r.info("suite.warmup_s", warmNs / 1e9, "s", 1)
    // each query's row count, as expected_rows.tsv records it
    all.groupBy(_.q).toSeq.sortBy(_._1).foreach { case (q, rs) =>
      r.info(s"suite.rows.$q", rs.head.rows.toDouble, "count", rs.size)
    }
    if (t.enabled) {
      ctx.drainEvents()
      def jobs(span: Long): Long = ctx.probe.span(span).map(_.jobs.get).getOrElse(0L)
      val spans = ctx.tracer.spans
      def queryJobs(x: Run): Long =
        spans.filter(s => s.id == x.spanId || s.parent == x.spanId).map(s => jobs(s.id)).sum
      def perPass(f: Run => Double): Double = all.map(f).sum / ps.size
      val construct = perPass(_.constructNs / 1e9)
      val plan = perPass(_.planMs / 1000)
      r.info("suite.construct_s", construct, "s", all.size)
      r.info("suite.plan_s", plan, "s", all.size)
      r.info("suite.exec_s", perPass(_.wallNs / 1e9) - construct - plan, "s", all.size)
      r.info("suite.construct_jobs", perPass(x => jobs(x.constructSpan).toDouble), "count", all.size)
      r.info("suite.jobs", perPass(queryJobs(_).toDouble), "count", all.size)
      all.groupBy(x => packOf(x.q)).toSeq.sortBy(_._1).foreach { case (pack, rs) =>
        val k = ps.size.toDouble
        r.info(s"suite.$pack.wall_s", rs.map(_.wallNs / 1e9).sum / k, "s", rs.size)
        r.info(s"suite.$pack.construct_s", rs.map(_.constructNs / 1e9).sum / k, "s", rs.size)
        r.info(s"suite.$pack.jobs", rs.map(queryJobs).sum / k, "count", rs.size)
      }
    }
    Layers.spark(ctx, loopNs)
  }
}
