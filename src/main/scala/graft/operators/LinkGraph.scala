package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession.table

/** Link-graph quality scoring (SURVEY.md §2.C56) — PageRank over a
  * document link graph, the classic crawl-corpus quality prior (a
  * page linked by many well-linked pages is a better training
  * document than an orphan; CommonCrawl-scale pipelines rank hosts
  * this way before sampling).
  *
  * FIXED-POINT INTEGER iteration, on purpose: ranks are bigints in
  * nano-units (initial mass 1e9 per node) and each round computes
  * r'(v) = 0.15·1e9 + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
  * in pure integer arithmetic. Integer sums are order-independent, so
  * the result is BIT-IDENTICAL across engines, partitionings and
  * retries — no FP accumulation-order drift, which matters both for
  * the oracle gate and for reproducible pipeline reruns. The div
  * floor loses < outdeg nano-units per edge per round — noise at
  * rank scale 1e9.
  *
  * Scale shape per iteration: links ⋈ outdeg (co-partitioned on src)
  * then one groupBy(tgt) — two uniform-key shuffles over the edge
  * list, the canonical Pregel step. Ranks live with the nodes; no
  * driver-side state. Dangling mass (nodes with no outlinks) is
  * dropped, the standard simplification.
  */
object LinkGraph {

  /** `iters` rounds of fixed-point PageRank over `links`
    * (src, tgt bigint pairs, pre-deduped) for every node in `nodes`
    * (node bigint). Returns (node, rank_fp) with rank_fp in
    * nano-units (teleport floor 0.15e9). */
  def pagerank(nodes: DataFrame, links: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val n = nodes.select(col("node"))
    val outd = links.groupBy(col("src")).agg(count(lit(1)).as("od"))
    // NOT ckpt'd: the identical per-round edge subtrees dedupe via
    // ReuseExchange inside the one final plan — measured at sf0.1,
    // materializing here costs more than it saves (1.13 → 1.55 s)
    val edges = links.join(outd, "src")
    var ranks = n.select(col("node"), lit(1000000000L).as("r"))
    (1 to iters).foreach { i =>
      ranks = step(n, edges, ranks)
      // truncate the join-per-round lineage so a deep run's plan (and
      // its recovery path) stays O(ckptEvery), not O(rounds) — the CC
      // loop's discipline (honors spark.graft.reliableCheckpoints)
      if (i % CkptEvery == 0 && i < iters) ranks = graft.GraftSession.ckpt(ranks)
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  private val CkptEvery = 5

  private def step(n: DataFrame, edges: DataFrame,
      ranks: DataFrame): DataFrame = {
    // Σ contributions in DECIMAL: a mega-hub's long sum wraps negative
    // past ~9e18 nano-units (reachable at CommonCrawl node counts —
    // one node may receive a constant fraction of N·1e9 total mass);
    // the DuckDB mirrors already accumulate in HUGEINT, so decimal is
    // what keeps the engines bit-identical at every scale (r9 review)
    val contrib = edges
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("tgt"), expr("r div od").as("c"))
      .groupBy(col("tgt")).agg(sum(col("c").cast("decimal(38,0)")).as("m"))
    n.join(contrib.withColumnRenamed("tgt", "node"), Seq("node"), "left")
      .select(col("node"),
        (lit(150000000L) +
          expr("(85 * coalesce(m, cast(0 as decimal(38,0)))) div 100"))
          .as("r"))
  }

  /** Iterate to CONVERGENCE instead of a fixed round count: stop when
    * the total rank movement Σ|Δr| drops to at most `tolPerNode`
    * nano-units per node (tol 0 is meaningful — integer ranks reach an
    * EXACT fixed point or a ±few-unit cycle, there is no FP noise
    * floor). One extra count-free aggregate action per round is the
    * price of the check — the standard Pregel-style stopping rule.
    * Returns (ranks, roundsRun). */
  def pagerankConverged(nodes: DataFrame, links: DataFrame,
      maxIters: Int = 50, tolPerNode: Long = 10L): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    val n = nodes.select(col("node"))
    val outd = links.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val edges = links.join(outd, "src")
    var ranks = n.select(col("node"), lit(1000000000L).as("r"))
    var rounds = 0
    var moved = Long.MaxValue
    while (rounds < maxIters && moved > 0) {
      val next = graft.GraftSession.ckpt(step(n, edges, ranks))
      val d = ranks.select(col("node"), col("r").as("r0"))
        .join(next.select(col("node"), col("r").as("r1")), "node")
        .agg(sum(abs(col("r1") - col("r0"))).as("d"),
          count(lit(1)).as("cnt"))
        .collect().head
      // empty graph: the aggregate over zero joined rows is (NULL, 0)
      // — converged by definition, not an NPE (r9 review fix)
      moved = if (d.isNullAt(0)) 0L
      else if (d.getLong(0) <= tolPerNode * d.getLong(1)) 0L
      else d.getLong(0)
      graft.GraftSession.dropCkpt(ranks) // round N-1 no longer read
      ranks = next
      rounds += 1
    }
    (ranks.select(col("node"), col("r").as("rank_fp")), rounds)
  }

  /** `iters` rounds of integer fixed-point HITS (Kleinberg 1999) over
    * `links` for every node in `nodes`: hubs point at good
    * authorities, authorities are pointed at by good hubs — the
    * complementary crawl prior to PageRank (q118) for seed-list
    * curation (good HUBS are where a crawler finds fresh quality
    * links; good AUTHORITIES are what a corpus keeps).
    *
    * Same determinism discipline as [[pagerank]]: scores are bigints
    * in nano-units; each half-round is contribution-sum then
    * renormalize to total mass ~1e9 via `v div greatest(t div 1e9, 1)`
    * — all integer, so results are BIT-IDENTICAL across engines,
    * partitionings and retries. The normalizer total is a 1-row
    * broadcast aggregate (the q83 pattern, no driver collect). Scale
    * shape per half-round: one edge⋈score join + one groupBy — two
    * uniform-key shuffles over the edge list, same as a Pregel step.
    * Returns (node, auth_fp, hub_fp). */
  def hits(nodes: DataFrame, links: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val n = nodes.select(col("node"))
    // Materialize the edge list once and truncate lineage at every
    // half-round: hub_i depends on auth_i depends on hub_{i-1}, and
    // the final auth⋈hub join carries BOTH chains — without the ckpts
    // each half-round's normalizer broadcast re-executes the whole
    // upstream (q146's md5+explode+distinct link derivation ran once
    // per nested branch, lineage-dominating the query). Scores are
    // node-sized frames, the pagerankConverged per-round discipline.
    val edges = graft.GraftSession.ckpt(links.select(col("src"), col("tgt")))
    var hub = n.select(col("node"), lit(1000000000L).as("v"))
    var auth = hub
    (1 to iters).foreach { _ =>
      // decimal contribution sums (the pagerank step rule): before the
      // FIRST normalization every score is 1e9, so raw = indeg·1e9 and
      // a ≥9.3e6-indegree authority would wrap the ×1000 in hitsNorm
      auth = hitsNorm(n,
        edges.join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("tgt"))
          .agg(sum(col("v").cast("decimal(38,0)")).as("s"))
          .withColumnRenamed("tgt", "node"))
      hub = hitsNorm(n,
        edges.join(auth.withColumnRenamed("node", "tgt"), "tgt")
          .groupBy(col("src"))
          .agg(sum(col("v").cast("decimal(38,0)")).as("s"))
          .withColumnRenamed("src", "node"))
    }
    auth.select(col("node"), col("v").as("auth_fp"))
      .join(hub.select(col("node"), col("v").as("hub_fp")), "node")
  }

  /** Spine-fill missing nodes with 0, then renormalize total mass to
    * ~1e9 nano-units in pure integer arithmetic: (raw·1000) div
    * (t div 1e6) — the two floors bound total mass within ~1e-6
    * relative (a bare `div (t div 1e9)` loses up to 25%: the divisor
    * floor is relative to t/1e9, which is single digits here).
    * greatest(…, 1) keeps the divisor nonzero on degenerate graphs —
    * both engines' mirrors state the same guard. Contribution sums and
    * raw·1000 run in DECIMAL (the IntegralDivide emits plain bigints):
    * before the first normalization raw = indeg·1e9, so long
    * arithmetic would wrap for ≥9.3e6-indegree authorities — real on
    * any web graph; the HUGEINT oracle would keep going and the
    * engines would diverge exactly at scale (r9 review fix). */
  private def hitsNorm(n: DataFrame, contrib: DataFrame): DataFrame = {
    // r14: the lineage-truncation checkpoint moves from the NORMALIZED
    // result (where hits() used to wrap it) to the spine-filled `raw`
    // frame, so the total-mass aggregate reads the already-materialized
    // checkpoint blocks instead of RE-EXECUTING the half-round's whole
    // join/groupBy subtree as the old t-broadcast did — each
    // half-round's upstream now runs exactly once. The per-round job
    // COUNT is unchanged (one materialize + one 1-row agg), but the
    // agg job is block-read-trivial, and with t resolved driver-side
    // the crossJoin(broadcast(t)) node leaves the final plan. A
    // synchronous head() (not an Observation) keeps steady-state
    // latency off the async listener bus. The divisor
    // greatest(t div 1e6, 1) is computed in exact BigInteger
    // arithmetic (t >= 0: raw sums of non-negative decimals),
    // value-identical to the old in-plan IntegralDivide.
    val filled = graft.GraftSession.ckpt(
      n.join(contrib, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("s"), lit(0).cast("decimal(38,0)")).as("raw")))
    val tRow = filled.agg(sum(col("raw")).as("t")).head()
    val t = if (tRow.isNullAt(0)) java.math.BigInteger.ZERO
      else tRow.getDecimal(0).toBigInteger
    // longValueExact mirrors the old plan's ANSI behavior: the in-plan
    // `t div 1000000` was an IntegralDivide returning BIGINT, which
    // errors past Long.MaxValue rather than wrapping
    val divisor = t.divide(java.math.BigInteger.valueOf(1000000L))
      .max(java.math.BigInteger.ONE).longValueExact()
    filled.select(col("node"),
      expr(s"(raw * 1000) div ${divisor}L").as("v"))
  }

  /** The deterministic synthetic link graph over `documents`: each doc
    * links to 3 md5-derived targets mod N (self-links dropped,
    * duplicate targets collapsed) — the test stand-in for a real
    * hyperlink extraction. */
  def documentLinks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = table(s, dir, "documents")
    val nodes = docs.select(col("doc_id").as("node"))
    // one-row broadcast N, the q83 pattern (no driver-side count)
    val n = docs.agg(count(lit(1)).as("nn"))
    val h = (i: Int) =>
      conv(substring(md5(col("text")), i * 8 + 1, 8), 16, 10).cast("long")
    val links = docs
      .select(col("doc_id"), explode(array(h(0), h(1), h(2))).as("hv"))
      .crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), (col("hv") % col("nn")).as("tgt"))
      .filter(col("src") =!= col("tgt"))
      .distinct()
    (nodes, links)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_pagerank" -> ((s, dir) => {
      val (nodes, links) = documentLinks(s, dir)
      pagerank(nodes, links, iters = 3)
        .select(col("node").as("doc_id"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("doc_id"))
        .limit(100)
    }),

    "q146_hits" -> ((s, dir) => {
      // 2 unrolled HITS rounds over the same md5 link graph as q118
      // (the oracle string-shares the links CTEs) — all-nodes output
      // so both the hub face and the authority face are gated.
      val (nodes, links) = documentLinks(s, dir)
      hits(nodes, links, iters = 2)
        .select(col("node").as("doc_id"), col("auth_fp"), col("hub_fp"))
        .orderBy(col("doc_id"))
    }),

    "q129_rank_weighted_sample" -> ((s, dir) => {
      // The composed pipeline a crawl-corpus curator actually runs:
      // q118's PageRank prior becomes the per-doc sampling weight and
      // q127's URL canonicalization defines the strata — "3 docs per
      // canonical domain, link-quality-weighted". Raw URLs arrive in
      // mixed case / with default ports (as crawls really do);
      // normalizeUrl collapses them so the quota lands per DOMAIN, not
      // per spelling. Scale shape: the rank join is doc_id-keyed
      // (uniform), normalize is scan-side codegen, and the only new
      // shuffle over q118 is q117's per-stratum top-k window.
      val d = table(s, dir, "documents")
      val (nodes, links) = documentLinks(s, dir)
      val ranks = pagerank(nodes, links, iters = 3)
        .select(col("node").as("doc_id"), col("rank_fp"))
      val raw = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://WWW."))
          .otherwise(lit("http://www.")),
        when(col("doc_id") % 4 === 0, upper(col("source")))
          .otherwise(col("source")),
        lit(".com"),
        when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
        lit("/d/"), col("doc_id").cast("string"))
      val canon = TextOps.normalizeUrl(raw)
      val domain = regexp_extract(canon, "^https?://([^/]*)", 1)
      val docs = d.select(col("doc_id"), domain.as("domain"))
        .join(ranks, "doc_id")
      Sampling.weightedSample(docs, col("domain"), col("doc_id"),
        col("rank_fp"), k = 3)
        .select(col("domain"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("rank_fp"))
        .orderBy(col("domain"), col("rk"))
    }),

    "q162_label_prop" -> ((s, dir) => {
      // Community sizes after 2 synchronous label-propagation rounds
      // over the undirected q118 graph — the cheap community prior
      // (domain clusters) next to PageRank's quality prior.
      val (nodes, links) = documentLinks(s, dir)
      labelPropagation(nodes, links, iters = 2)
        .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("label"))
    }),

    "q163_triangles" -> ((s, dir) => {
      // One-row triangle census of the same graph.
      val (_, links) = documentLinks(s, dir)
      triangleCensus(links)
    })
  )

  /** `iters` synchronous label-propagation rounds over the UNDIRECTED
    * graph: every node starts as its own label; each round a node
    * adopts its neighbors' PLURALITY label (ties → smallest label;
    * isolated nodes keep their own). The cheap community detector
    * (Raghavan et al. 2007) — over a doc link graph the communities
    * are site/domain clusters, the grouping prior next to q118's
    * quality prior.
    *
    * Determinism: the vote is (count desc, label asc) — a total
    * order, so the sync update is engine/partitioning-independent
    * (async LPA is famously order-dependent; sync + total-order ties
    * is the reproducible variant). Scale per round: one edge ⋈ labels
    * join (uniform node key) + one (node, label) count + one per-node
    * argmax window — Pregel-step cost, no driver state. */
  def labelPropagation(nodes: DataFrame, links: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // NOT ckpt'd (same ReuseExchange measurement as pagerank's edges);
    // the labels chain below gets pagerank's every-CkptEvery lineage
    // truncation so a deep run's plan stays O(CkptEvery) rounds
    val und = links.select(col("src").as("a"), col("tgt").as("b"))
      .union(links.select(col("tgt").as("a"), col("src").as("b")))
      .distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
    (1 to iters).foreach { i =>
      val votes = und
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("cnt").desc, col("label"))
      val winner = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("label").as("new_label"))
      labels = labels.join(winner, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
      if (i % CkptEvery == 0 && i < iters) labels = graft.GraftSession.ckpt(labels)
    }
    labels
  }

  /** One-row triangle census of the undirected graph: triangle count,
    * wedge (open-triad) count, and the global clustering coefficient
    * 3T/wedges. Edges are ORIENTED by (degree, node) before the
    * two-hop join — the classic arboricity bound (Chiba–Nishizeki /
    * Suri–Vassilvitskii): every join bucket fans out by a node's
    * LOWER-degree endpoints only, so skew from hub nodes can't
    * quadratically explode the candidate wedges. All integers ⇒
    * exact parity. */
  def triangleCensus(links: DataFrame): DataFrame = {
    val und = links.select(col("src").as("a"), col("tgt").as("b"))
      .union(links.select(col("tgt").as("a"), col("src").as("b")))
      .distinct()
    val deg = und.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a"), col("b"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.b") === col("e2.a"))
      .join(oriented.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
  }

  /** The md5-derived document link graph as CTEs — string-shared by
    * every graph oracle (q118/q129 PageRank, q146 HITS) so all mirrors
    * provably walk the SAME graph. */
  private val linkCtes =
    """n AS (SELECT COUNT(*) AS nn FROM documents),
      |raw AS (
      |  SELECT doc_id,
      |    UNNEST([('0x'||substr(md5(text),1,8))::BIGINT,
      |            ('0x'||substr(md5(text),9,8))::BIGINT,
      |            ('0x'||substr(md5(text),17,8))::BIGINT]) AS h
      |  FROM documents),
      |links AS (
      |  SELECT DISTINCT r.doc_id AS src, r.h % n.nn AS tgt
      |  FROM raw r CROSS JOIN n WHERE r.doc_id <> r.h % n.nn)""".stripMargin

  /** The q118 fixed-point rounds as shared CTEs (3 iterations over the
    * md5-derived document link graph) — string-shared so q129's mirror
    * provably scores the SAME ranks q118 gates. */
  private val pagerankCtes =
    "WITH " + linkCtes + ",\n" +
    """outd AS (SELECT src, COUNT(*) AS od FROM links GROUP BY 1),
      |r1 AS (
      |  SELECT d.doc_id,
      |    150000000 + (85 * COALESCE(SUM(1000000000 // o.od), 0)) // 100 AS r
      |  FROM documents d
      |  LEFT JOIN links l ON l.tgt = d.doc_id
      |  LEFT JOIN outd o ON o.src = l.src
      |  GROUP BY d.doc_id),
      |r2 AS (
      |  SELECT d.doc_id,
      |    150000000 + (85 * COALESCE(SUM(pr.r // o.od), 0)) // 100 AS r
      |  FROM documents d
      |  LEFT JOIN links l ON l.tgt = d.doc_id
      |  LEFT JOIN outd o ON o.src = l.src
      |  LEFT JOIN r1 pr ON pr.doc_id = l.src
      |  GROUP BY d.doc_id),
      |r3 AS (
      |  SELECT d.doc_id,
      |    150000000 + (85 * COALESCE(SUM(pr.r // o.od), 0)) // 100 AS r
      |  FROM documents d
      |  LEFT JOIN links l ON l.tgt = d.doc_id
      |  LEFT JOIN outd o ON o.src = l.src
      |  LEFT JOIN r2 pr ON pr.doc_id = l.src
      |  GROUP BY d.doc_id)""".stripMargin

  /** One unrolled HITS half-round: sum `prev` scores over `edgeKey`
    * in-edges (tgt for the auth face, src for the hub face), spine-
    * fill, renormalize — the verbatim SQL image of [[hitsNorm]]. */
  private def hitsRound(out: String, prev: String, face: String): String = {
    val (matchCol, joinCol) = if (face == "auth") ("tgt", "src") else ("src", "tgt")
    s"""${out}f AS (
       |  SELECT d.doc_id AS node, COALESCE(SUM(p.v), 0) AS raw
       |  FROM documents d
       |  LEFT JOIN links l ON l.$matchCol = d.doc_id
       |  LEFT JOIN $prev p ON p.node = l.$joinCol
       |  GROUP BY 1),
       |${out}t AS (SELECT SUM(raw) AS t FROM ${out}f),
       |$out AS (
       |  SELECT node,
       |    CAST((raw * 1000) // GREATEST(t // 1000000, 1) AS BIGINT) AS v
       |  FROM ${out}f CROSS JOIN ${out}t)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q146_hits" ->
      ("WITH " + linkCtes + ",\n" +
        "h0 AS (SELECT doc_id AS node, CAST(1000000000 AS BIGINT) AS v FROM documents),\n" +
        hitsRound("a1", "h0", "auth") + ",\n" +
        hitsRound("h1", "a1", "hub") + ",\n" +
        hitsRound("a2", "h1", "auth") + ",\n" +
        hitsRound("h2", "a2", "hub") + "\n" +
        """SELECT a2.node AS doc_id, a2.v AS auth_fp, h2.v AS hub_fp
          |FROM a2 JOIN h2 ON a2.node = h2.node ORDER BY doc_id""".stripMargin),

    "q118_pagerank" ->
      s"""$pagerankCtes
        |SELECT doc_id, CAST(r AS BIGINT) AS rank_fp FROM r3
        |ORDER BY rank_fp DESC, doc_id LIMIT 100""".stripMargin,

    // The raw-URL variants differ only in scheme/host case and a
    // default :80 port, so RFC 3986 syntax normalization provably
    // lands every doc_id on host www.<source>.com — the mirror states
    // that closed form instead of re-deriving the normalizer.
    "q129_rank_weighted_sample" ->
      s"""$pagerankCtes,
        |docs AS (
        |  SELECT d.doc_id, 'www.' || d.source || '.com' AS domain,
        |    CAST(r3.r AS BIGINT) AS rank_fp
        |  FROM documents d JOIN r3 ON r3.doc_id = d.doc_id),
        |keyed AS (
        |  SELECT domain, doc_id, rank_fp,
        |    LN((('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |        + 1.0) / 4294967297.0) / rank_fp AS k
        |  FROM docs),
        |ranked AS (
        |  SELECT domain, doc_id, rank_fp,
        |    ROW_NUMBER() OVER (PARTITION BY domain
        |      ORDER BY k DESC, doc_id) AS rk
        |  FROM keyed)
        |SELECT domain, CAST(rk AS BIGINT) AS rk, doc_id, rank_fp
        |FROM ranked WHERE rk <= 3 ORDER BY domain, rk""".stripMargin,

    // Two unrolled sync LPA rounds over the SAME links CTEs; the vote
    // window mirrors the (cnt desc, label asc) total order verbatim.
    "q162_label_prop" ->
      ("WITH " + linkCtes + ",\n" +
        """und AS (
          |  SELECT src AS a, tgt AS b FROM links
          |  UNION SELECT tgt, src FROM links),
          |l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
          |v1 AS (
          |  SELECT u.a, l.label, COUNT(*) AS cnt
          |  FROM und u JOIN l0 l ON l.node = u.b GROUP BY 1, 2),
          |w1 AS (
          |  SELECT a, label, ROW_NUMBER() OVER (PARTITION BY a
          |    ORDER BY cnt DESC, label) AS rn FROM v1),
          |l1 AS (
          |  SELECT n.node, COALESCE(w.label, n.label) AS label
          |  FROM l0 n LEFT JOIN (SELECT a, label FROM w1 WHERE rn = 1) w
          |    ON w.a = n.node),
          |v2 AS (
          |  SELECT u.a, l.label, COUNT(*) AS cnt
          |  FROM und u JOIN l1 l ON l.node = u.b GROUP BY 1, 2),
          |w2 AS (
          |  SELECT a, label, ROW_NUMBER() OVER (PARTITION BY a
          |    ORDER BY cnt DESC, label) AS rn FROM v2),
          |l2 AS (
          |  SELECT n.node, COALESCE(w.label, n.label) AS label
          |  FROM l1 n LEFT JOIN (SELECT a, label FROM w2 WHERE rn = 1) w
          |    ON w.a = n.node)
          |SELECT label, COUNT(*) AS n_members FROM l2
          |GROUP BY 1 ORDER BY n_members DESC, label""".stripMargin),

    "q163_triangles" ->
      ("WITH " + linkCtes + ",\n" +
        """und AS (
          |  SELECT src AS a, tgt AS b FROM links
          |  UNION SELECT tgt, src FROM links),
          |deg AS (SELECT a AS v, COUNT(*) AS d FROM und GROUP BY 1),
          |o AS (
          |  SELECT u.a, u.b FROM und u
          |  JOIN deg x ON x.v = u.a JOIN deg y ON y.v = u.b
          |  WHERE x.d < y.d OR (x.d = y.d AND u.a < u.b)),
          |tri AS (
          |  SELECT COUNT(*) AS n_triangles
          |  FROM o e1 JOIN o e2 ON e1.b = e2.a
          |  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
          |w AS (
          |  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
          |  FROM deg)
          |SELECT n_triangles, n_wedges,
          |  ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
          |FROM tri CROSS JOIN w""".stripMargin)
  )
}
