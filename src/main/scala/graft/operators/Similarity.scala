package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.{ckpt, eventsTable, table}

/** Pack C (similarity) — ANN over the embeddings table
  * (SURVEY.md §2.C6-C7).
  *
  * q35 is the correctness baseline: brute-force cosine top-k via the
  * native codegen'd `cosine_sim` Catalyst expression (the query vector
  * broadcast; one fused scan, no shuffle before the top-k).
  *
  * q36 is the scale path: IVF-style cell search — centroids are a tiny
  * broadcast table, the query probes the 2 nearest cells and scans only
  * those cells' vectors. On 100 TB of embeddings this turns a full-scan
  * kNN into a centroid lookup + a pruned partition scan (cells stored
  * partition-aligned).
  */
object Similarity {

  import graft.functions.GraftFunctions.cosine_sim

  // name-based convenience over the shared Column helper — all cosine
  // call sites route through GraftFunctions.cosine_sim so a function-
  // name typo is a compile error, not a runtime lookup failure
  private def cosine(a: String, b: String) = cosine_sim(col(a), col(b))

  /** Brute-force cosine top-k of a (vec_id, label, embedding) frame
    * against a query vector. Public df-level API (the q35 operator,
    * reusable on any corpus): broadcast query, fused codegen scan,
    * TakeOrdered — no shuffle. */
  def cosineTopK(emb: DataFrame, query: Seq[Float], k: Int): DataFrame =
    emb
      .withColumn("cos", cosine_sim(col("embedding"), typedlit(query)))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** RHP-LSH sign-sketch assignment (the q54 operator) for any
    * (vec_id, embedding) frame: `planes` sign bits packed in a long.
    * Scan-side folds over literal plane vectors — zero shuffle. */
  def rhpBuckets(emb: DataFrame, planes: Int = RHP_PLANES): DataFrame =
    // r14 (guide §4.1): the whole packed sign sketch comes from ONE
    // native fused loop per row (rhp_bucket — bit-identical fold
    // order, coefficients and round(…, 6) sign rule; the declarative
    // twin below stays as the equality-spec baseline). coalesce
    // restores the declarative chain's bucket-0 for a NULL embedding
    // (every when() falls to otherwise(0) there, while a native binary
    // expression is null-propagating).
    emb.withColumn("bucket",
      coalesce(call_function("rhp_bucket", col("embedding"), lit(planes)),
        lit(0L)))

  /** The declarative twin of [[rhpBuckets]] (per-plane zip_with/fold
    * chain) — kept as the spec baseline proving the native rhp_dots
    * path bit-equal (the simhash/simhashFast precedent). */
  private[graft] def rhpBucketsDeclarative(emb: DataFrame,
      planes: Int = RHP_PLANES): DataFrame = {
    val bitCols = (0 until planes).map { p =>
      val plane = array((0 until RHP_DIMS).map(d => lit(rhpCoef(p, d))): _*)
      val dot = aggregate(
        zip_with(col("embedding"), plane, (x, c) => x.cast("double") * c),
        lit(0.0), (acc, v) => acc + v)
      when(round(dot, 6) >= 0.0, 1L << p).otherwise(0L)
    }
    emb.withColumn("bucket", bitCols.reduce(_ + _))
  }

  /** LSH band-blocking keys for near-dup search: a `planes`-bit RHP
    * sketch split into `bands` equal bit-blocks; output one
    * (vec_id, band, bv) row per band. Two vectors are candidates iff
    * they agree on ALL bits of at least one band — the classic
    * banding trade: P(candidate) = 1-(1-s^r)^b for per-plane sign
    * agreement s and r = planes/bands bits per band. With 32 planes in
    * 4×8-bit bands, true near-dups (cos >= 0.9, s ~ 0.86) collide with
    * p ~ 0.9 while random isotropic pairs (s ~ 0.5) collide with
    * p ~ 4/256 — candidates are ~n²/64, not n². */
  def rhpBandBlocks(emb: DataFrame, planes: Int = 32, bands: Int = 4): DataFrame = {
    val bits = planes / bands
    val mask = (1L << bits) - 1
    rhpBuckets(emb, planes).select(col("vec_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("bucket"), bits * b).bitwiseAND(mask).as("bv"))): _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** Band-blocked candidate pairs (vec_a < vec_b), deduped across
    * bands, with hot band keys dropped whole before the self-join
    * ([[Blocking]]'s rule, DROP action). RHP sign bits are NOT uniform
    * in general — they are content-derived exactly like simhash bits
    * (the q50 lesson), so clustered or mean-shifted embedding corpora
    * pile into few band values (a shared diurnal shape, a dominant
    * topic cluster). On an isotropic corpus the cap is a no-op (sf0.1:
    * hottest raw key 1.3%); on a clustered one it bounds every join
    * bucket instead of letting one hot key go quadratic. */
  def rhpCandidatePairs(emb: DataFrame, planes: Int = 32,
      bands: Int = 4): DataFrame = {
    // ckpt: the RHP sketch (scan-side plane folds, or a whole
    // aggregation pipeline when emb is computed — q92) feeds three
    // consumers: keyCounts and both sides of the pair self-join
    val bb = ckpt(rhpBandBlocks(emb, planes, bands))
    val ok = Blocking.stopCapped(bb, Seq("band", "bv"), fanout = bands)
    ok.as("a").join(ok.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_cosine_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos", round(cosine("embedding", "qv"), 6))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("cos"))
    }),

    "q36_knn_bucketed" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      // centroid per label cell: mean of each dim (rounded so the
      // parallel-sum noise can't leak across engines)
      val ex = emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      val cent = ex.groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      val qx = emb.filter(col("vec_id") === 0)
        .select(posexplode(col("embedding")).as(Seq("pos", "qv")))
        .withColumn("qv", col("qv").cast("double"))
      // probe = 2 cells whose centroids are nearest the query
      // try_divide: a cell whose only member is a zero vector has a
      // zero centroid — DuckDB's /0 yields NULL (sorts last under
      // DESC in both engines); ANSI Spark would abort (tiny-corpus
      // fuzz find)
      val probes = cent.join(broadcast(qx), Seq("pos"))
        .groupBy(col("label"))
        .agg(round(try_divide(sum(col("cv") * col("qv")),
          sqrt(sum(col("cv") * col("cv"))) * sqrt(sum(col("qv") * col("qv")))), 6)
          .as("ccos"))
        .orderBy(col("ccos").desc, col("label"))
        .limit(2)
        .select(col("label"))
      // search only within the probed cells
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      emb.join(broadcast(probes), Seq("label"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", round(cosine("embedding", "qvec"), 6))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"), col("label"), col("cos"))
    })
  )

  // Random-hyperplane LSH: 16 deterministic planes over 64 dims, each
  // coefficient derived from the portable md5 hash of "plane:dim" so
  // Spark (Scala-side literals) and DuckDB (SQL md5) build identical
  // planes. coef in [-1, 1).
  private val RHP_PLANES = 16
  private val RHP_DIMS = 64
  // the one md5-seeded plane derivation, shared with the native
  // rhp_dots expression (r14) so the twins cannot drift
  private def rhpCoef(p: Int, d: Int): Double =
    graft.functions.RhpDots.coef(p, d)

  /** SAX motif buckets over per-user activity series (Lin et al. 2003
    * / the iSAX indexing route — the SYMBOLIC half of the time-series
    * -similarity story next to q92's RHP-cosine): each user's 30-day
    * event-count series is PAA'd into six 5-day segments,
    * z-normalized, and symbolized over a 4-letter alphabet at the
    * standard N(0,1) breakpoints; identical SAX words = a motif
    * bucket (users with the same activity SHAPE regardless of
    * volume). Exactness: segment counts are integers, mean/var
    * assemble in double from exact Σc/Σc², and z-normalizing raw
    * counts equals z-normalizing PAA means (affine invariance) so the
    * /5 division — inexact in binary — never happens. Scale: one
    * map-side-combined (user, seg) count, a 6-row-per-user spine
    * fill, one word agg — the word table is ≤ 4^6 rows however large
    * the log. */
  def saxMotifs(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val daily = events
      .select(col("user_id"),
        expr("datediff(to_date(ts), date'2024-01-01')").as("d"))
      .filter(col("d").between(0, 29))
      .groupBy(col("user_id"), expr("d div 5").as("seg"))
      .agg(count(lit(1)).as("c"))
    val users = events.select(col("user_id")).distinct()
    val spine = users.crossJoin(broadcast(
      spark.range(6).select(col("id").as("seg"))))
    val filled = spine.join(daily, Seq("user_id", "seg"), "left")
      .na.fill(0L, Seq("c"))
    val stats = filled.groupBy(col("user_id"))
      .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"))
      .withColumn("mean", col("sc").cast("double") / 6.0)
      .withColumn("sd", sqrt(col("sc2").cast("double") / 6.0 -
        col("mean") * col("mean")))
    val sym = filled.join(stats, Seq("user_id"))
      // ANSI mode: the division must be guarded, not just the symbol
      .withColumn("z", when(col("sd") > 0,
        (col("c").cast("double") - col("mean")) / col("sd")).otherwise(0.0))
      .withColumn("sym",
        when(col("sd") <= 0, "b")
          .when(col("z") < -0.6745, "a").when(col("z") < 0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d"))
    sym.groupBy(col("user_id"))
      .agg(array_join(
        array_sort(collect_list(struct(col("seg"), col("sym"))))
          .getField("sym"), "").as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_users"), min(col("user_id")).as("sample_user"))
  }

  /** Per-user 24-hour activity profile as a mean-centered 64-dim vector
    * (hours 24-63 zero-padded to the RHP plane width). Hourly sums are
    * decimal-exact and every entry rounds at 6 dp, so the vectors are
    * bit-identical cross-engine before any similarity math. */
  private[graft] def behaviorSeries(s: SparkSession, dir: String): DataFrame = {
    // r15 (guide §2.4 — share one exchange): ONE groupBy(user_id) with
    // 24 conditional decimal sums replaces the old two-phase plan
    // (groupBy(user_id, h) hourly agg → second exchange → 24-column
    // max-when pivot). Each hourly value is the same exact
    // decimal(18,2) sum cast to double that dsum produced (decimal
    // addition is order-independent, so fusing cannot perturb it); a
    // missing hour is a NULL sum exactly like the old missing pivot
    // cell. `tot` adds the 24 DECIMAL hourly sums (absent hours add an
    // exact 0) and casts to double once, so it is exact by
    // construction, not by the data's luck with double rounding.
    val hd = (0 until 24).map(d =>
      sum(when(hour(col("ts")) === d, graft.GraftSession.dec(col("value"))))
        .as(s"h$d"))
    val wide = graft.GraftSession.eventsTable(s, dir)
      .groupBy(col("user_id")).agg(hd.head, hd.tail: _*)
    val tot = (0 until 24).map(d => coalesce(col(s"h$d"), lit(0)))
      .reduce(_ + _).cast("double")
    wide.select(col("user_id").as("vec_id"),
      array((0 until 64).map(d =>
        if (d < 24)
          round(coalesce(col(s"h$d").cast("double"), lit(0.0)) - tot / 24.0, 6)
        else lit(0.0).cast("double")): _*).as("embedding"))
  }

  /** (vec_id, cl, cos) cluster assignments after two exact Lloyd
    * iterations (q135/q141): seed = the `k` lowest vec_ids, metric =
    * cosine, argmax tie-broken on cluster id, centroid update = per-dim
    * mean rounded at 6 (cross-engine determinism). Scale shape:
    * centroids are a k×dim KB table BROADCAST to the by-dim join —
    * per iteration one corpus scan, uniform (vec_id, cl) re-agg keys,
    * k×dim map-side-combined centroid update; no driver state grows
    * with the corpus. */
  def kmeansAssignments(emb: DataFrame, k: Int = 8): DataFrame = {
    val ex = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val c0 = ex.filter(col("vec_id") < k)
      .select(col("vec_id").as("cl"), col("pos"), col("v").as("cv"))
    def assign(cent: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cl"))
      ex.join(broadcast(cent), Seq("pos"))
        .groupBy(col("vec_id"), col("cl"))
        // try_divide: a zero-norm vector (or centroid) gets cos NULL
        // (DuckDB x/0), sorting after every real score in BOTH engines
        // (cos DESC is nulls-last on each side) — not an ANSI crash.
        .agg(round(try_divide(sum(col("v") * col("cv")),
          sqrt(sum(col("v") * col("v"))) *
            sqrt(sum(col("cv") * col("cv")))), 6).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cl"), col("cos"))
    }
    val a1 = assign(c0)
    val c1 = ex.join(a1.select(col("vec_id"), col("cl")), Seq("vec_id"))
      .groupBy(col("cl"), col("pos"))
      .agg(round(avg(col("v")), 6).as("cv"))
    assign(c1)
  }

  /** SemDeDup (q141, Abbas et al. 2023): semantic dedup with the pair
    * search BLOCKED BY CLUSTER — a vector is dropped iff some
    * lower-id member of its own cluster is cosine-similar above
    * `threshold`. The published recipe for embedding dedup at corpus
    * scale: k-means first, then pairwise similarity only WITHIN
    * clusters, so pair volume is Σ|cluster|² not n² — and k is the
    * knob that bounds every join block (at 100 TB you raise k until
    * clusters fit the pair budget; the cluster id is a uniform join
    * key). Returns per-cluster members/dropped/drop-rate. */
  def semDedup(emb: DataFrame, k: Int = 8,
      threshold: Double = 0.3): DataFrame = {
    val a2 = graft.GraftSession.ckpt(
      kmeansAssignments(emb, k).select(col("vec_id"), col("cl")))
    val mem = a2.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val dropped = mem.as("a").join(mem.as("b"),
        col("a.cl") === col("b.cl") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        cosine_sim(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("cos") >= threshold)
      .select(col("b.cl").as("cl"), col("b.vec_id").as("vec_id"))
      .distinct()
      .groupBy(col("cl")).agg(count(lit(1)).as("n_dropped"))
    a2.groupBy(col("cl")).agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cl"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .withColumn("drop_rate", round(
        col("n_dropped").cast("double") / col("n_members"), 6))
  }

  val queries2: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_semdedup" -> ((s, dir) =>
      semDedup(table(s, dir, "embeddings")).orderBy(col("cl"))),

    "q174_sax_motifs" -> ((s, dir) =>
      saxMotifs(eventsTable(s, dir))
        .orderBy(col("n_users").desc, col("word"))),

    "q92_behavior_similarity" -> ((s, dir) => {
      // Time-series similarity search over user behavior (the EDBT'19
      // streaming-similarity shape, Spark-first): each user's
      // mean-centered hourly activity profile is a vector, candidate
      // pairs come from the SAME stop-capped 4x8-bit RHP band blocking
      // as q53 — never a quadratic user-user self-join, and behavior
      // profiles share diurnal shape, which is exactly the correlated-
      // sign-bit skew the cap bounds — and only colliding pairs are
      // scored by the codegen'd cosine.
      // ckpt: the profile pipeline (events scan → hourly agg → 24-col
      // pivot) has THREE consumers — the band blocking plus both pair-
      // enrichment joins; rhpCandidatePairs' internal ckpt covers only
      // its derived band rows, so without this the whole aggregation
      // re-ran twice more (r9 review fix)
      val series = ckpt(behaviorSeries(s, dir))
      rhpCandidatePairs(series)
        .join(series.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea")), Seq("vec_a"))
        .join(series.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb")), Seq("vec_b"))
        .withColumn("cos", round(cosine_sim(col("ea"), col("eb")), 6))
        .filter(col("cos") >= 0.3)
        .select(col("vec_a").as("user_a"), col("vec_b").as("user_b"),
          col("cos"))
        .orderBy(col("user_a"), col("user_b"))
    }),
    "q54_rhp_lsh_buckets" -> ((s, dir) => {
      // LSH-bucketed similarity scale path: 16-bit sign sketch of each
      // embedding (scan-side folds over literal plane vectors — zero
      // shuffle), bucket = packed sign bits. Near-neighbors collide;
      // a 100 TB ANN sweep joins within buckets instead of all-pairs.
      // round(6) before the sign so engine-side 1e-16 noise can't flip
      // a boundary bit.
      rhpBuckets(table(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), col("bucket"))
        .orderBy(col("vec_id"))
    }),
    "q53_embedding_near_dup" -> ((s, dir) => {
      // Embedding-cosine near-duplicate pairs, LSH-band-blocked:
      // candidates come from 4×8-bit bands of a 32-plane RHP sketch
      // (NOT from a low-cardinality attribute key), stop-capped at
      // n/20 per key (r9 — sign bits are content-derived, so a
      // clustered corpus skews them; cap mirrored in the oracle),
      // then only the colliding pairs are scored by the native
      // codegen'd cosine. Threshold 0.3 because this synthetic corpus is
      // isotropic (pair cosines top out ~0.5); a real near-dup sweep
      // sits at ~0.95, where band recall is ~0.9.
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      rhpCandidatePairs(emb)
        .join(emb.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea")), Seq("vec_a"))
        .join(emb.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb")), Seq("vec_b"))
        .withColumn("cos", round(cosine_sim(col("ea"), col("eb")), 6))
        .filter(col("cos") >= 0.3)
        .select(col("vec_a"), col("vec_b"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    "q135_kmeans_iter" -> ((s, dir) => {
      // Distributed k-means over the embedding corpus — two exact
      // Lloyd iterations (see kmeansAssignments), reporting
      // per-cluster size and mean similarity after the second
      // assignment. This is the gated-parity face of the IVF trainer
      // (IvfIndex uses MLlib k-means; this proves the Lloyd step
      // itself cross-engine).
      kmeansAssignments(table(s, dir, "embeddings"))
        .groupBy(col("cl"))
        .agg(count(lit(1)).as("n"), round(avg(col("cos")), 6).as("avg_cos"))
        .orderBy(col("cl"))
    }),

    "q70_embedding_quantize" -> ((s, dir) => {
      // Int8 scalar quantization: per-vector absmax scale, code =
      // floor(x*127/scale + 0.5). Codes and their stats are pure
      // scan-side higher-order folds — zero shuffle, and at 100 TB
      // quantization is exactly this: a map that shrinks the vector
      // column 4x before it ever moves. Integer code stats are exact
      // cross-engine; the FP reconstruction error rounds to 6.
      table(s, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("amax", expr(
          "aggregate(emb, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"))
        // all-zero vector guard: scale 1 quantizes zeros to zeros
        .withColumn("sc",
          when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax")))
        .withColumn("n_dims", size(col("emb")).cast("long"))
        .withColumn("sum_abs_code", expr(
          "aggregate(emb, cast(0 as bigint), (a, x) -> a + abs(cast(floor(x * 127.0 / sc + 0.5) as bigint)))"))
        .withColumn("max_abs_code", expr(
          "aggregate(emb, cast(0 as bigint), (a, x) -> greatest(a, abs(cast(floor(x * 127.0 / sc + 0.5) as bigint))))"))
        .withColumn("recon_err", round(expr(
          "aggregate(emb, cast(0.0 as double), (a, x) -> a + abs(x - floor(x * 127.0 / sc + 0.5) * sc / 127.0))"), 6))
        .select(col("vec_id"), col("label"), col("n_dims"),
          round(col("amax"), 6).as("amax"),
          col("sum_abs_code"), col("max_abs_code"), col("recon_err"))
        .orderBy(col("vec_id"))
    }),

    "q51_embedding_stats" -> ((s, dir) => {
      // Per-cell embedding geometry: vector norms computed scan-side
      // (higher-order fold, no shuffle), one agg shuffle for the stats.
      table(s, dir, "embeddings")
        .withColumn("norm", sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("norm")), 6).as("avg_norm"),
          round(min(col("norm")), 6).as("min_norm"),
          round(max(col("norm")), 6).as("max_norm"))
        .orderBy(col("label"))
    }),

    "q78_embedding_pool" -> ((s, dir) => {
      // Feature pooling (the extract-then-pool step of a multimodal /
      // chunked-document pipeline): mean-pool every 10 consecutive
      // chunk embeddings into one 64-dim parent feature — see
      // meanPoolChunks for the plan shape. The gated output serializes
      // the vector as comma-joined micro-units (round(v*1e6) as long):
      // the driver's oracle harness can't hash array cells, and
      // double→string rendering differs across engines (Spark "6.1E-5"
      // vs DuckDB "6.1e-05") — integer strings are identical.
      meanPoolChunks(table(s, dir, "embeddings"), 10)
        .select(col("parent_id"), col("n_chunks"),
          array_join(
            transform(col("pooled"),
              x => round(x * 1e6).cast("long").cast("string")),
            ",").as("pooled"))
        .orderBy(col("parent_id"))
    })
  )

  /** Mean-pool consecutive `groupSize` chunk embeddings into one
    * parent vector (array<double> `pooled`, plus `n_chunks`).
    * Columnar shape: RHP_DIMS position-wise avg aggregates with
    * scan-side partials and ONE shuffle on the parent key — never an
    * explode of the vector column (that would fan the corpus ×dims
    * through the shuffle). round(6): small double avgs are order-noisy
    * at 1e-15, far below the rounding.
    */
  def meanPoolChunks(embeddings: DataFrame, groupSize: Int): DataFrame = {
    val avgs = (0 until RHP_DIMS).map(i =>
      round(avg(col("embedding")(i).cast("double")), 6))
    embeddings
      .groupBy(expr(s"vec_id div $groupSize").as("parent_id"))
      .agg(count(lit(1)).as("n_chunks"), array(avgs: _*).as("pooled"))
  }

  // q92's oracle rebuilds the behavior vectors (24 entries; the Spark
  // side's 40 zero-pad dims add nothing to dots or norms) and then
  // mirrors the exact q53 RHP pipeline over them.
  private val behaviorSeriesSql: String = {
    val hcols = (0 until 24)
      .map(d => s"MAX(CASE WHEN h = $d THEN CAST(ds AS DOUBLE) END) AS h$d")
      .mkString(", ")
    val entries = (0 until 24)
      .map(d => s"ROUND(COALESCE(h$d, 0.0) - tot / 24.0, 6)").mkString(", ")
    s"""SELECT user_id AS vec_id, [$entries] AS embedding
       |FROM (
       |  SELECT user_id, CAST(SUM(ds) AS DOUBLE) AS tot, $hcols
       |  FROM (
       |    SELECT user_id, EXTRACT(hour FROM ts) AS h,
       |      SUM(CAST(value AS DECIMAL(18,2))) AS ds
       |    FROM events GROUP BY 1, 2)
       |  GROUP BY user_id)""".stripMargin
  }

  /** The two-Lloyd-iteration CTE chain (ex … a2) shared by the q135
    * gate and q141's SemDeDup oracle — string-shared so the dedup's
    * clusters are provably the gated assignments. */
  private val kmeansChainSql =
    """ex AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cl, pos, v AS cv FROM ex WHERE vec_id < 8),
      |s1 AS (
      |  SELECT e.vec_id, c.cl,
      |    ROUND(SUM(e.v * c.cv) / (SQRT(SUM(e.v * e.v))
      |      * SQRT(SUM(c.cv * c.cv))), 6) AS cos
      |  FROM ex e JOIN c0 c USING (pos) GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cl, cos FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cl) AS rn FROM s1)
      |  WHERE rn = 1),
      |c1 AS (
      |  SELECT a.cl, e.pos, ROUND(AVG(e.v), 6) AS cv
      |  FROM ex e JOIN a1 a ON e.vec_id = a.vec_id GROUP BY 1, 2),
      |s2 AS (
      |  SELECT e.vec_id, c.cl,
      |    ROUND(SUM(e.v * c.cv) / (SQRT(SUM(e.v * e.v))
      |      * SQRT(SUM(c.cv * c.cv))), 6) AS cos
      |  FROM ex e JOIN c1 c USING (pos) GROUP BY 1, 2),
      |a2 AS (
      |  SELECT vec_id, cl, cos FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cl) AS rn FROM s2)
      |  WHERE rn = 1)""".stripMargin

  /** q141's oracle, shared verbatim with the q143 dedup-impact report
    * (the report's semantic row provably sums the gated per-cluster
    * drops). */
  private[operators] val semDedupSql =
    s"""WITH $kmeansChainSql,
      |mem AS (SELECT vec_id, cl FROM a2),
      |pc AS (
      |  SELECT cl, vec_id, cos FROM (
      |    SELECT x.cl AS cl, y.vec_id AS vec_id,
      |      ROUND(SUM(ea.v * eb.v) / (SQRT(SUM(ea.v * ea.v))
      |        * SQRT(SUM(eb.v * eb.v))), 6) AS cos
      |    FROM mem x JOIN mem y ON x.cl = y.cl AND x.vec_id < y.vec_id
      |    JOIN ex ea ON ea.vec_id = x.vec_id
      |    JOIN ex eb ON eb.vec_id = y.vec_id AND eb.pos = ea.pos
      |    GROUP BY x.cl, x.vec_id, y.vec_id)
      |  WHERE cos >= 0.3),
      |drp AS (
      |  SELECT cl, COUNT(*) AS n_dropped FROM (
      |    SELECT DISTINCT cl, vec_id FROM pc)
      |  GROUP BY cl),
      |memc AS (SELECT cl, COUNT(*) AS n_members FROM a2 GROUP BY cl)
      |SELECT m.cl, m.n_members,
      |  CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
      |  ROUND(COALESCE(d.n_dropped, 0) * 1.0 / m.n_members, 6)
      |    AS drop_rate
      |FROM memc m LEFT JOIN drp d USING (cl) ORDER BY cl""".stripMargin

  val oracle2: Map[String, String] = Map(
    "q135_kmeans_iter" ->
      s"""WITH $kmeansChainSql
        |SELECT cl, COUNT(*) AS n, ROUND(AVG(cos), 6) AS avg_cos
        |FROM a2 GROUP BY cl ORDER BY cl""".stripMargin,

    "q141_semdedup" -> semDedupSql,

    // z over raw segment counts == z over PAA means (affine
    // invariance), so both engines symbolize identical doubles.
    "q174_sax_motifs" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) // 5
        |      AS seg,
        |    COUNT(*) AS c
        |  FROM events
        |  WHERE DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    BETWEEN 0 AND 29
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT u.user_id, r.range AS seg
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN range(6) r),
        |filled AS (
        |  SELECT s.user_id, s.seg, COALESCE(d.c, 0) AS c
        |  FROM spine s LEFT JOIN daily d
        |    ON d.user_id = s.user_id AND d.seg = s.seg),
        |stats AS (
        |  SELECT user_id,
        |    CAST(SUM(c) AS DOUBLE) / 6.0 AS mean,
        |    SQRT(CAST(SUM(c * c) AS DOUBLE) / 6.0
        |      - (CAST(SUM(c) AS DOUBLE) / 6.0)
        |        * (CAST(SUM(c) AS DOUBLE) / 6.0)) AS sd
        |  FROM filled GROUP BY user_id),
        |sym AS (
        |  SELECT f.user_id, f.seg,
        |    CASE
        |      WHEN s.sd <= 0 THEN 'b'
        |      WHEN (f.c - s.mean) / s.sd < -0.6745 THEN 'a'
        |      WHEN (f.c - s.mean) / s.sd < 0 THEN 'b'
        |      WHEN (f.c - s.mean) / s.sd < 0.6745 THEN 'c'
        |      ELSE 'd' END AS sym
        |  FROM filled f JOIN stats s USING (user_id)),
        |words AS (
        |  SELECT user_id, string_agg(sym, '' ORDER BY seg) AS word
        |  FROM sym GROUP BY user_id)
        |SELECT word, COUNT(*) AS n_users, MIN(user_id) AS sample_user
        |FROM words GROUP BY word
        |ORDER BY n_users DESC, word""".stripMargin,

    "q92_behavior_similarity" ->
      s"""WITH series AS ($behaviorSeriesSql),
        |planes AS (
        |  SELECT pp.p, dd.d,
        |    ('0x'||substr(md5(pp.p||':'||dd.d),1,8))::BIGINT / 2147483648.0 - 1.0 AS coef
        |  FROM (SELECT UNNEST(generate_series(0,31)) AS p) pp,
        |       (SELECT UNNEST(generate_series(0,63)) AS d) dd),
        |ex AS (
        |  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS d
        |  FROM series),
        |dots AS (
        |  SELECT ex.vec_id, pl.p, SUM(ex.v * pl.coef) AS dot
        |  FROM ex JOIN planes pl ON ex.d = pl.d GROUP BY 1, 2),
        |sk AS (
        |  SELECT vec_id, CAST(SUM(CASE WHEN ROUND(dot, 6) >= 0.0
        |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY 1),
        |bands AS (
        |  SELECT vec_id, bb.band, (bucket >> (8 * bb.band)) & 255 AS bv
        |  FROM sk, (SELECT UNNEST(generate_series(0,3)) AS band) bb),
        |keyn AS (SELECT band, bv, COUNT(*) AS keyn
        |         FROM bands GROUP BY 1, 2),
        |total AS (SELECT COUNT(*) AS n FROM sk),
        |ok AS (
        |  SELECT d.vec_id, d.band, d.bv
        |  FROM bands d
        |  JOIN keyn k ON d.band = k.band AND d.bv = k.bv
        |  CROSS JOIN total t
        |  WHERE k.keyn * ${Blocking.CapDen} <= t.n OR k.keyn <= ${Blocking.CapFloor}),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM ok a JOIN ok b
        |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
        |p AS (
        |  SELECT c.vec_a, c.vec_b,
        |    ROUND(
        |     (SELECT SUM(CAST(x.u AS DOUBLE)*CAST(x.v AS DOUBLE))
        |      FROM (SELECT UNNEST(ea.embedding) AS u, UNNEST(eb.embedding) AS v) x)
        |     / (SQRT((SELECT SUM(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
        |              FROM (SELECT UNNEST(ea.embedding) AS u) x))
        |      * SQRT((SELECT SUM(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
        |              FROM (SELECT UNNEST(eb.embedding) AS v) x))), 6) AS cos
        |  FROM cand c
        |  JOIN series ea ON ea.vec_id = c.vec_a
        |  JOIN series eb ON eb.vec_id = c.vec_b)
        |SELECT vec_a AS user_a, vec_b AS user_b, cos FROM p
        |WHERE cos >= 0.3 ORDER BY user_a, user_b""".stripMargin,
    "q54_rhp_lsh_buckets" ->
      """WITH planes AS (
        |  SELECT pp.p, dd.d,
        |    ('0x'||substr(md5(pp.p||':'||dd.d),1,8))::BIGINT / 2147483648.0 - 1.0 AS coef
        |  FROM (SELECT UNNEST(generate_series(0,15)) AS p) pp,
        |       (SELECT UNNEST(generate_series(0,63)) AS d) dd),
        |ex AS (
        |  SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS d
        |  FROM embeddings),
        |dots AS (
        |  SELECT ex.vec_id, ex.label, pl.p, SUM(ex.v * pl.coef) AS dot
        |  FROM ex JOIN planes pl ON ex.d = pl.d
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT vec_id, label,
        |    SUM(CASE WHEN ROUND(dot, 6) >= 0.0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
        |  FROM dots GROUP BY 1, 2)
        |SELECT vec_id, label, CAST(bucket AS BIGINT) AS bucket
        |FROM bits ORDER BY vec_id""".stripMargin,
    "q53_embedding_near_dup" ->
      s"""WITH planes AS (
        |  SELECT pp.p, dd.d,
        |    ('0x'||substr(md5(pp.p||':'||dd.d),1,8))::BIGINT / 2147483648.0 - 1.0 AS coef
        |  FROM (SELECT UNNEST(generate_series(0,31)) AS p) pp,
        |       (SELECT UNNEST(generate_series(0,63)) AS d) dd),
        |ex AS (
        |  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS d
        |  FROM embeddings),
        |dots AS (
        |  SELECT ex.vec_id, pl.p, SUM(ex.v * pl.coef) AS dot
        |  FROM ex JOIN planes pl ON ex.d = pl.d GROUP BY 1, 2),
        |sk AS (
        |  SELECT vec_id, CAST(SUM(CASE WHEN ROUND(dot, 6) >= 0.0
        |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY 1),
        |bands AS (
        |  SELECT vec_id, bb.band, (bucket >> (8 * bb.band)) & 255 AS bv
        |  FROM sk, (SELECT UNNEST(generate_series(0,3)) AS band) bb),
        |keyn AS (SELECT band, bv, COUNT(*) AS keyn
        |         FROM bands GROUP BY 1, 2),
        |total AS (SELECT COUNT(*) AS n FROM sk),
        |ok AS (
        |  SELECT d.vec_id, d.band, d.bv
        |  FROM bands d
        |  JOIN keyn k ON d.band = k.band AND d.bv = k.bv
        |  CROSS JOIN total t
        |  WHERE k.keyn * ${Blocking.CapDen} <= t.n OR k.keyn <= ${Blocking.CapFloor}),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM ok a JOIN ok b
        |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
        |p AS (
        |  SELECT c.vec_a, c.vec_b,
        |    ROUND(
        |     (SELECT SUM(CAST(x.u AS DOUBLE)*CAST(x.v AS DOUBLE))
        |      FROM (SELECT UNNEST(ea.embedding) AS u, UNNEST(eb.embedding) AS v) x)
        |     / (SQRT((SELECT SUM(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
        |              FROM (SELECT UNNEST(ea.embedding) AS u) x))
        |      * SQRT((SELECT SUM(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
        |              FROM (SELECT UNNEST(eb.embedding) AS v) x))), 6) AS cos
        |  FROM cand c
        |  JOIN embeddings ea ON ea.vec_id = c.vec_a
        |  JOIN embeddings eb ON eb.vec_id = c.vec_b)
        |SELECT vec_a, vec_b, cos FROM p
        |WHERE cos >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,

    "q70_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, label, emb,
        |    list_max(list_transform(emb, x -> abs(x))) AS amax
        |  FROM e),
        |sc AS (
        |  SELECT vec_id, label, emb, amax,
        |    CASE WHEN amax = 0 THEN 1.0 ELSE amax END AS s
        |  FROM m)
        |SELECT vec_id, label, CAST(len(emb) AS BIGINT) AS n_dims,
        | ROUND(amax, 6) AS amax,
        | CAST(list_aggregate(list_transform(emb,
        |   x -> abs(CAST(floor(x * 127.0 / s + 0.5) AS BIGINT))), 'sum') AS BIGINT) AS sum_abs_code,
        | CAST(list_max(list_transform(emb,
        |   x -> abs(CAST(floor(x * 127.0 / s + 0.5) AS BIGINT)))) AS BIGINT) AS max_abs_code,
        | ROUND(list_aggregate(list_transform(emb,
        |   x -> abs(x - floor(x * 127.0 / s + 0.5) * s / 127.0)), 'sum'), 6) AS recon_err
        |FROM sc ORDER BY vec_id""".stripMargin,

    "q51_embedding_stats" ->
      """WITH n AS (
        |  SELECT label,
        |    SQRT((SELECT SUM(CAST(x.a AS DOUBLE)*CAST(x.a AS DOUBLE))
        |          FROM (SELECT UNNEST(e.embedding) AS a) x)) AS norm
        |  FROM embeddings e)
        |SELECT label, COUNT(*) AS n_vecs,
        | ROUND(AVG(norm), 6) AS avg_norm,
        | ROUND(MIN(norm), 6) AS min_norm,
        | ROUND(MAX(norm), 6) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "q78_embedding_pool" ->
      """WITH ex AS (
        |  SELECT vec_id // 10 AS parent_id,
        |    generate_subscripts(embedding, 1) AS i,
        |    CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |p AS (
        |  SELECT parent_id, i,
        |    CAST(ROUND(ROUND(AVG(x), 6) * 1000000) AS BIGINT) AS v
        |  FROM ex GROUP BY parent_id, i),
        |c AS (
        |  SELECT vec_id // 10 AS parent_id, COUNT(*) AS n_chunks
        |  FROM embeddings GROUP BY 1)
        |SELECT p.parent_id, c.n_chunks,
        |  ARRAY_TO_STRING(LIST(p.v ORDER BY p.i), ',') AS pooled
        |FROM p JOIN c ON p.parent_id = c.parent_id
        |GROUP BY p.parent_id, c.n_chunks
        |ORDER BY p.parent_id""".stripMargin
  )

  // The dot/norm subqueries unnest both lists positionally (DuckDB zips
  // parallel UNNESTs) and accumulate left-to-right in double — the same
  // order as the native expression's loop, so round(6) is bit-stable.
  // The zero-norm COALESCE mirrors the native cosine_sim Expression's
  // documented semantic (cos = 0.0, "no similarity"): the raw division
  // yields NULL in DuckDB on a zero vector, which only surfaces when
  // the candidate set is small enough for such rows to reach the
  // emitted top-k (tiny-corpus fuzz find). It is SCOPED to non-NULL
  // inputs (r9 ADVICE fix): the native binary expression is
  // null-intolerant — a NULL embedding must stay NULL in both engines,
  // not be rescued to 0.0 by a guard meant for zero vectors.
  private val cosSql =
    """ROUND(CASE
      | WHEN e.embedding IS NULL OR q.qv IS NULL THEN NULL
      | ELSE COALESCE(
      |  (SELECT SUM(CAST(x.a AS DOUBLE)*CAST(x.b AS DOUBLE))
      |   FROM (SELECT UNNEST(e.embedding) AS a, UNNEST(q.qv) AS b) x)
      |  / (SQRT((SELECT SUM(CAST(x.a AS DOUBLE)*CAST(x.a AS DOUBLE))
      |           FROM (SELECT UNNEST(e.embedding) AS a) x))
      |   * SQRT((SELECT SUM(CAST(x.b AS DOUBLE)*CAST(x.b AS DOUBLE))
      |           FROM (SELECT UNNEST(q.qv) AS b) x))), 0.0) END, 6)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q35_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, $cosSql AS cos
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q36_knn_bucketed" ->
      s"""WITH ex AS (
         |  SELECT vec_id, label, UNNEST(embedding) AS v,
         |    generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS cv
         |  FROM ex GROUP BY label, pos),
         |qx AS (
         |  SELECT generate_subscripts(embedding, 1) AS pos,
         |    CAST(UNNEST(embedding) AS DOUBLE) AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |probes AS (
         |  SELECT label FROM (
         |    SELECT c.label,
         |      ROUND(SUM(c.cv*qx.qv) /
         |        (SQRT(SUM(c.cv*c.cv)) * SQRT(SUM(qx.qv*qx.qv))), 6) AS ccos
         |    FROM cent c JOIN qx USING (pos) GROUP BY c.label)
         |  ORDER BY ccos DESC, label LIMIT 2),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, $cosSql AS cos
         |FROM embeddings e JOIN probes USING (label), q
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin
  )
}
