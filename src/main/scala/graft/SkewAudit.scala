package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocking-key skew audit: the q50 lesson (round 8: the top-8-bit
  * simhash bucket was content-correlated — 27% of the corpus in ONE
  * bucket, candidate mass only 9× below all-pairs) institutionalized
  * as a tool. For every pair-generating blocking family, measure the
  * key distribution EMPIRICALLY instead of trusting a uniformity
  * claim: max key share (one hot key = one reducer), and candidate
  * mass Σ n_k·(n_k−1)/2 vs the all-pairs baseline — the number the
  * self-join actually pays. Families with a cap/cull rule are
  * audited pre- AND post-cull, so the audit also proves the cull
  * does its job.
  *
  * Run: sbt "runMain graft.SkewAudit [sfDir]" → one line per family:
  * [skew] family :: docs=N keys=K max_key_n=M max_share=S
  *        pairs=P allpairs=A ratio=A/P
  */
object SkewAudit {
  private def report(name: String, keyed: DataFrame, nDocs: Long): Unit = {
    // keyed: one row per (doc, key) — column "k" is the blocking key
    val stats = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("keys"), max(col("n")).as("maxn"),
        sum(col("n") * (col("n") - 1) / 2).as("pairs"))
      .collect()(0)
    val keys = stats.getLong(0)
    val maxn = stats.getLong(1)
    val pairs = stats.getAs[Number](2).longValue
    val allPairs = nDocs * (nDocs - 1) / 2
    val ratio = if (pairs > 0) allPairs.toDouble / pairs else Double.PositiveInfinity
    println(f"[skew] $name :: docs=$nDocs keys=$keys max_key_n=$maxn " +
      f"max_share=${maxn.toDouble / nDocs}%.4f pairs=$pairs " +
      f"allpairs=$allPairs ratio=$ratio%.1f")
  }

  /** Post-cap audit that mirrors the PRODUCTION cap predicate exactly
    * (r9 ADVICE fix): `Blocking.stopCapped` and the LSH star-cap test
    * `keyn·capDen·fanout > Σkeyn` against the total of the keyed frame
    * itself — docs that produce no keys (shingles need ≥ 3 tokens,
    * zero vectors skip RHP) are absent from that denominator, so an
    * audit that divides by whole-corpus doc counts drifts from what
    * the cap actually engages on short-doc-heavy corpora. Denominators
    * here come from the audited frame: tot = Σ key counts,
    * effDocs = tot / fanout. `star = true` prices a hot key at its
    * (n−1)-pair star (the LSH rule); `false` drops it (the simhash/RHP
    * stop-cap rule). */
  private def cappedReport(name: String, keyed: DataFrame, fanout: Int,
      star: Boolean, capDen: Int = 20, capFloor: Int = 64): Unit = {
    val counts = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    val stats = counts.crossJoin(broadcast(tot))
      .withColumn("hot",
        col("n") * capDen * fanout > col("tot") && col("n") > capFloor)
      .agg(count(lit(1)).as("keys"),
        max(when(!col("hot"), col("n"))).as("maxn_cold"),
        max(col("n")).as("maxn_raw"),
        sum(when(col("hot"),
            if (star) col("n") - 1 else lit(0L))
          .otherwise(col("n") * (col("n") - 1) / 2)).as("pairs"),
        max(col("tot")).as("tot"))
      .collect()(0)
    val totRows = stats.getAs[Number](4).longValue
    val effDocs = totRows / fanout
    val maxCold = Option(stats.get(1)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val pairs = Option(stats.get(3)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val allPairs = effDocs * (effDocs - 1) / 2
    val ratio = if (pairs > 0) allPairs.toDouble / pairs else Double.PositiveInfinity
    println(f"[skew] $name :: docs=$effDocs(keyed) keys=${stats.getLong(0)} " +
      f"max_key_n=$maxCold(cold,raw=${stats.getLong(2)}) " +
      f"max_share=${maxCold.toDouble / math.max(effDocs, 1)}%.4f " +
      f"pairs=$pairs allpairs=$allPairs ratio=$ratio%.1f")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.forMain("ERROR")
    import graft.operators.{Dedup, Similarity}

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // same dup injection the dedup gates use (every 10th doc copied)
    val dup = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nDocs = docs.count(); val nDup = dup.count(); val nEmb = emb.count()

    // 1. MinHash LSH bands (q32/q61/q72/...): md5-derived band keys —
    // uniform for DISTINCT content but NOT for duplicate multiplicity
    // (exact copies share every band key; the --skew fuzz find).
    val lshBands = Dedup.bands(Dedup.minhashSignatures(dup))
      .select(concat_ws(":", col("band"), col("k1"), col("k2")).as("k"))
    report("lsh_bands_raw(q32)", lshBands, nDup)
    // 1b. Post star-cap (r9): a hot key (by the PRODUCTION predicate —
    // band-row totals, not whole-corpus doc counts) emits its
    // (n-1)-pair star instead of its n(n-1)/2 clique.
    cappedReport("lsh_bands_starcap(q32)", lshBands, fanout = 4, star = true)

    // 2. SimHash16 4×4-bit bands (q50) — pre- and post-stop-cap.
    val sh16 = Dedup.simhashFast(dup).select(col("doc_id"), col("simhash16"))
    val b16 = sh16.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash16"), 4 * b).bitwiseAND(15L)
          .as("bval"))): _*)).as("bs"))
      .select(col("doc_id"), concat_ws(":", col("bs.band"), col("bs.bval")).as("k"))
    report("simhash16_bands_raw(q50)", b16, nDup)
    cappedReport("simhash16_bands_capped(q50)", b16, fanout = 4, star = false)

    // 3. SimHash64 4×16-bit bands (q64) — pre/post stop-cap (cap
    // added in r9 after the raw audit showed a 5.75% hot key).
    val sh64 = Dedup.simhash64Fast(dup)
    val b64 = sh64.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        col(s"band$b").as("bval"))): _*)).as("bs"))
      .select(col("doc_id"), concat_ws(":", col("bs.band"), col("bs.bval")).as("k"))
    report("simhash64_bands_raw(q64)", b64, nDup)
    cappedReport("simhash64_bands_capped(q64)", b64, fanout = 4, star = false)

    // 4. RHP 4×8-bit bands over embeddings (q53): sign bits are
    // content-correlated exactly like simhash bits — clustered
    // embeddings pile into few band values (cap added in r9).
    val rhpB = Similarity.rhpBandBlocks(
      emb.select(col("vec_id"), col("embedding")))
      .select(concat_ws(":", col("band"), col("bv")).as("k"))
    report("rhp_bands_raw(q53)", rhpB, nEmb)
    cappedReport("rhp_bands_capped(q53)", rhpB, fanout = 4, star = false)

    // 4b. RHP bands over user behavior profiles (q92): every user
    // shares diurnal shape, the worst case for correlated sign bits.
    val beh = Similarity.behaviorSeries(spark, dir)
    val nBeh = beh.count()
    val behB = Similarity.rhpBandBlocks(beh)
      .select(concat_ws(":", col("band"), col("bv")).as("k"))
    report("rhp_bands_raw(q92)", behB, nBeh)
    cappedReport("rhp_bands_capped(q92)", behB, fanout = 4, star = false)

    // 5. CDC anchored windows (q121 containment) — pre/post df cull.
    val aw = Dedup.anchoredWindows(
      docs.select(col("doc_id"), col("text"))).select(col("doc_id"), col("h").as("k"))
    report("cdc_windows_raw(q121)", aw, nDocs)
    val keepW = aw.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= 50).select(col("k"))
    report("cdc_windows_culled(q121)", aw.join(keepW, "k"), nDocs)

    // 6. Winnowed prints (q112) — pre/post df<=20 stop-print cull.
    val pr = docs.select(col("doc_id"),
      explode(call_function("winnow_prints", col("text"))).as("k"))
    report("winnow_prints_raw(q112)", pr, nDocs)
    val keepP = pr.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= 20).select(col("k"))
    report("winnow_prints_culled(q112)", pr.join(keepP, "k"), nDocs)

    // 7. Edit-distance prefix blocks (q119) — pre/post maxBlock drop.
    val blk = dup.select(col("doc_id"), substring(col("text"), 1, 8).as("k"))
    report("edit_blocks_raw(q119)", blk, nDup)
    val keepB = blk.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= 1000).select(col("k"))
    report("edit_blocks_capped(q119)", blk.join(keepB, "k"), nDup)

    spark.stop()
  }
}
