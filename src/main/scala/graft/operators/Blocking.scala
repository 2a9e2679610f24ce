package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one hot-key rule of every banded pair search (q50/q64 simhash
  * bands, q53/q92 RHP bands, the MinHash LSH bands behind q32 and its
  * consumers). Band VALUES derived from content bits are not uniform —
  * similar docs cluster into few values by design, and exact copies
  * share every band key — so a raw band self-join is skew-quadratic on
  * any corpus with a dominant cluster (the q50 lesson).
  *
  * A blocking key is HOT when it holds more than 1/[[CapDen]] of the
  * band rows AND has more than [[CapFloor]] members:
  * `keyn·CapDen·fanout > tot && keyn > CapFloor`, where `tot` is the
  * band-row total (n docs × `fanout` bands, so the ratio test is
  * `keyn > n/CapDen` without a driver count). The floor keeps every
  * key of ≤ 64 members (≤ 2,016 pairs — harmless on any reducer), so a
  * corpus smaller than CapDen never caps to zero candidates. A hot key
  * gets one of two actions:
  *  - DROP ([[stopCapped]], the q112 stop-print rule): simhash16,
  *    simhash64 and RHP blocking lose the key whole, bounding every
  *    join bucket at (n/CapDen)² pairs. A dropped pair is findable
  *    only inside corpus-fraction-scale clusters — the
  *    cluster-representative path (q93/q141), not a pair list.
  *  - STAR ([[starCapPairs]], [[starCapProbeSide]]): MinHash LSH keeps
  *    the key but enters it through its min-doc_id anchor alone, so
  *    the biggest duplicate cluster stays connected at linear cost.
  *
  * The DuckDB oracles interpolate the same two constants. */
object Blocking {

  private[operators] val CapDen = 20
  private[operators] val CapFloor = 64

  /** The hot-key rule as a plan predicate. */
  private[operators] def isHot(keyn: Column, tot: Column, fanout: Int): Column =
    keyn * lit(CapDen * fanout) > tot && keyn > lit(CapFloor)

  /** The hot-key rule on exact driver-side counts (the LSH manifest). */
  private[operators] def isHot(keyn: Long, tot: Long, fanout: Int): Boolean =
    keyn * CapDen * fanout > tot && keyn > CapFloor

  /** Filter a banded blocking view down to its cold keys (the DROP
    * action).
    *
    * `bandRows` must hold exactly n×fanout rows (a fixed-size band
    * explode over n docs), so the rule evaluates in-plan against Σkeyn
    * off a 1-row broadcast — no driver `count()` that would re-execute
    * the upstream fingerprint pipeline. Callers checkpoint `bandRows`
    * first — it feeds keyCounts and both sides of the subsequent
    * self-join. */
  def stopCapped(bandRows: DataFrame, keyCols: Seq[String],
      fanout: Int): DataFrame = {
    val keys = keyCols.map(col)
    val keyCounts = bandRows.groupBy(keys: _*)
      .agg(count(lit(1)).as("keyn"))
    val total = keyCounts.agg(sum(col("keyn")).as("tot"))
    val okKeys = keyCounts.crossJoin(broadcast(total))
      .filter(!isHot(col("keyn"), col("tot"), fanout))
      .select(keys: _*)
    bandRows.join(broadcast(okKeys), keyCols)
  }

  private val LshKey = Seq("band", "k1", "k2")

  /** The STAR action, self-join shape: candidate pairs (doc_a, doc_b,
    * n_shared_bands) of LSH band rows (doc_id, band, k1, k2), given
    * their hot keys (band, k1, k2, anchor). Cold keys emit their full
    * clique; a hot key emits only (anchor, member), so its band counts
    * toward the anchor's pairs alone and connected components are
    * unchanged. At most CapDen × fanout keys can be hot, so the hot
    * frame broadcasts, the cold side is a map-side anti-join, and the
    * pair self-join keeps its single-exchange shape. An empty hot
    * frame (a local relation) optimizes away to the plain self-join. */
  private[operators] def starCapPairs(bandRows: DataFrame,
      hot: DataFrame): DataFrame = {
    val cold = bandRows.join(broadcast(hot.drop("anchor")), LshKey, "left_anti")
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1")
          && col("a.k2") === col("b.k2")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val hotStars = bandRows.join(broadcast(hot), LshKey)
      .filter(col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"))
    coldPairs.union(hotStars)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The STAR action, probe shape: the corpus side (doc_id, band, k1,
    * k2) a batch's band rows join against — cold rows as they are, and
    * one anchor row per hot key, so a probe landing in a hot bucket
    * matches its anchor alone instead of every member. */
  private[operators] def starCapProbeSide(bandRows: DataFrame,
      hot: DataFrame): DataFrame =
    bandRows.join(broadcast(hot.drop("anchor")), LshKey, "left_anti")
      .unionByName(hot.select(col("band"), col("k1"), col("k2"),
        col("anchor").as("doc_id")))
}
