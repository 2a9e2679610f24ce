package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import graft.GraftSession.ckpt
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Two-phase sharded cumulative (prefix) sums — the scale-safe
  * replacement for `Window.partitionBy(lowCardinality).orderBy(...)`
  * running totals, whose sorted stream otherwise funnels through one
  * reducer per group.
  *
  * One core, two shard sources. The core takes a frame carrying a
  * `_shard` column that is monotone non-decreasing in the order key
  * within each group. Phase 1 computes a LOCAL running sum with an
  * ordered window partitioned by (group, shard). Phase 2 totals each
  * (group, shard) — at most groups x shards rows — gives the totals a
  * tiny prefix window and broadcasts them back; the global cumulative
  * value is local + offset of the preceding shards of the same group.
  * The shard comes from:
  *  - [[cumSums]]: `repartitionByRange` over (group, order) keys and
  *    `spark_partition_id()` — sampled, so shards follow the data;
  *  - [[cumSumsBucketed]]: a caller-given bucket expression — no
  *    sampling job, but the caller's grid bounds the per-bucket volume.
  * [[idRank]] chooses between them for a rank over a unique integer
  * id: ids at least a quarter dense in their span get a fixed grid of
  * fewer than 8,192 buckets (each holds at most max(1, span/4096) ≤
  * max(1, n/1024) ids);
  * sparse or clustered ids take the sampled path, since a grid over
  * their span would put nearly every row in a few buckets.
  *
  * Correctness notes:
  *  - RangePartitioner assigns a row purely by its key, so rows with
  *    identical (group, order) keys always share a shard; tie behavior
  *    is exactly the within-shard window's, same as the single-reducer
  *    plan it replaces.
  *  - `spark_partition_id()` is read BEFORE any downstream exchange,
  *    while the data still sits in the range layout, and from there on
  *    `_shard` is an ordinary column — later hash exchanges regroup by
  *    its value, not by physical partition.
  * Scale shape: one hash shuffle of the input (plus the range shuffle
  * on the sampled path) and a broadcast of the offsets table; no
  * single-reducer stage anywhere.
  */
object ShardedCum {

  /** Appends one cumulative-sum column per (weight, alias) pair, each
    * cumulated in (orderCols) order within each groupCols group (pass
    * Nil for a global cumulative sum). Temp columns are dropped; the
    * output carries the input columns + the alias columns.
    */
  def cumSums(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      sums: Seq[(Column, String)],
      shards: Int = 32): DataFrame = {
    // ckpt PINS the shard assignment: both the local-window branch and
    // the totals branch read `_shard` from the SAME materialized
    // layout. Without it the two physical subtrees can prune the range
    // exchange's child differently, defeat ReuseExchange, and execute
    // the range SAMPLING twice — different boundary samples would give
    // a row _shard=5 in one branch while its offsets were computed
    // under a layout where it fell in shard 6 (silently wrong sums).
    val sharded = ckpt(df.repartitionByRange(shards, groupCols.map(col) ++ orderCols: _*)
      .withColumn("_shard", spark_partition_id()))
    cumSumsOverShards(sharded, groupCols, orderCols, sums)
  }

  /** Sampling-free variant: the shard is an explicit BUCKET expression
    * the caller guarantees is monotone non-decreasing in the order key
    * (hour index for timestamps, floor(v/width) for numerics). That
    * removes `repartitionByRange`'s sampling job — the main chain is
    * one hash exchange on (group, bucket) + one ordered window, and the
    * offsets side is a map-side-combinable agg over the same input
    * (groups x buckets rows, broadcast class). Preferred when a natural
    * bucketing exists; per-bucket volume bounds the window partition
    * (e.g. events per hour), so pick the bucket width accordingly.
    */
  def cumSumsBucketed(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      bucket: Column,
      sums: Seq[(Column, String)]): DataFrame =
    cumSumsOverShards(df.withColumn("_shard", bucket), groupCols, orderCols, sums)

  /** The core: `sharded` carries a `_shard` column monotone
    * non-decreasing in the order key within each group. */
  private def cumSumsOverShards(
      sharded: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      sums: Seq[(Column, String)]): DataFrame = {
    val groupC = groupCols.map(col)
    val localW = Window
      .partitionBy(groupC :+ col("_shard"): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // _lcnt tracks NON-NULL weights seen so far: SQL's running sum is
    // NULL only while the whole group prefix is null-valued, and a
    // shard whose local prefix is all-null must still surface the
    // preceding shards' sum (NULL + offset would null it out)
    val withLocal = sums.foldLeft(sharded) { case (d, (c, name)) =>
      d.withColumn(s"_local_$name", sum(c).over(localW))
        .withColumn(s"_lcnt_$name", count(c).over(localW))
    }
    // Per-(group, shard) totals ride the same exchange (ReuseExchange);
    // the offsets table is <= groups x shards rows — broadcast class.
    val totAggs = sums.flatMap { case (c, n) =>
      Seq(sum(c).as(s"_tot_$n"), count(c).as(s"_tcnt_$n")) }
    val totals = sharded
      .groupBy(groupC :+ col("_shard"): _*)
      .agg(totAggs.head, totAggs.tail: _*)
    val offW = Window.partitionBy(groupC: _*).orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(
      (groupC :+ col("_shard")) ++ sums.flatMap { case (_, n) => Seq(
        coalesce(sum(col(s"_tot_$n")).over(offW), lit(0L)).as(s"_off_$n"),
        coalesce(sum(col(s"_tcnt_$n")).over(offW), lit(0L)).as(s"_offcnt_$n"))
      }: _*)
    // NULL-SAFE join (<=>) on the group cols AND the shard:
    // Window.partitionBy keeps a null group as its own partition, and
    // a bucket expression can yield null (e.g. on a null order key) —
    // a plain equi-join would silently drop those rows.
    val offsetsK = offsets.select(
      groupCols.map(c => col(c).as(s"_k_$c")) ++
        Seq(col("_shard").as("_k_shard")) ++
        sums.flatMap { case (_, n) =>
          Seq(col(s"_off_$n"), col(s"_offcnt_$n")) }: _*)
    val cond = (groupCols.map(c => col(c) <=> col(s"_k_$c")) :+
      (col("_shard") <=> col("_k_shard"))).reduce(_ && _)
    val joined = withLocal.join(broadcast(offsetsK), cond, "inner")
    // NULL iff zero non-null weights in the whole group prefix —
    // exactly the single-window plan's value (`when` with no otherwise
    // keeps the branch's type)
    val withCums = sums.foldLeft(joined) { case (d, (_, name)) =>
      d.withColumn(name,
        when(col(s"_lcnt_$name") + col(s"_offcnt_$name") > 0,
          coalesce(col(s"_local_$name"), lit(0L)) + col(s"_off_$name")))
    }
    withCums.drop("_shard" +: "_k_shard" +: groupCols.map(c => s"_k_$c") ++:
      sums.flatMap { case (_, n) =>
        Seq(s"_local_$n", s"_off_$n", s"_lcnt_$n", s"_offcnt_$n") }: _*)
  }

  /** SQL-standard `NTILE(k)` bucket from a 1-based rank column `rnCol`
    * and a group-size column `nCol` (integer-typed column NAMES): the
    * first n%k buckets get one row more than the rest. Pure per-row
    * arithmetic — pairs with a [[cumSums]] `lit(1L)` rank to replace a
    * single-reducer `ntile(k).over(Window.orderBy(...))` plan. The
    * otherwise-branch's `div (n div k)` cannot divide by zero: when
    * n < k, cut == n, so every rank takes the then-branch (CASE
    * evaluates lazily, ANSI-safe — the q48 precedent).
    */
  def ntileFromRank(rnCol: String, nCol: String, k: Int): Column = {
    val cut = expr(s"($nCol div $k + 1) * ($nCol % $k)")
    when(col(rnCol) <= cut,
        expr(s"($rnCol - 1) div ($nCol div $k + 1) + 1"))
      .otherwise(expr(s"$nCol % $k + " +
        s"($rnCol - ($nCol div $k + 1) * ($nCol % $k) - 1) div ($nCol div $k) + 1"))
      .cast("int")
  }

  /** Global deterministic 1-based rank over a TOTAL order (the caller
    * must include a unique tiebreak in `orderCols`), range-sharded over
    * `shards` reducers — the scale-safe replacement for
    * `row_number().over(Window.orderBy(...))`, whose unpartitioned
    * window otherwise funnels the whole frame through ONE reducer.
    */
  def globalRank(df: DataFrame, orderCols: Seq[Column], alias: String,
      shards: Int = 32): DataFrame =
    cumSums(df, Nil, orderCols, Seq((lit(1L), alias)), shards)

  /** Grid width for [[idRank]] over `n` unique ids in [lo, hi], or None
    * when the ids are too sparse for a grid (4·n < span). Dense ids get
    * width w = max(1, span/4096): a bucket then holds at most
    * w ≤ max(1, n/1024) ids, and the grid has fewer than 8,192 buckets.
    * An empty frame takes the grid (nothing to sample). */
  private[graft] def idGridWidth(n: Long, lo: Long, hi: Long): Option[Long] =
    if (n == 0L) Some(1L)
    else {
      val span = BigInt(hi) - BigInt(lo) + 1
      if (BigInt(n) * 4 >= span) Some(math.max(1L, (span / 4096).toLong)) else None
    }

  /** Global 1-based rank `alias` in `id` order over a frame whose
    * integer column `id` is UNIQUE, plus the row count. One 1-row stats
    * job (count, min, max) picks the shard source: a fixed id grid for
    * dense ids (no sampling job, no shard-pinning checkpoint), else the
    * range-sampled [[globalRank]] (see [[idGridWidth]]). */
  def idRank(df: DataFrame, id: String, alias: String): (DataFrame, Long) = {
    val stats = df.agg(count(lit(1)),
      coalesce(min(col(id)).cast("long"), lit(0L)),
      coalesce(max(col(id)).cast("long"), lit(0L))).head()
    val (n, lo) = (stats.getLong(0), stats.getLong(1))
    val ranked = idGridWidth(n, lo, stats.getLong(2)) match {
      case Some(w) => cumSumsBucketed(df, Nil, Seq(col(id)),
        call_function("div", col(id).cast("long") - lit(lo), lit(w)),
        Seq((lit(1L), alias)))
      case None => globalRank(df, Seq(col(id)), alias)
    }
    (ranked, n)
  }
}
