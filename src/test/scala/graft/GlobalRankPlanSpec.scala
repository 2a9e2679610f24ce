package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the r9 global-rank de-funneling: q177/q181
  * (per-doc ntile), q144 (per-lang tertile with a dominant-language
  * worst case), q175 (three per-user ntiles) and q185 (per-user
  * Lorenz rank) formerly ranked through an unpartitioned or
  * low-cardinality window — the whole frame sorted on one (or few)
  * reducer(s) at scale. They now derive ranks from ShardedCum prefix
  * counts: every remaining window in the plan must carry ShardedCum's
  * `_shard` column, which bounds the per-partition sort whichever
  * shard source made it (the range exchange itself is eager inside
  * cumSums' ckpt, so it does not always print in the final plan).
  * q71's source totals must ride a broadcast, not an
  * empty-partition window.
  */
class GlobalRankPlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private val shardedQueries =
    Seq("q177_quality_calibration", "q144_ccnet_buckets",
      "q181_novelty_trend", "q175_rfm_segments", "q185_engagement_gini")

  shardedQueries.foreach { name =>
    test(s"$name ranks via range-sharded windows, no 1-reducer sort") {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val windows = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(windows.nonEmpty && windows.forall(_.contains("_shard")),
        s"$name has a window without the shard column:\n" +
          windows.filterNot(_.contains("_shard")).mkString("\n"))
      assert(!plan.contains("ntile("),
        s"$name still plans an ntile window:\n${plan.take(1200)}")
    }
  }

  // Low-cardinality rank-CAP queries (top-k per segment/source/query/
  // status): the cap must run through the native bounded-heap operator
  // (≤ k rows per (group, partition) cross the exchange), never a
  // group-partitioned window over the full frame — a 5-value segment
  // key sorts the whole join output on 5 reducers at scale. A rank
  // window may remain, but only AFTER GroupTopK has reduced the frame
  // to k×|groups| rows.
  private val heapCapped =
    Seq("q11_window_rank", "q107_window_nav", "q100_domain_cap",
      "q117_weighted_sample", "q148_bm25_search", "q149_source_overlap")

  heapCapped.foreach { name =>
    test(s"$name caps through the native bounded heap, not a window") {
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val plan = qe.executedPlan.toString
      assert(plan.contains("GroupTopK"),
        s"$name lost its GroupTopK node:\n${plan.take(1200)}")
      // any surviving window must consume GroupTopK's bounded output,
      // i.e. appear ABOVE the (last) GroupTopK node in the plan text
      val winAt = plan.linesIterator.zipWithIndex
        .filter(_._1.contains("windowspecdefinition")).map(_._2).toSeq
      val topkAt = plan.linesIterator.zipWithIndex
        .filter(_._1.contains("GroupTopK")).map(_._2).toSeq
      assert(winAt.forall(w => topkAt.exists(t => t > w)),
        s"$name has a window NOT fed by GroupTopK (line order):\n" +
          plan.take(1500))
    }
  }

  test("q71_domain_mix broadcasts totals — no empty-partition window") {
    val plan = SparkEntry.queries("q71_domain_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      s"q71 still plans a window:\n${plan.take(1200)}")
  }

  test("ntileFromRank matches SQL NTILE across k, n (incl. n < k)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 3, 4, 7, 100); k <- Seq(2, 4, 5, 10)) {
      val df = spark.range(1, n + 1).toDF("v")
        .withColumn("rn", col("v"))
        .withColumn("_n", lit(n.toLong))
      val got = df.withColumn("b",
          graft.operators.ShardedCum.ntileFromRank("rn", "_n", k))
        .select("v", "b")
      val want = df.withColumn("b",
          ntile(k).over(Window.orderBy(col("v"))))
        .select("v", "b")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"ntile mismatch at n=$n k=$k")
    }
  }
}
