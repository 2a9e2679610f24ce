package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract integrity: no pack key collisions, oracle keys subset") {
    val q = SparkEntry.queries
    val o = SparkEntry.oracleSql
    assert(q.size >= 58, s"query map shrank (collision?): ${q.size}")
    val orphans = o.keySet -- q.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
    // sketch queries have no DuckDB mirror by design (estimates, not
    // exact values) -> rows-only gate
    val weak = q.keySet -- o.keySet
    assert(weak == Set("q19_approx_distinct", "q88_hll_rollup",
      "q102_heavy_hitters", "q114_approx_percentiles",
      "q115_segment_overlap", "q171_kll_quantiles"),
      s"unexpected rows-only queries: $weak")
  }

  test("every declared query has matching oracle alias coverage and runs") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned no rows at sf0.001")
    }
  }

  test("q01 aggregates are exact decimals cast to double") {
    val row = SparkEntry.queries("q01_agg")(spark, sf).collect().head
    assert(row.getAs[Double]("sum_qty") > 0.0)
    assert(row.getAs[Long]("count_order") > 0L)
  }

  test("q03 topk is ordered descending") {
    val prices = SparkEntry.queries("q03_topk")(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q05 broadcast join plan contains BroadcastHashJoin") {
    val plan = SparkEntry.queries("q05_join_broadcast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q02 pushes filters into the parquet scan") {
    val plan = SparkEntry.queries("q02_filter_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("l_discount"), plan)
  }

  test("q44 grouping sets expand each row exactly twice (no cube x4)") {
    val df = SparkEntry.queries("q44_grouping_sets")(spark, sf)
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.nonEmpty, "grouping sets should plan an Expand")
    assert(expands.forall(_.projections.size == 2),
      s"Expand factor ${expands.map(_.projections.size)} — asked for 2 sets")
  }

  test("q106 cube expands each row exactly four times (all subsets)") {
    val df = SparkEntry.queries("q106_cube")(spark, sf)
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.nonEmpty && expands.forall(_.projections.size == 4),
      s"cube Expand factor ${expands.map(_.projections.size)} — expected 4")
  }

  test("groupedBase consumers (q13/q44/q106) re-aggregate by sum only and equal the raw rows") {
    // groupedBase pre-aggregates lineitem to (flag, status) with sum and
    // count; only a plain sum of those partials decomposes exactly — an
    // avg or countDistinct over them would aggregate groups, not rows
    import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.functions._
    val (f, st) = (col("l_returnflag"), col("l_linestatus"))
    val cases = Seq[(String, String, DataFrame => RelationalGroupedDataset)](
      ("q13_rollup", "ALL", _.rollup(f, st)),
      ("q44_grouping_sets", "ALL", _.groupingSets(Seq(Seq(f), Seq(st)), f, st)),
      ("q106_cube", "all", _.cube(f, st)))
    val li = GraftSession.table(spark, sf, "lineitem")
    cases.foreach { case (q, all, grouping) =>
      val df = SparkEntry.queries(q)(spark, sf)
      val consumers = df.queryExecution.analyzed.collect {
        case a: Aggregate if a.child.exists(_.isInstanceOf[Aggregate]) => a
      }
      assert(consumers.nonEmpty, s"$q no longer aggregates over groupedBase")
      val bad = consumers.flatMap(_.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression
            if ae.isDistinct || !ae.aggregateFunction.isInstanceOf[Sum] => ae
      }))
      assert(bad.isEmpty, s"$q re-aggregates groupedBase with ${bad.mkString(", ")}: " +
        "only sum is decomposition-exact — re-derive against the raw rows")
      val raw = grouping(li)
        .agg(GraftSession.dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(coalesce(f, lit(all)).as("returnflag"), coalesce(st, lit(all)).as("linestatus"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("returnflag"), col("linestatus"))
      assert(df.collect().toSeq == raw.collect().toSeq, s"$q differs from the raw formulation")
    }
  }

  test("q48 shards its window — no 3-reducer status-partition sort") {
    // Scale property (r9 done-criterion, implementation-agnostic):
    // ntile/percent_rank/cume_dist derive from a ShardedCum prefix sum,
    // so no Window may partition on o_orderstatus ALONE — that would be
    // the 3-reducer funnel the rewrite removes. Every such window must
    // carry ShardedCum's `_shard` column, and the rows must reach it
    // through an exchange that spreads a status over many reducers:
    // hash-partitioned on (status, _shard), or range-partitioned.
    val df = SparkEntry.queries("q48_ntile_rank")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val windowSpecs = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("o_orderstatus"))
      .toSeq
    assert(windowSpecs.nonEmpty, "expected sharded windows over o_orderstatus")
    assert(windowSpecs.forall(_.contains("_shard")),
      s"a window partitions on o_orderstatus without the shard column:\n${windowSpecs.mkString("\n")}")
    val shardExchange = "hashpartitioning\\(o_orderstatus#\\d+, _shard#\\d+".r
    assert(plan.linesIterator.exists(l => l.contains("Exchange") &&
        (shardExchange.findFirstIn(l).isDefined || l.contains("rangepartitioning"))),
      s"no exchange partitions on the shard column:\n$plan")
  }

  test("q91 plans a broadcast stats join, never a low-cardinality window") {
    // the verdict's done-criterion for the z-score fix: the 5-row
    // per-type stats must broadcast back onto the unshuffled fact
    // scan — a PARTITION BY event_type window would funnel the corpus
    // through 5 reducers at 100 TB
    val df = SparkEntry.queries("q91_zscore")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("Window"), s"q91 still plans a window:\n${plan.take(800)}")
  }

  test("q103 never buffers percentiles: no Percentile aggregate in the plan") {
    // q103's whole point: the same exact quantiles as q43 WITHOUT
    // Spark's percentile value-buffer (per-group counts map — an OOM
    // on near-continuous columns at scale); the distribution + sort
    // window must carry the computation instead
    val df = SparkEntry.queries("q103_percentile_dist")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("percentile"),
      s"q103 fell back to the buffered percentile:\n${plan.take(800)}")
    val q43 = SparkEntry.queries("q43_percentiles")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(q43.contains("percentile"), "q43 is the buffered baseline")
  }
}
