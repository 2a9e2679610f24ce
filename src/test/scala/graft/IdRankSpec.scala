package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ShardedCum

/** ShardedCum.idRank's density rule: dense ids rank through the fixed
  * id grid, sparse or clustered ids (ScaleDataGen's offset blocks)
  * through the range-sampled rank — a grid over their span would put
  * each whole block in one bucket. Either way the rank and q181-style
  * deciles equal the single-reducer `row_number`/`ntile(10)` plan. */
class IdRankSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ranked(ids: Seq[Long]): (DataFrame, Long) =
    ShardedCum.idRank(ids.toDF("doc_id"), "doc_id", "_rn")

  /** Ranks and deciles equal the window oracle; returns whether the
    * sampled path (its shard-pinning checkpoint) was taken. */
  private def checkAgainstOracle(ids: Seq[Long]): Boolean = {
    val (r, n) = ranked(ids)
    assert(n == ids.size)
    val got = r.withColumn("_n", lit(n))
      .withColumn("decile", ShardedCum.ntileFromRank("_rn", "_n", 10))
      .select(col("doc_id"), col("_rn"), col("decile"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getInt(2))).toMap
    val w = Window.orderBy(col("doc_id"))
    val want = ids.toDF("doc_id")
      .select(col("doc_id"), row_number().over(w).cast("long"), ntile(10).over(w))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getInt(2))).toMap
    assert(got == want)
    r.queryExecution.analyzed.collect { case l: LogicalRDD => l }.nonEmpty
  }

  test("density rule: grid for ids at least a quarter dense, sampled below") {
    assert(ShardedCum.idGridWidth(0L, 0L, 0L) == Some(1L))
    assert(ShardedCum.idGridWidth(5000L, 0L, 4999L) == Some(1L))
    assert(ShardedCum.idGridWidth(100000L, 0L, 99999L) == Some(24L))
    assert(ShardedCum.idGridWidth(1000L, 0L, 3999L) == Some(1L)) // 4n == span
    assert(ShardedCum.idGridWidth(1000L, 0L, 4000L).isEmpty)
    assert(ShardedCum.idGridWidth(4000L, 0L, 3000000999L).isEmpty)
    assert(ShardedCum.idGridWidth(2L, Long.MinValue, Long.MaxValue).isEmpty)
  }

  test("dense ids 0..n-1 take the grid; ranks and deciles equal the window plan") {
    val sampled = checkAgainstOracle(0L until 5000L)
    assert(!sampled, "dense ids must rank through the id grid")
  }

  test("offset-blocked ids take the sampled path; ranks and deciles equal the window plan") {
    // 4 blocks of 1,000 ids at multiples of 1e9: a span/4096 grid puts
    // each block in ONE bucket — a quarter of the rows per reducer
    val ids = (0L until 4L).flatMap(b => (0L until 1000L).map(b * 1000000000L + _))
    val sampled = checkAgainstOracle(ids)
    assert(sampled, "clustered ids must rank through the range-sampled path")
  }
}
