package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch diagnostic main (not part of the driver contract): builds a
  * LARGER synthetic scale factor from the read-only sf0.1 test data by
  * unioning `k` key-shifted copies — the scaling-measurement corpus the
  * r14 verdict asked for ("bench the heavy queries at an SF where data
  * dominates"). The sf0.1 suite is floor-bound (~0.2 s/query of AQE
  * stage scheduling), so 8-core ≈ 32-core there proves nothing about
  * parallel scaling; this corpus makes data the cost.
  *
  * Copy construction keeps the 100 TB shape honest:
  *  - every PK/FK pair shifts by the SAME per-copy offset (copy i adds
  *    i·10M to doc/vec/event/user/order/cust/part/supp keys), so join
  *    fan-outs and per-key volumes match the base corpus — the corpus
  *    grows in KEYS, not in per-key skew;
  *  - document text is `translate`d through a per-copy lowercase
  *    alphabet rotation: token structure, lengths and quality stats are
  *    preserved, but cross-copy shingle sets are disjoint — otherwise
  *    every doc would acquire k−1 verbatim twins and the LSH/dedup
  *    pair volume would grow quadratically in k (a shape the real
  *    corpus does not have);
  *  - embeddings get a per-copy deterministic micro-rotation of values
  *    (same reason: identical vectors across copies would inflate RHP
  *    band collisions superlinearly);
  *  - timestamps are left alone, so time-window filters keep matching
  *    the same fractions.
  * Tiny dims (region, nation) copy through unchanged.
  *
  * NOT an oracle corpus — scaling evidence only; correctness stays
  * gated on the driver's own SFs.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleDataGen <srcDir> <outDir> <k>"
  */
object ScaleDataGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/scaledata/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    // the per-copy alphabet rotation has period 26: copy 26 would
    // repeat copy 0's text and every doc would gain a verbatim twin
    require(k >= 1 && k <= 26, s"copy count k must be in 1..26 (got $k)")
    val spark = GraftSession.forMain()
    val OFF = 10000000L
    val alpha = "abcdefghijklmnopqrstuvwxyz"

    def copies(name: String)(mk: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val all = (0 until k).map(i => mk(base, i)).reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaledatagen] $name x$k -> $out/$name.parquet")
    }
    def shifted(d: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(d)((acc, c) => acc.withColumn(c, col(c) + lit(i * OFF)))

    copies("documents") { (d, i) =>
      val rot = alpha.drop(i % 26) + alpha.take(i % 26)
      shifted(d, i, "doc_id")
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), alpha, rot))
    }
    copies("events")(shifted(_, _, "event_id", "user_id"))
    copies("embeddings") { (d, i) =>
      shifted(d, i, "vec_id").withColumn("embedding",
        if (i == 0) col("embedding")
        else transform(col("embedding"), x =>
          (x * lit(1.0f + i * 0.003f) + lit(i * 0.017f)).cast("float")))
    }
    copies("orders")(shifted(_, _, "o_orderkey", "o_custkey"))
    copies("lineitem")(shifted(_, _, "l_orderkey", "l_partkey", "l_suppkey"))
    copies("customer")(shifted(_, _, "c_custkey"))
    copies("part")(shifted(_, _, "p_partkey"))
    copies("supplier")(shifted(_, _, "s_suppkey"))
    Seq("nation", "region").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaledatagen] $name x1 -> $out/$name.parquet")
    }
    spark.stop()
  }
}
