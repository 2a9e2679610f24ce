package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkGraph

/** Fixed-point PageRank: hand-computed values on a star graph, the
  * teleport floor, and bit-stable results under repartitioning
  * (integer arithmetic has no accumulation-order drift).
  */
class LinkGraphSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ranks(iters: Int, parts: Int = 4): Map[Long, Long] = {
    val nodes = (1L to 4L).toDF("node").repartition(parts)
    val links = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "tgt")
      .repartition(parts)
    LinkGraph.pagerank(nodes, links, iters).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_fp")).toMap
  }

  test("star graph matches hand-computed fixed-point values") {
    // hub 1 receives all three spokes; spokes have no inlinks.
    // iter1: r(1) = 0.15e9 + (85 * 3*(1e9 div 1)) div 100 = 2_700_000_000
    //        r(spoke) = 150_000_000 (teleport floor)
    val r1 = ranks(iters = 1)
    assert(r1(1L) == 2700000000L, s"hub after 1 iter: ${r1(1L)}")
    assert(Seq(2L, 3L, 4L).forall(r1(_) == 150000000L))
    // iter2: spokes now carry 0.15e9 each →
    // r(1) = 0.15e9 + (85 * 3*0.15e9) div 100 = 532_500_000
    val r2 = ranks(iters = 2)
    assert(r2(1L) == 532500000L, s"hub after 2 iters: ${r2(1L)}")
    assert(Seq(2L, 3L, 4L).forall(r2(_) == 150000000L))
  }

  test("integer iteration is bit-stable across partition layouts") {
    assert(ranks(3, parts = 1) == ranks(3, parts = 7))
  }

  test("convergence detection stops at the exact integer fixed point") {
    val nodes = (1L to 4L).toDF("node")
    val links = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "tgt")
    val (ranksDf, rounds) = LinkGraph.pagerankConverged(
      nodes, links, maxIters = 20, tolPerNode = 0L)
    val got = ranksDf.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_fp")).toMap
    // the star reaches its exact fixed point after round 2; round 3 is
    // the zero-movement probe that detects it — far short of maxIters
    assert(rounds == 3, s"expected 3 rounds, got $rounds")
    assert(got(1L) == 532500000L && Seq(2L, 3L, 4L).forall(got(_) == 150000000L),
      s"fixed point: $got")
    // and the detected fixed point equals the fixed-iteration result
    assert(got == ranks(iters = 2))
  }

  test("pagerankConverged: reliable round checkpoints rotate, only the last survives") {
    val nodes = (1L to 4L).toDF("node")
    val links = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "tgt")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test assumes no ambient checkpoint dir")
    val ckptDir = java.nio.file.Files.createTempDirectory("pr-rotate")
    sc.setCheckpointDir(ckptDir.toString)
    spark.conf.set(GraftSession.ReliableCheckpointsConf, "true")
    try {
      val (ranksDf, rounds) = LinkGraph.pagerankConverged(
        nodes, links, maxIters = 20, tolPerNode = 0L)
      assert(rounds == 3, s"expected 3 rounds, got $rounds")
      assert(ranksDf.count() == 4L, "the final round's ranks stay readable")
      val rddDirs = {
        val s = java.nio.file.Files.walk(ckptDir)
        try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally s.close()
      }
      assert(rddDirs <= 1,
        s"expected <=1 surviving checkpoint after $rounds rounds, found $rddDirs")
    } finally {
      spark.conf.unset(GraftSession.ReliableCheckpointsConf)
      sc.setCheckpointDir(null)
    }
  }

  test("hits: mass conserved, structure respected, bit-stable") {
    val nodes = (1L to 5L).toDF("node")
    // 1,2,3 all point at 4; 5 is an orphan; 4 points at 1
    val links = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 1L)).toDF("src", "tgt")
    val run = () => LinkGraph.hits(nodes, links, iters = 2).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("auth_fp"), r.getAs[Long]("hub_fp"))).toMap
    val got = run()
    // node 4 is the dominant authority, node 5 touches nothing
    assert(got(4L)._1 > got(1L)._1, s"4 should out-auth 1: $got")
    assert(got(5L) == ((0L, 0L)), s"orphan must score zero: $got")
    Seq(2L, 3L, 5L).foreach(n => assert(got(n)._1 == 0L, s"no in-edges: $got"))
    // renormalized mass stays within ~1e-3 of 1e9 (two integer floors)
    val authMass = got.values.map(_._1).sum
    assert(authMass > 999000000L && authMass < 1001000000L, s"mass: $authMass")
    // integer arithmetic: a second run is bit-identical
    assert(run() == got)
  }

  test("q118 graph: every doc ranked, floor respected, hubs exist") {
    val (nodes, links) = LinkGraph.documentLinks(spark, sf)
    val pr = LinkGraph.pagerank(nodes, links, iters = 3)
    val n = nodes.count()
    assert(pr.count() == n)
    val stats = pr.agg(min(col("rank_fp")), max(col("rank_fp"))).collect().head
    assert(stats.getLong(0) >= 150000000L, "teleport floor violated")
    assert(stats.getLong(1) > 1000000000L, "no doc accumulated rank")
  }

  test("label propagation: cliques converge to one label, isolated keeps own") {
    val nodes = (1L to 7L).toDF("node")
    // two triangles + isolated node 7
    val links = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "tgt")
    val got = LinkGraph.labelPropagation(nodes, links, iters = 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L, s"$got")
    assert(got(4L) == 4L && got(5L) == 4L && got(6L) == 4L, s"$got")
    assert(got(7L) == 7L, s"isolated: $got")
  }

  test("triangle census: hand-counted triangles and clustering coefficient") {
    // two triangles (coeff contribution 1) + a path 8-9-10 (adds one
    // open wedge at 9): T=2, wedges=7, coeff = 6/7
    val links = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (8L, 9L), (9L, 10L)).toDF("src", "tgt")
    val r = LinkGraph.triangleCensus(links).collect()(0)
    assert(r.getAs[Long]("n_triangles") == 2L)
    assert(r.getAs[Long]("n_wedges") == 7L)
    assert(r.getAs[Double]("clustering_coeff") ==
      math.rint(6.0 / 7 * 1e6) / 1e6)
  }

  test("triangle orientation is skew-safe: star has zero triangles") {
    // hub 1 with 50 spokes: naive two-hop join from the hub explodes;
    // degree-orientation sends every edge spoke->hub, so the two-hop
    // join has ZERO candidates (each spoke has out-degree 1 to the
    // same hub; hub has out-degree 0)
    val links = (2L to 51L).map(i => (1L, i)).toDF("src", "tgt")
    val r = LinkGraph.triangleCensus(links).collect()(0)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Long]("n_wedges") == 1225L) // C(50,2)
  }
}
