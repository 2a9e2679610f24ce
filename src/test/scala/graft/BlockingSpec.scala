package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Blocking, Dedup, LshIndex}

/** The exact edge of the one hot-key rule (`keyn·20·fanout > tot &&
  * keyn > 64`) on every banded blocking path: the drop cap
  * (`Blocking.stopCapped`) and every face of the MinHash LSH star cap.
  * A drifted `>`/`≥` on either side of the rule moves one of these
  * keys across the edge. */
class BlockingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Key 0 holds `keyn` band rows; `fill` singleton keys pad the
    * band-row total to keyn + fill. */
  private def keptKeys(keyn: Int, fill: Int, fanout: Int): Set[Long] = {
    val rows = (0 until keyn).map(i => (i.toLong, 0, 0L)) ++
      (1 to fill).map(i => (100000L + i, 0, i.toLong))
    Blocking.stopCapped(rows.toDF("doc_id", "band", "bval"),
        Seq("band", "bval"), fanout)
      .select("bval").distinct().collect().map(_.getLong(0)).toSet
  }

  test("stopCapped edge: keyn·20·fanout = tot is kept, tot - 1 dropped; 64 kept, 65 not") {
    // ratio edge: 65·20·4 = 5,200 band rows
    val atEdge = keptKeys(keyn = 65, fill = 5200 - 65, fanout = 4)
    assert(atEdge.contains(0L) && atEdge.size == 5200 - 65 + 1,
      "keyn·20·fanout = tot is cold")
    val past = keptKeys(keyn = 65, fill = 5199 - 65, fanout = 4)
    assert(!past.contains(0L) && past.size == 5199 - 65,
      "one band row fewer makes the key hot")
    // floor edge, ratio far crossed (tot = 100)
    assert(keptKeys(keyn = 64, fill = 36, fanout = 4).contains(0L),
      "a 64-member key is kept whatever its share")
    assert(!keptKeys(keyn = 65, fill = 35, fanout = 4).contains(0L),
      "a 65-member key over the ratio is dropped")
  }

  private val copied = "one page copied verbatim across the whole crawl " +
    "with enough distinct words to shingle into a realistic signature"
  private val m = 65L

  /** `m` exact copies (ids 1..m) among `n` docs; every doc has ≥ 3
    * tokens, so every doc has a signature and tot = 4n band rows. The
    * other docs share no shingle with anything. */
  private def corpus(n: Int): DataFrame =
    ((1L to m).map(i => (i, copied)) ++
      ((m + 1) to n.toLong).map(i => (i, s"unique$i alpha$i bravo$i charlie$i")))
      .toDF("doc_id", "text")

  private def triples(df: DataFrame, a: String, b: String): Set[(Long, Long, Long)] =
    df.select(a, b, "n_shared_bands").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("LSH star cap edge: 65 copies in 1,300 docs stay a clique, in 1,299 a star") {
    val batchId = 900000L
    val batch = Seq((batchId, copied)).toDF("doc_id", "text")
    val clique = (for (a <- 1L to m; b <- (a + 1) to m) yield (a, b, 4L)).toSet
    val star = (2L to m).map(b => (1L, b, 4L)).toSet
    // tot = 4n: 65·80 = 5,200 is not > 4·1,300 (cold), but is > 4·1,299 (hot)
    for ((n, hot) <- Seq(1300 -> false, 1299 -> true)) {
      val docs = corpus(n)
      val ix = LshIndex.build(docs, Files.createTempDirectory("blocking").toString + "/ix")
      val wantPairs = if (hot) star else clique
      val wantProbe =
        if (hot) Set((batchId, 1L, 4L))
        else (1L to m).map(c => (batchId, c, 4L)).toSet
      assert(triples(Dedup.lshCandidates(docs), "doc_a", "doc_b") == wantPairs,
        s"Dedup.lshCandidates at n=$n")
      assert(triples(LshIndex.candidatePairs(ix), "doc_a", "doc_b") == wantPairs,
        s"LshIndex.candidatePairs at n=$n")
      assert(triples(Dedup.incrementalLshCandidates(docs, batch),
        "batch_id", "corpus_id") == wantProbe,
        s"Dedup.incrementalLshCandidates at n=$n")
      assert(triples(LshIndex.probe(ix, batch), "batch_id", "corpus_id") == wantProbe,
        s"LshIndex.probe at n=$n")
    }
  }
}
