package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the operator packs; each pack owns its queries and the
  * DuckDB oracle mirrors.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q06_multi_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ EventOps.queries ++ Dedup.queries ++
      Similarity.queries ++ Similarity.queries2 ++ TextOps.queries ++
      Multimodal.queries ++ Curation.queries ++ Drift.queries ++
      Sampling.queries ++ LinkGraph.queries ++ Snapshot.queries ++
      Profile.queries ++ Bpe.queries ++ Featurize.queries ++
      Spectral.queries ++ Extract.queries ++ Classify.queries ++
      EventStats.queries ++ TopK.queries

  /** The queries whose names match `nameRegex` (all without one), in
    * name order: the one query loop of `Bench`, `Verify` and `Diag`. */
  def selected(nameRegex: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val keep = nameRegex.map(_.r)
    queries.toSeq.sortBy(_._1).filter { case (n, _) => keep.forall(_.findFirstIn(n).isDefined) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ EventOps.oracle ++ Dedup.oracle ++
      Similarity.oracle ++ Similarity.oracle2 ++ TextOps.oracle ++
      Multimodal.oracle ++ Curation.oracle ++ Drift.oracle ++
      Sampling.oracle ++ LinkGraph.oracle ++ Snapshot.oracle ++
      Profile.oracle ++ Bpe.oracle ++ Featurize.oracle ++
      Spectral.oracle ++ Extract.oracle ++ Classify.oracle ++
      EventStats.oracle ++ TopK.oracle
}
