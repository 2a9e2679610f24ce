package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names (local targeted runs;
    // the driver always runs the full suite with two args).
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a REUSED outDir must not present a previous run's parquet as
        // this run's result — a now-broken query would hash-compare
        // green against its own stale output (r9 review fix). Deleted
        // via the Hadoop FS API so the guarantee holds for hdfs:// and
        // file:// URI outDirs too, not just bare local paths (r9
        // ADVICE fix).
        val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(stale)) fs.delete(stale, true)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
