package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    // Optional third arg: regex over query names (local targeted runs;
    // the driver always runs the full suite with two args).
    SparkEntry.selected(args.lift(2)).foreach { case (name, fn) =>
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
