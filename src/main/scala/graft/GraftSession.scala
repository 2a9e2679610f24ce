package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}

/** Session + shared column helpers for the graft engine.
  *
  * Scale notes: AQE on (runtime skew-join + partition coalescing),
  * shuffle partitions sized for the local rig (on a 1000-executor
  * cluster this would be 2-3x total cores); UTC session timezone for
  * cross-engine determinism.
  */
object GraftSession {

  /** Build a local session with graft extensions installed. */
  def build(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Pin ANSI ON (Spark 4's default, but 3.x defaulted off): every
      // operator and all 184 gates are tested under ANSI semantics —
      // guarded divisions, error-on-overflow — and leaving it to the
      // ambient default would flip division/cast edge behavior by
      // deployment (r9 review fix; the same determinism altitude as
      // the UTC and nanosAsLong pins).
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS), which Spark has no
      // native type for; read as long and normalize via eventsTable.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.1's checksummed checkpoint writer starves/deadlocks on
      // small local[N] rigs (all task slots block in its async close);
      // plain checkpoint files are fine for our durability model.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // `file:` through FileSystem and FileContext sets permissions and
      // checks for symlinks in process instead of forking chmod per
      // created file and readlink per checkpoint rename (see ForkFreeLocalFs)
      .config(graft.log.ForkFreeLocalFs.confs)
      .withExtensions(new GraftExtensions)
      .getOrCreate()

  /** Cores of every `graft` main's session: `SPARK_GRAFT_CPUS`, default 4. */
  def mainCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The session every `graft` main runs on: `local[n]` with `n`
    * shuffle partitions, n = [[mainCpus]]. */
  def forMain(logLevel: String = "WARN"): SparkSession = {
    val spark = build(s"local[$mainCpus]", mainCpus)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Load one of the driver-generated tables from an sf directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session conf flipping EVERY graft lineage-truncation checkpoint
    * (multi-consumer stage materializations and iterative loops) from
    * `localCheckpoint` to reliable `checkpoint`. localCheckpoint pins
    * blocks to the executors that computed them — fastest, but an
    * executor loss (or dynamic-allocation scale-down) mid-query kills
    * the job; on a real cluster set this to `true` AND point
    * `spark.sparkContext.setCheckpointDir` at shared storage. */
  val ReliableCheckpointsConf = "spark.graft.reliableCheckpoints"

  /** Lineage-truncation checkpoint honoring [[ReliableCheckpointsConf]]
    * (results are identical either way; only fault tolerance and
    * per-stage IO differ). Fails fast when reliable mode is on without
    * a checkpoint dir — not N stages into a pipeline. */
  private[graft] def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(ReliableCheckpointsConf, "false").toBoolean) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableCheckpointsConf=true needs " +
          "spark.sparkContext.setCheckpointDir(<shared-store path>)")
      df.checkpoint()
    } else df.localCheckpoint()

  /** Release the checkpoint behind a frame an iterative loop has
    * superseded (its plan ROOT is the `LogicalRDD` an eager [[ckpt]]
    * leaves). Call only after nothing reads the frame again — i.e.
    * after the round's last read, just before re-binding the loop
    * variable. Root-only on purpose: a derived frame (e.g. an Aggregate
    * OVER a round's output) contains a LogicalRDD deeper in its tree,
    * and matching there would drop a checkpoint that is still read.
    * The FINAL round's checkpoint is kept (the caller still consumes
    * it).
    *  - reliable checkpoint ([[ReliableCheckpointsConf]]): delete its
    *    files, so a long loop does not grow the shared checkpoint dir
    *    by one copy of its state PER ROUND (the driver GC's
    *    `cleanCheckpoints` conf is off by default and fires late);
    *  - local checkpoint: unpersist its blocks — a long loop otherwise
    *    carries every superseded round in executor memory until driver
    *    GC notices (the ScaleSmoke CC phase tipped a 16G heap over
    *    exactly this).
    * The checkpoint file is present exactly when [[ckpt]] took the
    * reliable branch, so the frame itself says which applies. */
  private[graft] def dropCkpt(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getCheckpointFile.map(new org.apache.hadoop.fs.Path(_))
          .foreach { p =>
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  // ---- concurrent query construction (guide §2.6) --------------------
  // Spark's scheduler happily runs several jobs at once inside one
  // application; eager construction steps (lineage-truncation ckpts,
  // small-graph CC collects, index loads) of INDEPENDENT report rungs
  // are only sequential because the builder code calls them
  // sequentially. These helpers evaluate independent thunks on a small
  // daemon pool so one rung's job tail back-fills the cores another
  // rung's driver-side planning leaves idle — results are identical
  // (each thunk is self-contained), only the wall clock changes, both
  // locally and on a cluster.
  private lazy val parPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      })
  private def parAll(thunks: Seq[() => AnyRef]): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    // Pool threads keep the active session they inherited when they
    // were created, which need not be the caller's: each thunk runs
    // under the caller's active session instead.
    val active = SparkSession.getActiveSession
    val futures = parPool.invokeAll(thunks.map { th =>
      new java.util.concurrent.Callable[AnyRef] {
        def call(): AnyRef = {
          active match {
            case Some(s) => SparkSession.setActiveSession(s)
            case None    => SparkSession.clearActiveSession()
          }
          th()
        }
      }
    }.asJava)
    // Unwrap the pool's ExecutionException so callers see the thunk's
    // own failure (e.g. ckpt's fail-fast IllegalArgumentException when
    // reliable checkpoints are misconfigured), exactly as if the thunks
    // had run sequentially.
    futures.asScala.toSeq.map { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw (if (e.getCause != null) e.getCause else e)
      }
    }
  }
  private[graft] def par2[A <: AnyRef, B <: AnyRef](a: => A, b: => B): (A, B) = {
    val r = parAll(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
  private[graft] def par3[A <: AnyRef, B <: AnyRef, C <: AnyRef](
      a: => A, b: => B, c: => C): (A, B, C) = {
    val r = parAll(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  /** The events table with `ts` normalized to a microsecond
    * TimestampType, whatever physical type the parquet carries:
    *   - TIMESTAMP(NANOS) (read as long via `nanosAsLong`) -> integer
    *     nanos->micros truncation, bit-identical to DuckDB's read;
    *   - timestamp[us] (TIMESTAMP / TIMESTAMP_NTZ) -> plain cast; the
    *     session is UTC, so NTZ wall-clock maps to identical micros.
    * Schema-adaptive so both generations of driver test data load. */
  def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.withColumn("ts", eventsTsNorm(df.schema))
  }

  /** The `ts` normalization column for a given events schema — shared
    * by [[eventsTable]] and streaming readers of the same parquet (a
    * readStream can't reuse eventsTable but must normalize
    * identically). */
  def eventsTsNorm(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _        => col("ts").cast(TimestampType)
    }

  // ---- cross-engine-exact arithmetic helpers -------------------------
  // Double sums are order-dependent, and Spark's parallel aggregation
  // order differs from DuckDB's. Decimal arithmetic is exact in both
  // engines, so: cast to decimal, aggregate, cast the final result back
  // to double -> bit-identical results regardless of execution order.

  /** Exact decimal image of a double money/quantity column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent exact sum of a double column (returns double). */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Portable 32-bit hash: identical in Spark and DuckDB.
    * Spark:  top 32 bits of the native `portable_hash64` digest —
    *         byte-identical to conv(substr(md5(s), 1, 8), 16, 10)
    *         (graft.functions.Md5Hash64; needs GraftExtensions, which
    *         every graft session installs)
    * DuckDB: ('0x' || substr(md5(s), 1, 8))::BIGINT
    */
  def portableHash(c: Column): Column =
    shiftrightunsigned(call_function("portable_hash64", c), 32)
}
