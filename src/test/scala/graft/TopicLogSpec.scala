package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{FsLease, TopicLog}

class TopicLogSpec extends AnyFunSuite {
  import SparkTestSession._

  private def mkRecords(n: Int, startId: Int = 0) = {
    import spark.implicits._
    (startId until startId + n).map { i =>
      (s"evt-${i % 3}", s"key-${i % 5}", s"""{"i":$i}""",
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("event", "key", "message", "ts")
  }

  test("publish assigns monotonic per-partition offsets across batches") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(50))
    val h1 = topic.heads()
    topic.publish(mkRecords(50, startId = 50))
    val h2 = topic.heads()
    assert(h1.nonEmpty && h2.nonEmpty)
    h1.foreach { case (p, h) => assert(h2(p) > h, s"head of part $p did not advance") }
    // offsets are dense per partition: max-min+1 == count
    val byPart = topic.read().groupBy(col("log_part"))
      .agg(min("offset").as("lo"), max("offset").as("hi"), count(lit(1)).as("n"))
      .collect()
    byPart.foreach { r =>
      assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 == r.getAs[Long]("n"))
      assert(r.getAs[Long]("lo") == 0L)
    }
    assert(topic.read().count() == 100)
  }

  test("publishIdempotent: a replayed txn returns its recorded ranges without appending") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    val first = topic.publishIdempotent(mkRecords(40), "batch-7")
    assert(topic.read().count() == 40)
    // redelivery (foreachBatch restart): same txn id, same records —
    // must be a no-op returning the SAME ranges
    val replayed = topic.publishIdempotent(mkRecords(40), "batch-7")
    assert(replayed === first)
    assert(topic.read().count() == 40, "replayed txn duplicated the batch")
    // a NEW txn id appends normally after the replay
    topic.publishIdempotent(mkRecords(10, startId = 40), "batch-8")
    assert(topic.read().count() == 50)
    // offsets stayed dense per partition through the whole sequence
    topic.read().groupBy(col("log_part"))
      .agg(min("offset").as("lo"), max("offset").as("hi"), count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 == r.getAs[Long]("n"))
      }
    // plain publish interleaves safely with idempotent publishes
    topic.publish(mkRecords(5, startId = 50))
    assert(topic.read().count() == 55)
  }

  test("publishIdempotent contract edge: a lost marker re-appends (documented at-least-once window)") {
    // the documented limitation, pinned as behavior: the marker is the
    // only record of a txn — the data files are appended before it —
    // so a retry that finds no marker re-appends: at-least-once,
    // exactly like a non-transactional Kafka producer. If this test
    // ever sees 30 rows, the marker has become atomic with the data
    // and the Scaladoc should be upgraded.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publishIdempotent(mkRecords(30), "fragile-txn")
    assert(topic.read().count() == 30)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/txns/fragile-txn")
    assert(fs.exists(marker), "marker should exist after commit")
    fs.delete(marker, false)
    topic.publishIdempotent(mkRecords(30), "fragile-txn")
    assert(topic.read().count() == 60,
      "marker loss must fall back to at-least-once (or docs need upgrading)")
  }

  test("txn markers past their TTL are pruned by maintenance; fresh ones survive") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publishIdempotent(mkRecords(10), "old-txn")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val oldMarker = new org.apache.hadoop.fs.Path(s"$dir/txns/old-txn")
    assert(fs.exists(oldMarker))
    // age the first marker just past the horizon, keep the second fresh
    fs.setTimes(oldMarker,
      System.currentTimeMillis() - TopicLog.TxnMarkerTtlMs - 60000L, -1L)
    topic.publishIdempotent(mkRecords(10, startId = 10), "fresh-txn")
    topic.retainToSize(Long.MaxValue) // any maintenance op prunes
    assert(!fs.exists(oldMarker), "expired marker not pruned by maintenance")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/txns/fresh-txn")),
      "fresh marker must survive pruning")
    // past the horizon the txn degrades to at-least-once (re-appends),
    // exactly the documented marker-loss contract
    topic.publishIdempotent(mkRecords(10), "old-txn")
    assert(topic.read().count() == 30)
    // the direct trigger, for a topic with no maintenance schedule
    val freshMarker = new org.apache.hadoop.fs.Path(s"$dir/txns/fresh-txn")
    fs.setTimes(freshMarker,
      System.currentTimeMillis() - TopicLog.TxnMarkerTtlMs - 60000L, -1L)
    topic.pruneTxnMarkers()
    assert(!fs.exists(freshMarker), "expired marker not pruned by pruneTxnMarkers")
    assert(fs.exists(oldMarker), "a fresh marker must survive pruneTxnMarkers")
  }

  test("publishIdempotent: two publishers racing the SAME txn commit it once") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    val records = mkRecords(30)
    records.count() // materialize the plan before the race
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Map[Int, TopicLog.OffsetRange]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => results.add(topic.publishIdempotent(records, "race-txn")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // the writer lease serializes them; the loser must observe the
    // winner's marker and return the SAME ranges without appending
    assert(topic.read().count() == 30, "racing txn duplicated the batch")
    val rs = results.toArray(Array.empty[Map[Int, TopicLog.OffsetRange]])
    assert(rs.length == 2 && rs(0) === rs(1))
  }

  test("replay: new subscriber sees everything, acked subscriber only the tail") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(60))
    // new durable subscriber replays from the beginning (topic.js:132-135)
    assert(topic.replay("sub1").count() == 60)
    // event filter during replay (topic.js:169-171)
    val filtered = topic.replay("sub1", Some("evt-0")).collect()
    assert(filtered.nonEmpty && filtered.forall(_.getAs[String]("event") == "evt-0"))
    // ack everything seen so far, then replay drains nothing
    topic.ack("sub1", topic.heads())
    assert(topic.replay("sub1").count() == 0)
    // more messages arrive; only those replay
    topic.publish(mkRecords(15, startId = 60))
    assert(topic.replay("sub1").count() == 15)
    // an unrelated subscriber still replays everything
    assert(topic.replay("sub2").count() == 75)
  }

  test("partial ack replays from the per-partition watermark") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40))
    val heads = topic.heads()
    // ack only half of each partition
    topic.ack("s", heads.map { case (p, h) => p -> h / 2 })
    val replayed = topic.replay("s").collect()
    replayed.groupBy(_.getAs[Int]("log_part")).foreach { case (p, rows) =>
      assert(rows.forall(_.getAs[Long]("offset") > heads(p) / 2))
    }
    assert(replayed.length ==
      heads.map { case (p, h) => h - h / 2 }.sum)
  }

  test("compact keeps only the latest record per key") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(100)) // 5 keys, 20 records each
    topic.compact()
    val left = topic.read().collect()
    assert(left.length == 5, s"expected 5 keys, got ${left.length}")
    // the survivor per key is the max-offset record
    assert(topic.replay("fresh").count() == 5)
  }

  test("tombstone compaction deletes keys whose latest record is null") {
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(100)) // keys key-0..key-4, 20 records each
    val headsBefore = topic.heads()
    // tombstone key-1 and key-3: null message = Kafka delete marker
    topic.publish(Seq(
      ("evt-del", "key-1", null.asInstanceOf[String],
        new java.sql.Timestamp(1700000200000L)),
      ("evt-del", "key-3", null.asInstanceOf[String],
        new java.sql.Timestamp(1700000200001L)))
      .toDF("event", "key", "message", "ts"))
    // plain compaction keeps tombstones as latest-per-key records
    topic.compact()
    assert(topic.read().count() == 5)
    assert(topic.read().filter(col("message").isNull).count() == 2)
    // tombstone-aware compaction removes the deleted keys entirely
    topic.compact(dropTombstones = true)
    val left = topic.read().select("key").as[String].collect().sorted
    assert(left.toSeq == Seq("key-0", "key-2", "key-4"))
    // heads survive even where the dropped tombstone was a partition
    // head: the next publish must continue, never re-issue offsets
    val headsAfter = topic.heads()
    headsBefore.keys.foreach { p =>
      assert(headsAfter(p) >= headsBefore(p), s"head of part $p regressed")
    }
    val ranges = topic.publish(mkRecords(20, startId = 200))
    ranges.foreach { case (p, r) =>
      assert(r.base >= headsAfter(p), s"part $p re-issued offsets")
    }
  }

  test("tombstone compaction drops null-key null-message junk; keeps null-key data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    val ts = new java.sql.Timestamp(1700000100000L)
    topic.publish(Seq(
      ("evt", null.asInstanceOf[String], "unkeyed-data", ts),
      ("evt", null.asInstanceOf[String], null.asInstanceOf[String], ts),
      ("evt", "k1", "v1", ts))
      .toDF("event", "key", "message", "ts"))
    // plain compaction rewrites null-key records verbatim (no key =
    // nothing to compact), junk row included
    topic.compact()
    assert(topic.read().count() == 3)
    // dropTombstones: the null-key NULL-MESSAGE row deletes nothing
    // and must not be rewritten forever — it is dropped; the null-key
    // DATA row and the keyed row survive (r9 review fix)
    topic.compact(dropTombstones = true)
    val left = topic.read().select("key", "message")
      .as[(Option[String], Option[String])].collect().toSet
    assert(left == Set((None, Some("unkeyed-data")), (Some("k1"), Some("v1"))),
      left.toString)
  }

  test("reopening a topic with a different partition count is refused (on-disk pin)") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(20))
    // same count: fine, a fresh instance sees the same log
    assert(TopicLog.prepare(spark, dir, numPartitions = 4).read().count() == 20)
    // different count: routing (pmod(hash, n)) and idempotence-marker
    // packing would silently corrupt — must throw even in a NEW
    // process (the GraftConnection cache can't see this), which the
    // on-disk _partitions pin simulates here via a fresh instance
    val e = intercept[IllegalArgumentException] {
      TopicLog.prepare(spark, dir, numPartitions = 8)
    }
    assert(e.getMessage.contains("partitions"), e.getMessage)
  }

  test("typed read: Dataset[TopicRecord] round-trips the log") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(10))
    val ds = topic.readTyped()
    val recs = ds.collect()
    assert(recs.length == 10)
    assert(recs.forall(r => r.event.startsWith("evt-") && r.offset >= 0))
    // typed transformations compile and behave
    assert(ds.filter(_.event == "evt-0").count() ==
      topic.read().filter(col("event") === "evt-0").count())
  }

  test("time-based retention drops records older than the cutoff") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40)) // ts = base + i*1000ms
    val cutoff = new java.sql.Timestamp(1700000000000L + 20 * 1000L)
    topic.retainAfter(cutoff)
    val left = topic.read().collect()
    assert(left.length == 20, s"expected 20 surviving records, got ${left.length}")
    assert(left.forall(!_.getAs[java.sql.Timestamp]("ts").before(cutoff)))
  }

  // ---- round-2: sidecar, publish-confirm, partition-scoped rewrites ----

  /** Snapshot of a subtree's data files: path -> (size, mtime). */
  private def fileSnapshot(dir: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    if (!dir.exists()) Map.empty
    else walk(dir).filterNot(_.getName.startsWith("_"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  test("publish returns the assigned offset ranges (publish-confirm)") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    val h0 = topic.heads()
    assert(h0.isEmpty)
    val r1 = topic.publish(mkRecords(50))
    assert(r1.values.map(_.count).sum == 50)
    r1.foreach { case (p, r) => assert(r.base == -1L && r.first == 0L) }
    val h1 = topic.heads()
    assert(h1 == r1.map { case (p, r) => p -> r.last })
    val r2 = topic.publish(mkRecords(30, startId = 50))
    assert(r2.values.map(_.count).sum == 30)
    // ranges continue exactly from the prior heads
    r2.foreach { case (p, r) => assert(r.base == h1(p), s"part $p base") }
    assert(topic.heads() == h1 ++ r2.map { case (p, r) => p -> r.last })
  }

  test("heads and publish use the sidecar, not a log scan") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40))
    val h1 = topic.heads()
    // hide the entire log: a scanning implementation now sees 0 records
    // and would restart offsets at 0; the sidecar keeps the real heads.
    val log = new java.io.File(s"$dir/log")
    val hidden = new java.io.File(s"$dir/log-hidden")
    assert(log.renameTo(hidden))
    assert(topic.heads() == h1, "heads() must come from the sidecar")
    val r = topic.publish(mkRecords(10, startId = 40))
    r.foreach { case (p, rng) =>
      assert(rng.base == h1(p), s"publish must base offsets on the sidecar (part $p)")
    }
  }

  test("cold sidecar: readers scan without persisting; a locked op rebuilds it") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val h = topic.heads()
    // simulate a pre-sidecar log (or lost sidecar)
    assert(new java.io.File(s"$dir/_offsets.json").delete())
    assert(topic.heads() == h) // read-only scan fallback
    // r9: a LOCK-FREE reader must not write the sidecar — its replace
    // could race a publisher's and resurrect stale heads
    assert(!new java.io.File(s"$dir/_offsets.json").exists(),
      "reader persisted the sidecar without the lock")
    topic.publish(mkRecords(1, startId = 20)) // locked op re-materializes
    assert(new java.io.File(s"$dir/_offsets.json").exists(),
      "sidecar not rebuilt by the locked publish")
  }

  test("compact keeps ALL null-key records (no latest-per-null-key collapse)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    // 10 keyed records (2 keys) + 30 keyless pub/sub events
    val keyed = (0 until 10).map(i => (s"e$i", s"k${i % 2}", s"m$i",
      new java.sql.Timestamp(1700000000000L + i * 1000L)))
    val keyless = (0 until 30).map(i => (s"e$i", null: String, s"pub$i",
      new java.sql.Timestamp(1700000100000L + i * 1000L)))
    topic.publish((keyed ++ keyless)
      .toDF("event", "key", "message", "ts"))
    topic.compact()
    val left = topic.read().collect()
    val keylessLeft = left.count(_.getAs[String]("key") == null)
    assert(keylessLeft == 30,
      s"compaction dropped keyless records: $keylessLeft of 30 remain")
    assert(left.count(_.getAs[String]("key") != null) == 2,
      "keyed compaction broken")
  }

  test("in-tree swap leftovers use the _old. prefix and recover() heals them") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val n = topic.read().count()
    // crash state of a swap torn by a build that renamed live dirs
    // aside INSIDE log/ (_old. prefix): a topic torn that way must
    // still heal on open. Spark's listing does not skip such a name
    // (it holds "="), so until the reopen a read() of this topic fails
    val parts = new java.io.File(s"$dir/log").listFiles()
      .filter(_.getName.startsWith("log_part=")).sortBy(_.getName)
    val p0 = parts.head
    assert(p0.renameTo(new java.io.File(
      p0.getParent + "/_old." + p0.getName)))
    val again = TopicLog.prepare(spark, dir, numPartitions = 2)
    assert(again.read().count() == n, "rolled back from _old. prefix")
    assert(p0.isDirectory, "live partition dir restored")
  }

  test("a torn swap never breaks a lock-free read of the other partitions") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val others = topic.read().filter(col("log_part") =!= 0).count()
    assert(others > 0 && others < 20, s"records must span both partitions: $others")
    // crash state between the two renames of a whole-partition swap:
    // live log_part=0 renamed aside, its staged twin never moved in.
    // The same instance reads before any reopen (and its heal) runs.
    val aside = new java.io.File(s"$dir/log.aside")
    assert(aside.mkdirs())
    assert(new java.io.File(s"$dir/log/log_part=0")
      .renameTo(new java.io.File(aside, "_old.log_part=0")))
    assert(topic.read().count() == others,
      "a mid-swap read must list only the live partitions")
    assert(TopicLog.prepare(spark, dir, numPartitions = 2).read().count() == 20)
  }

  test("an open during a compaction leaves the staged rewrite alone") {
    // a compactor holds the lease between its staging write and its
    // swap. An open from another instance must neither wait for that
    // lease nor touch the tree: an open that dropped `log.staging` here
    // would make the swap move the live partition aside, find no
    // staged twin, and delete the aside copy
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 1)
    // unique keys: compaction keeps every record
    topic.publish((0 until 20).map { i =>
      ("evt", s"key-$i", s"""{"i":$i}""", new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("event", "key", "message", "ts"))
    def records() = topic.read().select(col("offset"), col("message"))
      .as[(Long, String)].collect().toSet
    val before = records()
    val opened = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    FsLease.testBeforeFence = what =>
      if (what == "the 1 partition-dir swap(s)") {
        FsLease.testBeforeFence = _ => () // fire once
        val opener = new Thread(() =>
          try { TopicLog.prepare(spark, dir, numPartitions = 1); opened.set(true) }
          catch { case t: Throwable => failures.add(t) })
        opener.start(); opener.join(60 * 1000L)
      }
    try topic.compact() finally FsLease.testBeforeFence = _ => ()
    assert(failures.isEmpty, s"the open failed: ${failures.peek()}")
    assert(opened.get(), "the open waited for the compactor's lease")
    assert(records() == before, "the compaction lost records")
  }

  test("a publish into a partition torn by a crashed swap keeps every pre-crash record") {
    // crash state of a whole-partition swap: log_part=0 renamed into
    // the aside tree, its staged twin never moved in, and the dead
    // compactor's lock left behind past the stale window. An instance
    // opened before the crash publishes first; it breaks the stale
    // lock, and its first act under the lease heals (rolling the
    // partition back) before the batch lands. A lock-free heal on the next open would
    // find the partition recreated by that publish and delete the
    // aside copy: every pre-crash record of the partition.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val aside = new java.io.File(s"$dir/log.aside")
    assert(aside.mkdirs())
    assert(new java.io.File(s"$dir/log/log_part=0")
      .renameTo(new java.io.File(aside, "_old.log_part=0")))
    val lock = new java.io.File(s"$dir/_publish.lock")
    Files.writeString(lock.toPath, "dead-compactor")
    assert(lock.setLastModified(
      System.currentTimeMillis() - FsLease.StaleAfterMs - 10 * 1000L))
    val post = topic.publish(mkRecords(20, startId = 20))
    assert(post.contains(0), s"test shape: the batch must reach partition 0: $post")
    val rows = TopicLog.prepare(spark, dir, numPartitions = 2).read()
      .select(get_json_object(col("message"), "$.i").cast("int"),
        col("log_part"), col("offset"))
      .collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq == (0 until 40),
      "pre- and post-crash records must all read back")
    assert(rows.map(r => (r.getInt(1), r.getLong(2))).distinct.length == 40,
      "(log_part, offset) must stay unique")
  }

  test("a swap that fails mid-loop heals before it surfaces; a fenced one hands off") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40)) // 5 keys over both partitions
    val latest = topic.read().groupBy(col("key")).agg(max(col("offset")).as("o"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    final class Boom extends RuntimeException("simulated IO failure mid-swap")
    FsLease.testBeforeFence = what =>
      if (what == "the swap of log_part=1") throw new Boom
    val ex =
      try intercept[RuntimeException](topic.compact())
      finally FsLease.testBeforeFence = _ => ()
    assert(ex.isInstanceOf[Boom], ex.toString)
    // log_part=0 swapped, log_part=1 untouched; the heal dropped the
    // staging and aside trees the failed swap left
    assert(!new java.io.File(s"$dir/log.staging").exists(), "staging left behind")
    assert(!new java.io.File(s"$dir/log.aside").exists(), "aside tree left behind")
    val p0 = topic.read().filter(col("log_part") === 0)
    assert(p0.count() == p0.select("key").distinct().count(), "log_part=0 compacted")
    assert(topic.read().filter(col("log_part") === 1).count() > 5, "log_part=1 untouched")
    // a steal at the same fence aborts without touching the tree: the
    // thief owns the staging it may be writing
    val lock = new java.io.File(s"$dir/_publish.lock")
    FsLease.testBeforeFence = what =>
      if (what == "the swap of log_part=1") {
        lock.delete(); Files.writeString(lock.toPath, "thief-token")
      }
    try intercept[FsLease.FencedException](topic.compact())
    finally FsLease.testBeforeFence = _ => ()
    assert(new java.io.File(s"$dir/log.staging").exists(), "a fenced swap must leave staging")
    assert(lock.delete())
    topic.compact() // idempotent: the re-run completes
    assert(topic.read().collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("offset"))
      .toMap == latest)
  }

  test("a zombie whose staging write fails after a steal leaves the thief's tree alone") {
    // renewal starvation: a thief broke the compactor's lease, dropped
    // its staged rewrite (the thief's first act under the lease) and is
    // mid-swap itself, with the live partition moved aside. The
    // zombie's staging write then fails with a plain IO error, not a
    // fenced abort; a heal from the zombie would roll the thief's swap
    // back under it
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 1)
    topic.publish((0 until 20).map { i =>
      ("evt", s"key-$i", s"""{"i":$i}""", new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("event", "key", "message", "ts"))
    def records() = topic.read().select(col("offset"), col("message"))
      .as[(Long, String)].collect().toSet
    val before = records()
    val lock = new java.io.File(s"$dir/_publish.lock")
    val aside = new java.io.File(s"$dir/log.aside/_old.log_part=0")
    val live = new java.io.File(s"$dir/log/log_part=0")
    FsLease.testBeforeFence = what =>
      if (what == "the 1 partition-dir swap(s)") {
        FsLease.testBeforeFence = _ => () // fire once
        lock.delete(); Files.writeString(lock.toPath, "thief-token")
        assert(org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$dir/log.staging")))
        assert(aside.getParentFile.mkdirs() && live.renameTo(aside))
        throw new java.io.IOException("the staging write lost its output")
      }
    try intercept[java.io.IOException](topic.compact())
    finally FsLease.testBeforeFence = _ => ()
    assert(Files.readString(lock.toPath) == "thief-token", "the zombie freed the thief's lock")
    assert(aside.isDirectory && !live.exists(), "the zombie rolled back the thief's swap")
    // the thief dies mid-swap; the next open breaks its lock and heals
    assert(lock.setLastModified(
      System.currentTimeMillis() - FsLease.StaleAfterMs - 10 * 1000L))
    TopicLog.prepare(spark, dir, numPartitions = 1)
    assert(records() == before, "records lost across the steal")
  }

  test("a stale break writes nothing but the lock: staging and the heads sidecar survive it, the next holder heals") {
    // two waiters judge the same dead lock stale; the one that broke it
    // first may already hold the lease and be writing its staged
    // rewrite or its publish when the other breaks. So a break deletes
    // the lock and nothing else, even after a crashed publish: the
    // next holder heals that
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val lock = new java.io.File(s"$dir/_publish.lock")
    // a crashed publish: the lease is stolen at the sidecar fence, so
    // the batch is appended and the heads sidecar is left behind
    FsLease.testBeforeFence = what =>
      if (what == "the heads sidecar") {
        FsLease.testBeforeFence = _ => () // fire once
        lock.delete()
        Files.writeString(lock.toPath, "dead-writer")
      }
    try intercept[FsLease.FencedException](topic.publish(mkRecords(20, startId = 20)))
    finally FsLease.testBeforeFence = _ => ()
    assert(topic.read().count() == 40)
    // the thief dies too, and a compactor's staging tree is in place
    assert(lock.setLastModified(
      System.currentTimeMillis() - FsLease.StaleAfterMs - 10 * 1000L))
    val staging = new java.io.File(s"$dir/log.staging/log_part=0")
    assert(staging.mkdirs())
    val sidecar = java.nio.file.Paths.get(s"$dir/_offsets.json")
    val sidecarBefore = Files.readAllBytes(sidecar)
    topic.acquirePublishLockForTest(5000L).release()
    assert(staging.isDirectory, "a stale break dropped a staging tree")
    assert(java.util.Arrays.equals(Files.readAllBytes(sidecar), sidecarBefore),
      "a stale break rewrote the heads sidecar")
    // the staging tree's owner finishes and drops it, so only the
    // crashed publish's intent is left to make the next holder heal:
    // its publish continues after the crashed batch and re-issues none
    // of its offsets
    assert(org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$dir/log.staging")))
    val landed = topic.read().groupBy(col("log_part")).agg(max(col("offset")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val r = topic.publish(mkRecords(10, startId = 100))
    assert(r.nonEmpty && r.forall { case (p, rng) => rng.base == landed(p) },
      s"ranges $r do not start after the crashed batch's $landed")
    assert(dupOffsets(topic) == 0L)
    assert(topic.heads().values.map(_ + 1).sum == 50L,
      "heads must account for every record")
  }

  test("prepare works with an explicit file:// URI (Hadoop mkdirs, not java.io)") {
    val dir = Files.createTempDirectory("topicuri").toString
    val topic = TopicLog.prepare(spark, s"file://$dir/t", numPartitions = 2)
    assert(topic.read().count() == 0, "empty just-prepared topic must read")
    topic.publish(mkRecords(10))
    assert(topic.read().count() == 10)
  }

  test("recover() heals a swap torn between the two renames") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val n = topic.read().count()
    // crash state at the date level: one live log_date dir renamed
    // into the aside tree, its staged twin never moved in, and the
    // staging tree left behind
    val part = new java.io.File(s"$dir/log").listFiles()
      .filter(_.getName.startsWith("log_part=")).minBy(_.getName)
    val date = part.listFiles()
      .filter(_.getName.startsWith("log_date=")).minBy(_.getName)
    val asideParent = new java.io.File(s"$dir/log.aside/${part.getName}")
    assert(asideParent.mkdirs())
    val aside = new java.io.File(asideParent, "_old." + date.getName)
    assert(date.renameTo(aside))
    val staging = new java.io.File(s"$dir/log.staging/${part.getName}")
    assert(staging.mkdirs())
    val reopened = TopicLog.prepare(spark, dir, numPartitions = 2)
    assert(reopened.read().count() == n, "rolled back from _old.log_date")
    assert(date.isDirectory && !aside.exists(), "live date dir restored")
    assert(!new java.io.File(s"$dir/log.aside").exists(), "aside tree dropped")
    assert(!new java.io.File(s"$dir/log.staging").exists(), "staging dropped")
  }

  test("compact touches only the requested partitions") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(100))
    val partsDir = new java.io.File(s"$dir/log")
    val others = partsDir.listFiles().filter(f =>
      f.getName.startsWith("log_part=") && f.getName != "log_part=0")
    val before = others.map(f => f.getName -> fileSnapshot(f)).toMap
    topic.compact(Seq(0))
    others.foreach { f =>
      assert(fileSnapshot(f) == before(f.getName),
        s"${f.getName} files must be byte-identical after compact(Seq(0))")
    }
    // partition 0 is compacted: one record per key
    val p0 = topic.read().filter(col("log_part") === 0)
    assert(p0.count() == p0.select("key").distinct().count())
    // other partitions still hold their full history
    assert(topic.read().filter(col("log_part") =!= 0).count() > 5)
  }

  test("time retention drops whole old days, rewrites only the boundary") {
    import spark.implicits._
    val day = 86400000L
    val base = 1700000000000L // 2023-11-14 22:13:20 UTC
    val recs = (0 until 90).map { i =>
      (s"evt-${i % 3}", s"key-${i % 5}", s"""{"i":$i}""",
        new java.sql.Timestamp(base + (i / 30) * day + (i % 30) * 1000L))
    }.toDF("event", "key", "message", "ts")
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(recs)
    val dates = new java.io.File(s"$dir/log").listFiles()
      .filter(_.getName.startsWith("log_part="))
      .flatMap(_.listFiles()).map(_.getName).distinct.sorted
    assert(dates.length == 3, s"expected 3 date dirs, got ${dates.mkString(",")}")
    // snapshot the NEWEST day's files; cut mid-second-day
    val newestSnap = fileSnapshot(new java.io.File(s"$dir/log"))
      .filter(_._1.contains(dates.last))
    val cutoff = new java.sql.Timestamp(base + day + 15 * 1000L)
    topic.retainAfter(cutoff)
    val after = fileSnapshot(new java.io.File(s"$dir/log"))
    assert(after.filter(_._1.contains(dates.last)) == newestSnap,
      "newest day's files must be untouched (byte-identical)")
    assert(!after.keys.exists(_.contains(dates.head)), "oldest day dir dropped")
    val left = topic.read().collect()
    assert(left.forall(!_.getAs[java.sql.Timestamp]("ts").before(cutoff)))
    assert(left.length == 15 + 30)
    // heads survive retention (offsets stay monotonic)
    assert(topic.heads().nonEmpty)
  }

  test("retainToSize caps the log like the reference's capped collection") {
    import spark.implicits._
    val day = 86400000L
    val base = 1700000000000L
    val recs = (0 until 300).map { i =>
      (s"evt-${i % 3}", s"key-${i % 5}", s"""{"i":$i,"pad":"${"x" * 200}"}""",
        new java.sql.Timestamp(base + (i / 100) * day + (i % 100) * 1000L))
    }.toDF("event", "key", "message", "ts")
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(recs)
    val h = topic.heads()
    def logSize(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(logSize).sum
      else if (f.getName.startsWith("_")) 0L else f.length()
    val full = logSize(new java.io.File(s"$dir/log"))
    val budget = full / 2
    topic.retainToSize(budget)
    assert(logSize(new java.io.File(s"$dir/log")) <= budget, "size within budget")
    val left = topic.read()
    // the newest records survive (oldest-drop, like the capped collection)
    val maxI = left.select(get_json_object(col("message"), "$.i").cast("int").as("i"))
      .agg(max("i")).head().getInt(0)
    assert(maxI == 299, "newest record must survive")
    assert(left.count() > 0 && left.count() < 300)
    // offsets and heads are stable (no renumbering)
    assert(topic.heads() == h)
  }

  // ---- round-3: concurrent publishers + crash reconcile ----

  test("two interleaved publishers assign disjoint, gapless offset ranges") {
    val dir = Files.createTempDirectory("topic").toString
    // two independent handles on the SAME topic (two producer processes)
    val a = TopicLog.prepare(spark, dir, numPartitions = 2)
    val b = TopicLog.prepare(spark, dir, numPartitions = 2)
    val ranges = new java.util.concurrent.ConcurrentLinkedQueue[Map[Int, TopicLog.OffsetRange]]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq((a, 0), (b, 200)).map { case (topic, start) =>
      new Thread(() =>
        try (0 until 3).foreach { i =>
          ranges.add(topic.publish(mkRecords(20, startId = start + i * 20)))
        } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // a swallowed publisher death would otherwise surface as a baffling
    // record-count mismatch below
    assert(failures.isEmpty, s"publisher thread died: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    val all = ranges.asScala.toSeq
    assert(all.map(_.values.map(_.count).sum).sum == 120)
    // per partition: the 6 publishes' (first..last] ranges never overlap
    (0 until 2).foreach { p =>
      val rs = all.flatMap(_.get(p)).map(r => (r.first, r.last)).sortBy(_._1)
      rs.sliding(2).foreach {
        case Seq((_, lastA), (firstB, _)) =>
          assert(firstB == lastA + 1, s"part $p ranges overlap or gap: $rs")
        case _ => ()
      }
    }
    // and the log itself is dense from 0 in every partition
    val byPart = a.read().groupBy(col("log_part"))
      .agg(min("offset").as("lo"), max("offset").as("hi"), count(lit(1)).as("n"))
      .collect()
    assert(byPart.map(_.getAs[Long]("n")).sum == 120)
    byPart.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L)
      assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 == r.getAs[Long]("n"),
        s"offsets not dense in part ${r.getInt(0)}")
    }
  }

  test("replaySince partition-prunes old log_date directories") {
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    // 6 records across 3 days (2 per day)
    val t0 = java.sql.Timestamp.valueOf("2026-03-01 12:00:00").getTime
    topic.publish((0 until 6).map { i =>
      (s"evt-${i % 2}", s"key-$i", s"""{"i":$i}""",
        new java.sql.Timestamp(t0 + (i / 2) * 86400000L + i))
    }.toDF("event", "key", "message", "ts"))
    val since = java.sql.Timestamp.valueOf("2026-03-02 00:00:00")
    val df = topic.replaySince(since)
    assert(df.count() == 4) // days 2 and 3 only
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*log_date".r.findFirstIn(plan).isDefined,
      s"log_date not in PartitionFilters:\n${plan.take(1000)}")
    // boundary precision: a mid-day cutoff keeps only later records
    val midday = new java.sql.Timestamp(t0 + 86400000L + 3) // day-2, after rec 2
    assert(topic.replaySince(midday).count() == 3)
  }

  test("compaction cannot race a concurrent publish (shared writer lease)") {
    import org.apache.spark.sql.functions.udf
    val dir = Files.createTempDirectory("topic").toString
    val a = TopicLog.prepare(spark, dir, numPartitions = 2)
    val b = TopicLog.prepare(spark, dir, numPartitions = 2)
    a.publish(mkRecords(60)) // base data with duplicate keys to compact
    val crawl = udf((s: String) => { Thread.sleep(20); s })
    val slow = mkRecords(60, startId = 60).repartition(1)
      .withColumn("message", crawl(col("message"))) // ~1.2 s publish
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tPub = new Thread(() =>
      try { a.publish(slow); () } catch { case t: Throwable => failures.add(t) })
    val tCompact = new Thread(() =>
      try { Thread.sleep(300); b.compact() } // lands mid-publish
      catch { case t: Throwable => failures.add(t) })
    tPub.start(); tCompact.start(); tPub.join(); tCompact.join()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    // nothing lost: every key's LATEST record (by offset) survives, and
    // in particular the batch published concurrently with the compactor
    // was not dropped by the directory swap
    val latest = a.read().groupBy(col("key"))
      .agg(max(col("offset")).as("o")).count()
    assert(latest == 5, s"expected 5 distinct keys, got $latest")
    val maxI = a.read()
      .select(get_json_object(col("message"), "$.i").cast("int").as("i"))
      .agg(max("i")).head().getInt(0)
    assert(maxI == 119, "the concurrently-published batch must survive compaction")
  }

  test("lease renewal keeps a slow publish safe from a waiting publisher") {
    import org.apache.spark.sql.functions.udf
    val dir = Files.createTempDirectory("topic").toString
    val a = TopicLog.prepare(spark, dir, numPartitions = 2)
    val b = TopicLog.prepare(spark, dir, numPartitions = 2)
    val crawl = udf((s: String) => { Thread.sleep(25); s })
    val slow = mkRecords(100).repartition(1)
      .withColumn("message", crawl(col("message"))) // ~2.5 s publish
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tA = new Thread(() =>
      try { a.publish(slow); () } catch { case t: Throwable => failures.add(t) })
    val tB = new Thread(() =>
      try {
        Thread.sleep(700) // past A's un-renewed lease age
        b.publish(mkRecords(40, startId = 100)); ()
      } catch { case t: Throwable => failures.add(t) })
    tA.start(); tB.start(); tA.join(); tB.join()
    assert(failures.isEmpty, s"publisher died: ${failures.peek()}")
    // no duplicate offsets: dense 0..n-1 per partition, total exact
    val byPart = a.read().groupBy(col("log_part"))
      .agg(min("offset").as("lo"), max("offset").as("hi"), count(lit(1)).as("n"))
      .collect()
    assert(byPart.map(_.getAs[Long]("n")).sum == 140)
    byPart.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L)
      assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 == r.getAs[Long]("n"),
        s"duplicate or gapped offsets in part ${r.getInt(0)}")
    }
  }

  test("stale publish lock: reopen reconciles the sidecar against the log") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val staleSidecar = Files.readString(
      java.nio.file.Paths.get(s"$dir/_offsets.json"))
    topic.publish(mkRecords(20, startId = 20))
    val trueHeads = topic.heads()
    // crash simulation: second publish's data landed, but the sidecar
    // "never got written" (restore the stale copy) and the dead
    // publisher's lock is still lying around, past its lease
    Files.writeString(java.nio.file.Paths.get(s"$dir/_offsets.json"), staleSidecar)
    // drop the Hadoop LocalFS checksum twin — we bypassed it on purpose
    new java.io.File(s"$dir/._offsets.json.crc").delete()
    val lock = new java.io.File(s"$dir/_publish.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000L))
    val reopened = TopicLog.prepare(spark, dir, numPartitions = 2)
    assert(!lock.exists(), "stale lock must be broken on recover")
    assert(reopened.heads() == trueHeads,
      "sidecar must be reconciled to the max of sidecar and scan")
    // next publish continues from the true heads — no duplicate offsets
    val r = reopened.publish(mkRecords(10, startId = 40))
    r.foreach { case (p, rng) => assert(rng.base == trueHeads(p)) }
    val dense = reopened.read().groupBy(col("log_part"))
      .agg(max("offset").as("hi"), count(lit(1)).as("n")).collect()
    dense.foreach(r => assert(r.getAs[Long]("hi") + 1 == r.getAs[Long]("n")))
  }

  test("fenced publish: a stale-broken publisher aborts before the sidecar write and spares the thief's lock") {
    // r13 (the LshIndex fence discipline applied to the topic log): a
    // renewal-starved publisher whose lock was token-CAS-broken used to
    // complete its sidecar replace anyway — last-writer-wins REGRESSING
    // heads a thief had advanced, permanently re-issuing the thief's
    // offsets. The commit fence aborts it; its release must also leave
    // the thief's fresh lock untouched (compare-and-delete, not the old
    // unconditional delete); and the standing reconcile path heals the
    // orphaned data files so offsets never collide.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val headsBefore = topic.heads()
    val lock = new java.io.File(s"$dir/_publish.lock")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    FsLease.testBeforeFence = _ =>
      if (fired.incrementAndGet() == 1) {
        // a waiter judged us dead mid-append and token-CAS-broke our
        // lock; a thief now holds a fresh lease of its own
        lock.delete()
        java.nio.file.Files.writeString(lock.toPath, "thief-token")
      }
    val ex =
      try intercept[FsLease.FencedException] {
        topic.publish(mkRecords(20, startId = 20))
      } finally FsLease.testBeforeFence = _ => ()
    assert(ex.getMessage.contains("stale-broken"), ex.getMessage)
    assert(topic.heads() == headsBefore,
      "a fenced publish must not touch the heads sidecar")
    assert(java.nio.file.Files.readString(lock.toPath) == "thief-token",
      "the fenced-out publisher must not free the thief's lock on release")
    // heal path: the thief dies too (its lock goes stale); the next
    // open reconciles heads from the log, folding in the orphaned
    // batch's data files, so later publishes never re-issue offsets
    assert(lock.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000L))
    val reopened = TopicLog.prepare(spark, dir, numPartitions = 2)
    assert(reopened.heads().values.sum > headsBefore.values.sum,
      "reconcile must fold the orphaned batch into heads")
    reopened.publish(mkRecords(10, startId = 100))
    val dup = reopened.read().groupBy(col("log_part"), col("offset"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dup == 0L, "offsets must stay unique after fence + reconcile")
  }

  test("fresh lock from a live publisher is honored, then acquirable") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(10))
    // a FRESH foreign lock: publish must wait, then time out (we never
    // release it) — proving it does not break a live writer's lease
    val lock = new java.io.File(s"$dir/_publish.lock")
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      val impatient = TopicLog.prepare(spark, dir, numPartitions = 2)
      impatient.acquirePublishLockForTest(300L)
    }
    assert(ex.getMessage.contains("lease"))
    assert(lock.delete())
    // once released, publish proceeds normally
    assert(topic.publish(mkRecords(10, startId = 10)).values.map(_.count).sum == 10)
  }

  test("concurrent acks from different subscribers never lose updates") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    // two subscribers ack in parallel, repeatedly; per-subscriber
    // sidecars mean there is no shared file to clobber
    val threads = Seq("alpha", "beta").map { name =>
      new Thread(() => (1 to 25).foreach { i =>
        topic.ack(name, Map(0 -> i.toLong, 1 -> i.toLong))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val marks = topic.subscribers().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(marks == Map(
      ("alpha", 0) -> 25L, ("alpha", 1) -> 25L,
      ("beta", 0) -> 25L, ("beta", 1) -> 25L), s"lost acks: $marks")
    // partial ack merges with the subscriber's existing marks
    topic.ack("alpha", Map(0 -> 30L))
    val after = topic.subscribers().filter(col("name") === "alpha").collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(after == Map(0 -> 30L, 1 -> 25L))
    // the layout is one tiny sidecar per subscriber (ack = no Spark job)
    val files = new java.io.File(s"$dir/subscribers").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).sorted
    assert(files.sameElements(Array("alpha.json", "beta.json")), files.toSeq)
  }

  test("retention trims below the watermark, like a capped collection") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40))
    val heads = topic.heads()
    topic.retainFrom(heads.map { case (p, h) => p -> h }) // keep only heads
    assert(topic.read().count() == heads.size)
    // offsets keep their identity after the trim (no renumbering)
    val offs = topic.read().select("log_part", "offset").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(offs == heads)
  }

  test("slow consumer: replay after retention trimmed past the acked watermark") {
    // The classic production incident (reference analogue: the capped
    // collection silently overwrites messages a durable subscriber has
    // not read yet, topic.js:8-10). Pinned semantics: replay resumes at
    // the OLDEST RETAINED offset with no error; the records between the
    // watermark and the retention horizon are a silent data-loss window
    // — exactly the reference's behavior, now spec-pinned (r9).
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(40))
    val heads = topic.heads()
    // durable subscriber acks ~mid-log...
    val marks = heads.map { case (p, h) => p -> h / 2 }
    topic.ack("slow", marks)
    // ...then retention trims PAST that watermark: keep only the last
    // 3 offsets of each partition (h-2 > h/2 at 20 records/part)
    val horizon = heads.map { case (p, h) => p -> (h - 2) }
    horizon.foreach { case (p, o) =>
      assert(o > marks(p), "test shape: horizon must exceed watermark") }
    topic.retainFrom(horizon)
    val replayed = topic.replay("slow").collect()
    // resumes at the oldest retained offset, drains to the head, no gap
    // inside the retained range, no error
    replayed.groupBy(_.getAs[Int]("log_part")).foreach { case (p, rows) =>
      val got = rows.map(_.getAs[Long]("offset")).sorted
      assert(got.sameElements(horizon(p) to heads(p)),
        s"part $p: expected ${horizon(p)}..${heads(p)}, got ${got.toSeq}")
    }
    // the data-loss window (watermark+1 until horizon-1) is silently
    // skipped — count pins its size so the contract is explicit
    val lost = marks.map { case (p, m) => horizon(p) - 1 - m }.sum
    assert(lost > 0, "test shape: a real loss window must exist")
    assert(replayed.length ==
      heads.map { case (p, h) => h - horizon(p) + 1 }.sum)
    // after draining and acking the head, the subscriber is clean again
    topic.ack("slow", heads)
    assert(topic.replay("slow").count() == 0)
  }

  test("durable replay across compaction: offsets keep meaning, only survivors above the watermark return") {
    // Compaction rewrites files but PRESERVES offsets (latest-per-key
    // keeps its original offset), so a durable subscriber's watermark
    // stays meaningful across it: replay returns exactly the compacted
    // survivors above the ack — with lawful gaps where compacted-away
    // records used to be — and no error. (The STREAMING face does NOT
    // get this for free — a live file-source subscription across a
    // compaction re-sees survivors as new files; that contract is
    // documented on TopicStream.)
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 4)
    topic.publish(mkRecords(100)) // keys key-0..key-4, 20 records each
    val heads = topic.heads()
    // subscriber acks ~mid-log, then the topic is compacted
    val marks = heads.map { case (p, h) => p -> h / 2 }
    topic.ack("reader", marks)
    topic.compact()
    val survivors = topic.read().collect()
    assert(survivors.length == 5) // latest record per key
    val replayed = topic.replay("reader").collect()
    val expected = survivors.filter(r =>
      r.getAs[Long]("offset") > marks(r.getAs[Int]("log_part")))
    assert(replayed.map(r => (r.getAs[Int]("log_part"),
        r.getAs[Long]("offset"))).sorted.toSeq ==
      expected.map(r => (r.getAs[Int]("log_part"),
        r.getAs[Long]("offset"))).sorted.toSeq)
    // offsets were NOT renumbered by compaction: every replayed offset
    // exists in the pre-compaction numbering (≤ its partition's head)
    replayed.foreach { r =>
      assert(r.getAs[Long]("offset") <= heads(r.getAs[Int]("log_part")))
    }
    // publish continues from the preserved heads — no offset re-issue
    val ranges = topic.publish(mkRecords(8, startId = 500))
    ranges.foreach { case (p, r) =>
      assert(r.base >= heads(p), s"part $p re-issued offsets")
    }
  }

  test("stale window: a lock just under it is honored, one just over it is broken") {
    // Staleness is one fixed window (FsLease.StaleAfterMs) for every
    // holder and observer: a live holder renews every RenewEveryMs, so
    // a lock younger than the window belongs to a live writer and must
    // be waited on; only a lock older than it may be broken (with the
    // sidecar reconcile) and taken over.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(4))
    val lock = new java.io.File(s"$dir/_publish.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(
      System.currentTimeMillis() - FsLease.StaleAfterMs + 10 * 1000L))
    val observer = TopicLog.prepare(spark, dir, numPartitions = 2)
    val ex = intercept[IllegalStateException] {
      observer.acquirePublishLockForTest(400L)
    }
    assert(ex.getMessage.contains("lease"))
    assert(lock.exists(), "a lock just under the stale window must be honored")
    assert(lock.setLastModified(
      System.currentTimeMillis() - FsLease.StaleAfterMs - 10 * 1000L))
    assert(observer.publish(mkRecords(4, startId = 10)).values
      .map(_.count).sum == 4)
    assert(!new java.io.File(s"$dir/_publish.lock").exists(),
      "the truly-stale lock was broken and publish released its own")
  }

  test("corrupt _partitions pin (present but keyless) fails loudly, never re-adopts the caller's count") {
    val dir = Files.createTempDirectory("topic").toString
    TopicLog.prepare(spark, dir, numPartitions = 4).publish(mkRecords(4))
    // truncate the pin to a keyless file: key 0 is gone but the file
    // exists — pre-fix this silently adopted whatever the caller
    // passed, which is exactly the corruption the pin guards against
    Files.writeString(java.nio.file.Paths.get(s"$dir/_partitions"), "9:9\n")
    new java.io.File(s"$dir/._partitions.crc").delete()
    val ex = intercept[IllegalStateException] {
      TopicLog.prepare(spark, dir, numPartitions = 16)
    }
    assert(ex.getMessage.contains("corrupt _partitions"))
  }

  test("publish fences only the heads sidecar; publishIdempotent fences its marker first") {
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    FsLease.testBeforeFence = what => labels.add(what)
    try {
      topic.publish(mkRecords(10))
      assert(labels.toArray.toSeq == Seq("the heads sidecar"))
      labels.clear()
      topic.publishIdempotent(mkRecords(10, startId = 10), "tx-order")
      assert(labels.toArray.toSeq == Seq("txn marker tx-order", "the heads sidecar"))
    } finally FsLease.testBeforeFence = _ => ()
  }

  private def dupOffsets(topic: TopicLog): Long =
    topic.read().groupBy(col("log_part"), col("offset"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()

  test("publishIdempotent aborted after its marker: the retry returns the recorded ranges and appends nothing") {
    // the marker is part of the publish commit, written before the
    // heads sidecar: a lease stolen between the two aborts the publish,
    // yet the txn is in — a supervisor's retry of the same id (the
    // only rule it needs) is a no-op, never a second copy
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    val lock = new java.io.File(s"$dir/_publish.lock")
    FsLease.testBeforeFence = what =>
      if (what == "the heads sidecar") {
        FsLease.testBeforeFence = _ => () // fire once
        // a waiter breaks our lock and takes the lease
        lock.delete()
        java.nio.file.Files.writeString(lock.toPath, "thief-token")
      }
    try intercept[FsLease.FencedException] {
      topic.publishIdempotent(mkRecords(20), "tx-window")
    } finally FsLease.testBeforeFence = _ => ()
    assert(lock.delete(), "the fenced-out publisher must spare the thief's lock")
    assert(new java.io.File(s"$dir/txns/tx-window").exists())
    assert(topic.read().count() == 20)
    val again = topic.publishIdempotent(mkRecords(20), "tx-window")
    assert(again.values.map(_.count).sum == 20L)
    assert(again.forall { case (p, r) => r.base == -1L && topic.heads()(p) == r.last },
      s"redelivery returned $again, heads ${topic.heads()}")
    assert(topic.read().count() == 20, "the retry re-appended a committed txn")
    assert(dupOffsets(topic) == 0L)
    assert(topic.heads().values.map(_ + 1).sum == 20L,
      "heads must account for exactly the records published")
  }

  test("publishIdempotent killed before its marker: heads reconciled, no marker, the redelivery re-appends once") {
    // the one at-least-once window left: the append landed, the marker
    // did not. The commit's catch-all must reconcile heads (so offsets
    // stay unique) and the retry re-appends the batch exactly once.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    final class Boom extends RuntimeException("simulated crash before the marker")
    FsLease.testBeforeFence = what =>
      if (what == "txn marker tx-orphan") {
        FsLease.testBeforeFence = _ => () // fire once
        throw new Boom
      }
    val ex =
      try intercept[RuntimeException] {
        topic.publishIdempotent(mkRecords(20), "tx-orphan")
      } finally FsLease.testBeforeFence = _ => ()
    assert(ex.isInstanceOf[Boom], ex.toString)
    assert(!new java.io.File(s"$dir/txns/tx-orphan").exists(),
      "the kill landed before the marker write")
    assert(topic.heads().values.map(_ + 1).sum == 20L,
      "the catch-all must fold the orphaned append into heads")
    topic.publish(mkRecords(5, startId = 100))
    assert(dupOffsets(topic) == 0L)
    // the redelivery re-appends once (the documented orphan copy), and
    // its marker then makes further redeliveries no-ops
    val r = topic.publishIdempotent(mkRecords(20), "tx-orphan")
    assert(topic.read().count() == 45)
    assert(topic.publishIdempotent(mkRecords(20), "tx-orphan") == r)
    assert(topic.read().count() == 45)
    assert(dupOffsets(topic) == 0L)
  }

  test("a publish whose commit step fails reconciles heads before surfacing: no duplicate offsets ever") {
    // r14 chaos-class find: only process DEATH was covered (stale-break
    // reconcile). A SURVIVING writer whose commit step throws (an IO
    // error replacing the sidecar) released its lock normally with the
    // batch appended and the sidecar stale — the next publish, in any
    // process, read the stale heads and re-issued the batch's offsets:
    // permanent duplicate (part, offset) pairs. publishLocked now
    // reconciles under the still-held lease before rethrowing.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    final class Boom extends RuntimeException("simulated sidecar IO failure")
    FsLease.testBeforeFence = what =>
      if (what == "the heads sidecar") {
        FsLease.testBeforeFence = _ => () // fire once
        throw new Boom
      }
    val ex =
      try intercept[RuntimeException] {
        topic.publish(mkRecords(20, startId = 20))
      } finally FsLease.testBeforeFence = _ => ()
    assert(ex.isInstanceOf[Boom], ex.toString)
    // the crashed batch stays behind (at-least-once), heads healed
    assert(topic.read().count() == 40)
    // the pre-fix failure: THIS publish re-issued offsets 20..39
    topic.publish(mkRecords(10, startId = 100))
    val dup = topic.read().groupBy(col("log_part"), col("offset"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dup == 0L, "duplicate (part, offset) pairs after a commit-step failure")
    // offsets are dense again per partition (reconcile found the max)
    topic.read().groupBy(col("log_part"))
      .agg(min("offset").as("lo"), max("offset").as("hi"), count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 == r.getAs[Long]("n"))
      }
  }

  test("retention loops re-fence per delete: a mid-loop steal stops the sweep") {
    // r13 ADVICE: retainAfter/retainToSize fenced once before a
    // potentially long deletion loop — a lease stolen mid-loop let the
    // zombie keep deleting files a thief may concurrently be
    // publishing. Each delete now re-checks the token.
    import spark.implicits._
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    val base = 1700000000000L
    topic.publish((0 until 12).map { i =>
      (s"e", s"k$i", s"m$i", new java.sql.Timestamp(base + i * 86400000L))
    }.toDF("event", "key", "message", "ts")) // 12 distinct days
    val nDateDirs = (0 until 2).flatMap { p =>
      Option(new java.io.File(s"$dir/log/log_part=$p").listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("log_date="))
    }.size
    assert(nDateDirs >= 4, s"test shape: want several date dirs, got $nDateDirs")
    val lock = new java.io.File(s"$dir/_publish.lock")
    val drops = new java.util.concurrent.atomic.AtomicInteger(0)
    FsLease.testBeforeFence = what =>
      if (what.startsWith("retention drop of") &&
          drops.incrementAndGet() == 2) {
        lock.delete()
        java.nio.file.Files.writeString(lock.toPath, "thief-token")
      }
    val ex =
      try intercept[FsLease.FencedException] {
        topic.retainAfter(new java.sql.Timestamp(base + 11 * 86400000L))
      } finally FsLease.testBeforeFence = _ => ()
    assert(ex.getMessage.contains("stale-broken"), ex.getMessage)
    // the sweep stopped at the fence: old date dirs SURVIVE past the
    // one deleted before the steal landed
    val survivors = (0 until 2).flatMap { p =>
      Option(new java.io.File(s"$dir/log/log_part=$p").listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("log_date="))
    }.size
    assert(survivors >= nDateDirs - 1,
      s"zombie kept sweeping past the steal: $survivors of $nDateDirs left")
    assert(survivors < nDateDirs, "test shape: one drop must have landed")
    // retention is idempotent: clear the thief and re-run to completion
    assert(lock.delete())
    topic.retainAfter(new java.sql.Timestamp(base + 11 * 86400000L))
    assert(topic.read().count() == 1)
  }

  test("sidecar replaces are atomic: a hammering reader never sees a missing or torn sidecar") {
    // r14 (verdict ask #1): the heads sidecar and every subscriber
    // watermark sidecar used to be replaced via FileContext
    // Rename.OVERWRITE, which on the local scheme is delete-then-rename
    // — a replay() racing an ack() could read "no sidecar" and lawfully
    // return the WHOLE log as that consumer's backlog (the r9 bug,
    // resurrected). This spec hammers both sidecars with replaces while
    // a reader loop asserts, at the raw-file level, that the target is
    // ALWAYS present and ALWAYS parses whole — the exact observation
    // the r13 LSH chaos suite used to catch the same gap on the marker.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(8))
    topic.ack("ham", Map(0 -> 0L))
    val targets = Seq(
      java.nio.file.Paths.get(s"$dir/_offsets.json"),
      java.nio.file.Paths.get(s"$dir/subscribers/ham.json"))
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) targets.foreach { p =>
        if (!java.nio.file.Files.exists(p))
          violations.add(s"MISSING $p")
        else {
          try {
            val lines = new String(java.nio.file.Files.readAllBytes(p),
              "UTF-8").split("\n").map(_.trim).filter(_.nonEmpty)
            if (lines.isEmpty || !lines.forall(
                _.matches("""-?\d+:-?\d+""")))
              violations.add(s"TORN $p: ${lines.toSeq}")
          } catch {
            // the file vanished between exists() and read — the same
            // missing-file window, caught at a different instant
            case _: java.nio.file.NoSuchFileException |
                 _: java.io.FileNotFoundException =>
              violations.add(s"MISSING-ON-READ $p")
          }
        }
      }
    }, "sidecar-hammer-reader")
    reader.start()
    try {
      (1 to 300).foreach(i => topic.ack("ham", Map(0 -> i.toLong)))
      (0 until 3).foreach(i => topic.publish(mkRecords(4, startId = 100 + 4 * i)))
      (301 to 500).foreach(i => topic.ack("ham", Map(1 -> i.toLong)))
    } finally { stop.set(true); reader.join() }
    assert(violations.isEmpty,
      s"atomic replace violated: ${violations.toArray.toSeq.take(5)}")
    // and the API-level faces stayed coherent throughout
    assert(topic.heads().size == 2)
    assert(topic.replay("ham").count() >= 0)
  }

  test("concurrent same-subscriber acks: last-writer-wins, never a torn sidecar") {
    // r14 (verdict ask #3): the old fixed `<target>.tmp` scratch name
    // let two concurrent acks of the SAME subscriber (a misdeployed
    // duplicate consumer) interleave on one temp file — one renames
    // the other's half-written bytes into place, and readKv's
    // `Array(k, v)` match throws on the torn file at the next replay.
    // Token-unique temps make every rename land a whole file; the
    // merge itself stays read-then-write, so a lost UPDATE is lawful
    // (last-writer-wins) but a torn FILE never is.
    val dir = Files.createTempDirectory("topic").toString
    val topic = TopicLog.prepare(spark, dir, numPartitions = 2)
    topic.publish(mkRecords(20))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => (1 to 150).foreach { i =>
        try topic.ack("dup", Map(0 -> (t * 1000L + i), 1 -> (t * 1000L + i)))
        catch { case e: Throwable => errs.add(e) }
      }, s"dup-acker-$t")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent same-subscriber acks threw: ${errs.peek()}")
    // the sidecar parses whole and carries one of the written values
    val marks = topic.subscribers().filter(col("name") === "dup").collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(marks.keySet == Set(0, 1), s"torn or partial sidecar: $marks")
    marks.values.foreach(v =>
      assert((v >= 1L && v <= 150L) || (v >= 1001L && v <= 1150L),
        s"sidecar value $v was never written by either acker"))
    // replay parses the sidecar (the pre-fix failure threw HERE)
    assert(topic.replay("dup").count() >= 0)
  }
}
