package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{FsLease, TopicLog}

/** Randomized multi-writer chaos coverage for the TOPIC LOG (r13
  * verdict ask #2, the [[LshChaosSpec]] analogue): the single-injection
  * fence specs in TopicLogSpec each pin ONE steal/kill at ONE point;
  * this suite drives 3 concurrent idempotent publishers × 2 batches
  * with SEEDED random steal/kill injections at every commit fence
  * (`FsLease.testBeforeFence`), a compaction + retention +
  * marker-pruning maintainer, and a replaying/acking durable consumer
  * running throughout, plus a reopener calling `TopicLog.prepare`
  * again and again, and asserts the invariants that must survive
  * ANY interleaving:
  *
  *  - (log_part, offset) pairs are globally unique end-to-end — the
  *    one invariant the publish lock exists to protect;
  *  - the heads sidecar never regresses (watched continuously);
  *  - no committed batch is lost: after the dust settles every batch
  *    sits in the log at EXACTLY the offset ranges its publish
  *    reported (compaction of retry-orphaned copies notwithstanding);
  *  - the consumer never errors (beyond the documented transient
  *    missing-file window of a lock-free read racing a compaction
  *    swap), never sees the content at a (part, offset) change, and
  *    ends having seen every published record;
  *  - `publishIdempotent` is exactly-once per txnId: the supervisor
  *    (the writer loop here) retries the same txnId on ANY failure,
  *    and afterwards every txn has its marker and a redelivery returns
  *    the recorded ranges without appending.
  *
  * Injection model: a KILL (thrown exception) models an IO failure /
  * crash inside the fence — the holder's own catch-all reconcile
  * (r14) must absorb it. A STEAL models a waiter's token-CAS break
  * after renewal starvation: the break deletes the lock and writes
  * nothing else (FsLease.breakStale), so the injection only deletes
  * it, and the fenced-out writer's publish intent makes the next
  * holder heal. A writer abort at the txn-marker fence lands AFTER the
  * data append and before the marker, so each one orphans one extra
  * copy of its batch (the documented at-least-once window); the
  * orphan's offsets are folded into heads by the heal, the retry
  * re-appends at higher offsets, and compaction (unique keys)
  * collapses orphans back out — the assertions below account for
  * exactly that. An abort at the heads-sidecar fence lands after the
  * marker: the retry finds it and appends nothing, so it orphans
  * nothing.
  */
class TopicChaosSpec extends AnyFunSuite {
  import SparkTestSession._

  private final class ChaosKill extends RuntimeException("chaos kill")

  private def batchDf(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      ("evt", s"k-$i", s"""{"id":$i}""",
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("event", "key", "message", "ts")
  }

  /** A lock-free replay racing a compaction partition-dir swap can see
    * files vanish between planning and execution — the documented
    * transient window of reading a mutating parquet tree; anything
    * else a consumer hits is a real failure. */
  private def isTransientRead(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          (c.getMessage != null &&
            (c.getMessage.contains("does not exist") ||
              c.getMessage.contains("FileNotFound")))) return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  for (seed <- Seq(11, 127, 211))
    test(s"topic chaos: 3 idempotent publishers x maintenance x a replaying consumer (seed $seed)") {
      val dir = Files.createTempDirectory("topicchaos").toString
      val main = TopicLog.prepare(spark, dir, numPartitions = 2)
      // every actor's "process" opens before chaos starts; the
      // reopener below keeps opening the topic throughout, which an
      // open must survive: it heals only under the lease
      val writerTopics = (0 until 3).map(_ =>
        TopicLog.prepare(spark, dir, numPartitions = 2))
      val maintTopic = TopicLog.prepare(spark, dir, numPartitions = 2)
      val consumerTopic = TopicLog.prepare(spark, dir, numPartitions = 2)

      val committed =
        new java.util.concurrent.ConcurrentHashMap[String, Map[Int, TopicLog.OffsetRange]]()
      val baseIds = 9000 until 9010
      committed.put("base", main.publish(batchDf(baseIds)))
      val batchIds: Map[String, Seq[Int]] =
        (for { w <- 0 until 3; m <- 0 until 2 } yield
          s"w${w}b$m" -> (0 until 12).map(j => w * 1000 + m * 100 + j)).toMap
      val expectedIds = (baseIds ++ batchIds.values.flatten).toSet

      val rnd = new scala.util.Random(seed)
      def roll(): Double = rnd.synchronized(rnd.nextDouble())
      val lock = new java.io.File(s"$dir/_publish.lock")
      val orphans = new AtomicInteger(0)
      val firings = new AtomicInteger(0)
      FsLease.testBeforeFence = what => {
        val name = Thread.currentThread().getName
        if (name.startsWith("topicchaos-writer")) {
          // a publish fences "txn marker <id>" (post-append, pre-marker:
          // an abort orphans the appended copy, the at-least-once
          // window — count it), then "the heads sidecar" (post-marker:
          // the retry finds the marker, no orphan)
          val r = roll()
          if (r < 0.33) {
            firings.incrementAndGet()
            if (what.startsWith("txn marker")) orphans.incrementAndGet()
            if (r < 0.18) lock.delete() // the next holder heals
            else throw new ChaosKill // holder's catch-all must reconcile
          }
        } else if (name.startsWith("topicchaos-maint")) {
          // marker pruning, partition-dir swaps, size-retention fences
          val r = roll()
          if (r < 0.15) { firings.incrementAndGet(); lock.delete() }
          else if (r < 0.3) { firings.incrementAndGet(); throw new ChaosKill }
        }
      }

      val writerErrs = new ConcurrentLinkedQueue[String]()
      val writers = (0 until 3).map { w =>
        new Thread(() => {
          val topic = writerTopics(w)
          (0 until 2).foreach { m =>
            val txn = s"w${w}b$m"
            val df = batchDf(batchIds(txn))
            var done = false
            var tries = 0
            while (!done && tries < 15) {
              tries += 1
              try { committed.put(txn, topic.publishIdempotent(df, txn)); done = true }
              catch { case _: Throwable => () } // fenced/killed — retry the txn
            }
            if (!done) writerErrs.add(s"$txn gave up after $tries tries")
          }
        }, s"topicchaos-writer-$w")
      }

      val stop = new AtomicBoolean(false)
      val compactions = new AtomicInteger(0)
      val maint = new Thread(() => {
        var i = 0
        // keeps retrying past `stop` until ONE compaction completed
        // under injections — the chaos run must prove compaction ran,
        // not just that compaction attempts were all fenced away
        while (!stop.get() || (compactions.get() == 0 && i < 200)) {
          i += 1
          try {
            if (i % 3 == 0) maintTopic.retainToSize(1L << 30)
            else { maintTopic.compact(); compactions.incrementAndGet() }
          } catch { case _: Throwable => () } // fenced/killed; idempotent
          Thread.sleep(if (stop.get()) 10 else 150)
        }
      }, "topicchaos-maint")

      // reopener: a process opening the topic again and again while
      // writers and maintenance run; an open may touch the tree only
      // under the lease, so it must never break a live holder's swap
      val opens = new AtomicInteger(0)
      val reopenErrs = new ConcurrentLinkedQueue[Throwable]()
      val reopener = new Thread(() => {
        while (!stop.get()) {
          try { TopicLog.prepare(spark, dir, numPartitions = 2); opens.incrementAndGet() }
          catch { case t: Throwable => reopenErrs.add(t) }
          Thread.sleep(20)
        }
      }, "topicchaos-reopener")

      // heads watcher: the sidecar must only ever move FORWARD
      val headsMax = scala.collection.mutable.Map.empty[Int, Long]
      val regressions = new ConcurrentLinkedQueue[String]()
      val watcher = new Thread(() => {
        val f = java.nio.file.Paths.get(s"$dir/_offsets.json")
        while (!stop.get()) {
          try {
            new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
              .split("\n").map(_.trim).filter(_.nonEmpty).foreach { ln =>
                val Array(p, h) = ln.split(":")
                headsMax.synchronized {
                  val prev = headsMax.getOrElse(p.toInt, -1L)
                  if (h.toLong < prev)
                    regressions.add(s"part $p regressed $prev -> $h")
                  else headsMax(p.toInt) = h.toLong
                }
              }
          } catch { case _: Throwable => () } // absent yet / torn parse
          Thread.sleep(5)
        }
      }, "topicchaos-watcher")

      // durable consumer: replay -> dedup-merge -> contiguous cumulative
      // ack (a gap can be a mid-publish listing or a compacted orphan;
      // acking past unseen offsets would turn at-least-once into loss)
      val consumerFatal = new ConcurrentLinkedQueue[Throwable]()
      val conflicts = new ConcurrentLinkedQueue[String]()
      val seen =
        new java.util.concurrent.ConcurrentHashMap[(Int, Long), String]()
      val consumerDone = new java.util.concurrent.CountDownLatch(1)
      val consumer = new Thread(() => {
        var marks = Map.empty[Int, Long]
        def drain(): Unit = {
          val rows = consumerTopic.replay("chaos-consumer").collect()
          val inDup = rows.groupBy(r =>
            (r.getAs[Int]("log_part"), r.getAs[Long]("offset")))
            .filter(_._2.length > 1)
          if (inDup.nonEmpty)
            conflicts.add(s"duplicate (part,offset) within one replay: ${inDup.keySet}")
          rows.foreach { r =>
            val k = (r.getAs[Int]("log_part"), r.getAs[Long]("offset"))
            val msg = r.getAs[String]("message")
            val prev = seen.putIfAbsent(k, msg)
            if (prev != null && prev != msg)
              conflicts.add(s"content at $k changed: $prev -> $msg")
          }
          val advanced = (0 until 2).flatMap { p =>
            var w = marks.getOrElse(p, -1L)
            while (seen.containsKey((p, w + 1))) w += 1
            if (w > marks.getOrElse(p, -1L)) Some(p -> w) else None
          }.toMap
          if (advanced.nonEmpty) {
            marks = marks ++ advanced
            consumerTopic.ack("chaos-consumer", advanced)
          }
        }
        try {
          while (!stop.get()) {
            try drain()
            catch { case t: Throwable if isTransientRead(t) => () }
            Thread.sleep(100)
          }
          // final catch-up drains with chaos over: must succeed clean
          var ok = false
          var tries = 0
          while (!ok && tries < 10) {
            tries += 1
            try { drain(); ok = true }
            catch { case t: Throwable if isTransientRead(t) => Thread.sleep(100) }
          }
          if (!ok) consumerFatal.add(new IllegalStateException(
            "final drain never succeeded after chaos stopped"))
        } catch { case t: Throwable => consumerFatal.add(t) }
        finally consumerDone.countDown()
      }, "topicchaos-consumer")

      try {
        watcher.start(); maint.start(); consumer.start(); reopener.start()
        writers.foreach(_.start())
        writers.foreach(_.join())
      } finally {
        stop.set(true)
        maint.join(); consumer.join(); watcher.join(); reopener.join()
        FsLease.testBeforeFence = _ => ()
      }

      assert(firings.get() > 0, "seed produced zero injections — the test exercised nothing")
      assert(compactions.get() >= 1, "no compaction completed during the chaos run")
      assert(writerErrs.isEmpty, s"writers gave up: $writerErrs")
      assert(reopenErrs.isEmpty, s"an open failed: ${reopenErrs.peek()}")
      assert(opens.get() > 0, "the reopener never opened the topic")
      assert(committed.size == 7, s"missing committed txns: ${committed.keySet}")
      assert(regressions.isEmpty, s"heads regressed: ${regressions.peek()}")
      assert(consumerFatal.isEmpty, s"consumer errored: ${consumerFatal.peek()}")
      assert(conflicts.isEmpty, s"consumer saw inconsistencies: ${conflicts.peek()}")

      // raw log invariants before any cleanup: unique (part, offset),
      // full key coverage, and extra copies bounded by counted orphans
      val raw = main.read()
        .select(col("log_part"), col("offset"),
          get_json_object(col("message"), "$.id").cast("int").as("id"))
        .collect()
      val dupPo = raw.groupBy(r => (r.getInt(0), r.getLong(1))).filter(_._2.length > 1)
      assert(dupPo.isEmpty, s"duplicate (part, offset) pairs: ${dupPo.keySet}")
      assert(raw.map(_.getInt(2)).toSet == expectedIds,
        "the raw log's id set diverged from the published union")
      // each pre-marker abort orphans one whole 12-record batch copy;
      // compaction may have already collapsed some back out
      val maxRows = expectedIds.size + orphans.get() * 12
      assert(raw.length >= expectedIds.size && raw.length <= maxRows,
        s"rows=${raw.length} outside [${expectedIds.size}, $maxRows] " +
          s"(orphans=${orphans.get()})")
      // the consumer saw every published record at least once
      assert(seen.values().toArray.map(_.toString).toSet ==
        expectedIds.map(i => s"""{"id":$i}"""),
        "consumer coverage diverged from the published union")

      // a clean final compaction collapses retry orphans (unique keys):
      // exactly one record per id, each batch at EXACTLY the offsets
      // its publish reported — no committed batch lost or displaced
      maintTopic.compact()
      val fin = main.read()
        .select(col("log_part"), col("offset"),
          get_json_object(col("message"), "$.id").cast("int").as("id"))
        .collect()
      assert(fin.length == expectedIds.size,
        s"post-compact rows=${fin.length}, want ${expectedIds.size}")
      val byId = fin.map(r => r.getInt(2) -> ((r.getInt(0), r.getLong(1)))).toMap
      val txnOfId = batchIds.flatMap { case (t, ids) => ids.map(_ -> t) } ++
        baseIds.map(_ -> "base")
      txnOfId.groupBy(_._2).foreach { case (txn, idTxns) =>
        val got = idTxns.keys.map(byId).groupBy(_._1)
          .map { case (p, pos) => p -> pos.map(_._2).toSeq.sorted }
        val want = committed.get(txn).map { case (p, r) =>
          p -> (r.base + 1 to r.base + r.count)
        }.filter(_._2.nonEmpty).map { case (p, os) => p -> os.toSeq }
        assert(got == want,
          s"txn $txn landed at $got but its publish reported $want")
      }

      // exactly-once per txnId survives the chaos aftermath: every
      // txn has its marker, and a redelivery now returns its recorded
      // ranges without appending
      batchIds.keys.foreach { txn =>
        assert(new java.io.File(s"$dir/txns/$txn").exists(), s"$txn lost its marker")
        val again = writerTopics(0).publishIdempotent(batchDf(batchIds(txn)), txn)
        assert(again == committed.get(txn),
          s"redelivered $txn returned $again, recorded ${committed.get(txn)}")
      }
      assert(main.read().count() == expectedIds.size.toLong,
        "redelivered txns must not re-append")
    }
}
