package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.log.FsLease

/** The lease rules every single-writer artifact shares: the fence, its
  * test hook, and the stale-break protocol. */
class FsLeaseSpec extends AnyFunSuite {
  import SparkTestSession._

  private def freshLock(): (java.io.File, Path) = {
    val f = new java.io.File(Files.createTempDirectory("fslease").toFile, "_x.lock")
    (f, new Path(f.toURI))
  }

  private def fsOf(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeLock(f: java.io.File, token: String, ageMs: Long): Unit = {
    Files.writeString(f.toPath, token)
    assert(f.setLastModified(System.currentTimeMillis() - ageMs))
  }

  test("fence passes while the token is ours") {
    val (f, p) = freshLock()
    val held = new FsLease(fsOf(p), p).acquire()
    try {
      held.fence("the commit")
      assert(held.check("the commit"))
    } finally held.release()
    assert(!f.exists(), "release frees our own lock")
  }

  test("fence throws FencedException once the token is replaced; check does not") {
    val (f, p) = freshLock()
    val held = new FsLease(fsOf(p), p).acquire()
    Files.writeString(f.toPath, "thief-token")
    try {
      val ex = intercept[FsLease.FencedException](held.fence("the commit"))
      assert(ex.getMessage.contains("stale-broken before the commit"), ex.getMessage)
      assert(!held.check("the commit"))
    } finally held.release()
    assert(Files.readString(f.toPath) == "thief-token",
      "a fenced-out holder must not free the thief's lock")
  }

  test("the fence hook sees the label before the token read") {
    val (f, p) = freshLock()
    val held = new FsLease(fsOf(p), p).acquire()
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    FsLease.testBeforeFence = what => {
      labels += what
      if (what == "steal here") Files.writeString(f.toPath, "thief-token")
    }
    try {
      assert(held.check("plain step"))
      // the steal lands inside the hook, so the token read that follows
      // must already see it
      assert(!held.check("steal here"))
      intercept[FsLease.FencedException](held.fence("after the steal"))
    } finally {
      FsLease.testBeforeFence = _ => ()
      held.release()
    }
    assert(labels.toSeq == Seq("plain step", "steal here", "after the steal"))
  }

  test("a stale break is a bare compare-and-delete and spares a re-taken or fresh lock") {
    val (f, p) = freshLock()
    val stale = FsLease.StaleAfterMs + 10 * 1000L
    // a dead holder's lock is deleted and taken over
    writeLock(f, "dead-token", stale)
    val lease = new FsLease(fsOf(p), p)
    assert(!lease.liveHolder())
    val held = lease.acquire(300L)
    assert(Files.readString(f.toPath) != "dead-token", "a stale lock is broken")
    held.release()
    assert(!f.exists() && !lease.liveHolder())
    // a waiter re-acquires between our staleness judgment (the first
    // stat of the lock) and our compare (the second): the compare sees
    // a different (mtime, token) and leaves the live lock alone
    writeLock(f, "dead-token", stale)
    val stats = new java.util.concurrent.atomic.AtomicInteger(0)
    val racing = new FilterFileSystem(fsOf(p)) {
      override def getScheme: String = "file"
      override def getFileStatus(q: Path): FileStatus = {
        if (q == p && stats.incrementAndGet() == 2) writeLock(f, "live-token", 0L)
        super.getFileStatus(q)
      }
    }
    intercept[IllegalStateException](new FsLease(racing, p).acquire(300L))
    assert(stats.get() >= 2, "the compare never ran")
    assert(f.exists() && Files.readString(f.toPath) == "live-token")
    // a fresh lock is a live holder: no delete
    val observer = new FsLease(fsOf(p), p)
    assert(observer.liveHolder())
    intercept[IllegalStateException](observer.acquire(300L))
    assert(f.exists() && Files.readString(f.toPath) == "live-token",
      "a fresh lock must be left alone")
  }

  test("the renewal daemon keeps a held lock live past the stale window") {
    val (f, p) = freshLock()
    val lease = new FsLease(fsOf(p), p)
    val held = lease.acquire()
    try {
      val token = Files.readString(f.toPath)
      // 30 s short of stale: without a renewal within the next
      // RenewEveryMs the lock would be judged dead by the end of the wait
      assert(f.setLastModified(
        System.currentTimeMillis() - (FsLease.StaleAfterMs - 30 * 1000L)))
      Thread.sleep(FsLease.RenewEveryMs + 5 * 1000L)
      assert(lease.liveHolder(), "the daemon must have refreshed the mtime")
      intercept[IllegalStateException](lease.acquire(300L))
      assert(f.exists() && Files.readString(f.toPath) == token,
        "a renewed lock must not be broken")
      held.fence("after the renewal")
    } finally held.release()
  }
}
