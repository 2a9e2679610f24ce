package graft.log

import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem lease lock for single-writer artifacts — [[TopicLog]]'s
  * `_publish.lock` and the standing [[graft.operators.LshIndex]]'s
  * `_writer.lock`. The one place that knows how a lease is judged,
  * fenced and tested:
  *
  *  - acquisition is an atomic create-if-absent (`O_EXCL` via
  *    `File.createNewFile` on the local scheme — Hadoop's local
  *    `create(path, overwrite=false)` is check-then-create and two
  *    racers can both "win"; HDFS/object-store committers make
  *    `create(_, false)` itself atomic);
  *  - each acquisition writes a UNIQUE TOKEN into the lock file, so a
  *    stale-break is a compare-and-delete on (mtime, token) — mtime
  *    alone has filesystem-tick granularity, and a lock broken and
  *    re-acquired within one tick could otherwise be mistaken for the
  *    stale one and wrongly deleted;
  *  - a daemon refreshes the lock mtime IN PLACE every
  *    [[FsLease.RenewEveryMs]] (60 s), for as long as the holder runs;
  *  - a lock whose mtime is older than [[FsLease.StaleAfterMs]]
  *    (300 s, five missed renewals) is judged dead. Both are constants,
  *    the same for every holder and every observer, so no observer can
  *    judge a live, renewing holder dead; a long publish needs no
  *    longer lease, because renewal covers it.
  *
  * The lease repairs nothing: a stale break is a bare compare-and-delete
  * of the dead holder's lock. Repair of the artifact it was mid-way
  * through writing is the next holder's first act under a fresh lease
  * (the LshIndex's `validatedManifestLocked`, TopicLog's `heal`), so
  * only a caller that owns the artifact ever repairs it.
  * Only [[acquire]] breaks; an observer that must not wait reads
  * [[liveHolder]].
  *
  * A stale break means a SLOW holder may still be alive (GC pause, FS
  * hang past the stale window) and now believes it holds a lock it
  * lost. [[FsLease.Held.fence]] is the fence: re-read the lock token
  * immediately before the irreversible step and abort with
  * [[FsLease.FencedException]] if the token is no longer ours
  * ([[FsLease.Held.check]] is the non-throwing form, for sweeps that
  * stop rather than abort). `release()` is likewise a
  * compare-and-delete on the token. BOTH are best-effort
  * check-then-act on a plain filesystem, not atomic CAS: a steal can
  * land between the token read and the following write/delete, so a
  * fenced-out holder can still (rarely) free a thief's fresh lock or
  * rename past a just-lost lease. The backstops are last-writer-wins
  * atomic renames on the artifact side plus retry re-validation (a
  * holder whose lock vanished re-acquires and re-reads published
  * state; the thief's own next fence catches a killed lock) —
  * injected-steal specs pin both windows.
  */
final class FsLease(fs: FileSystem, lockPath: Path) {

  private def tryCreate(token: String): Boolean =
    if (fs.getScheme == "file") {
      val f = new java.io.File(lockPath.toUri.getPath)
      f.getParentFile.mkdirs()
      val won = f.createNewFile()
      if (won)
        try java.nio.file.Files.writeString(f.toPath, token)
        catch { case _: java.io.IOException => () }
      won
    } else {
      try {
        val out = fs.create(lockPath, false) // throws if the lock exists
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  /** The lock's mtime, or None when no lock exists (or it was released
    * between our look and our stat). */
  private def lockMtime(): Option[Long] =
    try Some(fs.getFileStatus(lockPath).getModificationTime)
    catch { case _: java.io.IOException => None }

  /** The one staleness rule: a lock last renewed more than
    * [[FsLease.StaleAfterMs]] ago belongs to a dead holder. */
  private def isStale(mtime: Long): Boolean =
    System.currentTimeMillis() - mtime > FsLease.StaleAfterMs

  /** Whether a holder's lock exists and is not stale right now — for
    * callers that must tell a live writer's in-flight state from a
    * crashed writer's leftovers without acquiring. */
  def liveHolder(): Boolean = lockMtime().exists(m => !isStale(m))

  /** Compare-and-delete of a lock OBSERVED as stale: only delete if the
    * lock is still the exact (mtime, token) we judged dead — another
    * waiter may have broken it and a live holder re-acquired since. */
  private def breakStale(observedMod: Long, observedToken: String): Unit =
    try {
      if (fs.getFileStatus(lockPath).getModificationTime == observedMod &&
          FsLease.readToken(fs, lockPath) == observedToken)
        fs.delete(lockPath, false)
    } catch { case _: java.io.IOException => () } // already released

  /** Blocks until the lease is held; returns a handle whose `release()`
    * stops renewal and frees the lock. Default wait outlasts a live
    * holder's full stale window plus one renewal — giving up earlier
    * than the lease can expire turns a slow-but-alive holder into a
    * spurious failure. */
  def acquire(timeoutMs: Long = -1L): FsLease.Held = {
    val waitMs =
      if (timeoutMs > 0) timeoutMs else FsLease.StaleAfterMs + FsLease.RenewEveryMs
    val deadline = System.currentTimeMillis() + waitMs
    val token = java.util.UUID.randomUUID().toString
    while (!tryCreate(token)) {
      lockMtime() match {
        case Some(m) if isStale(m) => breakStale(m, FsLease.readToken(fs, lockPath))
        case _ if System.currentTimeMillis() > deadline =>
          throw new IllegalStateException(
            s"timed out after ${waitMs}ms waiting for lease on $lockPath")
        case _ => Thread.sleep(25)
      }
    }
    new FsLease.Held(fs, lockPath, token)
  }

  /** Run `body` holding the lease, handing it the [[FsLease.Held]]
    * handle for its fences; releases on all paths. */
  def withLeaseHeld[T](body: FsLease.Held => T): T = {
    val held = acquire()
    try body(held) finally held.release()
  }
}

object FsLease {
  /** A lock not renewed for this long belongs to a dead holder. */
  val StaleAfterMs: Long = 5 * 60 * 1000L

  /** How often a live holder refreshes its lock's mtime — a fifth of
    * [[StaleAfterMs]], so a holder must miss five renewals in a row
    * before anyone may break its lock. */
  val RenewEveryMs: Long = 60 * 1000L

  /** The lock's token; `""` when there is no lock or it cannot be read
    * (a lock released under us compares unequal to every token). */
  private def readToken(fs: FileSystem, lockPath: Path): String =
    try AtomicFiles.read(fs, lockPath).getOrElse("")
    catch { case _: java.io.IOException => "" }

  /** Thrown by [[Held.fence]] before an irreversible commit step: the
    * lease was stale-broken (renewal starvation) and a thief may be
    * mid-write — abort without touching published state and let the
    * caller's retry re-validate. */
  final class FencedException(msg: String) extends IllegalStateException(msg)

  /** A held lease: renewal daemon, fence and release. Renewal refreshes
    * mtime IN PLACE (a delete-and-recreate would open a just-released
    * window in which a waiter's create-if-absent succeeds → two
    * holders). Stop signalling is a latch, not interruption — Hadoop's
    * local-FS calls can swallow the interrupt flag. */
  final class Held private[log] (fs: FileSystem, lockPath: Path, token: String) {
    private val done = new java.util.concurrent.CountDownLatch(1)
    private val t = new Thread(() => {
      while (!done.await(RenewEveryMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try fs.setTimes(lockPath, System.currentTimeMillis(), -1L)
        catch { case _: java.io.IOException => () } // transient: retry next tick
      }
    })
    t.setDaemon(true)
    t.setName(s"graft-lease-renewal-$lockPath")
    t.start()

    /** Pre-commit check for the step labelled `what`: true iff the lock
      * file still carries OUR token. False means a waiter judged us
      * dead and token-CAS-broke the lock — the caller must not take its
      * irreversible step. Fires [[testBeforeFence]] with `what` first. */
    def check(what: String): Boolean = {
      testBeforeFence(what)
      holds()
    }

    /** [[check]] without the injection point, for repair and clean-up. */
    private[log] def holds(): Boolean = readToken(fs, lockPath) == token

    /** [[check]], throwing [[FencedException]] when it fails: the
      * caller aborts and retries from the re-validated artifact under
      * a fresh acquisition. */
    def fence(what: String): Unit =
      if (!check(what)) throw new FencedException(
        s"lease $lockPath was stale-broken before $what; aborting " +
          "without touching published state")

    /** Stop renewal and free the lock — compare-and-delete on our
      * token: if the lock was stale-broken and re-acquired by another
      * writer, deleting it here would kill the LIVE holder's lease,
      * so a fenced-out loser leaves it untouched. Best-effort, not
      * atomic (see the class scaladoc): a steal landing between the
      * token read and the delete still loses its lock here — the
      * thief's own pre-publish fence catches the kill and it retries,
      * so exactly-once survives (injection-spec'd). */
    def release(): Unit = {
      done.countDown(); t.join()
      try {
        if (readToken(fs, lockPath) == token) {
          testBeforeReleaseDelete()
          fs.delete(lockPath, false)
        }
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Test-only injection point fired inside every fence, BEFORE the
    * token read, with the step's label — lets a spec steal the lock
    * (or simulate a crash) at the exact pre-commit instant the fence
    * must catch. Labels: TopicLog's two publish-commit fences, in
    * order, "txn marker <id>" (idempotent publishes only: after the
    * append, before the marker write) and "the heads sidecar", plus
    * "txn-marker pruning", "retention directory drops", "retention
    * drop of <dir>", "size-capped retention deletions", "retention
    * trim of <file>", "the N partition-dir swap(s)" and then "the swap
    * of <subdir>" per subdir; LshIndex's staged dir name (`seg-N`,
    * `seg-Nf`, `seg-NmR`), "gen-N manifest", "gen-N marker" and
    * "gc <dir>". */
  private[graft] var testBeforeFence: String => Unit = _ => ()

  /** Test-only injection point inside `release()`'s check-then-act
    * window — after the token compared equal, before the delete —
    * letting a spec steal the lock at the exact instant the doc above
    * documents and prove the system self-heals. */
  private[graft] var testBeforeReleaseDelete: () => Unit = () => ()
}
