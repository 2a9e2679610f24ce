package graft.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one read and the one write of every small durable file: the
  * heads sidecar, subscriber watermarks, txn markers and `_partitions`
  * pin of [[TopicLog]], [[FsLease]]'s lock token, a streaming
  * checkpoint's `metadata`, and [[graft.operators.LshIndex]]'s marker
  * and manifests.
  *
  * [[read]] is one filesystem call that tells "absent" (`None`) from
  * "present" (the whole content) and lets every other I/O error
  * propagate — an unreadable file is never reported as absent, so no
  * caller can mistake a transient error for "no state" (the LSH GC
  * once deleted live segments that way). Each caller keeps its own
  * policy for those errors.
  *
  * [[writeReplace]] is atomic whole-file replacement, the tmp+rename
  * discipline. Two hard-won rules are encoded in it, each found by a
  * chaos suite:
  *
  *  1. **The rename must be atomic on EVERY scheme.** On the LOCAL
  *     scheme Hadoop's `FileContext.rename(..., OVERWRITE)` is
  *     delete-then-rename — a reader racing the replace sees a WINDOW
  *     where the destination does not exist (r13 chaos-spec-found: a
  *     prober read `found: None` for the LSH marker mid-publish) — so
  *     `file:` goes through `java.nio.file.Files.move(ATOMIC_MOVE)`,
  *     which is rename(2). HDFS and object-store committers implement
  *     the overwrite rename atomically and keep the FileContext path.
  *  2. **The temp name must be TOKEN-UNIQUE.** A fixed scratch name
  *     (`<target>.tmp`) lets two racing writers of the same target
  *     interleave on one temp file — one renames the other's
  *     half-written bytes into place, and the reader parses a TORN
  *     file (worse than a missing one: it throws instead of falling
  *     back). Unique names make every rename land a WHOLE file;
  *     last-writer-wins picks which whole file, which is the contract
  *     every caller here already has.
  *
  * On `file:` the temp write itself also goes through `java.nio`
  * rather than the Hadoop LocalFileSystem: Hadoop's checksumming local
  * FS leaves a `.<name>.crc` twin next to every file it creates, and a
  * unique-named temp would orphan one twin per replace forever (the
  * rename below moves only the data file). Renamed-into-place
  * destinations never have a checksum twin, so readers are
  * unaffected.
  */
object AtomicFiles {

  /** Replace `dest` with `bytes`, atomically: write a token-unique
    * temp sibling, then one atomic rename. A concurrent reader of
    * `dest` sees the old bytes or the new bytes — never a missing
    * file, never a torn one. Concurrent replacers of the same `dest`
    * serialize to last-writer-wins, each landing a whole file. */
  def writeReplace(fs: FileSystem, conf: Configuration, dest: Path,
      bytes: Array[Byte]): Unit = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    if (fs.getScheme == "file") {
      val destFile = java.nio.file.Paths.get(dest.toUri.getPath)
      val tmpFile = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.createDirectories(destFile.getParent)
      java.nio.file.Files.write(tmpFile, bytes)
      move(tmpFile, destFile)
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fcRename(fs, conf, tmp, dest)
    }
  }

  /** The whole UTF-8 content of `path`, or `None` iff it does not
    * exist. Any other I/O error propagates, including an existing path
    * that cannot be read as a file (a directory). One filesystem call;
    * on a non-`file:` scheme an absent path costs a second, to tell it
    * from a directory. `file:` reads through `java.nio`, as
    * [[writeReplace]] writes: Hadoop's local `open` reports a
    * directory as `FileNotFoundException`, which would read as absent. */
  def read(fs: FileSystem, path: Path): Option[String] =
    if (fs.getScheme == "file")
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path.toUri.getPath)), "UTF-8"))
      catch { case _: java.nio.file.NoSuchFileException => None }
    else {
      val in =
        try Some(fs.open(path))
        catch { case _: java.io.FileNotFoundException if !fs.exists(path) => None }
      in.map(s => try new String(s.readAllBytes(), "UTF-8") finally s.close())
    }

  private def move(tmp: java.nio.file.Path, dest: java.nio.file.Path): Unit = {
    java.nio.file.Files.move(tmp, dest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def fcRename(fs: FileSystem, conf: Configuration, tmp: Path,
      dest: Path): Unit = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
