package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.log.AtomicFiles

/** The one small-file read: an absent path is `None`, a present file
  * reads back whole, and an existing path that cannot be read as a
  * file throws — never `None`. Each case runs on the `file:` scheme
  * (the `java.nio` branch) and on a non-`file:` scheme over the same
  * disk (the Hadoop `open` branch). */
class AtomicFilesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The local disk under another scheme name, so `read` and
    * `writeReplace` take their Hadoop branch. */
  private def otherScheme: FileSystem = {
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), hconf)
    new FilterFileSystem(raw) { override def getScheme: String = "other" }
  }

  private def filesystems(dir: String): Seq[FileSystem] =
    Seq(new Path(dir).getFileSystem(hconf), otherScheme)

  test("an absent path reads None") {
    val dir = Files.createTempDirectory("atomic").toString
    for (fs <- filesystems(dir)) {
      assert(fs.getScheme == "file" || fs.getScheme == "other")
      assert(AtomicFiles.read(fs, new Path(s"$dir/missing")).isEmpty, fs.getScheme)
      assert(AtomicFiles.read(fs, new Path(s"$dir/no-such-dir/missing")).isEmpty,
        fs.getScheme)
    }
  }

  test("a writeReplace'd file reads back whole") {
    val dir = Files.createTempDirectory("atomic").toString
    for (fs <- filesystems(dir)) {
      val p = new Path(s"$dir/sidecar-${fs.getScheme}")
      val long = (0 until 5000).map(i => s"$i:${i * 7L}")
        .mkString("", "\n", "\n") + "naïve ünïcode\n"
      AtomicFiles.writeReplace(fs, hconf, p, long.getBytes("UTF-8"))
      assert(AtomicFiles.read(fs, p).contains(long), fs.getScheme)
      // a shorter replacement reads as itself, not a prefix of the old
      AtomicFiles.writeReplace(fs, hconf, p, "0:1\n".getBytes("UTF-8"))
      assert(AtomicFiles.read(fs, p).contains("0:1\n"), fs.getScheme)
    }
  }

  test("an existing path that cannot be read as a file throws and never reads None") {
    val dir = Files.createTempDirectory("atomic").toString
    for (fs <- filesystems(dir)) {
      val sub = new Path(s"$dir/a-directory-${fs.getScheme}")
      assert(fs.mkdirs(sub))
      val got = scala.util.Try(AtomicFiles.read(fs, sub))
      assert(got.isFailure, s"${fs.getScheme}: a directory read as $got")
      assert(got.failed.get.isInstanceOf[java.io.IOException],
        s"${fs.getScheme}: ${got.failed.get}")
    }
  }
}
