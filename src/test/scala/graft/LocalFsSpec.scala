package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, TopicLog}
import graft.streaming.TopicStream

/** graft's `file:` filesystem: registered by every GraftSession, and
  * writing exactly the modes stock Hadoop writes. */
class LocalFsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Permission bits including sticky/setuid/setgid. */
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def records(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (s"evt-${i % 3}", s"key-${i % 5}", s"""{"i":$i}""",
        new java.sql.Timestamp(1700000000000L + i * 3600000L))
    }.toDF("event", "key", "message", "ts")
  }

  test("a topic path resolves to the fork-free classes via FileSystem and FileContext") {
    val topic = TopicLog.prepare(spark,
      Files.createTempDirectory("localfs").toString, numPartitions = 2)
    val p = new Path(topic.path)
    val fs = p.getFileSystem(hconf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    val fc = FileContext.getFileContext(p.toUri, hconf)
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("publish and streaming checkpoint modes equal stock Hadoop's under two umasks") {
    // the cached instance the tasks use reads its umask from the conf
    // it was initialised with; FileContext reads it from the session's
    val cached = FileSystem.get(new URI("file:///"), hconf)
    val confs = Seq(hconf, cached.getConf).distinct
    def scenario(umask: String, inProcess: Boolean): Map[String, Int] = {
      val root = Files.createTempDirectory("localfs")
      val saved = confs.map(_.get("fs.permissions.umask-mode"))
      val savedInProcess = ForkFreeLocalFs.inProcess
      confs.foreach(_.set("fs.permissions.umask-mode", umask))
      ForkFreeLocalFs.inProcess = inProcess
      try {
        val topic = TopicLog.prepare(spark, s"$root/topic", numPartitions = 2)
        topic.publish(records(40))
        topic.publish(records(10))
        val q = TopicStream.subscribe(topic, fromNow = false).writeStream
          .format("parquet")
          .option("path", s"$root/sink")
          .option("checkpointLocation", s"$root/ckpt")
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        ForkFreeLocalFs.inProcess = savedInProcess
        confs.zip(saved).foreach { case (c, v) =>
          if (v == null) c.unset("fs.permissions.umask-mode")
          else c.set("fs.permissions.umask-mode", v)
        }
      }
      // file names carry per-run UUIDs: key by the name with them masked
      val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString.replaceAll(uuid, "U") -> mode(p)
      }.toSeq.groupBy(_._1).map { case (k, ms) =>
        assert(ms.map(_._2).distinct.size == 1, s"$k: modes ${ms.map(_._2)}")
        k -> ms.head._2
      }
      finally walk.close()
    }
    val byUmask = Seq("022", "077").map { umask =>
      val fast = scenario(umask, inProcess = true)
      val stock = scenario(umask, inProcess = false)
      assert(fast.keySet == stock.keySet)
      val diff = fast.filter { case (k, m) => stock(k) != m }
      if (diff.nonEmpty) fail(s"umask $umask: modes differ from stock: " +
        diff.map { case (k, m) => f"$k $m%o vs ${stock(k)}%o" }.mkString(", "))
      fast
    }
    // the umask reached the Hadoop-written files (parquet data, .crc
    // twins, checkpoint logs), so the comparison above is not vacuous
    val parquet = byUmask.map(_.collect {
      case (k, m) if k.startsWith("topic/log/") && k.endsWith(".parquet") => m
    }.toSet)
    assert(parquet == Seq(Set(Integer.parseInt("644", 8)), Set(Integer.parseInt("600", 8))))
    val offsets = byUmask.map(_.get("ckpt/offsets/0"))
    assert(offsets == Seq(Some(Integer.parseInt("644", 8)), Some(Integer.parseInt("600", 8))))
  }

  test("every rwx mode lands as stock chmod sets it") {
    val dir = Files.createTempDirectory("localfs")
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    Files.createFile(a)
    Files.createFile(b)
    val fast = new ForkFreeRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(fast, stock).foreach(_.initialize(new URI("file:///"), hconf))
    (0 until 512).foreach { m =>
      fast.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
      stock.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
      assert(mode(a) == m && mode(b) == m, f"mode $m%o: ${mode(a)}%o vs ${mode(b)}%o")
    }
  }

  test("a sticky-bit permission takes Hadoop's path and still applies") {
    val dir = Files.createTempDirectory("localfs")
    val fs = new Path(dir.toUri).getFileSystem(hconf)
    val sticky = Integer.parseInt("1755", 8)
    fs.setPermission(new Path(dir.toUri), new FsPermission(sticky.toShort))
    // java.nio cannot set the sticky bit: it is there only if the
    // call fell back to Hadoop's chmod
    assert(mode(dir) == sticky)
  }

  /** Runs `body` with [[ForkFreeLocalFs.inProcess]] set to `on`. */
  private def withInProcess[T](on: Boolean)(body: => T): T = {
    val saved = ForkFreeLocalFs.inProcess
    ForkFreeLocalFs.inProcess = on
    try body finally ForkFreeLocalFs.inProcess = saved
  }

  /** What a caller sees of a link status: path, length, kind and link
    * target, or the exception class. */
  private def linkView(fs: FileSystem, p: Path): Either[String, (Path, Long, Boolean, Boolean, Option[Path])] =
    try {
      val st = fs.getFileLinkStatus(p)
      Right((st.getPath, st.getLen, st.isDirectory, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink) else None))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus equals stock Hadoop's on a file, a directory and symlinks") {
    val dir = Files.createTempDirectory("localfs")
    val file = Files.write(dir.resolve("file"), "twelve bytes".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("absent"))
    val fast = new ForkFreeRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(fast, stock).foreach(_.initialize(new URI("file:///"), hconf))
    // a bare path and its qualified `file:` form: stock hands the path's
    // string to `readlink`, so only the bare form is seen as a link
    val paths = Seq(file, sub, link, dangling).flatMap(p =>
      Seq(new Path(p.toString), new Path(p.toUri)))
    val views = withInProcess(on = true)(paths.map(linkView(fast, _)))
    paths.zip(views).foreach { case (p, v) =>
      assert(v == linkView(stock, p), s"$p")
    }
    val byPath = paths.zip(views).toMap
    assert(byPath(new Path(file.toString)).map(_._2) == Right(12L))
    assert(byPath(new Path(sub.toString)).map(_._3) == Right(true))
    // the symlink cases took Hadoop's own path and came out as links
    assert(byPath(new Path(link.toString)).map(_._4) == Right(true))
    assert(byPath(new Path(dangling.toString)).map(_._4) == Right(true))
  }

  test("getFileLinkStatus of an absent path throws FileNotFoundException, fast and stock") {
    val absent = new Path(Files.createTempDirectory("localfs").resolve("absent").toUri)
    val fast = new ForkFreeRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(fast, stock).foreach(_.initialize(new URI("file:///"), hconf))
    withInProcess(on = true)(intercept[FileNotFoundException](fast.getFileLinkStatus(absent)))
    intercept[FileNotFoundException](stock.getFileLinkStatus(absent))
  }

  test("a checkpoint-style FileContext rename with OVERWRITE leaves stock's tree, bytes and .crc twins") {
    def scenario(inProcess: Boolean): Map[String, (Int, Seq[Byte])] = {
      val dir = Files.createTempDirectory("localfs")
      val fc = FileContext.getFileContext(dir.toUri, hconf)
      def write(name: String, text: String): Path = {
        val p = new Path(dir.resolve(name).toUri)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val dst = write("0", "v1\n{\"old\":true}")
      val src = write(".0.tmp", "v1\n{\"new\":true,\"batch\":0}")
      withInProcess(inProcess)(fc.rename(src, dst, Options.Rename.OVERWRITE))
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_ != dir).map { p =>
        dir.relativize(p).toString ->
          (mode(p), if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
      }.toMap
      finally walk.close()
    }
    val fast = scenario(inProcess = true)
    val stock = scenario(inProcess = false)
    assert(fast == stock)
    assert(fast.keySet == Set("0", ".0.crc"))
    assert(new String(fast("0")._2.toArray, UTF_8) == "v1\n{\"new\":true,\"batch\":0}")
  }
}
