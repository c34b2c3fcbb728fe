package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  FSDataInputStream, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.serving.HeuristicsSink
import graft.streaming.{EventRouter, EventSink}

/** graft's fork-free local file system: the same modes and checksums as
  * Hadoop's, and the `file:` scheme of every session the factory or a
  * reader entry point configured.
  */
class ForkFreeLocalFsSpec extends SparkSpecBase {

  private val root = URI.create("file:///")

  /** A Hadoop conf with `umask`, and graft's `file:` scheme if `graft`. */
  private def conf(umask: String, graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) {
      c.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      c.set("fs.file.impl.disable.cache", "true")
      c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    }
    c
  }

  /** Files and dirs made through both flavours of the `file:` scheme of
    * `c`, and their modes (sticky bit included) by relative path.
    */
  private def modes(c: Configuration): Map[String, Int] = {
    val dir = Files.createTempDirectory("ffs_modes")
    val base = new Path(dir.toUri)
    // newInstance: the cached stock instance would keep its first caller's umask
    val fs = FileSystem.newInstance(root, c)
    try {
      fs.create(new Path(base, "fs/a/b/file")).close()
      fs.mkdirs(new Path(base, "fs/c/d"))
      fs.mkdirs(new Path(base, "fs/e"), new FsPermission(Integer.parseInt("751", 8).toShort))
      fs.create(new Path(base, "fs/e/explicit"), new FsPermission(Integer.parseInt("660", 8).toShort),
        false, 4096, 1.toShort, 1L << 20, null).close()
      fs.setPermission(new Path(base, "fs/c"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      fs.setPermission(new Path(base, "fs/a/b/file"), new FsPermission(Integer.parseInt("604", 8).toShort))
    } finally fs.close()
    val fc = FileContext.getFileContext(c)
    fc.create(new Path(base, "fc/a/file"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent()).close()
    fc.mkdir(new Path(base, "fc/b/c"), FsPermission.getDirDefault, true)
    fc.setPermission(new Path(base, "fc/a/file"), new FsPermission(Integer.parseInt("640", 8).toShort))
    val paths = Files.walk(dir).iterator.asScala.filter(_ != dir).toList
    paths.map(p => dir.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff))
      .toMap
  }

  test("files and dirs get the same modes as through Hadoop's stock classes, under each umask") {
    for (umask <- Seq("022", "027", "077")) {
      val stock = modes(conf(umask, graft = false))
      val graft = modes(conf(umask, graft = true))
      assert(graft == stock, s"umask $umask")
      assert(stock.contains("fs/a/b/.file.crc") && stock.contains("fc/a/.file.crc"), stock.keySet)
      assert(stock("fs/c") == Integer.parseInt("1777", 8))
    }
  }

  /** Write 4 KiB to `p`, check its `.crc` and a clean read, flip one data
    * byte, then read again.
    */
  private def corruptAndRead(p: Path, create: => java.io.OutputStream, open: => FSDataInputStream): Unit = {
    val data = Array.tabulate[Byte](4096)(_.toByte)
    val out = create
    try out.write(data) finally out.close()
    assert(Files.exists(JPath.of(new URI(p.getParent.toUri.toString + "/." + p.getName + ".crc"))))
    def read(): Array[Byte] = {
      val in = open
      try { val b = new Array[Byte](data.length); in.readFully(b); b } finally in.close()
    }
    assert(read().sameElements(data))
    val raf = new RandomAccessFile(new java.io.File(p.toUri), "rw")
    try { raf.seek(1000); raf.write(data(1000) ^ 0x5a) } finally raf.close()
    intercept[ChecksumException](read())
  }

  test("a .crc is written and a flipped data byte raises ChecksumException, through both flavours") {
    val dir = new Path(Files.createTempDirectory("ffs_crc").toUri)
    // Hadoop's own LocalFileSystem moves a corrupt file into a `bad_files`
    // dir at the top of its device; the check needs the exception only
    val fs = new ForkFreeLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(root, conf("022", graft = true))
    val viaFs = new Path(dir, "fs.bin")
    corruptAndRead(viaFs, fs.create(viaFs), fs.open(viaFs))
    fs.close()
    val fc = FileContext.getFileContext(conf("022", graft = true))
    val viaFc = new Path(dir, "fc.bin")
    corruptAndRead(viaFc, fc.create(viaFc, EnumSet.of(CreateFlag.CREATE)), fc.open(viaFc, 4096))
    val viaFcOpen = new Path(dir, "fc_open.bin")
    corruptAndRead(viaFcOpen, fc.create(viaFcOpen, EnumSet.of(CreateFlag.CREATE)), fc.open(viaFcOpen))
  }

  /** What a `FileStatus` shows a caller; `len` is 0 for a directory. */
  private case class Link(path: String, len: Long, dir: Boolean, symlink: Boolean, target: String)

  /** `status` as a [[Link]], or the class of what it throws. */
  private def linkStatus(status: => FileStatus): Either[String, Link] =
    try {
      val s = status
      Right(Link(s.getPath.toString, if (s.isDirectory) 0L else s.getLen, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink.toString else ""))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus agrees with Hadoop's stock classes on files, dirs, symlinks and missing paths") {
    val dir = Files.createTempDirectory("ffs_links")
    Files.write(dir.resolve("file"), Array.fill[Byte](123)(1))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def plain(name: String) = new Path(dir.resolve(name).toString)
    def qualified(name: String) = new Path(dir.resolve(name).toUri)
    // Hadoop hands `readlink` a scheme-less path as is and a qualified one as
    // `file:/...`, where it finds no link: its answers for the two differ
    val paths = Seq("file", "dir", "link", "dangling", "missing").flatMap(n => Seq(plain(n), qualified(n)))

    def viaFs(raw: RawLocalFileSystem) = {
      raw.initialize(root, conf("022", graft = false))
      try paths.map(p => p.toString -> linkStatus(raw.getFileLinkStatus(p))) finally raw.close()
    }
    def viaFc(graft: Boolean) = {
      val fc = FileContext.getFileContext(conf("022", graft))
      paths.map(p => p.toString -> linkStatus(fc.getFileLinkStatus(p)))
    }
    val stockFs = viaFs(new RawLocalFileSystem)
    assert(viaFs(new ForkFreeRawLocalFileSystem) == stockFs)
    val stockFc = viaFc(graft = false)
    assert(viaFc(graft = true) == stockFc)

    // the cases differ: sizes and kinds, a symlink and its target, the exception
    val fs = stockFs.toMap
    val missing = Left(classOf[java.io.FileNotFoundException].getName)
    assert(fs(plain("file").toString).exists(s => s.len == 123 && !s.dir && !s.symlink))
    assert(fs(plain("dir").toString).exists(s => s.dir && !s.symlink))
    assert(fs(plain("link").toString).exists(s => s.symlink && s.target == qualified("file").toString))
    assert(fs(plain("dangling").toString).exists(s => s.symlink && s.target == qualified("gone").toString))
    assert(fs(plain("missing").toString) == missing)
    assert(stockFc.toMap.apply(qualified("missing").toString) == missing)
  }

  /** The classes `session`'s Hadoop conf resolves `file:` to. */
  private def resolved(session: SparkSession): (Class[_], Class[_]) = {
    val c = session.sessionState.newHadoopConf()
    (FileSystem.get(root, c).getClass, FileContext.getFileContext(c).getDefaultFileSystem.getClass)
  }

  private val graftClasses = (classOf[ForkFreeLocalFileSystem], classOf[ForkFreeLocalFs])

  test("the factory and each reader entry point on a fresh session resolve file: to graft's classes") {
    assert(resolved(spark) == graftClasses)
    val in = Files.createTempDirectory("ffs_in").toString
    val out = Files.createTempDirectory("ffs_out").toString
    val entryPoints: Seq[(String, SparkSession => Unit)] = Seq(
      "EventRouter.routeTyped" -> { s =>
        EventRouter.routeTyped(s.readStream.schema("value BINARY, offset LONG").parquet(in),
          s"$out/tables", s"$out/ckpt", trigger = Trigger.AvailableNow(), monitorLag = false)
      },
      "EventSink.partitionedStreamWriter" -> { s =>
        val events: DataFrame = s.readStream.format("rate").load()
          .withColumn("event_type", lit("FS_EVENT"))
        EventSink.partitionedStreamWriter(events, s"$out/sink", s"$out/ckpt2", monitorLag = false)
      },
      "HeuristicsSink.streamWriter" -> { s =>
        HeuristicsSink.streamWriter(s.readStream.format("rate").load().select(col("value")),
          "jdbc:derby:memory:ffsdb;create=true")
      })
    for ((name, entryPoint) <- entryPoints) {
      val fresh = spark.newSession()
      // the JVM's default `file:` FileSystem is whichever LocalFileSystem
      // the service loader registered last (Hive's ProxyLocalFileSystem on
      // Spark's classpath)
      val (stockFs, stockFc) = resolved(fresh)
      assert(classOf[LocalFileSystem].isAssignableFrom(stockFs) &&
        stockFs != classOf[ForkFreeLocalFileSystem] && stockFc == classOf[LocalFs], name)
      entryPoint(fresh)
      assert(resolved(fresh) == graftClasses, name)
    }
  }
}
