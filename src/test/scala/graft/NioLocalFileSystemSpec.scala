package graft

import graft.streaming.ArchiveStream
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** The session's `file:` filesystem ([[NioLocalFileSystem]] / [[NioLocalFs]])
  * starts no `chmod`, `readlink`, `ls` or `stat` process on the ingest,
  * compaction and driver-listing paths, and behaves
  * like Hadoop's stock local filesystem: same permission bits, overwriting
  * renames, symlinks, checksum files.
  */
class NioLocalFileSystemSpec extends SparkSpec {
  private val local = URI.create("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration

  /** A copy of the session's Hadoop conf under `umask`, with Hadoop's
    * stock local classes if `stock`.
    */
  private def confWith(umask: String, stock: Boolean = false): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.permissions.umask-mode", umask)
    if (stock) {
      c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def perms(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-forks-", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(out)
    }
  }

  test("the session resolves file:/// to the NIO classes through FileSystem and FileContext") {
    assert(FileSystem.get(local, conf).getClass == classOf[NioLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
    val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem
    assert(afs.getClass == classOf[NioLocalFs])
  }

  // also covers driver-side listing, and `ls`/`stat` forks next to these
  test("archive polls and compaction start no chmod or readlink process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = tmp("graft-forks-out-").toString
    val ckpt = tmp("graft-forks-ckpt-").toString
    val days = tmp("graft-forks-days-").toString + "/a"
    val mem = MemoryStream[(Long, Timestamp, String)]
    val started = processesStarted {
      // the recorder itself works: a process started here is seen
      new ProcessBuilder("true").start().waitFor()
      val q = ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
        trigger = Trigger.ProcessingTime(0L), compactEvery = 2)
      try {
        for (poll <- 0 until 3) {
          mem.addData((0 until 4).map { i =>
            val id = poll * 3 + i // one id repeats from the previous poll
            (id.toLong, new Timestamp(1704067200000L + id * 60000L), s"e$id")
          }: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // the compaction rewrite path, whatever the polls left
      ArchiveStream.compact(spark, out, maxFilesPerPartition = 1)
      // listing on the driver: more paths, and more day dirs, than Spark's
      // parallel-listing default of 32
      assert(graft.sources.GhArchiveSource.read(spark, GhArchiveSourceSpec.hourDir(34))
        .count() == 34)
      ArchiveStream.append(spark.range(34).select(col("id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 86400L).as("ts"),
        lit("r").as("raw")), days)
      assert(spark.read.parquet(days).select("d").distinct().count() == 34)
    }
    assert(started.contains("true"))
    val forks = started.filter(c =>
      Seq("chmod", "readlink", "ls", "stat").contains(c.split(' ').head.split('/').last))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
    assert(spark.read.parquet(out).count() == 10)
    // checksums are still written next to the checkpoint and sink files
    def crcs(dir: String) = Files.walk(java.nio.file.Paths.get(dir)).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    assert(crcs(s"$ckpt/offsets").nonEmpty && crcs(s"$ckpt/commits").nonEmpty)
    assert(crcs(s"$ckpt/state").exists(_.endsWith(".delta.crc")))
    assert(crcs(out).exists(_.endsWith(".parquet.crc")))
  }

  test("created files and directories get the stock permission bits under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val stock = FileSystem.newInstance(local, confWith(umask, stock = true))
      val nio = FileSystem.newInstance(local, confWith(umask))
      assert(nio.getClass == classOf[NioLocalFileSystem])
      try {
        val bits = Seq(stock, nio).map { fs =>
          val d = tmp("graft-perm-")
          val f = new Path(d.toString, "f")
          fs.create(f).close()
          fs.mkdirs(new Path(d.toString, "a/b"))
          fs.create(new Path(d.toString, "g"), new FsPermission("640"), false, 4096,
            1.toShort, 1L << 20, null).close()
          fs.mkdirs(new Path(d.toString, "h"), new FsPermission("751"))
          fs.setPermission(f, new FsPermission("604"))
          Seq("f", ".f.crc", "a", "a/b", "g", ".g.crc", "h").map(x => perms(d.resolve(x)))
        }
        assert(bits(0) == bits(1), s"umask $umask")
      } finally { stock.close(); nio.close() }
    }
  }

  test("FileContext create and rename(OVERWRITE) replace an existing file like the stock LocalFs") {
    for (c <- Seq(confWith("022", stock = true), conf)) {
      val d = tmp("graft-rename-")
      val fc = FileContext.getFileContext(local, c)
      def write(name: String, body: String): Path = {
        val p = new Path(d.toString, name)
        val o = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try o.write(body.getBytes(UTF_8)) finally o.close()
        p
      }
      val src = write("src", "new")
      val dst = write("dst", "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!Files.exists(d.resolve("src")))
      assert(new String(Files.readAllBytes(d.resolve("dst")), UTF_8) == "new")
      assert(Files.exists(d.resolve(".dst.crc")) && !Files.exists(d.resolve(".src.crc")))
      assert(perms(d.resolve("dst")) == "rw-r--r--")
    }
  }

  test("a real symlink still reports isSymlink and its target") {
    val d = tmp("graft-link-")
    val target = Files.write(d.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val stock = FileSystem.newInstance(local, confWith("022", stock = true))
    val nio = FileSystem.get(local, conf)
    try {
      val (s, n) = (stock.getFileLinkStatus(new Path(link.toString)),
        nio.getFileLinkStatus(new Path(link.toString)))
      assert(n.isSymlink && n.getSymlink == new Path(s"file:$target"))
      assert((n.isSymlink, n.getSymlink, n.getPath) == (s.isSymlink, s.getSymlink, s.getPath))
      // a plain file is not a link, on both
      val plain = new Path(target.toString)
      assert(!nio.getFileLinkStatus(plain).isSymlink && !stock.getFileLinkStatus(plain).isSymlink)
      assert(nio.getFileLinkStatus(plain).getLen == 1L)
      // and FileContext sees the same link
      val fcStatus = FileContext.getFileContext(local, conf).getFileLinkStatus(new Path(link.toString))
      val fcStock = FileContext.getFileContext(local, confWith("022", stock = true))
        .getFileLinkStatus(new Path(link.toString))
      assert((fcStatus.isSymlink, fcStatus.getSymlink) == (fcStock.isSymlink, fcStock.getSymlink))
    } finally stock.close()
  }
}
