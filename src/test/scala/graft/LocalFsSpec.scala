package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{LocalFs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.operators.SnapshotLog

/** The engine's `file:` classes: no child process per file, and the
  * same permission bits and symlink answers as Hadoop's own.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Root = URI.create("file:///")
  private val FsKey = "fs.file.impl"
  private val AfsKey = "fs.AbstractFileSystem.file.impl"

  /** Commands of the child processes this JVM starts while `body` runs. */
  private def spawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session registers the NIO classes for FileSystem and FileContext") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get(FsKey) == classOf[NioLocalFileSystem].getName)
    assert(hc.get(AfsKey) == classOf[NioLocalFs].getName)
    assert(FileSystem.get(Root, hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(Root, hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("append, merge, compact and a SnapshotSink micro-batch fork no chmod or readlink") {
    val t = tmp("graft-localfs").toString + "/t"
    def day(d: Int, ids: Range) =
      ids.map(i => (i.toLong, s"2024-01-0$d", s"v$i")).toDF("id", "day", "payload")
    SnapshotLog.overwrite(day(1, 1 to 20), t, Seq("day"))
    val sink = tmp("graft-localfs-sink").toString + "/t"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val commands = spawns {
      SnapshotLog.append(day(2, 21 to 30), t, Seq("day"))
      SnapshotLog.append(day(2, 31 to 40), t, Seq("day"))
      SnapshotLog.merge(spark, t, day(1, 5 to 6).union(day(3, 41 to 42)), "id", "day")
      val (_, compacted) = SnapshotLog.compact(spark, t, maxFiles = 1)
      assert(compacted.nonEmpty, "fixture must trigger compaction")
      val q = graft.streaming.SnapshotSink.start(input.toDF(), sink, appId = "spawns")
      try {
        input.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(SnapshotLog.read(spark, sink).count() == 2)
    val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} chmod/readlink forks, e.g. ${forks.take(3)}")
  }

  test("created files and directories get the permission bits stock Hadoop gives") {
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val stock = new LocalFileSystem(); stock.initialize(Root, conf)
      val nio = new NioLocalFileSystem(); nio.initialize(Root, conf)
      val (dirs, forks) = Seq(stock, nio).map { fs =>
        val d = tmp("graft-perm")
        val commands = spawns {
          fs.create(new Path(s"$d/a/b/f.bin")).close() // parent dirs + file + .crc
          fs.mkdirs(new Path(s"$d/m"), new FsPermission("750"))
          fs.create(new Path(s"$d/g.bin"), new FsPermission("640"), false, 4096,
            1.toShort, 1L << 20, null).close()
          fs.setPermission(new Path(s"$d/a/b/f.bin"), new FsPermission("604"))
        }
        fs.setPermission(new Path(s"$d/m"), new FsPermission("1777")) // sticky: Hadoop's path
        (d, commands.count(_.startsWith("chmod")))
      }.unzip
      // the recorder sees the forks it is meant to rule out elsewhere
      if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
        assert(forks(0) > 0, "stock Hadoop forks chmod without libhadoop")
      assert(forks(1) == 0)
      val rels = Seq("a", "a/b", "a/b/f.bin", "a/b/.f.bin.crc", "m", "g.bin", ".g.bin.crc")
      rels.foreach { r =>
        assert(mode(dirs(1).resolve(r)) == mode(dirs(0).resolve(r)), s"umask $umask, $r")
      }
      assert(new FsPermission(Files.getAttribute(dirs(1).resolve("m"), "unix:mode")
        .asInstanceOf[Int].toShort).getStickyBit, "sticky bit kept")
      // FileContext: stock LocalFs against the NIO one
      val fcDirs = Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[NioLocalFs]).map { c =>
        val c2 = new Configuration(conf); c2.set(AfsKey, c.getName)
        val fc = FileContext.getFileContext(Root, c2)
        val d = tmp("graft-perm-fc")
        fc.mkdir(new Path(s"$d/x/y"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$d/x/y/f.bin"), EnumSet.of(CreateFlag.CREATE)).close()
        fc.rename(new Path(s"$d/x/y/f.bin"), new Path(s"$d/x/g.bin"))
        d
      }
      Seq("x", "x/y", "x/g.bin", "x/.g.bin.crc").foreach { r =>
        assert(mode(fcDirs(1).resolve(r)) == mode(fcDirs(0).resolve(r)), s"umask $umask, fc $r")
      }
    }
  }

  test("a real symlink still reports isSymlink") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem(); stock.initialize(Root, conf)
    val nio = new NioRawLocalFileSystem(); nio.initialize(Root, conf)
    val d = tmp("graft-link")
    Files.write(d.resolve("target.bin"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("target.bin"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing.bin"))
    for (name <- Seq("link", "dangling", "target.bin")) {
      // unqualified and qualified spellings; stock Hadoop answers them differently
      for (p <- Seq(new Path(d.resolve(name).toString), new Path(d.resolve(name).toUri))) {
        def answer(fs: RawLocalFileSystem) = scala.util.Try(fs.getFileLinkStatus(p)).map { st =>
          (st.isSymlink, st.isFile, st.getLen, if (st.isSymlink) st.getSymlink else null)
        }.recover { case e: java.io.IOException => e.getClass }.get
        assert(answer(nio) == answer(stock), s"$p")
      }
    }
    assert(nio.getFileLinkStatus(new Path(d.resolve("link").toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(d.resolve("dangling").toString)).isSymlink)
    assertThrows[java.io.FileNotFoundException](
      nio.getFileLinkStatus(new Path(d.resolve("absent").toString)))
  }

  test("a user-set file: class is kept") {
    val hc = spark.sparkContext.hadoopConfiguration
    val (fs0, afs0) = (hc.get(FsKey), hc.get(AfsKey))
    try {
      hc.set(FsKey, "org.apache.hadoop.fs.LocalFileSystem")
      hc.set(AfsKey, "org.apache.hadoop.fs.local.RawLocalFs")
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(hc.get(FsKey) == "org.apache.hadoop.fs.LocalFileSystem")
      assert(hc.get(AfsKey) == "org.apache.hadoop.fs.local.RawLocalFs")
    } finally { hc.set(FsKey, fs0); hc.set(AfsKey, afs0) }
    // on a bare conf: Hadoop's defaults are replaced, a user's choice is not
    val conf = new Configuration()
    LocalFs.install(conf)
    assert(conf.get(FsKey) == classOf[NioLocalFileSystem].getName)
    assert(conf.get(AfsKey) == classOf[NioLocalFs].getName)
    val mine = new Configuration()
    mine.set(FsKey, "com.example.MyFs")
    mine.set(AfsKey, "com.example.MyAfs")
    LocalFs.install(mine)
    assert(mine.get(FsKey) == "com.example.MyFs" && mine.get(AfsKey) == "com.example.MyAfs")
  }
}
