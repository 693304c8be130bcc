package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.Triggers
import graft.streaming.Triggers.TriggerConfig

/** The fork-free local filesystem answers like Hadoop's stock one, and a
  * stateful streaming query on the library session starts no `chmod` or
  * `readlink` process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()
  private val localUri = FileSystem.getDefaultUri(conf)

  // Built directly, never through FileSystem.get, so neither instance
  // lands in Hadoop's JVM-wide FileSystem cache.
  private def fileSystems: Seq[(String, FileSystem)] = Seq(
    "stock" -> new LocalFileSystem(), "fork-free" -> new ForkFreeLocalFileSystem())
    .map { case (n, fs) => fs.initialize(localUri, conf); n -> fs }

  private def fileContexts: Seq[(String, FileContext)] = {
    val stock = AbstractFileSystem.createFileSystem(localUri, conf)
    assert(stock.isInstanceOf[LocalFs], s"stock FileContext is ${stock.getClass}")
    Seq("stock" -> stock, "fork-free" -> new ForkFreeLocalFs(localUri, conf))
      .map { case (n, afs) => n -> FileContext.getFileContext(afs, conf) }
  }

  test("permissions after create, mkdirs and setPermission match the stock filesystem under the default umask") {
    // each API creates file, dir/sub and a file chmod'ed to 0640
    def layout(make: (Path, Path, Path) => Unit): Seq[String] = {
      val root = Files.createTempDirectory("graft-localfs")
      def p(r: String) = new Path(root.resolve(r).toString)
      make(p("file"), p("dir/sub"), p("perm"))
      Seq("file", ".file.crc", "dir", "dir/sub", "perm")
        .map(r => s"$r ${PosixFilePermissions.toString(Files.getPosixFilePermissions(root.resolve(r)))}")
    }
    val viaFs = fileSystems.map { case (_, fs) =>
      layout { (file, dir, perm) =>
        fs.create(file).close(); assert(fs.mkdirs(dir))
        fs.create(perm).close(); fs.setPermission(perm, new FsPermission("640"))
      }
    }
    val viaFc = fileContexts.map { case (_, fc) =>
      layout { (file, dir, perm) =>
        fc.create(file, EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(dir, FsPermission.getDirDefault, true)
        fc.create(perm, EnumSet.of(CreateFlag.CREATE)).close()
        fc.setPermission(perm, new FsPermission("640"))
      }
    }
    for (got <- Seq(viaFs, viaFc)) {
      assert(got(0) == got(1), s"stock ${got(0)} vs fork-free ${got(1)}")
      assert(got(0).contains("file rw-r--r--") && got(0).contains("perm rw-r-----"), got(0))
    }
  }

  test("getFileLinkStatus matches the stock filesystem for a file, a directory, a symlink and a missing path") {
    val root = Files.createTempDirectory("graft-localfs")
    Files.writeString(root.resolve("file"), "abc")
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    def describe(s: FileStatus): String =
      Seq(s.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else "-", s.getModificationTime).mkString(" ")
    val answers = Seq[(String, Path => FileStatus)](
      "FileSystem" -> fileSystems.head._2.getFileLinkStatus,
      "FileSystem" -> fileSystems(1)._2.getFileLinkStatus,
      "FileContext" -> fileContexts.head._2.getFileLinkStatus,
      "FileContext" -> fileContexts(1)._2.getFileLinkStatus)
    for (name <- Seq("file", "dir", "link")) {
      val p = new Path(root.resolve(name).toString)
      val got = answers.map { case (api, f) => api -> describe(f(p)) }
      assert(got(0) == got(1) && got(2) == got(3), s"$name: $got")
    }
    assert(answers.map(_._2(new Path(root.resolve("link").toString)).isSymlink).forall(identity))
    answers.foreach { case (_, f) =>
      intercept[FileNotFoundException](f(new Path(root.resolve("missing").toString)))
    }
  }

  test("a FileContext rename onto an existing file fails without OVERWRITE and succeeds with it") {
    fileContexts.foreach { case (n, fc) =>
      val root = Files.createTempDirectory("graft-localfs")
      val (src, dst) = (new Path(root.resolve("src").toString), new Path(root.resolve("dst").toString))
      Seq(src -> "new", dst -> "old").foreach { case (p, body) =>
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        out.writeUTF(body); out.close()
      }
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      try assert(in.readUTF() == "new", n) finally in.close()
      assert(!fc.util.exists(src), n)
    }
  }

  test("a 10-batch RocksDB trigger query spawns no chmod or readlink") {
    val sumFn = new graft.functions.CombineFn[Long, Long, Long] {
      def createAccumulator(): Long = 0L
      def addInput(acc: Long, in: Long): Long = acc + in
      def mergeAccumulators(a: Long, b: Long): Long = a + b
      def extractOutput(acc: Long): Long = acc
    }
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 1000L)
    val panes = Triggers.triggeredAggregate(assigned, sumFn, TriggerConfig(windowSizeMs = 1000L))
    val jfr = Files.createTempFile("graft-spawns", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName("localfs_spawns")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try (0 until 10).foreach { b =>
      input.addData((0 until 4).map(k => (s"k$k", new Timestamp(b * 1000L + 100), 1L)))
      q.processAllAvailable()
    } finally { q.stop(); rec.stop() }
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
    Files.delete(jfr)
    val forked = commands.filter { c =>
      Set("chmod", "readlink")(new File(c.trim.split("\\s+").head).getName)
    }
    val spawns = forked.size
    assert(spawns == 0, s"chmod/readlink spawns, e.g. ${forked.take(3)}")
    // batch 9 ran at a watermark past windows 0..7: one final pane of
    // value 1 per key each (window 8 may still wait for a no-data batch)
    val finals = spark.table("localfs_spawns").where($"is_final" && $"wstart" < 8000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sorted
    assert(finals.toSeq == (for (k <- 0 until 4; w <- 0 until 8) yield (s"k$k", w * 1000L, 1L)))
  }
}
