package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ingest.{Ingest, TableWriter, VersionedDir}
import graft.model.Schemas
import graft.streaming.CdcStream

/** The session's `file:` file system starts no OS process on the CDC
  * loop's paths and otherwise behaves like Hadoop's stock local one.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = FileSystem.get(URI.create("file:///"), conf)

  /** The `file:` file system the classpath resolves to without the
    * session's setting, uncached, for comparison.
    */
  private lazy val stock = {
    val s = FileSystem.getFileSystemClass("file", new Configuration(false))
      .getDeclaredConstructor().newInstance()
    s.initialize(URI.create("file:///"), conf)
    s
  }

  /** Threads that start processes on their own schedule, not for the
    * code being recorded: Spark's driver and executor heartbeats (the
    * first one runs `getconf PAGESIZE`) and the JVM's cleaners (a
    * collected session of another suite deletes its artifact dir with
    * `rm -rf`).
    */
  private def runsOnItsOwn(thread: String) =
    thread.endsWith("-heartbeater") || thread.startsWith("Cleaner-")

  /** The OS processes this JVM started while `body` ran, apart from
    * those of [[runsOnItsOwn]] threads: each one's command, thread and
    * innermost frames.
    */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(e => (e, e.getThread("eventThread").getJavaName))
        .filterNot { case (_, thread) => runsOnItsOwn(thread) }
        .map { case (e, thread) =>
          val frames = e.getStackTrace.getFrames.asScala.take(12)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          s"${e.getString("command")} on $thread at ${frames.mkString(" < ")}"
        }
    } finally { rec.close(); Files.delete(dump) }
  }

  private def assertNoProcess(what: String)(body: => Unit): Unit = {
    val started = processesStartedBy(body)
    assert(started.isEmpty,
      s"$what started ${started.size} processes: ${started.distinct.take(5).mkString("; ")}")
  }

  private def ts(min: Int, sec: Int) = f"2024-01-02T10:$min%02d:$sec%02d.000000+0000"

  private def events(rows: Seq[(String, Int, Int, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (acct, created, updated, note) =>
        (acct, ts(0, created), ts(updated / 60, updated % 60), "E", 1, 0, note)
      }.toDF(Schemas.flatCdcRow.fieldNames.toIndexedSeq: _*)
  }

  test("the CDC loop starts no OS process") {
    val root = Files.createTempDirectory("graft_forkfree")
    val lake = root.resolve("lake").toString
    val landing = root.resolve("landing").toString
    spark.range(1).count() // session up before recording

    assertNoProcess("bulkWrite") {
      TableWriter.bulkWrite(Ingest.toLakeRows(events(Seq(
        ("acc-1", 1, 1, "v1"), ("acc-2", 2, 2, "v1"), ("acc-3", 3, 3, "v1")))), lake)
    }
    // updates in two landing minutes: two landed files
    assertNoProcess("landCdc") {
      Ingest.landCdc(events(Seq(("acc-1", 1, 61, "v2"), ("acc-2", 2, 125, "v2"))), landing)
    }
    val landed = Files.walk(Paths.get(landing)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json")).map(_.toString).toSeq
    assert(landed.size === 2)
    assertNoProcess("mergeCommit") {
      TableWriter.mergeCommit(spark,
        Ingest.toLakeRows(Ingest.readCdcFiles(spark, landed.take(1))), lake)
    }
    assertNoProcess("mergeStream") {
      CdcStream.mergeStream(spark, landing, lake, root.resolve("ckpt").toString,
        maxFilesPerTrigger = 1, availableNow = true).awaitTermination()
    }
    val notes = TableWriter.read(spark, lake).orderBy("account")
      .select("note").collect().map(_.getString(0)).toSeq
    assert(notes === Seq("v2", "v2", "v1"))
    assertNoProcess("compactPartition") {
      TableWriter.compactPartition(spark, lake, "2024", "01", "02")
    }
    assertNoProcess("purgeKeys") {
      import spark.implicits._
      TableWriter.purgeKeys(spark, lake, Seq(s"account:acc-3,create_at:${ts(0, 3)}").toDF("id"))
    }
    assert(TableWriter.read(spark, lake).count() === 2)
    assertNoProcess("VersionedDir.publish") {
      VersionedDir.publish(spark.range(3).toDF(), root.resolve("versioned").toString, 1L)
    }
  }

  test("the session's file: paths go through the fork-free file system") {
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  test("dirs and files written through the session get the stock mode bits and .crc sidecars") {
    val lake = Files.createTempDirectory("graft_forkfree_modes").resolve("lake")
    TableWriter.bulkWrite(Ingest.toLakeRows(events(Seq(("acc-1", 1, 1, "v1")))), lake.toString)
    val umask = FsPermission.getUMask(conf)
    def symbolic(p: FsPermission) =
      p.getUserAction.SYMBOL + p.getGroupAction.SYMBOL + p.getOtherAction.SYMBOL
    val dirMode = symbolic(FsPermission.getDirDefault.applyUMask(umask))
    val fileMode = symbolic(FsPermission.getFileDefault.applyUMask(umask))
    val all = Files.walk(lake).iterator().asScala.toSeq
    val dataFiles = all.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    all.foreach { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) === want, p.toString)
    }
    dataFiles.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no checksum beside $f")
    }
  }

  test("a corrupted file still fails its checksum on read") {
    val f = new Path(Files.createTempDirectory("graft_forkfree_crc").resolve("f.bin").toUri)
    val out = fs.create(f)
    try out.write(Array.fill[Byte](64)(7)) finally out.close()
    val raw = Paths.get(f.toUri)
    val bytes = Files.readAllBytes(raw)
    bytes(10) = 8
    Files.write(raw, bytes)
    val in = fs.open(f)
    try intercept[ChecksumException](in.readFully(new Array[Byte](64))) finally in.close()
  }

  test("setPermission sets the same mode as the stock file system, sticky bit included") {
    val dir = Files.createTempDirectory("graft_forkfree_perm")
    Seq(0x1ed, 0x1a4, 0x1c0, 0x124, 0x3ff, 0x3c0).foreach { mode => // 755 644 700 444 1777 1700
      val perm = new FsPermission(mode.toShort)
      val ours = Files.createDirectory(dir.resolve(s"ours-$mode"))
      val theirs = Files.createDirectory(dir.resolve(s"stock-$mode"))
      fs.setPermission(new Path(ours.toUri), perm)
      stock.setPermission(new Path(theirs.toUri), perm)
      val got = Files.getAttribute(ours, "unix:mode").asInstanceOf[Int] & 0xfff
      assert(got === mode, f"mode $mode%o")
      assert(got === (Files.getAttribute(theirs, "unix:mode").asInstanceOf[Int] & 0xfff))
    }
    intercept[FileNotFoundException] {
      fs.setPermission(new Path(dir.resolve("missing").toUri), new FsPermission(0x1ed.toShort))
    }
  }

  test("getFileLinkStatus: a symlink reports its qualified target, a plain file its status") {
    val dir = Files.createTempDirectory("graft_forkfree_link")
    val target = Files.writeString(dir.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // a scheme-less path and a `file:` URI name the same link (the stock
    // code reads the link target of the path's string form, so it
    // reports the URI as no link)
    Seq(new Path(link.toString), new Path(link.toUri)).foreach { p =>
      val linkSt = fs.getFileLinkStatus(p)
      assert(linkSt.isSymlink, p)
      assert(linkSt.getSymlink === fs.makeQualified(new Path(target.toUri)), p)
    }
    assert(fs.getFileLinkStatus(new Path(link.toString)).getSymlink ===
      stock.getFileLinkStatus(new Path(link.toString)).getSymlink)
    val fileSt = fs.getFileLinkStatus(new Path(target.toUri))
    assert(!fileSt.isSymlink && fileSt.isFile && fileSt.getLen === 1)
    assert(fileSt.getPath === fs.makeQualified(new Path(target.toUri)))
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
  }

  test("rename: onto an existing file fails as with the stock file system, else moves the file and its checksum") {
    val dir = Files.createTempDirectory("graft_forkfree_rename")
    def write(name: String, fsys: FileSystem): Path = {
      val p = new Path(dir.resolve(name).toUri)
      val out = fsys.create(p)
      try out.write(name.getBytes("UTF-8")) finally out.close()
      p
    }
    Seq("ours" -> fs, "stock" -> stock).foreach { case (tag, fsys) =>
      val (a, b) = (write(s"$tag-a", fsys), write(s"$tag-b", fsys))
      assert(!fsys.rename(a, b), tag)
      val c = new Path(dir.resolve(s"$tag-c").toUri)
      assert(fsys.rename(a, c), tag)
      assert(!Files.exists(dir.resolve(s".$tag-a.crc")) && Files.exists(dir.resolve(s".$tag-c.crc")), tag)
      val in = fsys.open(c)
      try assert(new String(in.readAllBytes(), "UTF-8") === s"$tag-a", tag) finally in.close()
    }
  }
}
