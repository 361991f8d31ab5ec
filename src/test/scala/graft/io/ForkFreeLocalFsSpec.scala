package graft.io

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}
import graft.streaming.{KeyedEvent, StateMachines}

/** The session's `file:` filesystem ([[ForkFreeLocalFileSystem]] /
  * [[ForkFreeLocalFs]]): a streaming replay starts no `chmod` or
  * `readlink` process, every answer matches stock Hadoop's, and the
  * `.crc` checksums still catch a corrupted file.
  */
class ForkFreeLocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  /** The command line of every process the JVM started while `body` ran. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body
    finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  test("the session resolves file: to the fork-free filesystem on both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }

  test("a matchWithTimeout replay (sf0.001) starts no chmod or readlink process") {
    var rows = 0L
    val started = processesStarted {
      rows = SparkEntry.queries("q_order_timeout_stream")(spark, "/root/testdata/sf0.001").count()
    }
    assert(rows > 0)
    val forks = started.map(_.trim.split("\\s+").head).filter(Set("chmod", "readlink"))
    assert(forks.groupBy(identity).view.mapValues(_.size).toMap.isEmpty)
  }

  test("a streaming checkpoint keeps its Hadoop .crc and Spark .delta.crc files") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-crc")
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines
      .matchWithTimeout(input.toDS(), "create", "pay", timeoutSec = 900L)
      .writeStream.format("memory").queryName("fork_free_crc").outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(KeyedEvent(
        "o1", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), "create", "c1"))
      q.processAllAvailable()
    } finally q.stop()
    val names = Files.walk(ckpt).iterator.asScala.map(_.getFileName.toString).toSeq
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")), names)
    assert(names.exists(n => !n.startsWith(".") && n.endsWith(".delta.crc")), names)
  }

  /** A stock and a fork-free raw filesystem over a fresh temp dir. */
  private def pair(): (java.nio.file.Path, Seq[RawLocalFileSystem]) = {
    val dir = Files.createTempDirectory("graft-rawfs")
    val fss = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
    fss.foreach(_.initialize(root, new Configuration()))
    (dir, fss)
  }

  /** The value, or the class name of what was thrown. */
  private def outcome[A](a: => A): Either[String, A] =
    Try(a).toEither.left.map(_.getClass.getName)

  private def mode(p: java.nio.file.Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("permission bits match stock Hadoop: umask defaults and explicit modes") {
    val (dir, fss) = pair()
    val got = fss.zipWithIndex.map { case (fs, i) =>
      val f = new Path(s"$dir/f$i"); val d = new Path(s"$dir/d$i")
      fs.create(f).close()
      fs.mkdirs(d)
      val defaults = Seq(mode(Paths.get(s"$dir/f$i")), mode(Paths.get(s"$dir/d$i")))
      val explicit = Seq("644", "700", "755").flatMap { m =>
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        fs.setPermission(f, perm)
        val e = new Path(s"$dir/e${i}_$m")
        fs.mkdirs(e, perm)
        Seq(mode(Paths.get(s"$dir/f$i")), mode(Paths.get(e.toString)))
      }
      defaults ++ explicit
    }
    assert(got.head == got(1))
    assert(got.head.take(2) == Seq("rw-r--r--", "rwxr-xr-x"), "umask 022")
    assert(got.head.drop(2) == Seq("rw-r--r--", "rw-r--r--", "rwx------", "rwx------",
      "rwxr-xr-x", "rwxr-xr-x"))
  }

  test("getFileLinkStatus and getLinkTarget match stock Hadoop on files, dirs and links") {
    val (dir, fss) = pair()
    Files.writeString(dir.resolve("file"), "x")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val names = Seq("file", "dir", "link", "dangling", "missing")
    // scheme-less paths are what the link probe reads; file: URIs never are links
    val paths = names.map(n => new Path(s"$dir/$n")) ++ names.map(n => new Path(s"file:$dir/$n"))
    val answers = fss.map(fs => paths.map { p =>
      (outcome {
        val st = fs.getFileLinkStatus(p)
        (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
          if (st.isSymlink) Some(st.getSymlink) else None)
      }, outcome(fs.getLinkTarget(p)))
    })
    assert(answers.head == answers(1))
    val byName = names.zip(answers(1)).toMap
    assert(byName("link")._1.exists(_._4) && byName("dangling")._1.exists(_._4))
    assert(byName("link")._2 == Right(new Path(dir.resolve("file").toString)))
    assert(byName("missing")._1 == Left(classOf[FileNotFoundException].getName))
    assert(byName("file")._2.isLeft)
    assert(answers(1).drop(names.size).forall(_._1.forall(!_._4)), "file: URIs are never links")
  }

  test("FileContext.rename with and without OVERWRITE matches stock Hadoop, .crc included") {
    def run(impl: Option[String]): Seq[Any] = {
      val dir = Files.createTempDirectory("graft-rename")
      val conf = new Configuration()
      impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
      val fc = FileContext.getFileContext(root, conf)
      def write(n: String, s: String) = {
        val out = fc.create(new Path(s"file:$dir/$n"), java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(s.getBytes); out.close()
      }
      write("a", "aaa"); write("b", "bb"); write("c", "c")
      val p = (n: String) => new Path(s"file:$dir/$n")
      val plain = outcome(fc.rename(p("a"), p("b")))
      val over = outcome(fc.rename(p("a"), p("b"), Options.Rename.OVERWRITE))
      val fresh = outcome(fc.rename(p("c"), p("d")))
      val listing = Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
      Seq(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs],
        plain, over, fresh, listing, Files.readString(dir.resolve("b")))
    }
    val stock = run(None)
    val ours = run(Some(classOf[ForkFreeLocalFs].getName))
    assert(stock.head == false && ours.head == true)
    assert(stock.tail == ours.tail)
    assert(ours.tail == Seq(Left(classOf[FileAlreadyExistsException].getName),
      Right(()), Right(()), Seq(".b.crc", ".d.crc", "b", "d"), "aaa"))
  }

  test("a flipped byte in a FileContext-written file still fails its .crc check") {
    val dir = Files.createTempDirectory("graft-crc")
    val conf = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(root, conf)
    val p = new Path(s"file:$dir/data")
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
    out.write(Array.fill[Byte](1000)(7)); out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    // with a buffer size: FileContext.open(Path) alone reaches the raw
    // filesystem through FilterFs and checks no .crc, stock Hadoop too
    def readAll() = { val in = fc.open(p, 4096); try in.readAllBytes() finally in.close() }
    assert(readAll().length == 1000)
    val raf = new RandomAccessFile(dir.resolve("data").toFile, "rw")
    try { raf.seek(500); raf.write(8) } finally raf.close()
    intercept[ChecksumException](readAll())
  }
}
