package graft.streaming

import java.io.{ByteArrayOutputStream, File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import graft.{SourceScan, SparkSpec}
import graft.flowlog.FlowLogStream
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}

/** [[ForklessLocalFs]]: streaming checkpoints start no process, and
  * everything they leave on disk is what stock `LocalFs` leaves. */
class ForklessLocalFsSpec extends SparkSpec {

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }

  /** One envelope of v2 lines from `src`, one per port in `ports`, all
    * starting at `startS` (epoch seconds). */
  private def envelope(src: String, ports: Seq[Int], startS: Long): Array[Byte] = {
    val evs = ports.map { p =>
      s"""{"id":"$p","timestamp":${startS * 1000},"message":""" +
        s""""2 1 eni-x $src 10.0.0.2 40000 $p 6 1 100 $startS ${startS + 1} REJECT OK"}"""
    }.mkString(",")
    gzip(s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"g",""" +
      s""""logStream":"s","subscriptionFilters":[],"logEvents":[$evs]}""")
  }

  private val day = 1704067200L // 2024-01-01T00:00:00Z

  /** Batches for [[FlowLogStream.streamPortScan]]: two scanners during
    * 2024-01-01, then a next-day line that closes the day. */
  private val batches = Seq(
    envelope("10.0.0.7", 1 to 6, day + 600),
    envelope("10.0.0.7", 7 to 12, day + 1200),
    envelope("10.0.0.8", 1 to 11, day + 1800),
    envelope("10.0.0.9", Seq(1), day + 2 * 86400))

  private def portScan(mem: MemoryStream[Array[Byte]], ckpt: String, format: String,
      out: Option[String] = None) = {
    val w = FlowLogStream.streamPortScan(mem.toDF()).writeStream.format(format)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append())
    out.fold(w)(w.option("path", _)).start()
  }

  /** Commands of the processes started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val jfr = Paths.get(tempDir("forkless_jfr"), "run.jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.setDestination(jfr)
    rec.start()
    try body finally rec.stop()
    try RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    finally rec.close()
  }

  test("two checkpointed detector micro-batches start no chmod or readlink process") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = s"${tempDir("forkless_guard")}/ckpt"
    val mem = MemoryStream[Array[Byte]]
    val started = processStarts {
      val q = portScan(mem, ckpt, "noop")
      try batches.take(2).foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      // the recorder sees a process this JVM starts
      new ProcessBuilder("true").start().waitFor()
    }
    assert(started.exists(_.startsWith("true")), s"recording missed a process start: $started")
    assert(new File(s"$ckpt/commits/1").isFile, "vacuous: batch 1 never committed")
    val forks = started.filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.isEmpty, s"${forks.size} chmod/readlink processes, e.g. ${forks.take(3)}")
  }

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission leaves the same mode as stock RawLocalFileSystem") {
    val dir = tempDir("forkless_perm")
    val (stock, forkless) = (rawFs(new RawLocalFileSystem), rawFs(new ForklessLocalFs.Forkless))
    for (mode <- Seq("600", "644", "700", "755"); kind <- Seq("file", "dir")) {
      val modes = Seq(stock, forkless).zipWithIndex.map { case (fs, i) =>
        val p = Paths.get(dir, s"$kind-$mode-$i")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxrwxrwx"))
        fs.setPermission(new Path(p.toString), new FsPermission(mode))
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }
      assert(modes.head === new FsPermission(mode).toString, s"$kind $mode")
      assert(modes(1) === modes.head, s"$kind $mode")
    }
  }

  private def linkStatus(fs: RawLocalFileSystem, p: String): Either[Class[_], Seq[Any]] =
    try {
      val s: FileStatus = fs.getFileLinkStatus(new Path(p))
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
        if (s.isSymlink) s.getSymlink else null))
    } catch { case e: FileNotFoundException => Left(e.getClass) }

  test("getFileLinkStatus matches stock for a file, a dir, a symlink and a missing path") {
    val dir = tempDir("forkless_link")
    val file = Files.write(Paths.get(dir, "f"), "x".getBytes(UTF_8))
    val sub = Files.createDirectory(Paths.get(dir, "d"))
    val link = Files.createSymbolicLink(Paths.get(dir, "l"), file)
    val (stock, forkless) = (rawFs(new RawLocalFileSystem), rawFs(new ForklessLocalFs.Forkless))
    for (p <- Seq(file, sub, link, Paths.get(dir, "missing")).map(_.toString)) {
      val want = linkStatus(stock, p)
      assert(linkStatus(forkless, p) === want, p)
    }
    assert(linkStatus(stock, link.toString).exists(_(3) == true), "vacuous: no symlink status")
    assert(linkStatus(stock, s"$dir/missing") === Left(classOf[FileNotFoundException]))
  }

  private def finals(out: String): Set[(String, Long, Long)] =
    spark.read.parquet(out).collect().filter(_.getAs[String]("kind") == "FINAL")
      .map(r => (r.getAs[String]("srcaddr"), r.getAs[Long]("n_ports"),
        r.getAs[Long]("n_rejects"))).toSet

  test("a checkpoint written under stock LocalFs resumes under ForklessLocalFs with the same FINAL rows and .crc files") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = ForklessLocalFs.Key
    val (ref, dir) = (tempDir("forkless_ref"), tempDir("forkless_resume"))
    // one uninterrupted reference run
    val refMem = MemoryStream[Array[Byte]]
    val r = portScan(refMem, s"$ref/ckpt", "parquet", Some(s"$ref/out"))
    try batches.foreach { b => refMem.addData(b); r.processAllAvailable() } finally r.stop()
    val mem = MemoryStream[Array[Byte]]
    spark.conf.set(key, "org.apache.hadoop.fs.local.LocalFs")
    try {
      val q1 = portScan(mem, s"$dir/ckpt", "parquet", Some(s"$dir/out"))
      assert(spark.conf.get(key) === "org.apache.hadoop.fs.local.LocalFs",
        "a user-set key must stay as it is")
      try batches.take(2).foreach { b => mem.addData(b); q1.processAllAvailable() }
      finally q1.stop()
    } finally spark.conf.unset(key)
    val q2 = portScan(mem, s"$dir/ckpt", "parquet", Some(s"$dir/out"))
    assert(spark.conf.get(key) === classOf[ForklessLocalFs].getName)
    try batches.drop(2).foreach { b => mem.addData(b); q2.processAllAvailable() }
    finally q2.stop()
    val want = finals(s"$ref/out")
    assert(want.map(_._1) === Set("10.0.0.7", "10.0.0.8"), s"vacuous reference: $want")
    assert(finals(s"$dir/out") === want)
    for (sub <- Seq("offsets", "commits", "state")) {
      val files = Files.walk(Paths.get(dir, "ckpt", sub)).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq
      val (crcs, data) = files.partition(_.getFileName.toString.endsWith(".crc"))
      assert(data.nonEmpty, sub)
      // every file written before and after the resume has its side file
      data.foreach { f =>
        assert(crcs.contains(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
      }
    }
    assert(new File(s"$dir/ckpt/offsets/3").isFile, "vacuous: the resumed run wrote no offsets")
  }

  /** The newest offset file of the checkpoint at `ckpt`: a restart reads
    * it (no-data batches that advance the watermark write their own). */
  private def newestOffsets(ckpt: String): java.nio.file.Path = {
    val newest = new File(ckpt, "offsets").list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Paths.get(ckpt, "offsets", newest.toString)
  }

  test("a corrupted offset file is rejected on restart, as under stock LocalFs") {
    // The unparseable file is written with a matching .crc (through the
    // checksummed local FileSystem), so no checksum catches it under
    // either file system: it is the offset log's own parser that must
    // reject the file.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val failures = Seq("org.apache.hadoop.fs.local.LocalFs", classOf[ForklessLocalFs].getName).map { impl =>
      val ckpt = s"${tempDir("forkless_corrupt")}/ckpt"
      val mem = MemoryStream[Array[Byte]]
      spark.conf.set(ForklessLocalFs.Key, impl)
      try {
        val q1 = portScan(mem, ckpt, "noop")
        try batches.take(2).foreach { b => mem.addData(b); q1.processAllAvailable() }
        finally q1.stop()
        val offsets = newestOffsets(ckpt)
        val garbled = new String(Files.readAllBytes(offsets), UTF_8)
          .replaceFirst("\\{", "#").getBytes(UTF_8)
        val out = FileSystem.getLocal(new Configuration()).create(new Path(offsets.toString), true)
        try out.write(garbled) finally out.close()
        mem.addData(batches(2))
        val q2 = portScan(mem, ckpt, "noop")
        val e = intercept[StreamingQueryException] {
          try q2.processAllAvailable() finally q2.stop()
        }
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(causes.exists(_.isInstanceOf[com.fasterxml.jackson.core.JsonParseException]),
          s"$impl: ${causes.map(_.getClass.getName)}")
        causes.map(_.getClass)
      } finally spark.conf.unset(ForklessLocalFs.Key)
    }
    assert(failures.distinct.size === 1, failures)
  }

  test("an offset file rewritten behind its .crc fails the restart with a ChecksumException") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = s"${tempDir("forkless_crc")}/ckpt"
    val mem = MemoryStream[Array[Byte]]
    val q1 = portScan(mem, ckpt, "noop")
    try batches.take(2).foreach { b => mem.addData(b); q1.processAllAvailable() }
    finally q1.stop()
    // the source offset (the file's last line) moves by one, same length:
    // still a well-formed offset log entry, only the .crc tells it apart
    val offsets = newestOffsets(ckpt)
    val text = new String(Files.readAllBytes(offsets), UTF_8)
    val last = text.last
    assert(last.isDigit, s"unexpected offset file: $text")
    Files.write(offsets, (text.init + ((last - '0' + 1) % 10)).getBytes(UTF_8))
    assert(Files.exists(offsets.resolveSibling(s".${offsets.getFileName}.crc")))
    mem.addData(batches(2))
    val q2 = portScan(mem, ckpt, "noop")
    val e = intercept[StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[ChecksumException]), causes.map(_.getClass.getName))
  }

  test("the Hadoop file-system key is named once in src/main") {
    assert(SourceScan.occurrences("fs.AbstractFileSystem.file.impl").values.sum === 1)
  }
}
