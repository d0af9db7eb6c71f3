package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.streaming._

/** The `file:` filesystem that `Sessions.builder` registers
  * ([[InProcessLocalFs]]): which classes resolve, that a checkpointed dedup
  * drain starts no OS process, that files on disk match the stock classes'
  * bit for bit, and that checkpoints cross between the two. */
class InProcessLocalFsSpec extends SparkSuite {

  private val cfg = TaskConfig.fromJson(
    """{"task": {
      |  "name": "forkless", "topic": "t", "parser": "json",
      |  "tableName": "forkless", "flushInterval": 1,
      |  "dims": [
      |    {"name": "time", "type": "DateTime"},
      |    {"name": "name", "type": "String"},
      |    {"name": "value", "type": "Float64"}],
      |  "bufferSize": 16384}}""".stripMargin)

  private def writeInput(dir: JPath, file: String, rows: Seq[(String, Int)]): Unit =
    Files.write(dir.resolve(file), rows.map { case (n, v) =>
      s"""{"time": "2022-01-29 08:20:01", "name": "$n", "value": $v}"""
    }.mkString("\n").getBytes(UTF_8))

  /** One AvailableNow drain of `in` through the dedup gate into an
    * [[IdempotentParquetSink]] at `out`, checkpointed at `ck`. */
  private def drain(in: JPath, out: JPath, ck: String): Unit = {
    val source = spark.readStream.format("text").load(in.toString)
      .select(col("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"))
    val q = TaskRunner.run(cfg, source, new IdempotentParquetSink(out.toString),
      ck, availableNow = true, dedupKey = Some("name"))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  private def admitted(out: JPath): Seq[(String, Int)] =
    spark.read.parquet(out.toString).select(col("name"), col("value").cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq

  /** `thread: command` of each OS process this JVM starts while `body`
    * runs, from JFR's `jdk.ProcessStart` events. JFR delivers events in
    * flushed batches, so a marker process started after `body` closes the
    * window: every earlier start has arrived once the marker's own has. */
  private def processesStartedDuring(body: => Unit): Seq[String] = {
    val marker = s"graft-process-marker-${System.nanoTime}"
    val started = new LinkedBlockingQueue[String]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e =>
        started.add(s"${Option(e.getThread).map(_.getJavaName).orNull}: ${e.getString("command")}"))
      rs.startAsync()
      body
      new ProcessBuilder("true", marker).start().waitFor()
      Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .map(c => if (c == null) fail("JFR never delivered the marker process") else c)
        .takeWhile(!_.contains(marker)).toList
    } finally rs.close()
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → (permission bits, bytes or null for a directory). */
  private def tree(root: JPath): Map[String, (Int, Seq[Byte])] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (mode(p), if (Files.isDirectory(p)) null else Files.readAllBytes(p).toSeq)
    }.toMap

  test("file: resolves to the in-process classes through FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    // FileSystem.CACHE is JVM-wide and ignores conf: assert, not assume,
    // that the first local FileSystem of this JVM came from Sessions.builder
    assert(FileSystem.get(new URI("file:///"), conf).getClass ===
      classOf[InProcessLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[InProcessRawLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[InProcessLocalFs])
  }

  test("a checkpointed AvailableNow dedup drain into IdempotentParquetSink " +
      "starts no OS process") {
    val dir = Files.createTempDirectory("forkless")
    val in = Files.createDirectories(dir.resolve("in"))
    writeInput(in, "b0.jsonl", Seq("a" -> 1, "b" -> 2, "a" -> 3, "c" -> 4))
    val started = processesStartedDuring(
      drain(in, dir.resolve("out"), dir.resolve("ck").toString))
      // Spark's state-store maintenance pool may `rm -rf` an earlier
      // query's RocksDB directory at any moment: not this drain's work
      .filterNot(p => p.startsWith("state-store-maintenance") && p.contains(": rm -rf "))
    assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
    assert(admitted(dir.resolve("out")) === Seq("a" -> 1, "b" -> 2, "c" -> 4))
    // the checkpoint and its state deltas were written, with sidecars
    val ck = dir.resolve("ck")
    for (f <- Seq("offsets/0", "commits/0", "state/0/0/1.delta"))
      assert(Files.isRegularFile(ck.resolve(f)), f)
    assert(Files.isRegularFile(ck.resolve("offsets/.0.crc")))
    assert(Files.isRegularFile(ck.resolve("state/0/0/.1.delta.crc")))
  }

  test("files and directories get the stock bits, bytes and .crc sidecars " +
      "through both APIs") {
    val conf = spark.sessionState.newHadoopConf()
    def viaFileContext(afs: AbstractFileSystem, root: JPath): Unit = {
      val fc = FileContext.getFileContext(afs, conf)
      val base = new Path(root.toUri)
      fc.mkdir(new Path(base, "ck/offsets"), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(base, "ck/offsets/.0.tmp"),
        EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      out.write("v1\n{}\n".getBytes(UTF_8)); out.close()
      fc.rename(new Path(base, "ck/offsets/.0.tmp"), new Path(base, "ck/offsets/0"))
    }
    def viaFileSystem(fs: FileSystem, root: JPath): Unit = {
      fs.initialize(new URI("file:///"), conf)
      val base = new Path(root.toUri)
      val out = fs.create(new Path(base, "out/_temporary/part-0"))
      out.write("rows".getBytes(UTF_8)); out.close()
      fs.mkdirs(new Path(base, "out/batch_id=0"), FsPermission.getDirDefault)
      fs.rename(new Path(base, "out/_temporary/part-0"),
        new Path(base, "out/batch_id=0/part-0"))
      fs.setPermission(new Path(base, "out/batch_id=0"), new FsPermission(0x1e8.toShort))
    }
    val stock = Files.createTempDirectory("stockfs")
    val ours = Files.createTempDirectory("inprocfs")
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    viaFileContext(AbstractFileSystem.get(new URI("file:///"), stockConf), stock)
    viaFileContext(AbstractFileSystem.get(new URI("file:///"), conf), ours)
    viaFileSystem(new LocalFileSystem(), stock)
    viaFileSystem(new InProcessLocalFileSystem(), ours)

    val got = tree(ours)
    assert(got === tree(stock))
    assert(got("ck/offsets/0")._1 === 0x1a4) // 0644
    assert(got("ck/offsets/.0.crc")._1 === 0x1a4)
    assert(got("ck/offsets")._1 === 0x1ed) // 0755
    assert(got("out/batch_id=0/part-0")._1 === 0x1a4)
    assert(got("out/batch_id=0")._1 === 0x1e8) // 0750, set explicitly
    assert(got.contains("out/batch_id=0/.part-0.crc"))

    // NIO cannot set the sticky bit; that one case takes the stock path
    val raw = new InProcessRawLocalFileSystem()
    raw.initialize(new URI("file:///"), conf)
    raw.setPermission(new Path(ours.resolve("ck").toUri), new FsPermission(0x3ed.toShort))
    assert(mode(ours.resolve("ck")) === 0x3ed) // 01755
  }

  test("a query restarts through a symlinked checkpoint directory; link " +
      "status of a symlink still takes the stock path") {
    val dir = Files.createTempDirectory("forklesslink")
    val in = Files.createDirectories(dir.resolve("in"))
    val real = Files.createDirectories(dir.resolve("ck-real"))
    val link = Files.createSymbolicLink(dir.resolve("ck"), real)
    val out = dir.resolve("out")
    writeInput(in, "b0.jsonl", Seq("a" -> 1, "b" -> 2))
    drain(in, out, link.toString)
    writeInput(in, "b1.jsonl", Seq("a" -> 9, "c" -> 3))
    drain(in, out, link.toString)
    assert(admitted(out) === Seq("a" -> 1, "b" -> 2, "c" -> 3))
    assert(Files.isRegularFile(real.resolve("commits/1")),
      "the restart must commit through the link into the real directory")
    assert(Files.isSymbolicLink(link))

    val conf = spark.sessionState.newHadoopConf()
    val ours = new InProcessRawLocalFileSystem()
    val stock = new RawLocalFileSystem()
    Seq(ours, stock).foreach(_.initialize(new URI("file:///"), conf))
    val linkPath = new Path(link.toString)
    val (a, b) = (ours.getFileLinkStatus(linkPath), stock.getFileLinkStatus(linkPath))
    assert(a.isSymlink && b.isSymlink)
    assert(a.getSymlink === b.getSymlink)
    val file = new Path(real.resolve("commits/1").toString)
    assert(!ours.getFileLinkStatus(file).isSymlink)
    assert(ours.getFileLinkStatus(file).getLen === stock.getFileLinkStatus(file).getLen)
  }

  test("a checkpoint written by the stock LocalFs restarts under the " +
      "in-process classes with no row lost or re-admitted") {
    val dir = Files.createTempDirectory("forklesscompat")
    val in = Files.createDirectories(dir.resolve("in"))
    val out = dir.resolve("out")
    val ck = dir.resolve("ck").toString
    val key = "fs.AbstractFileSystem.file.impl"
    // FileContext is not cached, so a session-level Hadoop override reaches
    // this query's offset log, commit log and state store
    spark.conf.set(key, classOf[LocalFs].getName)
    try {
      assert(FileContext.getFileContext(new URI("file:///"),
        spark.sessionState.newHadoopConf()).getDefaultFileSystem.getClass ===
        classOf[LocalFs])
      writeInput(in, "b0.jsonl", Seq("a" -> 1, "b" -> 2, "a" -> 3))
      drain(in, out, ck)
    } finally spark.conf.unset(key)
    assert(Files.isRegularFile(Paths.get(ck, "state/0/0/1.delta")))
    assert(admitted(out) === Seq("a" -> 1, "b" -> 2))

    writeInput(in, "b1.jsonl", Seq("b" -> 7, "c" -> 3, "a" -> 8, "d" -> 4))
    drain(in, out, ck)
    assert(admitted(out) === Seq("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4))
    assert(Files.isRegularFile(Paths.get(ck, "commits/1")))
  }
}
