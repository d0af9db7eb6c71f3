package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming._

/** r10 directive #6: the state-partition sizing rule is the PRODUCTION
  * path's default, not just the bench's — a task assembled with
  * `dedupKey` gets its state store partitioned by
  * `statePartitionsFor(cfg.bufferSize)` (rows-per-trigger), not by the
  * session's `spark.sql.shuffle.partitions`.
  *
  * Also pins the conf-scope safety claim TaskRunner.run relies on: the
  * session conf is RESTORED as soon as `start()` returns (asserted
  * before any data is even written), yet first-batch planning — which
  * happens asynchronously, after the restore — still reads the sized
  * value, because `StreamExecution` clones the session in its
  * constructor, synchronously inside `start()`. If planning read the
  * live session conf instead, the state dirs below would come out at
  * the session's 32. */
class TaskRunnerSizingSpec extends SparkSuite {

  private val cfgJson =
    """{"task": {
      |  "name": "sized", "topic": "t", "parser": "json",
      |  "tableName": "sized", "flushInterval": 1,
      |  "dims": [
      |    {"name": "time", "type": "DateTime"},
      |    {"name": "name", "type": "String"},
      |    {"name": "value", "type": "Float64"}],
      |  "bufferSize": 16384}}""".stripMargin

  private def lines(rows: Seq[(String, Int)]): Seq[String] =
    rows.map { case (n, v) =>
      s"""{"time": "2022-01-29 08:20:01", "name": "$n", "value": $v}"""
    }

  private def partDirs(ckDir: String): Set[String] = {
    val f = Paths.get(ckDir, "state", "0").toFile
    if (!f.isDirectory) Set.empty
    else f.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.forall(_.isDigit)).toSet
  }

  test("dedupKey task: state dirs follow bufferSize; conf restored before " +
      "first data; dedup survives a differently-sized restart; sharding " +
      "composes after the gate") {
    val dir = Files.createTempDirectory("trsized").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    val cfg = TaskConfig.fromJson(cfgJson)
      .copy(shardingKey = Some("name")) // gate must precede the shard step
    assert(cfg.bufferSize === 16384) // power of two: fromJson keeps it
    val sized = StatefulDedup.statePartitionsFor(cfg.bufferSize.toLong)
    assert(sized === 2) // ceil(16384 / 8192)

    def source() = spark.readStream.format("text").load(srcDir)
      .select(col("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"))

    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val q1 = TaskRunner.run(cfg, source(), new ParquetSink(outDir), ckDir,
      numShards = 2, dedupKey = Some("name"))
    try {
      // restored the moment run() returns — no data has been written yet,
      // so the first (data-carrying) batch is guaranteed to plan AFTER
      // this restore; the sized dirs below prove planning read the clone
      assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
        "run() must restore the session conf on return")
      Files.write(Paths.get(srcDir, "b1.jsonl"),
        lines(Seq("a" -> 1, "a" -> 2, "b" -> 3, "c" -> 4, "a" -> 5))
          .mkString("\n").getBytes("UTF-8"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(partDirs(ckDir) === Set("0", "1"),
      s"state dirs must follow statePartitionsFor(bufferSize)=$sized, " +
        s"not the session's $before")
    val got1 = spark.read.parquet(outDir)
    assert(got1.schema.fieldNames.contains("__shard"),
      "sharding must still apply downstream of the gate")
    assert(got1.count() === 3) // a, b, c — first-seen within the batch

    // restart the SAME checkpoint with a config that sizes DIFFERENTLY:
    // the checkpointed count wins (OffsetSeqMetadata) and keys admitted
    // before the restart stay suppressed
    val resized = cfg.copy(bufferSize = 65536)
    assert(StatefulDedup.statePartitionsFor(resized.bufferSize.toLong) === 8)
    Files.write(Paths.get(srcDir, "b2.jsonl"),
      lines(Seq("a" -> 9, "d" -> 6)).mkString("\n").getBytes("UTF-8"))
    val q2 = TaskRunner.run(resized, source(), new ParquetSink(outDir), ckDir,
      numShards = 2, dedupKey = Some("name"))
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.read.parquet(outDir)
    assert(got2.filter(col("name") === "d" && col("__shard").isNotNull).count() === 1,
      "sharding must still apply downstream of the gate after the restart")
    assert(got2.count() === 4, "only 'd' is new after the restart")
    assert(got2.filter(col("name") === "a").count() === 1,
      "duplicate 'a' re-admitted across restart")
    assert(partDirs(ckDir) === Set("0", "1"),
      "checkpointed sizing must win over a later config's sizing")
  }
}
