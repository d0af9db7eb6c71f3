package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.schema.CType
import graft.streaming._

/** Task-config parsing (config/config.go shape). */
class TaskConfigSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("fixed-schema config (docker/test_fixed_schema.json shape)") {
    val cfg = TaskConfig.fromJson(
      """{"task": {
        |  "name": "test_fixed_schema", "topic": "topic1",
        |  "consumerGroup": "g", "earliest": true, "parser": "json",
        |  "tableName": "test_fixed_schema",
        |  "dims": [
        |    {"name": "time", "type": "DateTime"},
        |    {"name": "name", "type": "String"},
        |    {"name": "value", "type": "Float32"}],
        |  "bufferSize": 50000}}""".stripMargin)
    assert(cfg.name === "test_fixed_schema")
    assert(cfg.columns.map(c => (c.name, c.ctype, c.nullable)) === Seq(
      ("time", CType.CDateTime, false),
      ("name", CType.CString, false),
      ("value", CType.CFloat, false)))
    // rounded UP to 2^16 (1 << GetShift(50000), config/config.go:260-262)
    assert(cfg.bufferSize === 65536)
    assert(cfg.flushInterval === 5)
    assert(!cfg.dynamicSchema)
  }

  test("csv + sharding knobs") {
    val cfg = TaskConfig.fromJson(
      """{"name": "t", "topic": "x", "parser": "csv",
        |  "csvFormat": ["a", "b"], "delimiter": "|",
        |  "tableName": "t", "dims": [{"name": "a", "type": "Int64"}],
        |  "shardingKey": "a", "shardingPolicy": "stripe,16",
        |  "flushInterval": 9999, "timeUnit": 0.001,
        |  "timeZone": "Asia/Shanghai"}""".stripMargin)
    assert(cfg.parser.format === "csv")
    assert(cfg.parser.csvFormat === Seq("a", "b"))
    assert(cfg.parser.delimiter === "|")
    assert(cfg.parser.timeUnit === 0.001)
    assert(cfg.parser.timeZone === "Asia/Shanghai")
    assert(cfg.shardingKey === Some("a"))
    assert(cfg.shardingPolicy === "stripe,16")
    assert(cfg.flushInterval === 600) // clamped (config/config.go:255)
  }

  test("dynamic-schema knobs (JSON parser — csv is rejected, config.go:278-283)") {
    val cfg = TaskConfig.fromJson(
      """{"name": "t", "topic": "x", "parser": "json",
        |  "tableName": "t", "dims": [{"name": "a", "type": "Int64"}],
        |  "dynamicSchema": {"enable": true, "maxDims": 8,
        |    "whiteList": "^new", "blackList": "secret"}}""".stripMargin)
    assert(cfg.dynamicSchema && cfg.maxDims === 8)
    assert(cfg.whiteList === Some("^new") && cfg.blackList === Some("secret"))
  }
}

/** Dynamic schema evolution — mirrors go.test.sh:27-42 message cohorts and
  * the exact evolved-schema assertion of go.test.sh:64-66. */
class SchemaEvolutionSpec extends SparkSuite {

  test("new-key scan infers the reference's evolved schema string") {
    import spark.implicits._
    val base = """"time": "2022-01-29 08:20:36", "name": "n", "value": 1.5"""
    val msgs = Seq(
      (s"""{$base}""", 1L),
      (s"""{$base, "newkey01": 123}""", 2L),
      (s"""{$base, "newkey02": 1.5, "newkey03": "x", "newkey04": "2009-07-13T09:07:13Z", "newkey05": {"a": 1}}""", 3L),
      (s"""{$base, "newkey06": [1,2], "newkey07": [1.5], "newkey08": ["a"], "newkey09": ["2009-07-13"], "newkey10": [{"b": 2}]}""", 4L),
      (s"""{$base}""", 5L))
      .toDF("value", "offset")
    val known = Set("time", "name", "value")
    val keys = SchemaEvolution.scanNewKeys(msgs, "value", "offset", known, None, None)
    assert(SchemaEvolution.schemaString(keys) ===
      "newkey01 Nullable(Int64), newkey02 Nullable(Float64), " +
        "newkey03 Nullable(String), newkey04 Nullable(DateTime64(3)), " +
        "newkey05 Nullable(String), newkey06 Array(Int64), " +
        "newkey07 Array(Float64), newkey08 Array(String), " +
        "newkey09 Array(DateTime64(3)), newkey10 Array(String)")
    val ddl = SchemaEvolution.alterDdl("db.t", existing = 3, maxDims = 100, keys)
    assert(ddl.head === "ALTER TABLE db.t ADD COLUMN IF NOT EXISTS `newkey01` Nullable(Int64)")
    assert(ddl.size === 10)
  }

  test("white/black lists and maxDims guard") {
    import spark.implicits._
    val msgs = Seq(
      ("""{"newkey01": 1, "other": 2, "newsecret": 3}""", 1L)).toDF("value", "offset")
    val keys = SchemaEvolution.scanNewKeys(msgs, "value", "offset", Set.empty,
      whiteList = Some("^new"), blackList = Some("secret"))
    assert(keys.map(_._1) === Seq("newkey01"))
    assert(SchemaEvolution.alterDdl("t", existing = 7, maxDims = 8, keys) === Seq.empty)
  }

  test("first-typed-occurrence wins (min offset)") {
    import spark.implicits._
    val msgs = Seq(
      ("""{"k": "2009-07-13"}""", 10L), // DateTime at offset 10
      ("""{"k": 123}""", 3L)) // Int at offset 3 → wins
      .toDF("value", "offset")
    val keys = SchemaEvolution.scanNewKeys(msgs, "value", "offset", Set.empty, None, None)
    assert(keys === Seq(("k", CType.CInt)))
  }
}

/** Sink orchestration: quarantine, retry, replica failover. */
class SinkWriterSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def row(i: Int): Row = Row(i)

  private class FlakyTarget(badRows: Set[Int]) extends InsertTarget {
    var batchAttempts = 0
    var inserted = Seq.newBuilder[Int]
    override def insertBatch(rows: Seq[Row]): Unit = {
      batchAttempts += 1
      if (rows.exists(r => badRows.contains(r.getInt(0))))
        throw new RuntimeException("bad row in batch")
      rows.foreach(r => inserted += r.getInt(0))
    }
    override def insertRow(r: Row): Unit = {
      if (badRows.contains(r.getInt(0))) throw new RuntimeException("bad row")
      inserted += r.getInt(0)
    }
  }

  test("quarantine: batch failure falls back to per-row, bad rows returned") {
    SinkStats.reset()
    val t = new FlakyTarget(Set(3, 7))
    val bad = QuarantineWriter.write(t, (1 to 10).map(row))
    assert(bad.map(_.getInt(0)) === Seq(3, 7))
    assert(t.inserted.result() === Seq(1, 2, 4, 5, 6, 8, 9, 10))
    // statistics.go flush_msgs_error_total analog
    assert(SinkStats.get("FlushMsgsErrorTotal") === 2L)
  }

  test("quarantine: clean batch inserts once") {
    val t = new FlakyTarget(Set.empty)
    assert(QuarantineWriter.write(t, (1 to 5).map(row)) === Seq.empty)
    assert(t.batchAttempts === 1)
  }

  private class DeadTarget extends InsertTarget {
    var calls = 0
    override def insertBatch(rows: Seq[Row]): Unit = { calls += 1; throw new SinkUnavailableException("down") }
    override def insertRow(r: Row): Unit = throw new SinkUnavailableException("down")
  }

  test("retry rotates replicas and succeeds on a good one") {
    SinkStats.reset()
    val dead = new DeadTarget
    val good = new FlakyTarget(Set.empty)
    val ring = new ReplicaRing(2)
    val bad = RetryingWriter.write(IndexedSeq(dead, good), ring, (1 to 3).map(row))
    assert(bad.isEmpty)
    assert(good.inserted.result() === Seq(1, 2, 3))
    assert(dead.calls === 1)
    // statistics.go clickhouse_reconnect_total analog
    assert(SinkStats.get("ClickHouseReconnectTotal") === 1L)
  }

  test("retry gives up after retryTimes") {
    val ring = new ReplicaRing(2)
    intercept[SinkUnavailableException] {
      RetryingWriter.write(IndexedSeq(new DeadTarget, new DeadTarget), ring,
        Seq(row(1)), retryTimes = 3)
    }
  }

  test("version-guarded replica rotation") {
    val ring = new ReplicaRing(3)
    val (r0, v0) = ring.get
    assert(r0 === 0)
    assert(ring.nextGoodReplica(v0) === 1)
    // a second caller holding the stale version must NOT advance again
    assert(ring.nextGoodReplica(v0) === 1)
  }

  test("batch→shard routing: batchId % numShards (output/clickhouse.go:167)") {
    val hits = Array.fill(3)(0)
    val sinks = (0 until 3).map { i =>
      new BatchSink {
        override def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
          hits(i) += 1
      }
    }.toIndexedSeq
    val routed = new BatchRoutedSink(sinks)
    (0L until 7L).foreach(id => routed.write(null, id))
    assert(hits.toSeq === Seq(3, 2, 2))
  }
}

/** DataFrame-level exactly-once JDBC sink contract (SURVEY §2.4 B6, the
  * keyed-replacement half of the reference's effectively-once story). */
class JdbcExactlyOnceSinkSpec extends SparkSuite {

  test("JdbcExactlyOnceSink: replayed foreachBatch invocation lands once") {
    import spark.implicits._
    System.setProperty("derby.system.home", "target/derby")
    val url = "jdbc:derby:memory:graftEoSink;create=true"
    val props = new java.util.Properties()
    graft.streaming.ConnectionPool.withConnection(url, props) { c =>
      val st = c.createStatement()
      try st.execute(
        "CREATE TABLE eo_df (a INT, b VARCHAR(32), batch_id BIGINT, part_id INT)")
      catch { case _: java.sql.SQLException => () }
      finally st.close()
      val del = c.createStatement()
      try del.execute("DELETE FROM eo_df") finally del.close()
    }
    val sink = new graft.streaming.JdbcExactlyOnceSink(url, "EO_DF", Seq("a", "b"))
    val batch = (1 to 20).map(i => (i, s"v$i")).toDF("a", "b").repartition(4)
    sink.write(batch, 5L) // first delivery
    sink.write(batch, 5L) // crash-before-checkpoint replay
    sink.write(batch.limit(3), 6L) // next batch appends
    graft.streaming.ConnectionPool.withConnection(url, props) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          "SELECT COUNT(*), COUNT(DISTINCT part_id) FROM eo_df WHERE batch_id = 5")
        rs.next()
        assert(rs.getInt(1) === 20, "replay must not duplicate")
        assert(rs.getInt(2) === 4, "every task partition wrote its own slice")
        val rs2 = st.executeQuery("SELECT COUNT(*) FROM eo_df")
        rs2.next()
        assert(rs2.getInt(1) === 23)
      } finally st.close()
    }
    graft.streaming.ConnectionPool.drain()
  }
}

/** End-to-end streaming smoke mirroring go.test.sh:51-58: N JSON messages
  * through source → typed projection → checkpointed foreachBatch sink;
  * count == N; restart from checkpoint does not re-deliver. */
class StreamingSmokeSpec extends SparkSuite
    with org.scalatest.concurrent.Eventually {
  import org.scalatest.time.{Millis, Seconds, Span}

  test("file stream → parse → parquet sink, count == N, no redelivery on restart") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream").toString
    val srcDir = s"$dir/in"
    val outDir = s"$dir/out"
    val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))

    val cfg = TaskConfig.fromJson(
      """{"name": "smoke", "topic": "t", "parser": "json", "tableName": "t",
        |"dims": [
        |  {"name": "time", "type": "DateTime"},
        |  {"name": "name", "type": "String"},
        |  {"name": "value", "type": "Float64"}]}""".stripMargin)

    def writeBatch(from: Int, n: Int, file: String): Unit = {
      val lines = (from until (from + n)).map(i =>
        s"""{"time": "2022-01-29 08:20:${i % 60}", "name": "name$i", "value": $i}""")
      Files.write(Paths.get(srcDir, file),
        lines.mkString("\n").getBytes("UTF-8"))
    }

    writeBatch(0, 100, "batch1.jsonl")
    // one malformed line (index 100): consumed and counted, never sunk
    Files.write(Paths.get(srcDir, "bad.jsonl"),
      """{"time": "2022-01-29 08:20:00", "name": "name100", "value": """
        .getBytes("UTF-8"))
    // each line's name index doubles as its Kafka offset, so offsets
    // increase across the two runs (0..100, then 101..150)
    def stream() = spark.readStream.format("text").load(srcDir)
      .select(col("value"),
        lit("t").as("topic"), lit(0).as("partition"),
        regexp_extract(col("value"), "name(\\d+)", 1).cast("long").as("offset"))
    val metrics = new StreamMetrics
    spark.streams.addListener(metrics)
    try {
      val source = stream()
      val q1 = TaskRunner.run(cfg, source, new ParquetSink(outDir), ckDir,
        availableNow = true)
      q1.awaitTermination(60000)
      val got1 = spark.read.parquet(outDir)
      assert(got1.count() === 100)
      assert(got1.schema.fieldNames.toSeq === Seq("time", "name", "value"))
      assert(got1.filter(col("name") === "name7").select("value").head().getDouble(0) === 7.0)

      // restart with more input: only the new rows land
      writeBatch(101, 50, "batch2.jsonl")
      val source2 = stream()
      val q2 = TaskRunner.run(cfg, source2, new ParquetSink(outDir), ckDir,
        availableNow = true)
      q2.awaitTermination(60000)
      assert(spark.read.parquet(outDir).count() === 150)
      spark.streams.active.foreach(_.stop())
      // observed metrics arrive on the asynchronous listener bus: counters
      // sum over both runs, the ConsumeOffsets gauge keeps its max
      eventually(timeout(Span(30, Seconds)), interval(Span(100, Millis))) {
        assert(metrics.totals.get("ConsumeMsgsTotal") === 151L)
        assert(metrics.totals.get("ParseMsgsErrorTotal") === 1L)
        assert(metrics.totals.get("ConsumeOffsets") === 150L)
      }
    } finally spark.streams.removeListener(metrics)
  }

  test("malformed rows are dropped and counted") {
    import spark.implicits._
    val cfg = TaskConfig.fromJson(
      """{"name": "drop", "topic": "t", "parser": "json", "tableName": "t",
        |"dims": [{"name": "value", "type": "Int64"}]}""".stripMargin)
    val df = Seq(
      ("""{"value": 1}""", "t", 0, 0L),
      ("""not json at all""", "t", 0, 1L),
      ("""{"value": 3}""", "t", 0, 2L))
      .toDF("value", "topic", "partition", "offset")
    val out = TaskRunner.build(cfg)(df)
    assert(out.select("value").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("sharded task routes into numShards partitions") {
    import spark.implicits._
    val cfg = TaskConfig.fromJson(
      """{"name": "sh", "topic": "t", "parser": "json", "tableName": "t",
        |"dims": [{"name": "k", "type": "Int64"}],
        |"shardingKey": "k", "shardingPolicy": "stripe,4"}""".stripMargin)
    val df = (0 until 64).map(i => (s"""{"k": $i}""", "t", 0, i.toLong))
      .toDF("value", "topic", "partition", "offset")
    val out = TaskRunner.build(cfg, numShards = 4)(df)
    assert(out.rdd.getNumPartitions === 4)
    assert(out.select("__shard").distinct().count() === 4)
  }

  test("shardingKey with default (empty) policy falls back to hash, not a crash") {
    import spark.implicits._
    // no shardingPolicy field at all — the default "" used to hit
    // "".stripPrefix("stripe,").toLong
    val cfg = TaskConfig.fromJson(
      """{"name": "sh2", "topic": "t", "parser": "json", "tableName": "t",
        |"dims": [{"name": "k", "type": "Int64"}],
        |"shardingKey": "k"}""".stripMargin)
    val df = (0 until 64).map(i => (s"""{"k": $i}""", "t", 0, i.toLong))
      .toDF("value", "topic", "partition", "offset")
    val out = TaskRunner.build(cfg, numShards = 4)(df)
    assert(out.select("__shard").distinct().count() === 4)
  }

  test("dynamic-schema key scan survives null (tombstone) message values") {
    import spark.implicits._
    val df = Seq(
      (null.asInstanceOf[String], 0L),
      ("""{"known": 1, "extra": "x"}""", 1L))
      .toDF("value", "offset")
    val found = graft.streaming.SchemaEvolution
      .scanNewKeys(df, "value", "offset", Set("known"), None, None)
    assert(found.map(_._1) === Seq("extra"))
  }
}
