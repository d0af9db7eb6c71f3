package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.streaming._

/** [[IdempotentParquetSink]] that first records, from a `foreachPartition`
  * over the batch, the context classloader each task of the batch runs
  * under (`class@identityHashCode`). */
private final class LoaderRecordingSink(path: String, loaders: CollectionAccumulator[String])
    extends BatchSink {
  private val parquet = new IdempotentParquetSink(path)
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val acc = loaders // don't capture `this`
    batch.foreachPartition { (_: Iterator[Row]) =>
      val cl = Thread.currentThread.getContextClassLoader
      acc.add(s"${cl.getClass.getName}@${System.identityHashCode(cl)}")
    }
    parquet.write(batch, batchId)
  }
}

/** Every streaming query `TaskRunner.run` starts runs in a clone of the
  * session with its own session UUID. With `Sessions.builder`'s
  * `spark.sql.artifact.isolation.enabled=false` the clone's tasks still run
  * under the executor's one default classloader, so the codegen cache —
  * keyed on (context classloader, source) — serves a second query's
  * generated classes without a Janino compile. With isolation on, each
  * query's tasks got a fresh `ExecutorClassLoader`, and the second drain
  * below made 8 Janino compiles. */
class StreamCodegenReuseSpec extends SparkSuite {

  private val cfg = TaskConfig.fromJson(
    """{"task": {
      |  "name": "codegenreuse", "topic": "t", "parser": "json",
      |  "tableName": "codegenreuse", "flushInterval": 1,
      |  "dims": [
      |    {"name": "time", "type": "DateTime"},
      |    {"name": "name", "type": "String"},
      |    {"name": "value", "type": "Float64"}],
      |  "bufferSize": 16384}}""".stripMargin)

  /** One AvailableNow drain of `in` through the dedup gate into `out`,
    * on a fresh checkpoint; returns the task classloaders it recorded. */
  private def drain(in: JPath, out: JPath, ck: JPath): Set[String] = {
    val loaders = spark.sparkContext.collectionAccumulator[String]("task loaders")
    val source = spark.readStream.format("text").load(in.toString)
      .select(col("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"))
    val q = TaskRunner.run(cfg, source, new LoaderRecordingSink(out.toString, loaders),
      ck.toString, availableNow = true, dedupKey = Some("name"))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    loaders.value.asScala.toSet
  }

  private def admitted(out: JPath): Seq[(String, Int)] =
    spark.read.parquet(out.toString).select(col("name"), col("value").cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq

  test("a second streaming query over the same plan compiles no generated " +
      "code and its tasks share the first query's classloader") {
    val dir = Files.createTempDirectory("codegenreuse")
    val in = Files.createDirectories(dir.resolve("in"))
    for ((file, rows) <- Seq(
        "b0.jsonl" -> Seq("a" -> 1, "b" -> 2, "a" -> 3, "c" -> 4),
        "b1.jsonl" -> Seq("d" -> 5, "e" -> 6, "d" -> 7)))
      Files.write(in.resolve(file), rows.map { case (n, v) =>
        s"""{"time": "2022-01-29 08:20:01", "name": "$n", "value": $v}"""
      }.mkString("\n").getBytes(UTF_8))

    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val loaders1 = drain(in, dir.resolve("out1"), dir.resolve("ck1"))
    val before = compiles.getCount
    val loaders2 = drain(in, dir.resolve("out2"), dir.resolve("ck2"))
    assert(compiles.getCount - before === 0,
      "the second query recompiled generated code")
    assert(loaders1.size === 1, s"first query's task loaders: $loaders1")
    assert(loaders2 === loaders1, "the two queries' tasks ran under different loaders")

    val expected = Seq("a" -> 1, "b" -> 2, "c" -> 4, "d" -> 5, "e" -> 6)
    assert(admitted(dir.resolve("out1")) === expected)
    assert(admitted(dir.resolve("out2")) === expected)
  }
}
