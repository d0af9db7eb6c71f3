package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

import graft.sources.{MessageParser, TypedRowParserExpr}
import graft.streaming._

/** A flow task parses each message once. The parse feeds both the
  * null-drop Filter and the field Projection of `TaskRunner.build`, and
  * the optimized plan holds one parse expression, for batch frames and
  * for streaming micro-batches. `TypedRowParserExpr`'s
  * `deterministic = false` fence keeps the optimizer from inlining the
  * parse into both wherever no other node stops it.
  * The count is taken from the plan's expressions: AQE's executed-plan
  * text prints the initial and the final plan, so a string count would
  * see two. */
class SingleParseSpec extends SparkSuite {

  private val jsonCfg = TaskConfig.fromJson(
    """{"name": "parseonce_json", "topic": "t", "parser": "json",
      |  "tableName": "t", "flushInterval": 1,
      |  "dims": [{"name": "name", "type": "String"},
      |    {"name": "value", "type": "Int64"}]}""".stripMargin)

  private val csvCfg = TaskConfig.fromJson(
    """{"name": "parseonce_csv", "topic": "t", "parser": "csv",
      |  "csvFormat": ["name", "value"], "tableName": "t", "flushInterval": 1,
      |  "dims": [{"name": "name", "type": "String"},
      |    {"name": "value", "type": "Int64"}]}""".stripMargin)

  /** Each config's input lines: three good rows (a redelivered "a" among
    * them) and one malformed line. */
  private def lines(cfg: TaskConfig): Seq[String] =
    if (cfg.parser.format == "csv") Seq("a,1", "b,2", "a,3", "\"broken")
    else Seq("""{"name": "a", "value": 1}""", """{"name": "b", "value": 2}""",
      """{"name": "a", "value": 3}""", "not json")

  private def parses(plan: LogicalPlan): Int =
    plan.collect { case p =>
      p.expressions.map(_.collect { case e: TypedRowParserExpr => e }.size).sum
    }.sum

  private def inputDir(cfg: TaskConfig): JPath = {
    val dir = Files.createTempDirectory("parseonce")
    Files.write(dir.resolve("part0.txt"), lines(cfg).mkString("\n").getBytes(UTF_8))
    dir
  }

  private def kafkaShaped(df: DataFrame): DataFrame =
    df.select(col("value"), lit("t").as("topic"), lit(0).as("partition"),
      lit(0L).as("offset"))

  for (cfg <- Seq(jsonCfg, csvCfg)) {
    val format = cfg.parser.format

    test(s"$format: TaskRunner.build over a file scan parses once") {
      val out = TaskRunner.build(cfg)(
        kafkaShaped(spark.read.text(inputDir(cfg).toString)))
      assert(parses(out.queryExecution.optimizedPlan) === 1,
        out.queryExecution.optimizedPlan.treeString)
      assert(out.select("name", "value").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ===
        Seq("a" -> 1L, "a" -> 3L, "b" -> 2L))
    }

    // TaskRunner.build's `observe` node already stops the Filter from
    // being pushed below the parse; this frame has no such node, so only
    // the fence keeps the parse out of the Filter
    test(s"$format: the parse fence keeps one parse under a null-drop " +
        "filter and a field projection") {
      val out = kafkaShaped(spark.read.text(inputDir(cfg).toString))
        .withColumn("__parsed",
          MessageParser.parsed(col("value"), cfg.columns, cfg.parser))
        .filter(col("__parsed").isNotNull)
        .select(col("__parsed").getField("name").as("name"),
          col("__parsed").getField("value").as("value"))
      assert(parses(out.queryExecution.optimizedPlan) === 1,
        out.queryExecution.optimizedPlan.treeString)
      assert(out.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ===
        Seq("a" -> 1L, "a" -> 3L, "b" -> 2L))
    }

    for (dedup <- Seq(None, Some("name")))
      test(s"$format: a drained TaskRunner.run query parses once " +
          s"(dedupKey = $dedup)") {
        val rows = mutable.ArrayBuffer.empty[(String, Long)]
        val sink = new BatchSink {
          override def write(batch: DataFrame, batchId: Long): Unit =
            rows.synchronized {
              rows ++= batch.select("name", "value").collect()
                .map(r => (r.getString(0), r.getLong(1)))
            }
        }
        val source = kafkaShaped(
          spark.readStream.format("text").load(inputDir(cfg).toString))
        val q = TaskRunner.run(cfg, source, sink,
          Files.createTempDirectory("parseonce_ck").toString,
          availableNow = true, dedupKey = dedup)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.optimizedPlan
        assert(parses(plan) === 1, plan.treeString)
        // the gate keeps one "a"; which of the two is not pinned here
        if (dedup.isEmpty)
          assert(rows.sorted.toSeq === Seq("a" -> 1L, "a" -> 3L, "b" -> 2L))
        else assert(rows.map(_._1).sorted.toSeq === Seq("a", "b"))
      }
  }
}
