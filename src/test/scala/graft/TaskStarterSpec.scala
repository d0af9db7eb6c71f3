package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{DynamicTask, ParquetSink, TaskConfig, TaskRunner}

/** The batching policy both streaming runners share through
  * `TaskRunner`'s one starter: the query carries the task's name,
  * `flushInterval` seconds become a processing-time trigger of that many
  * thousand milliseconds, and `availableNow` drains instead. Also pins
  * that `TaskRunner.run` refuses a dynamic-schema task, whose new keys
  * its fixed projection would drop. */
class TaskStarterSpec extends SparkSuite {

  private def cfgJson(name: String, extra: String = ""): String =
    s"""{"name": "$name", "topic": "t", "parser": "json",
       |"tableName": "$name", "flushInterval": 7$extra,
       |"dims": [
       |  {"name": "name", "type": "String"},
       |  {"name": "value", "type": "Float64"}]}""".stripMargin

  private def emptySource(): DataFrame = {
    val in = Files.createTempDirectory("graft_starter_in").toString
    spark.readStream.format("text").load(in)
      .select(col("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"))
  }

  private def checkpoint(): String =
    Files.createTempDirectory("graft_starter_ck").toString

  private def sink() =
    new ParquetSink(Files.createTempDirectory("graft_starter_out").toString)

  /** Name and trigger of a started query, which is stopped at once. */
  private def started(q: StreamingQuery): (String, Trigger) =
    try (q.name, q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger)
    finally q.stop()

  private val noDdl = new DynamicTask.DdlExecutor {
    override def execute(sql: String): Unit = ()
  }

  test("TaskRunner.run: flushInterval → processing-time trigger, query " +
      "named after the task; availableNow → AvailableNow") {
    val cfg = TaskConfig.fromJson(cfgJson("starter_run"))
    assert(started(TaskRunner.run(cfg, emptySource(), sink(), checkpoint())) ===
      ("starter_run", Trigger.ProcessingTime(7000L)))
    assert(started(TaskRunner.run(cfg, emptySource(), sink(), checkpoint(),
      availableNow = true)) === ("starter_run", Trigger.AvailableNow()))
  }

  test("DynamicTask.runStreaming: the same trigger and name policy") {
    val cfg = TaskConfig.fromJson(
      cfgJson("starter_dyn", """, "dynamicSchema": {"enable": true}"""))
    assert(started(DynamicTask.runStreaming(cfg, emptySource(), sink(), noDdl,
      checkpoint(), availableNow = false)) ===
      ("starter_dyn", Trigger.ProcessingTime(7000L)))
    assert(started(DynamicTask.runStreaming(cfg, emptySource(), sink(), noDdl,
      checkpoint())) === ("starter_dyn", Trigger.AvailableNow()))
  }

  test("TaskRunner.run refuses a dynamic-schema task and starts nothing") {
    for (extra <- Seq(""", "dynamicSchema": {"enable": true}""",
        """, "prometheusSchema": true""")) {
      val cfg = TaskConfig.fromJson(cfgJson("starter_refused", extra))
      assert(cfg.dynamicSchema)
      val e = intercept[IllegalArgumentException](
        started(TaskRunner.run(cfg, emptySource(), sink(), checkpoint())))
      assert(e.getMessage.contains("DynamicTask.runDynamic"))
      assert(!spark.streams.active.exists(_.name == "starter_refused"))
    }
  }
}
