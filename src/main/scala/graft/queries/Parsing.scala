package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.schema.{ColumnSpec, CType}
import graft.sources.{MessageParser, ParserConfig}

/** Oracle-checked exercises of the typed message-parsing stack (SURVEY §2.2):
  * JSON / CSV messages are rendered from the `events` parquet table, pushed
  * through [[MessageParser.project]] with a ColumnSpec schema covering the
  * coercion matrix (ints, floats, strings, datetimes, elastic datetimes,
  * bools→1/0, u64 overflow→0, missing→default/null, arrays, `__kafka_*`
  * virtual columns), and the DuckDB oracle recomputes the same values
  * straight from the table.
  *
  * The parse expression is a single-pass CodegenFallback over each message
  * (same plan position as `from_json`); at 100 TB the stage is
  * embarrassingly parallel with no shuffle — the only shuffle here is the
  * final presentation ORDER BY, which real pipelines don't have.
  */
object Parsing {

  private def cfg = ParserConfig(format = "json", timeUnit = 1.0, timeZone = "UTC")

  /** q13: JSON typed parse. Messages carry per-row values plus adversarial
    * literals (non-integral float in an Int column, u64 overflow, a missing
    * key) so the defaults/overflow semantics are oracle-visible. */
  def q13JsonParse(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val msg = concat(
      lit("""{"event_id":"""), col("event_id"),
      lit(""","etype":""""), col("event_type"), lit("\""),
      lit(""","val":"""), col("value"),
      lit(""","ts":""""), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"), lit("\""),
      lit(""","is_click":"""),
      when(col("event_type") === "click", lit("true")).otherwise(lit("false")),
      lit(""","frac":123.321,"big":18446744073709551615,"props":"""),
      col("props"), lit("}"))
    val messages = events.select(
      msg.as("value"),
      lit("events").as("topic"),
      pmod(col("event_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"))
    val specs = Seq(
      ColumnSpec("event_id", CType.CInt, nullable = false, "event_id"),
      ColumnSpec("etype", CType.CString, nullable = false, "etype"),
      ColumnSpec("val", CType.CFloat, nullable = false, "val"),
      ColumnSpec("ts_parsed", CType.CDateTime, nullable = false, "ts"),
      ColumnSpec("ets", CType.CElasticDateTime, nullable = false, "ts"),
      ColumnSpec("is_click", CType.CInt, nullable = false, "is_click"),
      // non-integral number in an Int column → default 0
      ColumnSpec("frac_int", CType.CInt, nullable = false, "frac"),
      // u64 overflow → default 0
      ColumnSpec("big", CType.CInt, nullable = false, "big"),
      // nested object through a String column → compact JSON text
      ColumnSpec("props_str", CType.CString, nullable = false, "props"),
      // absent keys: nullable → NULL, non-nullable → typed default
      ColumnSpec("miss_str", CType.CString, nullable = true, "missing_key"),
      ColumnSpec("miss_int", CType.CInt, nullable = false, "missing_key"),
      ColumnSpec("__kafka_topic", CType.CString, nullable = false, "__kafka_topic"),
      ColumnSpec("__kafka_partition", CType.CInt, nullable = false, "__kafka_partition"),
      ColumnSpec("__kafka_offset", CType.CInt, nullable = false, "__kafka_offset"))
    messages
      .transform(MessageParser.project(specs, cfg))
  }

  /** q14: CSV typed parse with quoted cells, the `"null"` missing literal,
    * and an embedded-JSON int-array cell (presented via array_join since
    * the oracle harness compares scalars). */
  def q14CsvParse(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val line = concat(
      col("event_id"), lit(","),
      col("event_type"), lit(","),
      col("value"), lit(","),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"), lit(","),
      lit("null"), lit(","),
      lit("\"["), col("event_id"), lit(","), col("user_id"), lit("]\""))
    val messages = events.select(
      line.as("value"),
      lit("events").as("topic"),
      lit(0).as("partition"),
      col("event_id").as("offset"))
    val csvCfg = ParserConfig(format = "csv",
      csvFormat = Seq("id", "etype", "val", "ts", "maybe", "arr"),
      delimiter = ",", timeUnit = 1.0, timeZone = "UTC")
    val specs = Seq(
      ColumnSpec("id", CType.CInt, nullable = false, "id"),
      ColumnSpec("etype", CType.CString, nullable = false, "etype"),
      ColumnSpec("val", CType.CFloat, nullable = false, "val"),
      ColumnSpec("ts_parsed", CType.CDateTime, nullable = false, "ts"),
      ColumnSpec("maybe", CType.CString, nullable = true, "maybe"),
      ColumnSpec("arr", CType.CIntArray, nullable = false, "arr"))
    messages
      .transform(MessageParser.project(specs, csvCfg))
      .withColumn("arr_joined", array_join(col("arr"), "|"))
      .drop("arr")
  }

  val entries: Seq[Query] = Seq(
    Query("q13_json_parse", q13JsonParse,
      """SELECT event_id,
        | event_type AS etype,
        | value AS val,
        | date_trunc('milliseconds', ts) AS ts_parsed,
        | CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ets,
        | CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
        |   AS BIGINT) AS is_click,
        | CAST(0 AS BIGINT) AS frac_int,
        | CAST(0 AS BIGINT) AS big,
        | replace(props, '": ', '":') AS props_str,
        | CAST(NULL AS VARCHAR) AS miss_str,
        | CAST(0 AS BIGINT) AS miss_int,
        | 'events' AS __kafka_topic,
        | event_id % 4 AS __kafka_partition,
        | event_id AS __kafka_offset
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q14_csv_parse", q14CsvParse,
      """SELECT event_id AS id,
        | event_type AS etype,
        | value AS val,
        | date_trunc('milliseconds', ts) AS ts_parsed,
        | CAST(NULL AS VARCHAR) AS maybe,
        | concat(CAST(event_id AS VARCHAR), '|', CAST(user_id AS VARCHAR)) AS arr_joined
        |FROM events ORDER BY event_id""".stripMargin))
}
