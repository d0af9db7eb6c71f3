package graft.streaming

import graft.schema.{ColumnSpec, CType, ChType}
import graft.sources.{JsonParser, JValue, ParserConfig}

/** Task configuration — the declarable unit of the engine, mirroring the
  * reference's task-config JSON (config/config.go:105-155,
  * docker/test_fixed_schema.json). One TaskConfig ↔ one StreamingQuery.
  */
final case class TaskConfig(
    name: String,
    topic: String,
    parser: ParserConfig,
    tableName: String,
    columns: Seq[ColumnSpec],
    shardingKey: Option[String] = None,
    shardingPolicy: String = "",
    bufferSize: Int = 262144, // defaultBufferSize (config/config.go:166)
    flushInterval: Int = 5, // seconds (config/config.go:168)
    dynamicSchema: Boolean = false,
    maxDims: Int = Short.MaxValue,
    whiteList: Option[String] = None,
    blackList: Option[String] = None,
    prometheusSchema: Boolean = false)

object TaskConfig {

  /** Parse the reference's task-config JSON shape (the `task` object of
    * docker/test_*.json). Unknown fields are ignored — including the
    * reference's `geoipHandle`, since enrichment is the `enrich`
    * argument of [[TaskRunner.run]], not a config switch, so configs
    * that still set it keep parsing. Integer fields are clamped as
    * 64-bit values before narrowing, so out-of-range input caps
    * instead of wrapping. Defaults and validation follow the
    * `normallizeTask` rules (config/config.go:236-301):
    *  - bufferSize ≤ 0 → 2^18; > 2^20 → 2^20; else rounded UP to the
    *    next power of two (`1 << GetShift(…)`, util/common.go:104-108);
    *  - flushInterval ≤ 0 → 5 s, capped at 600 s;
    *  - timeUnit 0 → 1.0;
    *  - prometheusSchema implies dynamicSchema (config.go:274-277);
    *  - dynamicSchema requires the JSON parser (config.go:278-283);
    *  - white/black lists must compile as regexes (config.go:285-296).
    * Deliberate deviation: default timeZone is UTC, not the reference's
    * process-local zone — a cluster of executors has no single "Local",
    * and reproducibility across machines matters more (tests pin both
    * behaviors via explicit zones). */
  def fromJson(json: String): TaskConfig = {
    import JValue._
    val root = new JsonParser().parse(json) match {
      case Some(o: JObj) => o
      case _ => throw new IllegalArgumentException("config is not a JSON object")
    }
    val task = root.get("task") match {
      case o: JObj => o
      case _ => root // allow passing the task object directly
    }
    def str(o: JObj, k: String, dflt: String = ""): String = o.get(k) match {
      case JStr(s) => s
      case _ => dflt
    }
    def long(o: JObj, k: String, dflt: Long): Long = o.get(k) match {
      case n: JNum => n.int64.getOrElse(dflt)
      case _ => dflt
    }
    def bool(o: JObj, k: String): Boolean = o.get(k) match {
      case JBool(b) => b
      case _ => false
    }
    val dims = task.get("dims") match {
      case JArr(items) => items.toSeq.map {
        case o: JObj =>
          val name = str(o, "name")
          val (t, nullable) = ChType.parse(str(o, "type"))
          val src = str(o, "sourceName")
          ColumnSpec(name, t, nullable,
            if (src.nonEmpty) src else ColumnSpec.sourceName(name))
        case other => throw new IllegalArgumentException(s"bad dim $other")
      }
      case _ => Seq.empty
    }
    val csvFormat = task.get("csvFormat") match {
      case JArr(items) => items.toSeq.collect { case JStr(s) => s }
      case _ => Seq.empty
    }
    val dyn = task.get("dynamicSchema") match {
      case o: JObj => o
      case _ => JObj(scala.collection.mutable.ArrayBuffer.empty)
    }
    def optStr(o: JObj, k: String): Option[String] = o.get(k) match {
      case JStr(s) if s.nonEmpty => Some(s)
      case _ => None
    }
    val timeUnit = task.get("timeUnit") match {
      case n: JNum if n.float64 != 0.0 => n.float64
      case _ => 1.0 // absent or 0 → 1.0 (config.go:271-273)
    }
    val format = if (str(task, "parser") == "csv") "csv" else "json"
    val prometheus = bool(task, "prometheusSchema")
    // prometheusSchema implies dynamic schema (config.go:274-277)
    val dynamic = prometheus || dyn.get("enable") == JBool(true)
    if (dynamic && format != "json")
      throw new IllegalArgumentException(
        s"Parser $format doesn't support DynamicSchema") // config.go:278-283
    val whiteList = optStr(dyn, "whiteList")
    val blackList = optStr(dyn, "blackList")
    for (re <- whiteList ++ blackList) // config.go:285-296
      try re.r catch {
        case e: Exception => throw new IllegalArgumentException(
          s"white/black list '$re' is invalid regexp: ${e.getMessage}")
      }
    // ≤0 → default; >max → max; else round UP to a power of two
    val rawBuf = long(task, "bufferSize", 1L << 18)
    val bufferSize =
      if (rawBuf <= 0) 1 << 18
      else if (rawBuf > (1 << 20)) 1 << 20
      else 1 << graft.operators.Sharding.roundupShift(rawBuf.toInt)
    val rawFlush = long(task, "flushInterval", 5)
    TaskConfig(
      name = str(task, "name"),
      topic = str(task, "topic"),
      parser = ParserConfig(
        format = format,
        csvFormat = csvFormat,
        delimiter = { val d = str(task, "delimiter"); if (d.isEmpty) "," else d },
        timeUnit = timeUnit,
        timeZone = { val z = str(task, "timeZone"); if (z.isEmpty) "UTC" else z }),
      tableName = str(task, "tableName"),
      columns = dims,
      shardingKey = optStr(task, "shardingKey"),
      shardingPolicy = str(task, "shardingPolicy"),
      bufferSize = bufferSize,
      flushInterval = if (rawFlush <= 0) 5 else math.min(rawFlush, 600L).toInt,
      dynamicSchema = dynamic,
      maxDims = {
        val m = long(dyn, "maxDims", 0)
        if (m <= 0) Short.MaxValue else math.min(m, Int.MaxValue.toLong).toInt
      },
      whiteList = whiteList,
      blackList = blackList,
      prometheusSchema = prometheus)
  }
}
