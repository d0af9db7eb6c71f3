package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.operators.Sharding
import graft.sources.MessageParser

/** The streaming assembly (SURVEY §7 step 8 / docs/dev/design.md:15-20):
  * source → typed projection (+ parse-error metric) → optional enrichment
  * → optional row sharding → `foreachBatch` sink with checkpointed
  * offsets.
  *
  * Batching semantics map 1:1 onto Structured Streaming: `flushInterval`
  * → processing-time trigger; `bufferSize` → `maxOffsetsPerTrigger`;
  * ordered offset commit after sink success → the checkpoint commit log
  * (at-least-once; effectively-once when the target dedups on the
  * `__kafka_*` virtual columns, design.md:6-13).
  */
object TaskRunner {

  /** The Kafka source for a task config — standard options pass-through
    * (security options ride `extraOptions`, e.g. kafka.security.protocol,
    * kafka.sasl.*, kafka.ssl.* — input/kafka_sarama.go:11718-11760). */
  def kafkaSource(
      spark: SparkSession,
      cfg: TaskConfig,
      brokers: String,
      earliest: Boolean = true,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", cfg.topic)
      .option("startingOffsets", if (earliest) "earliest" else "latest")
      .option("maxOffsetsPerTrigger", cfg.bufferSize.toLong)
    extraOptions.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }
      .load()
      .select(
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"))
  }

  /** Batch/stream-agnostic transform: parse + project with observed
    * counters (ConsumeMsgsTotal / ParseMsgsErrorTotal — the reference's
    * statistics.go names), then enrichment, then sharding. */
  def build(
      cfg: TaskConfig,
      enrich: DataFrame => DataFrame = identity,
      numShards: Int = 1)(df: DataFrame): DataFrame = {
    val dataSpecs = cfg.columns
    val withParsed = df
      .withColumn("__parsed",
        MessageParser.parsed(col("value"), dataSpecs, cfg.parser))
      .observe(s"graft_${cfg.name}",
        count(lit(1)).as("ConsumeMsgsTotal"),
        count(when(col("__parsed").isNull, 1)).as("ParseMsgsErrorTotal"),
        // high-water offset (statistics.go ConsumeOffsets gauge) — merged
        // with max, not sum, in StreamMetrics
        coalesce(max(col("offset")), lit(-1L)).as("ConsumeOffsets"))
      .filter(col("__parsed").isNotNull)
    val projected = withParsed.select(dataSpecs.map { s =>
      if (MessageParser.isVirtual(s.name))
        (if (s.name.endsWith("_topic")) col("topic")
         else if (s.name.endsWith("_partition")) col("partition")
         else col("offset")).cast(s.ctype.sparkType).as(s.name)
      else col("__parsed").getField(s.name).as(s.name)
    }: _*)
    val withSeries =
      if (cfg.prometheusSchema) {
        // Prometheus-schema mode (config/config.go:141-142): series id +
        // labels derive from the string dims; the metric-name key is the
        // conventional __name__ label.
        val stringDims = dataSpecs
          .filter(s => s.ctype == graft.schema.CType.CString &&
            !MessageParser.isVirtual(s.name))
          .map(_.name)
        MessageParser.withSeriesColumns(projected, stringDims, "__name__")
      } else projected
    applyShard(cfg, numShards)(enrich(withSeries))
  }

  /** The B3/B4 sharding tail of [[build]]: route rows to writer shards
    * when the task configures a sharding key. Split out so [[run]] can
    * interpose the stateful dedup gate BEFORE it (the gate re-shuffles
    * by its own key; sharding must be the last repartition so rows
    * arrive at the sink writer-colocated). */
  private def applyShard(
      cfg: TaskConfig, numShards: Int)(enriched: DataFrame): DataFrame =
    cfg.shardingKey match {
      case Some(key) if numShards > 1 =>
        // stripe only on an explicit well-formed "stripe,N" with N a
        // positive Long-range integer; anything else (incl. the default
        // empty policy, "stripe,0", and overflow-length digit strings)
        // is hash — the reference's default — instead of crashing on
        // "".toLong / require(stripe > 0)
        val shardCol = cfg.shardingPolicy match {
          case p if p.startsWith("stripe,") &&
              p.stripPrefix("stripe,").matches("[1-9]\\d{0,17}") =>
            Sharding.stripeShard(
              col(key), p.stripPrefix("stripe,").toLong, numShards)
          case _ => Sharding.hashShard(col(key), numShards)
        }
        Sharding.repartitionByShard(
          enriched.withColumn("__shard", shardCol), col("__shard"), numShards)
      case _ => enriched
    }

  /** Start the streaming query: micro-batch per flush interval, sink via
    * foreachBatch, offsets checkpointed. `availableNow = true` drains the
    * source and stops (test/backfill mode).
    *
    * `dedupKey` interposes the cross-batch first-seen gate
    * ([[StatefulDedup.firstSeen]]) between enrichment and sharding —
    * the streaming analog of the reference's series first-seen
    * suppression, here as a task-assembly knob. When set, the gate's
    * STATE partitioning defaults to the measured sizing rule
    * [[StatefulDedup.statePartitionsFor]]`(cfg.bufferSize)` — state
    * partitions follow rows-per-trigger (`bufferSize` ↦
    * `maxOffsetsPerTrigger`), not the session's
    * `spark.sql.shuffle.partitions`, closing the default-sizing trap
    * the r9 decomposition diagnosed (a 62 K-row trigger on 32 session
    * partitions spends more time on store-commit cycles than on rows).
    * The sizing is pinned into the checkpoint at first batch and wins on
    * restart ([[StatefulDedup.withStatePartitions]] CHECKPOINT COMPAT).
    *
    * The conf scope is restored as soon as `start()` returns: Spark
    * clones the session (including `spark.sql.shuffle.partitions`)
    * inside the `StreamExecution` CONSTRUCTOR, which runs synchronously
    * within `start()`, so first-batch planning reads the clone, never
    * the restored session conf (pinned by TaskRunnerSizingSpec's
    * restore-before-await assertions).
    *
    * The clone has its own session UUID. With artifact isolation off
    * (`Sessions.builder`) its tasks still run under the session's one
    * executor classloader and share its codegen cache, so a query after
    * the first compiles no generated code that an earlier query of the
    * same plan compiled (pinned by StreamCodegenReuseSpec). */
  def run(
      cfg: TaskConfig,
      source: DataFrame,
      sink: BatchSink,
      checkpointDir: String,
      enrich: DataFrame => DataFrame = identity,
      numShards: Int = 1,
      availableNow: Boolean = false,
      dedupKey: Option[String] = None): StreamingQuery = {
    val core = build(cfg, enrich, numShards = 1)(source)
    val gated = dedupKey.fold(core)(StatefulDedup.firstSeen(core, _))
    val transformed = applyShard(cfg, numShards)(gated)
    def start(): StreamingQuery = transformed.writeStream
      .queryName(cfg.name)
      .trigger(
        if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(cfg.flushInterval * 1000L))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.write(batch, batchId)
      }
      .start()
    if (dedupKey.isEmpty) start()
    else StatefulDedup.withStatePartitions(source.sparkSession,
      StatefulDedup.statePartitionsFor(cfg.bufferSize.toLong))(start())
  }
}

/** Collects the observed per-batch metrics (statistics.go counter names)
  * from streaming progress events — the `observe()` path of SURVEY §2.8.
  */
final class StreamMetrics extends StreamingQueryListener {
  val totals = new ConcurrentHashMap[String, Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    e.progress.observedMetrics.forEach { (_, row) =>
      row.schema.fieldNames.foreach { f =>
        val v = row.getAs[Long](f)
        // gauges (high-water offsets) keep their max; counters sum
        if (f == "ConsumeOffsets") totals.merge(f, v, (a, b) => math.max(a, b))
        else totals.merge(f, v, (a, b) => a + b)
      }
    }
    // rows delivered to the sink (statistics.go FlushMsgsTotal)
    val out = e.progress.sink.numOutputRows
    if (out > 0) totals.merge("FlushMsgsTotal", out, (a, b) => a + b)
  }
}
