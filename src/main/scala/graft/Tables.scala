package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory with the engine's required configuration. All entry
  * points (Verify, Bench, tests) build through here so conf is set once at
  * session build time, not per table read.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which the vectorized
      // parquet reader rejects outright; read nanos as long (converted to
      // micros in Tables).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SQL surface for the custom Catalyst functions (graft_topk,
      // graft_uniq_upto, ... — see graft.GraftExtensions)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // explicit AQE posture for the 100 TB plan shape: runtime partition
      // coalescing and skew-join splitting on every shuffle
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE coalesce floor lowered from Spark's 1 MiB to 64 KiB: with
      // `parallelismFirst` the coalesce target is
      // max(total/parallelism, minPartitionSize), so on COMPUTE-dense
      // reduce stages over byte-small tables the 1 MiB floor collapses
      // parallelism to a handful of tasks (q88's array-profile final
      // aggregations ran 3 tasks × ~0.9 s CPU each on 32 cores;
      // interleaved A/B: q88 2.5-2.9 → 1.3-1.5 s, q64 better, others
      // flat). Scale-neutral by construction: whenever
      // total/parallelism ≥ 1 MiB — any real production shuffle — the
      // floor is not the binding term and the coalesced size is
      // IDENTICAL to the default's. Same parallelism-repair intent as
      // Tables.parallel/localCheckpointWide, as a session posture.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // bucketed scans expose their recorded sortBy order when every
      // bucket holds one file ("legacy" since SPARK-28595 because the
      // one-file check lists files at planning; safe either way — a
      // multi-file bucket is never claimed sorted). The incremental-
      // dedup index is this engine's only bucketed table, its probe is
      // exactly the sort-merge join the ordering feeds, and
      // IncrementalDedup.compactIndex exists to restore the one-file
      // shape — without this conf the probe pays the index-side sort
      // even on a fresh/compacted index.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // always use the sort-based shuffle writer, never the bypass-merge
      // one. The bypass writer — default whenever a shuffle has
      // ≤ 200 reduce partitions and no map-side combine (repartitions,
      // window/join exchanges) — opens R FILES PER MAP TASK and then
      // concatenates them; with R = this engine's conf'd shuffle width,
      // that is R× the file creates of the sort writer's one
      // data+index pair per task. Per-stage plan metrics showed
      // 85-200 ms of shuffleWriteTime PER TASK on exchanges carrying a
      // few KB (q51's batch-prep exchanges: 2.7-6.7 s summed per
      // exchange), and disabling bypass measured q117 2.1→1.4 s /
      // q41 4.4→2.9 s / q51 4.1→3.0 s (interleaved A/B) with q84 flat.
      // At production scale shuffle.partitions ≫ 200, so the sort
      // writer is the path every large job takes anyway — this pins the
      // SAME code path at every scale instead of a file-create storm
      // below the threshold. Results are writer-independent.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // `file:` without per-file `chmod`/`readlink` subprocesses, for both
      // Hadoop APIs (graft.InProcessLocalFs). FileSystem.CACHE is JVM-wide,
      // so the first local FileSystem built in a process keeps its class.
      .config("spark.hadoop.fs.file.impl", classOf[InProcessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[InProcessLocalFs].getName)
      // One executor classloader per session, not one per streaming query.
      // `start()` clones the session, the clone gets a new session UUID,
      // and with artifact isolation on (the default) its tasks run under a
      // fresh `ExecutorClassLoader`. The codegen cache is keyed on
      // (context classloader, source), so every query recompiled
      // byte-identical code in Janino, fetched missed class names from the
      // driver over RPC, and ran its classes JIT-cold. On `replay_dedup`,
      // where each drain is a new query, that was 9 compiles per drain;
      // with isolation off it is 0 after a session's first drain, and a
      // run loads 30 generated classes instead of 183
      // (StreamCodegenReuseSpec). Isolation only separates jars and files
      // added with `addArtifact` (Spark Connect); the engine adds none.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
}

/** Loader for the driver-generated test tables (TESTDATA.md).
  *
  * In production these would be real sources (Kafka topics, parquet lakes);
  * the library operators are all `DataFrame => DataFrame` so the source is
  * interchangeable. Reads go through `spark.read.parquet` so Catalyst gets
  * full pushdown (PushedFilters / ReadSchema pruning) on every query.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Like [[apply]], but fans the scan out to the session's parallelism.
    * The driver testdata ships single-row-group parquet files, which are
    * unsplittable — a per-row-expensive stage (typed parse, shingling,
    * regex extraction) would otherwise run on ONE core. The repartition
    * shuffle moves a few MB to unlock full-width map stages; production
    * sources (Kafka partitions, multi-file lakes) are already split, so
    * operators themselves never force this. */
  def parallel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    // inputFiles is pure metadata (no RDD conversion / physical planning);
    // each testdata file is one unsplittable row-group, so file count ==
    // scan partition count here.
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  /** `localCheckpoint()` + compute-parallelism repair: AQE coalesces
    * shuffle output by BYTES (with `parallelismFirst` the target is
    * total/parallelism floored at `minPartitionSize`, 64 KiB in
    * [[Sessions.builder]]), so a result-sized intermediate — a few MB of
    * dedup survivors — checkpoints into 1-2 partitions, and any
    * compute-dense consumer (MinHash
    * signatures ≈ 64 hashes/gram, per-pair exact verifies) then runs
    * nearly serial on it (stage profile: the signature scan over the
    * collapseExact checkpoint ran TWO tasks, 0.96 s of a 6.6 s query).
    *
    * When the materialized partition count is below the session's
    * shuffle parallelism, consumers read through a round-robin respread —
    * for a checkpoint that small the extra exchange is cheap (and reused
    * across consumers within one job by ReuseExchange), and at warehouse
    * scale (partitions ≥ parallelism) this is exactly the original
    * checkpoint, no extra pass. An eagerly CHECKPOINTED respread was
    * A/B-measured (interleaved runs): it helps the JaccardJoin
    * consumers ~0.2 s (their stop-gram collect job and main job cannot
    * share the exchange) but costs the MinHash corpusVerdict paths
    * 0.3-0.4 s of extra build-time materialization jobs (q38/q41) — net
    * negative, so the lazy respread stays. Width source of truth is the
    * session's shuffle parallelism, the same width as the candidate
    * respreads of [[graft.operators.FilterVerify.verify]] and
    * IncrementalDedup, read via `queryExecution.toRdd` so the width probe
    * doesn't plan a DataFrame-to-RDD conversion. */
  def localCheckpointWide(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    val p = ck.sparkSession.sessionState.conf.numShufflePartitions
    if (ck.queryExecution.toRdd.getNumPartitions < p) ck.repartition(p) else ck
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Defensive for sessions not built via Sessions.builder (idempotent).
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.find(_.name == "ts").map(_.dataType) match {
      // integral ns→µs division: epoch-nanos (~1.7e18) exceed double's
      // 2^53 exact range, so `/ 1000` (double div) would drift by ~1µs.
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // parquet µs timestamps without isAdjustedToUTC surface as
      // TIMESTAMP_NTZ; the session tz is pinned to UTC, so the cast is a
      // lossless reinterpretation and epoch extraction (`unix_micros`)
      // matches DuckDB's `epoch_us` on the same naive values.
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
