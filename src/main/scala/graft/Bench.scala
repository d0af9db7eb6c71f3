package graft

/** Benchmark main. Writes each query's full result to the `noop` sink so
  * Catalyst can't elide final sorts/projections the way it can under
  * `count()` (EliminateSorts), runs one untimed warm-up pass so the first
  * timed query isn't charged session/codegen startup, and prints exactly
  * one JSON line on stdout (build.sbt pins `run / outputStrategy` to
  * StdoutOutput so sbt doesn't prefix it).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // ---- per-query contamination guard (r12 judge directive #1) ----
    // BENCH_r12 shipped q11 4.28 s / q12 2.78 s — an apparent 11×
    // regression on untouched code that a judge re-run disproved (0.77 /
    // 0.34 s): localized host contamination inside the run window, which
    // the GLOBAL canaries cannot catch. Guard: the previous round's
    // BENCH_FULL.json (read BEFORE this run overwrites it) supplies a
    // per-query comparison row; any row whose min-of-2 lands > 2.5×
    // its prior gets ONE automatic third pass appended, and a row still
    // past the ratio after that carries a "suspect" flag in the
    // artifact so a false regression can never ship as silent fact.
    val fullPath = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "."), "BENCH_FULL.json")
      .toAbsolutePath.normalize
    val SuspectRatio = 2.5
    // prior artifact parsed once; the guard only arms when its "sf"
    // matches this run's — a legitimate scale-factor change would push
    // every row past the ratio and ship spurious suspect flags
    // (r13 ADVICE)
    val priorRoot: com.fasterxml.jackson.databind.JsonNode =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(java.nio.file.Files.readAllBytes(fullPath), "UTF-8"))
      catch { case _: Throwable => null }
    val priorSfMatches = priorRoot != null && {
      val sfNode = priorRoot.get("sf")
      sfNode != null && sfNode.asText() == sfDir
    }
    def priorNumbers(field: String): Map[String, Double] = {
      if (!priorSfMatches) return Map.empty
      val node = priorRoot.get(field)
      if (node == null) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        node.fields().asScala
          .filter(_.getValue.isNumber)
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
      }
    }
    val priorQueries: Map[String, Double] = priorNumbers("queries")
    // r15 (judge directive #3): the canary samples are now CONSUMED,
    // not just recorded. A canary band value (scan+shuffle seconds) is
    // sampled every BandEvery queries inside the timed loop and
    // attached to each query row ("query_bands" in BENCH_FULL); the
    // suspect guard then compares HOST-NORMALIZED ratios —
    // min·(prior_band/cur_band) against prior — so a 1.7× host-window
    // swing on unchanged code (r14 observation #1: q43 1.82→3.16 under
    // the 2.5× guard) no longer sits in the guard's blind band. The
    // normalization factor is clamped to [0.6, 1.67]: a noisy single
    // canary sample must not hide a real regression or invent one.
    val priorBands: Map[String, Double] = priorNumbers("query_bands")
    // r17 (r16 judge directive #3): the prior artifact's canary window,
    // for the top-level window_index (this run's MEDIAN canary band
    // over the prior's) — the cross-round headline classifier,
    // in-artifact instead of reconstructed from six run tables.
    // MEDIAN of the three samples, not the mean (r17 run 4: a single
    // cold-start spike — 3.88 vs mid/end 1.28/1.26 — dragged the mean
    // to 2.14 and stamped window_index 1.72 on the round's FASTEST,
    // zero-suspect run; the median is robust to exactly that one-bad-
    // sample shape, and the per-query guard bands already handle
    // within-run drift)
    def windowOf(samples: Seq[Double]): Double =
      if (samples.isEmpty) -1.0
      else samples.sorted.apply(samples.size / 2)
    val priorWindow: Double = {
      if (priorRoot == null || !priorSfMatches) -1.0
      else {
        val c = priorRoot.get("canaries")
        if (c == null) -1.0
        else windowOf(Seq("start", "mid", "end").flatMap { k =>
          Option(c.get(k)).flatMap { n =>
            (Option(n.get("scan_agg")), Option(n.get("shuffle_agg"))) match {
              case (Some(s), Some(sh)) if s.isNumber && sh.isNumber =>
                Some(s.asDouble() + sh.asDouble())
              case _ => None
            }
          }
        })
      }
    }
    val queryBands = scala.collection.mutable.Map.empty[String, Double]
    def bandFactorFor(name: String): Double =
      (priorBands.get(name), queryBands.get(name)) match {
        case (Some(pb), Some(cb)) if pb > 0 && cb > 0 =>
          math.max(0.6, math.min(1.67, pb / cb))
        case _ => 1.0
      }
    if (priorRoot != null && !priorSfMatches)
      System.err.println("[bench] prior BENCH_FULL.json is a different " +
        s"sf - contamination guard inactive this run (prior sf: " +
        s"${Option(priorRoot.get("sf")).map(_.asText()).getOrElse("?")})")
    else if (priorQueries.isEmpty)
      System.err.println("[bench] no prior BENCH_FULL.json - " +
        "contamination guard inactive this run")
    var suspects = List.empty[String]
    // Host-band canaries (never change these across rounds): two fixed
    // queries — a parquet scan-agg and a shuffle-agg — timed at run
    // start, middle (after the per-query block) and end, recorded in
    // BENCH_FULL "canaries". Rounds r7–r9 saw the same bytes time 2.3×
    // apart as the host's IO band moved; these rows let a later reader
    // normalize per-query numbers against the band IN-ARTIFACT instead
    // of via a manual interleaved A/B (see PLANS.md "Canary protocol").
    // Defined before guardPasses: the guarded third pass re-samples it.
    def canaryOnce(): (Double, Double) = {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val t0 = System.nanoTime()
      li.agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          sum("l_quantity"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      li.groupBy("l_suppkey")
        .agg(sum("l_quantity").as("q"), countDistinct("l_orderkey").as("o"))
        .write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    /** Append one guarded third pass when min(passes) > ratio× the
      * prior round's row; flags the name as suspect if the slowdown
      * persists. Queries use the default 2.5 (wall-times over a cold
      * catalyst session are noisy); the ingest/stream throughput rows
      * pass a tighter 1.35 — they are long, averaged regions whose
      * honest band is much narrower, and the r13 artifact shipped a
      * stream row 18% below the round's own measured band without
      * tripping the 2.5 (r13 judge directive #1/#5). */
    def guardPasses(name: String, passes: Seq[Double],
        rerun: () => Double, ratio: Double = SuspectRatio): Seq[Double] = {
      val ok = passes.filter(_ >= 0)
      if (ok.isEmpty) return passes
      // canary normalization (r15): query rows carry a band sample —
      // scale this run's numbers into the prior run's host band before
      // the ratio test. Throughput/decode rows pass no band (factor 1).
      val bf = bandFactorFor(name)
      priorQueries.get(name) match {
        case Some(p) if p > 0 && ok.min * bf > p * ratio =>
          System.err.println(f"[bench] $name min ${ok.min}%.2f s " +
            f"(band-normalized ${ok.min * bf}%.2f, factor $bf%.2f) is >" +
            f" ${ratio}x prior ${p}%.2f s - third pass")
          // r16 (r15 ADVICE): the rerun exists precisely because the
          // host window is suspected to have moved, so the third pass
          // must be normalized against the band it ACTUALLY runs in —
          // re-sample the canary here (updating the row's recorded
          // band), not the one sampled up to BandEvery-1 queries
          // earlier. Rows with no prior band (ingest/stream/decode)
          // keep factor 1 and skip the extra sample.
          val bf2 = if (priorBands.contains(name)) {
            val c = canaryOnce()
            queryBands(name) = c._1 + c._2
            bandFactorFor(name)
          } else bf
          val third = rerun()
          val all = passes :+ third
          if (third < 0 || third * bf2 > p * ratio) {
            suspects ::= name
            System.err.println(s"[bench] $name still past the ratio - " +
              "flagged suspect")
          }
          all
        case _ => passes
      }
    }
    val ThroughputRatio = 1.35

    canaryOnce() // untimed warm-up (footer cache, codegen)
    val canaryStart = canaryOnce()

    // Ingest throughput in the shape of the reference's own benchmark
    // (BASELINE.md: kafka_gen JSON → sinker(parse → geoip enrich → class
    // normalize → shard) → ClickHouse, 142-301 K rows/s). The timed
    // region matches the reference's consume→write measurement: the
    // generated flow JSON is materialized (persist + count) UNTIMED —
    // synthesis is the broker's job, not the sinker's — and the clock
    // covers scan → typed parse (JsonTypedRow) → __kafka_* virtuals →
    // SearchIP(src,dst) over a 131k-range broadcast geo table →
    // ReplaceUnknown serviceMap lookup → shard routing → sink.
    val INGEST_ROWS = 2000000L
    def ingestPipeline(input: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import graft.schema.ColumnSpec
      import graft.sources.{MessageParser, ParserConfig}
      import graft.enrich.{ClassNormalize, IpEnrich, IpRange}
      import org.apache.spark.sql.functions.col
      val specs = Seq(
        ColumnSpec("@timestamp", "DateTime"),
        ColumnSpec("ip_src", "String"),
        ColumnSpec("ip_dst", "String"),
        ColumnSpec("ip_proto", "String"),
        ColumnSpec("port_src", "Int32"),
        ColumnSpec("port_dst", "Int32"),
        ColumnSpec("bytes", "Int64"),
        ColumnSpec("class", "String"),
        ColumnSpec("__kafka_topic", "String"),
        ColumnSpec("__kafka_partition", "Int32"),
        ColumnSpec("__kafka_offset", "Int64"))
      // qqwry-scale synthetic geo DB: 2^17 ranges tiling the IPv4 space
      // (real qqwry.dat has ~500k), LAN/empty-area cases included
      val ranges = (0 until (1 << 17)).map { k =>
        val area =
          if (k % 1024 == 0) "对方和您在同一内部网"
          else if (k % 3 == 0) ""
          else s"ISP-${k % 97}"
        IpRange(k.toLong << 15, ((k.toLong + 1) << 15) - 1, s"国家${k % 4096}", area)
      }
      val parsed = input
        .transform(MessageParser.project(specs, ParserConfig(format = "json")))
      ClassNormalize.replaceUnknown(spark)(
          IpEnrich.searchIp(parsed, ranges, objs = Seq("src", "dst")))
        .withColumn("__shard",
          graft.operators.Sharding.hashShard(col("ip_src"), 3))
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach(runOnce) // warm-up: session start, codegen, parquet footers
    // min of two timed passes: a single GC/compilation stall in a 60-job
    // JVM session otherwise lands on one arbitrary query and dominates
    // its number (observed: 1.4 s query charged 14 s). The System.gc()
    // between queries keeps one query's allocation debt (and the context
    // cleaner's unfreed broadcast/shuffle blocks, which are only
    // reclaimed after a GC) from being billed to the next — without it,
    // whole runs degrade 3× once ~60 jobs of garbage pile up.
    // queries that localCheckpoint intermediates (q32/q38/q41 cluster
    // machinery) leave persisted RDD blocks behind; released between
    // queries so one query's blocks never pressure the next timed region
    // (observed: accumulated blocks from 3 runs × 3 such queries dragged
    // the last-running ingest from ~650 K to ~160 K rows/s)
    def releaseLeftovers(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.sharedState.cacheManager.clearCache()
    }
    // BOTH timed passes are kept and recorded (BENCH_FULL "passes"):
    // r8's driver-vs-builder 2x disagreements on q31/q49/q59/q64 were
    // only resolvable by a judge re-run because the artifact held only
    // the min — the spread must be visible in the artifact itself.
    // one canary band sample per BandEvery-query window, attached to
    // every query row in that window (the sample costs ~0.5 s, so ~8
    // samples across ~95 queries — cheap against the blind band it
    // closes; see "Canary protocol" in PLANS.md)
    val BandEvery = 12
    var bandSample = 0.0
    val queryPasses = names.zipWithIndex.map { case (n, i) =>
      releaseLeftovers()
      if (i % BandEvery == 0) {
        val c = canaryOnce()
        bandSample = c._1 + c._2
      }
      queryBands(n) = bandSample
      System.gc()
      val two = Seq(runOnce(n), runOnce(n))
      n -> guardPasses(n, two,
        () => { releaseLeftovers(); System.gc(); runOnce(n) })
    }
    val queryResults = queryPasses.map { case (n, ps) =>
      val ok = ps.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    releaseLeftovers()
    val canaryMid = canaryOnce()
    // Ingest runs LAST: its 2M-row working set churns the heap, and GC
    // debt from it must not be charged to the per-query timings. Same
    // protocol as the queries (untimed warm-up, System.gc(), min of two
    // timed passes) — round 2 timed it in a single unprotected pass and a
    // one-off JVM stall turned a ~2 s pipeline into 29 s.
    val ingestInput = graft.sources.Generators.flowJson(spark, INGEST_ROWS).persist()
    ingestInput.count() // materialize outside the timed region
    def ingestOnce(): Double = {
      val t0 = System.nanoTime()
      ingestPipeline(ingestInput).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    ingestOnce() // warm-up
    val ingestSec = guardPasses("ingest_2m_jsonlog",
      (1 to 2).map { _ => System.gc(); ingestOnce() },
      () => { System.gc(); ingestOnce() }, ThroughputRatio).min
    System.err.println(
      f"[bench] ingest: $INGEST_ROWS rows in $ingestSec%.2f s = ${INGEST_ROWS / ingestSec}%.0f rows/s")

    // Ingest variant that PAYS A REAL WRITE: same pipeline, but the sink
    // is the replay-idempotent parquet lake sink instead of noop — the
    // closest in-sandbox analog of the reference's ClickHouse INSERT cost
    // (columnar encode + flush to storage), which its 142 K rows/s
    // baseline includes. The no-write row above is kept for cross-round
    // continuity; this row is the apples-to-apples one.
    val lakeDir = java.nio.file.Files.createTempDirectory("graft_ingest_lake").toString
    def ingestParquetOnce(pass: Long): Double = {
      val t0 = System.nanoTime()
      new graft.streaming.IdempotentParquetSink(lakeDir)
        .write(ingestPipeline(ingestInput), pass)
      (System.nanoTime() - t0) / 1e9
    }
    ingestParquetOnce(0L) // warm-up
    val ingestPqSec = guardPasses("ingest_2m_parquet_write",
      (1 to 2).map { p => System.gc(); ingestParquetOnce(p.toLong) },
      () => { System.gc(); ingestParquetOnce(3L) }, ThroughputRatio).min
    System.err.println(
      f"[bench] ingest+parquet: $INGEST_ROWS rows in $ingestPqSec%.2f s = ${INGEST_ROWS / ingestPqSec}%.0f rows/s")
    ingestInput.unpersist()

    // Ingest variant through the REAL JDBC sink machinery (JdbcInsertTarget
    // batched inserts over the executor-local ConnectionPool) into embedded
    // Derby — a genuine transactional database write per batch, the same
    // code path a ClickHouse/warehouse target would exercise. Smaller row
    // count: a B-tree row-store pays per-row costs a columnar target
    // doesn't, and the point is to time OUR sink plumbing, not Derby.
    System.setProperty("derby.system.home", "target/derby")
    val JDBC_ROWS = 200000L
    val jdbcUrl = "jdbc:derby:memory:graftBench;create=true"
    val jdbcProps = new java.util.Properties()
    val jdbcCols = Seq("ip_src", "ip_dst", "port_src", "port_dst", "bytes",
      "loc_src", "isp_src", "loc_dst", "isp_dst")
    graft.streaming.ConnectionPool.withConnection(jdbcUrl, jdbcProps) { c =>
      val st = c.createStatement()
      try st.execute(
        "CREATE TABLE flow_sink (ip_src VARCHAR(48), ip_dst VARCHAR(48), " +
        "port_src INT, port_dst INT, bytes BIGINT, loc_src VARCHAR(128), " +
        "isp_src VARCHAR(128), loc_dst VARCHAR(128), isp_dst VARCHAR(128))")
      catch { case _: java.sql.SQLException => () } finally st.close()
    }
    val jdbcInput = graft.sources.Generators.flowJson(spark, JDBC_ROWS).persist()
    jdbcInput.count()
    val jdbcReady = ingestPipeline(jdbcInput)
      .select(jdbcCols.head, jdbcCols.tail: _*)
    def jdbcTruncate(): Unit =
      graft.streaming.ConnectionPool.withConnection(jdbcUrl, jdbcProps) { c =>
        val st = c.createStatement()
        try st.execute("DELETE FROM flow_sink") finally st.close()
      }
    def ingestJdbcOnce(): Double = {
      val t0 = System.nanoTime()
      val cols = jdbcCols
      jdbcReady.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val target = new graft.streaming.JdbcInsertTarget(
          jdbcUrl, "FLOW_SINK", cols, new java.util.Properties())
        it.grouped(2000).foreach(chunk => target.insertBatch(chunk))
      }
      (System.nanoTime() - t0) / 1e9
    }
    ingestJdbcOnce() // warm-up
    val ingestJdbcSec = guardPasses("ingest_200k_jdbc_derby",
      (1 to 2).map { _ => jdbcTruncate(); System.gc(); ingestJdbcOnce() },
      () => { jdbcTruncate(); System.gc(); ingestJdbcOnce() },
      ThroughputRatio).min
    jdbcInput.unpersist()
    graft.streaming.ConnectionPool.drain()
    System.err.println(
      f"[bench] ingest+jdbc(derby): $JDBC_ROWS rows in $ingestJdbcSec%.2f s = ${JDBC_ROWS / ingestJdbcSec}%.0f rows/s")

    // Streaming corpus-intake throughput: the StatefulDedup path (q40-style
    // quality gate + cross-batch exact dedup in the state store) driven as
    // a real multi-micro-batch Structured Streaming query with a parquet
    // sink — grounds the streaming story the way ingest grounds batch.
    // Input pre-written untimed; timed region = the AvailableNow run
    // (8 micro-batches of 2 files each, state + sink + checkpoint paid).
    val STREAM_ROWS = 500000L
    val streamBase = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val streamIn = s"$streamBase/in"
    locally {
      import org.apache.spark.sql.functions._
      spark.range(STREAM_ROWS).select(
        col("id").as("doc_id"),
        when(col("id") % 10 === 0, lit("junk"))   // fails the ≥5-word gate
          .otherwise(concat(lit("the document "),
            // ~10% of bodies duplicate an earlier doc's → exercises the
            // cross-batch dedup state, not just the gate
            (col("id") % lit((STREAM_ROWS * 9) / 10)).cast("string"),
            lit(" talks about a corpus topic and more")))
          .as("text"))
        .repartition(16).write.mode("overwrite").parquet(streamIn)
    }
    val streamSchema = spark.read.parquet(streamIn).schema
    // gate=false drops the stateful-dedup stage: the same pipeline at
    // its fixed 8-trigger cadence floor, isolating what the state
    // store actually costs (r13: sized gate 4.62 s vs a 4.20 s
    // no-dedup floor; recorded IN the artifact — r13 judge directive #5)
    def streamOnce(pass: Int, gate: Boolean = true): Double = {
      import org.apache.spark.sql.functions._
      val out = s"$streamBase/out$pass"; val ck = s"$streamBase/ck$pass"
      val src = spark.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", 2).parquet(streamIn)
      val toks = split(col("text"), " ")
      val admitted = src
        .filter(size(toks) >= 5 &&
          arrays_overlap(toks, array(lit("the"), lit("a"), lit("and"))))
        // 128-bit fingerprint struct (r16 directive #1): the exact gate's
        // state key must make key-equality imply text-equality at 10^10
        // keys; the state row widens 8 bytes, the commit-cycle cost that
        // dominates this gate (see statePartitionsFor) is unchanged
        .withColumn("fp",
          graft.functions.Hashes.fingerprint128(lower(trim(col("text")))))
      // 2 of 16 equal files per trigger → rows-per-trigger for the sizing
      // rule (StatefulDedup.statePartitionsFor: the state store pays a
      // fixed commit cycle per batch × partition, so partitions are sized
      // to trigger volume, not cluster width — the r9 decomposition's
      // config fix, now in code)
      val rowsPerTrigger = STREAM_ROWS * 2 / 16
      val t0 = System.nanoTime()
      // the exact gate is Spark's native streaming dedup operator
      // (StatefulDedup.firstSeen)
      graft.streaming.StatefulDedup.withStatePartitions(
          spark, graft.streaming.StatefulDedup.statePartitionsFor(rowsPerTrigger)) {
        (if (gate) graft.streaming.StatefulDedup.firstSeen(admitted, "fp")
         else admitted)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      (System.nanoTime() - t0) / 1e9
    }
    streamOnce(0) // warm-up
    val streamSec = guardPasses("stream_intake_500k",
      (1 to 2).map { p => System.gc(); streamOnce(p) },
      () => { System.gc(); streamOnce(3) }, ThroughputRatio).min
    // decomposition row: the same run minus the dedup operator — the
    // difference is what the state store costs vs the workload's fixed
    // per-trigger cadence (the "not state-store-bound" evidence, in the
    // artifact instead of PLANS.md prose). The gate=false plan gets its
    // own untimed warm-up (it compiles a different query than the gate
    // run warmed), and a negative difference — one noisy pass — ships
    // clamped to 0 with a noisy flag instead of as a nonsense negative
    // cost (r14 ADVICE).
    streamOnce(8, gate = false) // warm-up for the no-dedup plan
    val streamNoDedupSec =
      (1 to 2).map { p => System.gc(); streamOnce(8 + p, gate = false) }.min
    val dedupCostRaw = streamSec - streamNoDedupSec
    val dedupCostNoisy = dedupCostRaw < 0
    val dedupCostSec = math.max(0.0, dedupCostRaw)
    if (dedupCostNoisy)
      System.err.println(f"[bench] stream decomposition noisy: gate run " +
        f"$streamSec%.2f s faster than its own cadence floor " +
        f"$streamNoDedupSec%.2f s - dedup_cost_s clamped to 0 and flagged")
    System.err.println(
      f"[bench] stream intake: $STREAM_ROWS rows in $streamSec%.2f s = ${STREAM_ROWS / streamSec}%.0f rows/s" +
        f" (cadence floor w/o dedup $streamNoDedupSec%.2f s -> dedup cost $dedupCostSec%.2f s)")

    // Streaming near-dup gate under a hot band key (r15 judge directive
    // #3): the nearDupGate intake with 10% exact boilerplate duplicates
    // vs an all-distinct control at the same cadence. Every hot doc
    // routes its 32 band records to the SAME 32 state-store keys (the
    // streaming analog of the batch hot bucket), so this pair of rows
    // is where a hot-key throughput collapse would surface; the state
    // row counts from the progress API pin the bounded-state claim
    // (one marker per band key, ever — StatefulDedupSpec pins the
    // exact arithmetic) in the artifact rather than in prose.
    val NEAR_ROWS = 30000L
    val nearBase =
      java.nio.file.Files.createTempDirectory("graft_stream_neardup").toString
    def nearInput(hot: Boolean): String = {
      import org.apache.spark.sql.functions._
      val dir = s"$nearBase/in_${if (hot) "hot" else "uni"}"
      val boiler = "subscribe to our newsletter for breaking updates " +
        "and exclusive daily offers now and today"
      // doc-unique vocabulary: zero shared shingles across distinct
      // docs, so the control never band-collides by construction
      val uniq = concat_ws(" ",
        (0 until 10).map(j => concat(lit("w"), col("id"), lit(s"x$j"))): _*)
      spark.range(NEAR_ROWS).select(col("id").as("doc_id"),
        (if (hot) when(col("id") % 10 === 0, lit(boiler)).otherwise(uniq)
         else uniq).as("text"))
        .repartition(8).write.mode("overwrite").parquet(dir)
      dir
    }
    val nearHotIn = nearInput(hot = true)
    val nearUniIn = nearInput(hot = false)
    val nearSchema = spark.read.parquet(nearHotIn).schema
    val nearStateRows = scala.collection.mutable.Map.empty[String, Long]
    def nearOnce(inDir: String, key: String, pass: Int,
        ttlMs: Long = 0L, rawDir: Option[String] = None,
        filesPerTrigger: Int = 2,
        recsPerTriggerOverride: Long = 0L): Double = {
      val out = s"$nearBase/out_${key}_$pass"
      val ck = s"$nearBase/ck_${key}_$pass"
      val src = spark.readStream.schema(nearSchema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(inDir)
      // 2 of 8 files per trigger; each doc fans out 32 band records
      // into the stateful operator — size state partitions to that
      // (the planted-cohort pass overrides both: 1 file per trigger,
      // filler-batch volume)
      val recsPerTrigger =
        if (recsPerTriggerOverride > 0) recsPerTriggerOverride
        else NEAR_ROWS * 2 / 8 * 32
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var ttlElapsed: Option[Double] = None
      graft.streaming.StatefulDedup.withStatePartitions(spark,
          graft.streaming.StatefulDedup.statePartitionsFor(recsPerTrigger)) {
        val q = graft.streaming.StatefulDedup
          .nearDupGate(src, "doc_id", "text", stateTtlMs = ttlMs)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            rawDir match {
              case Some(raw) =>
                // instrumentation pass only (UNTIMED — never on a
                // guarded row): accumulate the gate's (band, hit)
                // verdicts for the re-admission counter; persist so
                // the stateful operator executes once for both sinks
                b.persist()
                try {
                  graft.streaming.StatefulDedup.finishNearDupGate(b)
                    .write.mode("append").parquet(out)
                  b.select("__band", "__hit")
                    .write.mode("append").parquet(raw)
                } finally { b.unpersist(); () }
              case None =>
                graft.streaming.StatefulDedup.finishNearDupGate(b)
                  .write.mode("append").parquet(out)
            }
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        if (ttlMs > 0) {
          // TTL + AvailableNow never self-terminates (processing-time
          // timers keep scheduling no-data batches — see nearDupGate's
          // DRAIN CAVEAT): drain + stop via the product utility. The
          // timed region ends at the LAST DATA batch's completion
          // (progress timestamp + triggerExecution) — NOT at drain
          // detection/stop: the TTL-0 rows end right after their last
          // batch, and the drain protocol's extra no-data trigger +
          // poll quantization + stop would otherwise ride the row and
          // read as eviction cost (r17 review: the first artifact
          // shipped +38% that was mostly this overhead).
          nearStateRows(key) =
            graft.streaming.StatefulDedup.drainAvailableNow(q)
          ttlElapsed = q.recentProgress.filter(_.numInputRows > 0)
            .lastOption.map { p =>
              val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
                Option(p.durationMs.get("triggerExecution"))
                  .map(_.longValue).getOrElse(0L)
              math.max(end - wall0, 0L) / 1000.0
            }
        } else {
          q.awaitTermination()
          q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
            .lastOption.foreach(nearStateRows(key) = _)
        }
      }
      ttlElapsed.getOrElse((System.nanoTime() - t0) / 1e9)
    }
    nearOnce(nearHotIn, "hot", 0) // warm-up (plan + codegen for the gate)
    val nearHotSec = guardPasses("stream_neardup_30k_hot",
      (1 to 2).map { p => System.gc(); nearOnce(nearHotIn, "hot", p) },
      () => { System.gc(); nearOnce(nearHotIn, "hot", 3) },
      ThroughputRatio).min
    nearOnce(nearUniIn, "uni", 0) // warm-up
    val nearUniSec = guardPasses("stream_neardup_30k_uniform",
      (1 to 2).map { p => System.gc(); nearOnce(nearUniIn, "uni", p) },
      () => { System.gc(); nearOnce(nearUniIn, "uni", 3) },
      ThroughputRatio).min
    // TTL-on row (r16 judge directive #6): the same hot intake with
    // state eviction armed — the unbounded-stream posture. Within one
    // ~10 s AvailableNow run most keys stay inside the TTL, so the row
    // pins that arming eviction costs ~nothing and that end-state never
    // EXCEEDS the TTL-0 run's (idle keys can only leave); the eviction
    // SEMANTICS (timed-out key removed, re-arriving doc re-admits) are
    // pinned wall-clock-deterministically by StatefulDedupSpec.
    val NearTtlMs = 2000L
    nearOnce(nearHotIn, "ttl", 0, NearTtlMs) // warm-up
    val nearTtlSec = guardPasses("stream_neardup_30k_hot_ttl",
      (1 to 2).map { p => System.gc(); nearOnce(nearHotIn, "ttl", p, NearTtlMs) },
      () => { System.gc(); nearOnce(nearHotIn, "ttl", 3, NearTtlMs) },
      ThroughputRatio).min
    // r19 (r18 judge directive #4): the neardup_ttl DECOMPOSITION row —
    // the same hot intake with timers ARMED at a TTL no key can reach
    // inside the ~10 s run (600 s). The TTL-2000 row differs from the
    // TTL-0 row by three mechanisms: per-key timer registration writes
    // (setTimeoutDuration every batch), the per-batch timeout sweep,
    // and the state-store SHRINK from real evictions (a saving). This
    // row pays the first two at FULL state size and never the third,
    // so in-artifact: armed − hot = timer/sweep machinery cost;
    // ttl2000 − armed = eviction work net of the shrink saving. The
    // r17/r18 ttl-vs-hot gap (+17% in a disk-flagged window, then
    // free) now decomposes mechanically instead of via window prose.
    val NearTtlArmedMs = 600000L
    nearOnce(nearHotIn, "ttlarm", 0, NearTtlArmedMs) // warm-up
    val nearTtlArmedSec = guardPasses("stream_neardup_30k_hot_ttl_armed",
      (1 to 2).map { p => System.gc(); nearOnce(nearHotIn, "ttlarm", p, NearTtlArmedMs) },
      () => { System.gc(); nearOnce(nearHotIn, "ttlarm", 3, NearTtlArmedMs) },
      ThroughputRatio).min
    // r17 judge directive #5: ONE extra UNTIMED TTL pass with the gate's
    // (band, hit) verdicts accumulated — readmissionCount over the whole
    // run is the exact number of eviction-then-return cycles (the
    // stateTtlMs sizing signal; see StatefulDedup.readmissionCount's
    // exactness argument). Instrumented separately so the timed hot_ttl
    // row's protocol — and its cross-round guard prior — is unchanged.
    val nearRawDir = s"$nearBase/raw_ttl"
    nearOnce(nearHotIn, "ttlobs", 0, NearTtlMs, rawDir = Some(nearRawDir))
    val nearReadmissions = graft.streaming.StatefulDedup
      .readmissionCount(spark.read.parquet(nearRawDir))
    // and once with a TTL TIGHTER than the trigger cadence (~1.8 s).
    // Measured posture (r18 run 3): readmissions stay 0 EVEN HERE,
    // and that is the operator's documented eviction semantics
    // demonstrated, not a dead counter — a key that receives records
    // in a batch is never swept (receiving resets its clock), so a
    // signature present in EVERY batch cannot evict at any TTL; only
    // idle keys evict (state shrinks ~2× further at 500 ms vs 2 s),
    // and this intake's idle keys are doc-unique and never return.
    // The counter moves exactly when a duplicate's inter-arrival gap
    // exceeds the TTL — pinned deterministically at 32 in
    // StatefulDedupSpec's past-TTL re-admission phase.
    val NearTtlTightMs = 500L
    val nearRawTight = s"$nearBase/raw_ttl_tight"
    nearOnce(nearHotIn, "ttlobs_tight", 0, NearTtlTightMs,
      rawDir = Some(nearRawTight))
    val nearReadmitTight = graft.streaming.StatefulDedup
      .readmissionCount(spark.read.parquet(nearRawTight))
    // r19 (r18 judge directive #3): a PLANTED cohort whose duplicate
    // re-arrival gap EXCEEDS the tight TTL, so the re-admission counter
    // is demonstrably alive in the artifact — both standard-intake
    // stamps honestly read 0 (every duplicate signature re-arrives
    // within its TTL; an every-batch-hot key resets its clock and never
    // sweeps), and an operator reading two 0s cannot tell a sound TTL
    // from a dead counter without the planted non-zero beside them.
    // Shape: 8 single-file triggers (modTime-ordered, maxFilesPerTrigger
    // = 1) — trigger 1 admits 50 planted docs (doc-unique vocabulary, 32
    // band keys each), triggers 2–7 carry 2000 unique filler docs each
    // (the planted keys idle through ~6 batches, far past the 500 ms
    // TTL, and the per-batch timeout sweep evicts them), trigger 8
    // re-arrives the SAME 50 texts under new ids — every planted band
    // key is absent by then, so each re-admits: expected count 50 × 32
    // = 1600 (the StatefulDedupSpec 32-re-admission shape, scaled).
    // UNTIMED instrumentation, like the two stamps beside it.
    val PlantedDocs = 50
    val plantDir = s"$nearBase/in_planted"
    locally {
      import org.apache.spark.sql.functions._
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plantDir))
      val t0 = System.currentTimeMillis() - 60000L
      def plantedTexts(idBase: Long) = spark.range(PlantedDocs.toLong)
        .select((col("id") + idBase).as("doc_id"),
          concat_ws(" ", (0 until 10).map(j =>
            concat(lit("p"), col("id"), lit(s"q$j"))): _*).as("text"))
      def fillerTexts(file: Int) = spark.range(2000L)
        .select((col("id") + 800000L + file * 10000L).as("doc_id"),
          concat_ws(" ", (0 until 10).map(j =>
            concat(lit(s"f${file}x"), col("id"), lit(s"y$j"))): _*).as("text"))
      def writeBatchFile(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
        val tmp = s"$nearBase/planted_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        val dest = new java.io.File(plantDir, f"b$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // FileStreamSource orders unread files by modification time:
        // pin 1 s apart so trigger order == batch-file order on any
        // timestamp granularity
        dest.setLastModified(t0 + i * 1000L)
        ()
      }
      writeBatchFile(plantedTexts(900000L), 1)
      (2 to 7).foreach(i => writeBatchFile(fillerTexts(i), i))
      writeBatchFile(plantedTexts(910000L), 8)
    }
    val plantRaw = s"$nearBase/raw_ttl_planted"
    nearOnce(plantDir, "planted", 0, NearTtlTightMs,
      rawDir = Some(plantRaw), filesPerTrigger = 1,
      recsPerTriggerOverride = 2000L * 32)
    val nearReadmitPlanted = graft.streaming.StatefulDedup
      .readmissionCount(spark.read.parquet(plantRaw))
    if (nearReadmitPlanted == 0L)
      System.err.println("[bench] WARNING planted re-admission cohort " +
        "read 0 - either the intermediate batches ran inside the " +
        s"$NearTtlTightMs ms TTL (host anomaly) or the counter is dead; " +
        "investigate before trusting the standard-intake 0s")
    System.err.println(
      f"[bench] stream near-dup gate: hot $nearHotSec%.2f s " +
        f"(${NEAR_ROWS / nearHotSec}%.0f rows/s, state ${nearStateRows.getOrElse("hot", -1L)} rows) vs " +
        f"uniform $nearUniSec%.2f s (${NEAR_ROWS / nearUniSec}%.0f rows/s, " +
        f"state ${nearStateRows.getOrElse("uni", -1L)} rows); hot/uniform ${nearHotSec / nearUniSec}%.2f; " +
        f"ttl-armed(600s) hot $nearTtlArmedSec%.2f s (state ${nearStateRows.getOrElse("ttlarm", -1L)} rows); " +
        f"ttl-on hot $nearTtlSec%.2f s (state ${nearStateRows.getOrElse("ttl", -1L)} rows, " +
        f"$nearReadmissions re-admissions at ${NearTtlMs}ms TTL / " +
        f"$nearReadmitTight at the tight ${NearTtlTightMs}ms TTL; " +
        f"planted cohort $nearReadmitPlanted vs expected " +
        f"${PlantedDocs * 32})")
    val canaryEnd = canaryOnce()
    // Per-format single-core decode throughput (r11 judge finding #1 /
    // directive #2): the media-gate query rows (q108-q111) are
    // PLANT-ENCODE dominated — the fixture encodes cost more than the
    // decoders under test — so a decoder regression would be invisible
    // in the query timings. This block is the tracked number that moves
    // instead. Single-threaded by design: per-core rate × cluster cores
    // is the scan budget at 100 TB.
    var decodeRates = graft.tools.MediaDecodeBench.measure()
    // decode-rate contamination guard (r13 judge directive #1: the r13
    // artifact shipped decode rows 20-37% below r12 on byte-identical
    // decoders and nothing flagged it). Rates are higher-is-better, so
    // the suspect direction inverts; and single-core decode rates are
    // far more stable than query wall-times, so the trigger is a
    // tighter 1.25x (a 20% sag is exactly the defect class observed) —
    // one re-measured block for the sagging formats, best kept, a
    // persistent sag ships flagged as decode:<name>.
    // r18 (r17 judge directive #3): the guard compares against the
    // row's RECORDED OSCILLATION BAND, not a point prior. Some decoders
    // are honestly bimodal across JVMs (png_gray8's measured band is
    // 146–320 MP/s — JIT path selection, not contamination; five
    // rounds of manual window-classification said so in prose), so the
    // artifact now carries band_lo/band_hi per format — the running
    // min/max of every timed block ever observed, merged from the
    // prior artifact each run — and the sag trigger fires only against
    // band_lo. A rate inside its own recorded band can never flag; a
    // genuine regression below the historical low still flags loudly
    // once, then (same semantics as the query guard's prior) the
    // merged band absorbs it so the flag is one round's evidence, not
    // a permanent alarm.
    val DecodeGuardRatio = 1.25
    // prior band per format; rows stamped before r18 carry only mp_s —
    // their band starts as that point
    val priorDecodeBand: Map[String, (Double, Double)] =
      if (priorRoot == null || !priorSfMatches) Map.empty
      else {
        val node = priorRoot.get("decode_mps")
        if (node == null) Map.empty
        else {
          import scala.jdk.CollectionConverters._
          node.fields().asScala.flatMap { e =>
            def num(k: String): Option[Double] =
              Option(e.getValue.get(k)).filter(_.isNumber).map(_.asDouble())
            num("mp_s").map { m =>
              e.getKey -> (math.min(num("band_lo").getOrElse(m), m),
                math.max(num("band_hi").getOrElse(m), m))
            }
          }.toMap
        }
      }
    def priorLo(name: String): Option[Double] =
      priorDecodeBand.get(name).map(_._1).filter(_ > 0)
    val sagging = decodeRates.filter(r =>
        priorLo(r.name).exists(lo => r.mpPerSec * DecodeGuardRatio < lo))
      .map(_.name).toSet
    if (sagging.nonEmpty) {
      System.err.println(s"[bench] decode rows >${DecodeGuardRatio}x " +
        s"below their recorded band_lo - re-measuring: " +
        sagging.mkString(", "))
      val third = graft.tools.MediaDecodeBench.measure(only = sagging)
        .map(r => r.name -> r).toMap
      // best block wins the headline; EVERY observed block (including
      // the re-measure's) extends the recorded band
      decodeRates = decodeRates.map(r => third.get(r.name) match {
        case Some(t) =>
          (if (t.mpPerSec > r.mpPerSec) t else r)
            .copy(blocks = r.blocks ++ t.blocks)
        case None => r
      })
      decodeRates
        .filter(r => sagging(r.name) &&
          priorLo(r.name).exists(lo => r.mpPerSec * DecodeGuardRatio < lo))
        .foreach { r =>
          suspects ::= s"decode:${r.name}"
          System.err.println(f"[bench] decode ${r.name} still " +
            f"${r.mpPerSec}%.1f MP/s vs band_lo ${priorLo(r.name).get}%.1f" +
            " - flagged suspect")
        }
    }
    // the band that ships: prior band ∪ this run's observed blocks —
    // EXCEPT for a row flagged suspect this run (r18 ADVICE): merging
    // the suspect run's own low blocks would ratchet band_lo down to
    // the regressed rate, so a genuine persistent decode regression
    // flagged for exactly one round and then self-retired with no
    // clean run ever observed. A suspect row ships its PRIOR band
    // unchanged; the flag therefore persists round over round until a
    // run back inside the historical band clears it.
    def decodeBandOf(r: graft.tools.MediaDecodeBench.Rate): (Double, Double) = {
      if (suspects.contains(s"decode:${r.name}"))
        priorDecodeBand.getOrElse(r.name, (r.mpPerSec, r.mpPerSec))
      else {
        val obs = if (r.blocks.nonEmpty) r.blocks else Seq(r.mpPerSec)
        val (plo, phi) = priorDecodeBand.getOrElse(r.name, (obs.min, obs.max))
        (math.min(plo, obs.min), math.max(phi, obs.max))
      }
    }
    decodeRates.foreach(r => System.err.println(
      f"[bench] decode ${r.name}%-16s ${r.mpPerSec}%8.1f MP/s  ${r.mbPerSec}%8.1f MB/s"))
    def canaryJson(c: (Double, Double)): String =
      s"""{"scan_agg":${c._1},"shuffle_agg":${c._2}}"""
    val canaries = s""""canaries":{"start":${canaryJson(canaryStart)},""" +
      s""""mid":${canaryJson(canaryMid)},"end":${canaryJson(canaryEnd)}}"""
    System.err.println(
      f"[bench] canaries (scan,shuffle) start=(${canaryStart._1}%.2f,${canaryStart._2}%.2f) " +
        f"mid=(${canaryMid._1}%.2f,${canaryMid._2}%.2f) end=(${canaryEnd._1}%.2f,${canaryEnd._2}%.2f)")
    // ingest is reported per-query AND as rows/s, but kept OUT of `total`
    // so cross-round query totals stay apples-to-apples.
    val results = queryResults ++ Seq(
      "ingest_2m_jsonlog" -> ingestSec,
      "ingest_2m_parquet_write" -> ingestPqSec,
      "ingest_200k_jdbc_derby" -> ingestJdbcSec,
      "stream_intake_500k" -> streamSec,
      "stream_neardup_30k_hot" -> nearHotSec,
      "stream_neardup_30k_uniform" -> nearUniSec,
      "stream_neardup_30k_hot_ttl" -> nearTtlSec,
      "stream_neardup_30k_hot_ttl_armed" -> nearTtlArmedSec)
    val total = queryResults.map(_._2).filter(_ >= 0).sum
    // r17 (r16 judge directive #3): band-normalize the HEADLINE, not
    // just the guard rows — each query's min scaled by the same
    // clamped prior_band/cur_band factor the suspect guard uses, then
    // summed. With no prior artifact every factor is 1 and
    // total_norm == total. window_index is this run's MEDIAN canary
    // band over the prior artifact's (> 1 = hotter host than the
    // prior round; median per windowOf — robust to one cold-start
    // spike) — the one number that classifies a cross-round
    // headline move as window vs code.
    val totalNorm = queryResults
      .map { case (n, v) => if (v >= 0) v * bandFactorFor(n) else 0.0 }.sum
    val curWindow =
      windowOf(Seq(canaryStart, canaryMid, canaryEnd).map(c => c._1 + c._2))
    val windowIndex = if (priorWindow > 0) curWindow / priorWindow else -1.0
    val windowIndexJson =
      if (windowIndex > 0)
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(windowIndex))
      else "null"
    System.err.println(f"[bench] total $total%.1f s, band-normalized " +
      f"$totalNorm%.1f s; window ${curWindow}%.2f vs prior " +
      f"${priorWindow}%.2f -> window_index " +
      (if (windowIndex > 0) f"$windowIndex%.2f" else "n/a (no prior)"))
    val protocol = "per query: untimed warm-up, then min of 2 timed passes, " +
      "leftover persisted-RDD release + System.gc() between; noop sink; " +
      "ingest timed consume->sink over " +
      "pre-materialized input (generation untimed), parse+geoip(131k ranges," +
      "src+dst)+serviceMap+shard stages, min of 2, excluded from total; " +
      "write variants: same pipeline into idempotent parquet lake sink (2M) " +
      "and JdbcInsertTarget batched inserts via ConnectionPool into embedded " +
      "Derby (200k, table truncated between passes); stream_intake: 500k docs, " +
      "16 files, AvailableNow 2 files/trigger, quality gate + native " +
      "streaming-dedup first-seen gate (StreamingDeduplicateExec, " +
      "UnsafeRow state-store path, state partitions sized to " +
      "rows-per-trigger by StatefulDedup.statePartitionsFor), " +
      "parquet sink + checkpoint in the timed region; canaries: fixed " +
      "lineitem scan-agg + shuffle-agg timed at run start/mid/end for " +
      "host-band normalization (never change across rounds); decode_mps: " +
      "single-core MediaDecodeBench decode rates in megapixels/s " +
      "(mega-samples/s for wav), side=256 reps=200, best of two timed " +
      "blocks per format - tracked because the media-gate query rows are " +
      "plant-encode-bound (PLANS.md r12); contamination guard: each " +
      "row's min-of-2 compared against the previous round's BENCH_FULL " +
      "queries row, >2.5x slower gets one automatic third pass and a " +
      "suspect flag if it persists (r12 directive #1 - localized host " +
      "contamination the global canaries cannot catch); r14: the guard " +
      "now also covers the ingest/stream rows at a tighter 1.35x and " +
      "the decode_mps rows at 1.25x (inverted - a rate SAG triggers " +
      "one re-measured block, suspect key decode:<name>), arms only " +
      "when the prior artifact's sf matches, and stream_decomp " +
      "records the gate run vs the same pipeline without the dedup " +
      "stage (state-store cost vs cadence floor, min of 2 each, own " +
      "warm-up, negative difference clamped + flagged noisy); r15: " +
      "query_bands records one canary sample (scan+shuffle s) per " +
      "12-query window and the query guard compares BAND-NORMALIZED " +
      "ratios (min x prior_band/cur_band, factor clamped to " +
      "[0.6,1.67]) - host-window swings on unchanged code no longer " +
      "hide inside the 2.5x blind band (PLANS.md Canary protocol); " +
      "r16: a guarded third pass re-samples the canary band first and " +
      "is compared under THAT band (the row's recorded band updates " +
      "with it) - the rerun is no longer normalized by a stale " +
      "pre-move sample; stream_neardup rows: 30k docs through the " +
      "online LSH near-dup gate (nearDupGate + finishNearDupGate, " +
      "parquet sink, AvailableNow 2 of 8 files/trigger, state sized " +
      "to 32 band records/doc), hot = 10% exact boilerplate dups all " +
      "landing on the same 32 band keys vs an all-distinct uniform " +
      "control; stream_skew_decomp records both times and the final " +
      "state-store row counts (hot state grows only with distinct " +
      "signatures - the bounded-hot-key claim, in the artifact); r17: " +
      "total_norm = sum of per-query mins x the guard's clamped " +
      "band factors (band-normalized headline), window_index = this " +
      "run's MEDIAN canary band / the prior artifact's (>1 = hotter " +
      "host; the cross-round classifier, r16 directive #3; median " +
      "not mean - one cold-start spike must not stamp a hot index " +
      "on a clean run); " +
      "stream_neardup hot_ttl row = the hot intake with " +
      "stateTtlMs=2000 eviction armed (r16 directive #6; eviction " +
      "semantics pinned wall-clock-deterministically in " +
      "StatefulDedupSpec); the hot_ttl timed region ends at the last " +
      "DATA batch (progress timestamp + triggerExecution) because a " +
      "TTL-armed AvailableNow run never self-terminates and the " +
      "drain protocol's extra no-data trigger must not read as " +
      "eviction cost; r18: readmissions_hot_ttl = exact " +
      "eviction-then-return count (StatefulDedup.readmissionCount: " +
      "sum over band keys of admissions-1) from ONE extra UNTIMED " +
      "instrumented TTL pass - the stateTtlMs sizing signal, in the " +
      "artifact (r17 directive #5; a second instrumented pass at a " +
      "500ms TTL tighter than the ~1.8s trigger cadence pins the " +
      "eviction posture operationally - readmissions_hot_ttl_tight " +
      "stays 0 because an every-batch-hot key resets its clock and " +
      "never sweeps, while idle-key state shrinks ~2x further; the " +
      "counter's non-zero case is wall-clock-pinned at 32 in " +
      "StatefulDedupSpec); timed rows " +
      "unchanged; r18 decode " +
      "guard: each decode_mps row carries band_lo/band_hi (running " +
      "min/max over every timed block observed, merged from the prior " +
      "artifact) and the 1.25x sag trigger fires against band_lo, not " +
      "the point prior - a rate inside its own recorded oscillation " +
      "band never flags (r17 directive #3, the png_gray8 class); r19: " +
      "readmissions_hot_ttl_planted = a PLANTED untimed cohort whose " +
      "duplicate re-arrival gap exceeds the tight TTL (50 docs admitted " +
      "in trigger 1 of 8 single-file triggers, idle through 6 filler " +
      "batches, re-arriving in trigger 8 - expected 50x32=1600), proving " +
      "the counter alive beside the two honest standard-intake 0s (r18 " +
      "directive #3); neardup_ttlarm = the hot intake with timers armed " +
      "at a 600s TTL nothing reaches in-run: armed-hot = timer " +
      "registration + sweep machinery at full state, ttl2000-armed = " +
      "eviction work net of the state-shrink saving (the ttl-gap " +
      "decomposition, r18 directive #4); a suspect-flagged decode row " +
      "ships its PRIOR band " +
      "unchanged (its own regressed blocks excluded) so a persistent " +
      "regression keeps flagging instead of self-retiring into band_lo " +
      "(r18 ADVICE)"
    // The driver captures only the LAST 2000 chars of stdout and parses the
    // JSON line out of that window (BENCH_r05/r06 shipped parsed:null when
    // the full-name, full-precision line outgrew it). The stdout line
    // therefore uses the contract's short "q1":sec keys (the qNN prefix is
    // unique) + 3-decimal seconds (~1.2 KB total); the full-name,
    // full-precision record — same numbers — lands in BENCH_FULL.json for
    // humans and the per-round archive.
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // a comma-decimal locale would render 1,234 — invalid JSON
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val shortKey = Map(
      "ingest_2m_jsonlog" -> "ingest_json",
      "ingest_2m_parquet_write" -> "ingest_pq",
      "ingest_200k_jdbc_derby" -> "ingest_jdbc",
      "stream_intake_500k" -> "stream",
      "stream_neardup_30k_hot" -> "neardup_hot",
      "stream_neardup_30k_uniform" -> "neardup_uni",
      "stream_neardup_30k_hot_ttl" -> "neardup_ttl",
      "stream_neardup_30k_hot_ttl_armed" -> "neardup_ttlarm")
    // 2-decimal seconds in the SHORT line only (ranking precision; the
    // full-precision numbers are in BENCH_FULL) — the r12 dmps block
    // must fit the same 2000-char stdout window
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val shortQs = results.map { case (k, v) =>
      "\"" + shortKey.getOrElse(k, k.takeWhile(_ != '_')) + "\":" + f2(v)
    }.mkString("{", ",", "}")
    val decodeShort = decodeRates.map(r =>
      "\"" + r.name + "\":" + String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(r.mpPerSec))).mkString("{", ",", "}")
    val decodeFull = decodeRates.map { r =>
      val (blo, bhi) = decodeBandOf(r)
      "\"" + r.name + "\":{\"mp_s\":" + r.mpPerSec + ",\"mb_s\":" +
        r.mbPerSec + ",\"dec_s\":" + r.decPerSec + ",\"bytes\":" +
        r.bytes + ",\"band_lo\":" + blo + ",\"band_hi\":" + bhi + "}"
    }.mkString("{", ",", "}")
    val rates =
      s""""ingest_rows_per_sec":${(INGEST_ROWS / ingestSec).toLong},""" +
        s""""ingest_parquet_rows_per_sec":${(INGEST_ROWS / ingestPqSec).toLong},""" +
        s""""ingest_jdbc_rows_per_sec":${(JDBC_ROWS / ingestJdbcSec).toLong},""" +
        s""""stream_rows_per_sec":${(STREAM_ROWS / streamSec).toLong}"""
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullPasses = queryPasses
      .map { case (k, ps) => "\"" + k + "\":[" + ps.mkString(",") + "]" }
      .mkString("{", ",", "}")
    val fullBands = queryPasses
      .map { case (k, _) => "\"" + k + "\":" + queryBands.getOrElse(k, 0.0) }
      .mkString("{", ",", "}")
    // fullPath resolved at run start (the guard reads the PRIOR
    // artifact from it before this overwrite); env override else the
    // JVM cwd made absolute, and SAY where it went — launched outside
    // the repo root a bare relative path would silently land elsewhere
    // while the stdout protocol line still claimed "in repo
    // BENCH_FULL.json"
    val suspectJson = suspects.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      fullPath,
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""total_norm":$totalNorm,"window_index":$windowIndexJson,""" +
        s""""window_cur":$curWindow,"window_prior":$priorWindow,""" +
        s""""queries":$fullQs,""" +
        s""""passes":$fullPasses,"query_bands":$fullBands,""" +
        s""""suspect":$suspectJson,$canaries,""" +
        s""""decode_mps":$decodeFull,""" +
        s""""stream_decomp":{"gate_s":$streamSec,""" +
        s""""cadence_floor_s":$streamNoDedupSec,""" +
        s""""dedup_cost_s":$dedupCostSec,"noisy":$dedupCostNoisy},""" +
        s""""stream_skew_decomp":{"hot_s":$nearHotSec,""" +
        s""""uniform_s":$nearUniSec,""" +
        s""""hot_over_uniform":${nearHotSec / nearUniSec},""" +
        s""""state_rows_hot":${nearStateRows.getOrElse("hot", -1L)},""" +
        s""""state_rows_uniform":${nearStateRows.getOrElse("uni", -1L)},""" +
        s""""hot_ttl_s":$nearTtlSec,"ttl_ms":$NearTtlMs,""" +
        s""""hot_ttl_armed_s":$nearTtlArmedSec,""" +
        s""""ttl_armed_ms":$NearTtlArmedMs,""" +
        s""""state_rows_hot_ttl_armed":${nearStateRows.getOrElse("ttlarm", -1L)},""" +
        s""""state_rows_hot_ttl":${nearStateRows.getOrElse("ttl", -1L)},""" +
        s""""readmissions_hot_ttl":$nearReadmissions,""" +
        s""""ttl_tight_ms":$NearTtlTightMs,""" +
        s""""readmissions_hot_ttl_tight":$nearReadmitTight,""" +
        s""""readmissions_hot_ttl_planted":$nearReadmitPlanted,""" +
        s""""planted_expected":${PlantedDocs * 32}},""" +
        s"""$rates,"protocol":"$protocol","sf":"$sfDir"}""")
    System.err.println(s"[bench] full-precision record written to $fullPath")
    // The driver's tail window is 2000 chars: the stdout line MUST fit
    // it whole or the round artifact ships "parsed": null (r13: the
    // line outgrew the window by ~100 chars when the decode block and
    // q113 landed). Budget-checked composition: the compact protocol
    // note goes first on the chopping block, then the decode block
    // (both live in BENCH_FULL regardless); queries/rates/suspect are
    // the contract and always stay.
    val StdoutBudget = 1900
    def stdoutLine(withDecode: Boolean, withNote: Boolean): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""total_norm":${f3(totalNorm)},""" +
        s""""window_index":$windowIndexJson,""" +
        s""""queries":$shortQs,""" +
        (if (withDecode) s""""decode_mps":$decodeShort,""" else "") +
        s"""$rates,"suspect":$suspectJson,""" +
        (if (withNote)
          s""""protocol":"qNN short keys; full record in BENCH_FULL.json","""
         else "") +
        s""""sf":"$sfDir"}"""
    val line = Seq(stdoutLine(true, true), stdoutLine(true, false),
        stdoutLine(false, false))
      .find(_.length <= StdoutBudget)
      .getOrElse(stdoutLine(false, false))
    if (line.length > StdoutBudget)
      System.err.println(s"[bench] WARNING stdout line ${line.length} " +
        s"chars exceeds the $StdoutBudget budget even without decode - " +
        "the driver tail may truncate it")
    System.err.println(s"[bench] stdout line ${line.length} chars " +
      s"(budget $StdoutBudget)")
    System.out.println(line)
    System.out.flush()
    spark.stop()
  }
}
