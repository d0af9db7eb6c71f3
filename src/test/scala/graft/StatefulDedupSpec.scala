package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StatefulDedup

/** Cross-batch stateful first-seen dedup: within-batch, across-batch, and
  * across-restart (state restored from the checkpoint). */
class StatefulDedupSpec extends SparkSuite {

  test("firstSeen emits one row per key across batches and restarts") {
    val dir = Files.createTempDirectory("dedup").toString
    val srcDir = s"$dir/in"
    val outDir = s"$dir/out"
    val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))

    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val src = spark.readStream.format("text").load(srcDir)
        .select(
          split(col("value"), ",").getItem(0).as("k"),
          split(col("value"), ",").getItem(1).as("v"))
      StatefulDedup.firstSeen(src, "k")
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination(60000)
    }

    // batch 1: duplicate keys inside one batch
    write("b1.csv", Seq("a,1", "b,2", "a,3"))
    runOnce()
    assert(spark.read.parquet(outDir).count() === 2) // one row per key
    val got1 = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got1.keySet === Set("a", "b"))
    assert(got1("a") === "1") // first occurrence wins

    // batch 2 after restart: old keys suppressed by checkpointed state
    write("b2.csv", Seq("a,9", "c,4"))
    runOnce()
    val rows2 = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows2.length === 3)
    assert(rows2.count(_._1 == "a") === 1, "duplicate 'a' re-admitted after restart")
    assert(rows2.toMap === Map("a" -> "1", "b" -> "2", "c" -> "4"))
  }

  // firstSeenExact was the name of the native-dropDuplicates gate; firstSeen
  // is that operator now, and this spec keeps pinning it under the old name
  test("firstSeenExact (native dedup op) suppresses across batches and restarts") {
    val dir = Files.createTempDirectory("dedupx").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val src = spark.readStream.format("text").load(srcDir)
        .select(split(col("value"), ",").getItem(0).as("k"),
          split(col("value"), ",").getItem(1).as("v"))
      StatefulDedup.firstSeen(src, "k")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }
    write("b1.csv", Seq("a,1", "b,2", "a,3"))
    runOnce()
    assert(spark.read.parquet(outDir).select("k").distinct().count() === 2)
    assert(spark.read.parquet(outDir).count() === 2) // one row per key
    // restart: checkpointed native-dedup state suppresses old keys
    write("b2.csv", Seq("a,9", "c,4"))
    runOnce()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.length === 3)
    assert(got.count(_._1 == "a") === 1, "duplicate 'a' re-admitted after restart")
    assert(got.toMap.apply("c") === "4")
  }

  test("firstSeen passes across restarts on the RocksDB state store too") {
    // the large-state deployment dial documented on StatefulDedup: same
    // semantics, state off-heap
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("dedup_rocks").toString
      val srcDir = s"$dir/in"
      Files.createDirectories(Paths.get(srcDir))
      def write(file: String, lines: Seq[String]): Unit =
        Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))
      def runOnce(): Unit = {
        val src = spark.readStream.format("text").load(srcDir)
          .select(
            split(col("value"), ",").getItem(0).as("k"),
            split(col("value"), ",").getItem(1).as("v"))
        StatefulDedup.firstSeen(src, "k")
          .writeStream.format("parquet")
          .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination(60000)
      }
      write("b1.csv", Seq("a,1", "b,2", "a,3"))
      runOnce()
      write("b2.csv", Seq("a,9", "c,4"))
      runOnce()
      val got = spark.read.parquet(s"$dir/out").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(got === Map("a" -> "1", "b" -> "2", "c" -> "4"))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("statePartitionsFor sizes state to trigger volume, not cluster width") {
    // the r9 decomposition's rule as code: ~8192 rows/partition/trigger
    assert(StatefulDedup.statePartitionsFor(0L) === 1)
    assert(StatefulDedup.statePartitionsFor(1L) === 1)
    assert(StatefulDedup.statePartitionsFor(8192L) === 1)
    assert(StatefulDedup.statePartitionsFor(8193L) === 2)
    assert(StatefulDedup.statePartitionsFor(62500L) === 8) // the bench gate
    assert(StatefulDedup.statePartitionsFor(100000000L) === 512) // clamped
    assert(StatefulDedup.statePartitionsFor(100000000L, maxPartitions = 64) === 64)
  }

  test("sized gate: checkpoint pins the sizing; restart under a different " +
      "session sizing keeps state consistent") {
    val dir = Files.createTempDirectory("dedupsized").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(sizing: Int): Unit =
      StatefulDedup.withStatePartitions(spark, sizing) {
        val src = spark.readStream.format("text").load(srcDir)
          .select(split(col("value"), ",").getItem(0).as("k"),
            split(col("value"), ",").getItem(1).as("v"))
        StatefulDedup.firstSeen(src, "k")
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination(60000)
      }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    write("b1.csv", Seq("a,1", "b,2", "a,3"))
    runOnce(sizing = 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "withStatePartitions must restore the session conf")
    // the sizing reached the state store: operator 0 has exactly 4
    // partition dirs in the checkpoint
    def partDirs(): Set[String] = Paths.get(ckDir, "state", "0").toFile
      .listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.forall(_.isDigit)).toSet
    assert(partDirs() === Set("0", "1", "2", "3"))
    assert(spark.read.parquet(outDir).count() === 2)
    // restart the SAME checkpoint under a DIFFERENT session sizing:
    // Spark re-applies the checkpointed partition count
    // (OffsetSeqMetadata), so old keys stay suppressed — re-sizing a
    // live stream is safe-by-pinning; taking a new sizing means a
    // fresh checkpoint
    write("b2.csv", Seq("a,9", "c,4"))
    runOnce(sizing = 9)
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.length === 3)
    assert(got.count(_._1 == "a") === 1,
      "duplicate 'a' re-admitted after re-sized restart")
    assert(partDirs() === Set("0", "1", "2", "3"),
      "checkpointed sizing must win on restart")
  }

  test("firstSeen in batch mode behaves as per-batch dedup") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
    val out = StatefulDedup.firstSeen(df, "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map("a" -> 1L, "b" -> 3L))
  }

  test("firstSeen admits a null key and the literal key \"null\" once each, " +
      "across batches and a restart") {
    val dir = Files.createTempDirectory("dedupnull").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val raw = spark.readStream.option("maxFilesPerTrigger", "1")
        .format("text").load(srcDir)
        .select(split(col("value"), ",").as("f"))
      // an empty first field is the null key
      val src = raw.select(when(col("f").getItem(0) =!= "", col("f").getItem(0)).as("k"),
        col("f").getItem(1).as("v"))
      StatefulDedup.firstSeen(src, "k")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }
    def got(): Seq[(Option[String], String)] = spark.read.parquet(outDir).collect()
      .map(r => (Option(r.getString(0)), r.getString(1))).toSeq.sortBy(_._2)

    write("b1.csv", Seq(",1", "null,2", ",3", "null,4"))
    runOnce()
    assert(got() === Seq(None -> "1", Some("null") -> "2"))
    // a restart that runs two more batches (one file per trigger): both
    // keys stay seen in each
    write("b2.csv", Seq("null,5", ",6", "x,7"))
    write("b3.csv", Seq(",8", "null,9"))
    runOnce()
    assert(got() === Seq(None -> "1", Some("null") -> "2", Some("x") -> "7"))
  }

  test("streaming corpus intake: quality gate + cross-batch exact dedup") {
    // the LLM-pipeline intake path as a stream: documents arrive in
    // micro-batches, a q40-style quality gate drops junk inline, and
    // online exact dedup (normalized-text fingerprint in the state
    // store) suppresses bodies already admitted in ANY earlier batch —
    // near-dup stays a batch job over the admitted corpus; first-pass
    // exact dedup is the streaming-honest scope
    val dir = Files.createTempDirectory("intake").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val src = spark.readStream.format("text").load(srcDir)
        .select(
          split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
          split(col("value"), "\\|").getItem(1).as("text"))
      val toks = split(col("text"), " ")
      val admitted = src
        .filter(size(toks) >= 5 &&
          arrays_overlap(toks, array(lit("the"), lit("a"), lit("and"))))
        .withColumn("fp",
          graft.functions.Hashes.xxhash64Seed0(lower(trim(col("text")))))
      StatefulDedup.firstSeen(admitted, "fp")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }

    write("b1.txt", Seq(
      "1|the quick brown fox jumps",
      "2|short one",                    // fails the word-count gate
      "3|the quick brown fox jumps"))   // in-batch duplicate body
    runOnce()
    val got1 = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(got1 === Set(1L))

    write("b2.txt", Seq(
      "4|the quick brown fox jumps",    // cross-batch dup → suppressed
      "5|a completely new document about the corpus"))
    runOnce()
    val got2 = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(got2 === Set(1L, 5L))
  }

  test("nearDupGate suppresses a cross-batch NEAR-duplicate (LSH band state)") {
    val dir = Files.createTempDirectory("neargate").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val src = spark.readStream.format("text").load(srcDir)
        .select(
          split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
          split(col("value"), "\\|").getItem(1).as("text"))
      StatefulDedup.nearDupGate(src, "doc_id", "text")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StatefulDedup.finishNearDupGate(batch)
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }

    val base = "the quick brown fox jumps over the lazy dog while the " +
      "sun sets slowly behind the distant purple mountains and the river " +
      "keeps flowing gently through the quiet green valley toward the sea"
    val nearDup = base.replace("quiet green valley", "quiet green meadow")
    val unrelated = "completely different content about spark structured " +
      "streaming state stores and their checkpoint recovery semantics " +
      "under partition rebalancing across long running executor fleets"

    write("b1.txt", Seq(s"1|$base", s"2|tiny"))
    runOnce()
    val got1 = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(got1 === Set(1L, 2L), "batch 1 admits the base doc and the short doc")

    // batch 2 after restart: the near-dup (one word changed) must collide
    // on at least one checkpointed band; the unrelated doc must pass; the
    // exact short dup gates on the whole-text key path
    write("b2.txt", Seq(s"3|$nearDup", s"4|$unrelated", s"5|tiny"))
    runOnce()
    val got2 = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(got2 === Set(1L, 2L, 4L),
      s"near-dup 3 and short-dup 5 must be suppressed, got $got2")
  }

  test("nearDupGate in-batch: one of two colliding docs is admitted") {
    val dir = Files.createTempDirectory("neargate2").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    Files.write(Paths.get(srcDir, "b1.txt"),
      Seq(s"1|$text", s"2|$text").mkString("\n").getBytes("UTF-8"))
    val src = spark.readStream.format("text").load(srcDir)
      .select(
        split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
        split(col("value"), "\\|").getItem(1).as("text"))
    StatefulDedup.nearDupGate(src, "doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StatefulDedup.finishNearDupGate(batch)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination(60000)
    val got = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(got.size === 1, s"exactly one of the identical pair survives, got $got")
  }

  test("nearDupGate under a boilerplate hot band key (r15 directive #3): " +
      "verdicts stay exact and state per hot key stays one marker") {
    // The streaming analog of the batch hot bucket: identical
    // empty-crawl pages share ALL 32 minhash band keys, so every
    // boilerplate doc routes its band records to the same 32
    // state-store keys. The state VALUE is a fixed SeenState marker,
    // so per-key state must stay ONE row no matter how many hot docs
    // arrive — growth is per DISTINCT admitted signature, never per
    // suppressed duplicate. Pinned via the progress API's
    // numRowsTotal across batches and a restart.
    val dir = Files.createTempDirectory("neargate_skew").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))
    val boiler = "subscribe to our newsletter for breaking updates and " +
      "exclusive daily offers now and forever until the very end of time"
    def uniq(i: Int): String =
      s"unique document $i about topic $i with words u${i}a u${i}b u${i}c u${i}d"

    def runOnce(): Long = {
      val src = spark.readStream.format("text").load(srcDir)
        .select(
          split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
          split(col("value"), "\\|").getItem(1).as("text"))
      val q = StatefulDedup.nearDupGate(src, "doc_id", "text")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StatefulDedup.finishNearDupGate(batch)
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      // assert the Boolean, not discard it: a hang past the timeout
      // would otherwise read stale recentProgress and fail later on a
      // state-count assertion with a misleading message (r16 ADVICE)
      assert(q.awaitTermination(120000), "query did not finish within 120s")
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .lastOption.getOrElse(-1L)
    }

    write("b1.txt", Seq(s"10|$boiler", s"11|${uniq(11)}", s"12|${uniq(12)}"))
    val state1 = runOnce()
    // 3 admitted long docs × 32 band keys
    assert(state1 === 3L * 32,
      s"state after batch 1 must be 3 docs x 32 bands, got $state1")

    // batch 2: 50 exact boilerplate duplicates + 1 new distinct doc —
    // every dup hits the checkpointed hot bands and is suppressed
    write("b2.txt", (100 until 150).map(i => s"$i|$boiler") :+ s"150|${uniq(150)}")
    val state2 = runOnce()
    assert(state2 === 4L * 32,
      s"50 hot duplicates must add ZERO state rows (one marker per " +
        s"band key, ever): expected 128, got $state2")

    // batch 3 after restart: 50 more hot dups + 1 distinct — the hot
    // keys stay one marker across the restart too
    write("b3.txt", (200 until 250).map(i => s"$i|$boiler") :+ s"250|${uniq(250)}")
    val state3 = runOnce()
    assert(state3 === 5L * 32,
      s"state grows only with distinct signatures, got $state3")

    // verdicts stay EXACT under the skew: first boilerplate admitted,
    // all 100 later copies suppressed, every distinct doc admitted
    val got = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(got === Set(10L, 11L, 12L, 150L, 250L),
      s"expected exact verdicts under the hot band, got $got")
  }

  test("nearDupGate TTL eviction (r16 directive #6): in-TTL dups still " +
      "suppress; idle band keys evict; a re-arriving doc past the TTL " +
      "re-admits") {
    def scaffold(name: String, ttlMs: Long): (String, String,
        Seq[String] => Unit, () => Long, String) = {
      val dir = Files.createTempDirectory(name).toString
      val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
      val rawDir = s"$dir/raw" // accumulated gate output: readmissionCount input
      Files.createDirectories(Paths.get(srcDir))
      var n = 0
      val write = (lines: Seq[String]) => {
        n += 1
        Files.write(Paths.get(srcDir, s"b$n.txt"),
          lines.mkString("\n").getBytes("UTF-8"))
        ()
      }
      val runOnce = () => {
        val src = spark.readStream.format("text").load(srcDir)
          .select(
            split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
            split(col("value"), "\\|").getItem(1).as("text"))
        val q = StatefulDedup.nearDupGate(src, "doc_id", "text",
            stateTtlMs = ttlMs)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.persist() // two sinks below, one stateful execution
            try {
              StatefulDedup.finishNearDupGate(batch)
                .write.mode("append").parquet(outDir)
              batch.select("__band", "__hit")
                .write.mode("append").parquet(rawDir)
            } finally { batch.unpersist(); () }
          }
          .option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start()
        // TTL + AvailableNow never self-terminates (the DRAIN CAVEAT
        // in nearDupGate's doc: processing-time timers keep scheduling
        // no-data batches, and processAllAvailable never latches
        // noNewData) — drain + stop via the product utility, which
        // also reads the state count from the last DATA batch so
        // trailing no-data evictions can't race the assertion
        StatefulDedup.drainAvailableNow(q)
      }
      (dir, outDir, write, runOnce, rawDir)
    }
    val boiler = "subscribe to our newsletter for breaking updates and " +
      "exclusive daily offers now and forever until the very end of time"
    def uniq(i: Int): String =
      s"unique document $i about topic $i with words u${i}a u${i}b u${i}c u${i}d"

    // Phase A — TTL armed but not yet elapsed: semantics identical to
    // the TTL-0 gate (suppression path also RESETS the key's clock)
    locally {
      val (_, outDir, write, runOnce, rawDir) = scaffold("neargate_ttl_a", 120000L)
      write(Seq(s"10|$boiler", s"11|${uniq(11)}"))
      assert(runOnce() === 2L * 32)
      write(Seq(s"20|$boiler")) // duplicate inside the TTL: suppressed
      assert(runOnce() === 2L * 32,
        "an in-TTL duplicate must not add state")
      assert(spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
        === Set(10L, 11L))
      // r17 directive #5: no eviction happened, so the re-admission
      // counter over the accumulated gate output must read exactly 0
      assert(StatefulDedup.readmissionCount(spark.read.parquet(rawDir)) === 0L,
        "no key evicted inside the TTL, so re-admissions must be 0")
    }

    // Phase B — the TTL elapses while the keys are idle: the next
    // batch's timeout sweep removes them (state shrinks even though
    // new docs arrived), and a later duplicate RE-ADMITS — the
    // documented memory/recall dial. Wall-clock-deterministic: the
    // 9 s idle gap is far past the 4 s TTL, and extra slowness can
    // only evict MORE (nothing asserted depends on retaining keys
    // whose batch has passed).
    locally {
      val (_, outDir, write, runOnce, rawDir) = scaffold("neargate_ttl_b", 4000L)
      write(Seq(s"10|$boiler", s"11|${uniq(11)}"))
      assert(runOnce() === 2L * 32)
      Thread.sleep(9000)
      write(Seq(s"21|${uniq(21)}")) // triggers the timeout sweep
      assert(runOnce() === 1L * 32,
        "idle keys past the TTL must be REMOVED by the sweep " +
          "(only the new doc's 32 band keys remain)")
      write(Seq(s"30|$boiler")) // re-arriving duplicate past the TTL
      runOnce()
      assert(spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
          === Set(10L, 11L, 21L, 30L),
        "a duplicate arriving after its signature's keys evicted " +
          "must RE-ADMIT (the TTL recall trade, by design)")
      // r17 directive #5: doc 30's re-admission is exactly 32 band keys
      // each on their SECOND admission — the counter must read 32
      // (doc 21's keys are first admissions and must not count)
      assert(StatefulDedup.readmissionCount(spark.read.parquet(rawDir))
          === 32L,
        "the re-admitted boilerplate doc's 32 band keys are each one " +
          "eviction-then-return cycle; readmissionCount must be exact")
    }
  }

  test("drainAvailableNow times out loudly when the input never drains") {
    // a continuous rate source never reaches the drained condition
    // (every batch has data); the utility must throw, not spin — and
    // must stop the query on its way out? No: the contract is
    // throw-on-timeout with the query left to the caller, so clean up
    // here.
    // 1000 rows/s >> the 200 ms trigger cadence, so every batch after
    // startup carries data and the drained condition (a no-data batch
    // AFTER a data batch) can never be met
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "1000").load()
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      intercept[java.util.concurrent.TimeoutException] {
        StatefulDedup.drainAvailableNow(q, timeoutMs = 2500)
      }
    } finally {
      q.stop(); q.awaitTermination()
    }
  }

  test("drainAvailableNow treats an all-no-data run as drained (r17 " +
      "ADVICE: empty latched input must not burn the full timeout)") {
    // a TTL-armed gate over an EMPTY input directory: AvailableNow
    // latches zero files, no batch ever runs (so no processing-time
    // timer loop starts either), and the query self-terminates. The
    // drain utility must accept that as drained — pre-fix it threw
    // IllegalStateException on any clean termination, and the sibling
    // empty-FILES shape (all-no-data timer batches) burned the full
    // timeout.
    val dir = Files.createTempDirectory("neargate_empty").toString
    val srcDir = s"$dir/in"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    val src = spark.readStream.format("text").load(srcDir)
      .select(lit(1L).as("doc_id"), col("value").as("text"))
    val q = StatefulDedup.nearDupGate(src, "doc_id", "text",
        stateTtlMs = 60000L)
      .writeStream.format("noop")
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      val t0 = System.currentTimeMillis()
      // generous ceiling: the point is that it returns LONG before it
      // (pre-fix this burned all 60 s and threw TimeoutException)
      val stateRows = StatefulDedup.drainAvailableNow(q, timeoutMs = 60000L)
      assert(stateRows === -1L,
        "no data batch ever ran, so there is no state count to report")
      assert(System.currentTimeMillis() - t0 < 45000L,
        "empty-input drain must detect the all-no-data shape, not " +
          "run to the timeout ceiling")
    } finally { if (q.isActive) { q.stop(); q.awaitTermination() } }
  }

  test("drainAvailableNow waits through an empty-file PREFIX of a " +
      "multi-batch latch (r18 ADVICE: emptiness is offset movement, " +
      "not row counts)") {
    // maxFilesPerTrigger=1 over (empty, empty, data): the first two
    // batches carry ZERO ROWS but DO move source offsets — under the
    // old numInputRows==0 rule two such progresses counted as proof of
    // emptiness and the utility could stop before the data batch ran,
    // reporting the query drained with real input still latched. The
    // offset-movement rule never mistakes them: only a batch whose
    // sources end where they started (the timer loop idling after the
    // latch is exhausted) counts as drained.
    val dir = Files.createTempDirectory("neargate_emptyprefix").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    val t0 = System.currentTimeMillis() - 60000L
    def put(name: String, content: String, i: Int): Unit = {
      val p = Paths.get(srcDir, name)
      Files.write(p, content.getBytes("UTF-8"))
      p.toFile.setLastModified(t0 + i * 1000L); ()
    }
    // modTimes pinned 1 s apart: FileStreamSource orders unread files
    // by modification time, so the empty pair is deterministically the
    // latch's prefix
    put("a.txt", "", 1)
    put("b.txt", "", 2)
    put("c.txt", "7|the real document with plenty of words inside", 3)
    val src = spark.readStream
      .option("maxFilesPerTrigger", "1").format("text").load(srcDir)
      .select(
        split(col("value"), "\\|").getItem(0).cast("long").as("doc_id"),
        split(col("value"), "\\|").getItem(1).as("text"))
    val q = StatefulDedup.nearDupGate(src, "doc_id", "text",
        stateTtlMs = 60000L)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StatefulDedup.finishNearDupGate(b)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      val stateRows = StatefulDedup.drainAvailableNow(q, timeoutMs = 120000L)
      assert(stateRows === 32L,
        "drain must wait through the empty-file prefix for the real " +
          "data batch (32 band keys in state), not stop at two 0-row " +
          "progresses")
      assert(spark.read.parquet(outDir).count() === 1L,
        "the latched data file's doc must be committed through the sink")
    } finally { if (q.isActive) { q.stop(); q.awaitTermination() } }
  }

  /** Write a checkpoint with `oldGate`, then restart it with the current
    * [[StatefulDedup.firstSeen]]: the restart must fail at query start with
    * the operator-mismatch error, and admit nothing. */
  private def assertOldCheckpointRefused(name: String)(
      oldGate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val dir = Files.createTempDirectory(name).toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(srcDir, file), lines.mkString("\n").getBytes("UTF-8"))
    def src() = spark.readStream.format("text").load(srcDir)
      .select(split(col("value"), ",").getItem(0).as("k"),
        split(col("value"), ",").getItem(1).as("v"))

    write("b1.csv", Seq("a,1", "b,2"))
    oldGate(src())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() === 2)

    // restart the SAME checkpoint with the native gate: Spark's operator
    // metadata check must refuse it at query start — a silent run here
    // would re-admit key "a"
    write("b2.csv", Seq("a,9", "c,4"))
    val ex = intercept[StreamingQueryException] {
      StatefulDedup.firstSeen(src(), "k")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.toString).getOrElse("")
    assert(msg.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"),
      s"expected the stateful-operator mismatch error, got: $msg")
    // and nothing was silently re-admitted
    assert(spark.read.parquet(outDir).count() === 2)
  }

  test("restart from a pre-versioned (Boolean-state) checkpoint fails loudly") {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // inline replica of the pre-r8 operator: BARE BOOLEAN state and the
    // unprefixed key encoding
    assertOldCheckpointRefused("dedupver") { df =>
      implicit val rowEnc: Encoder[Row] = Encoders.row(df.schema)
      implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
      df.groupByKey(r => String.valueOf(r.get(0)))(Encoders.STRING)
        .flatMapGroupsWithState[Boolean, Row](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
            if (state.exists) Iterator.empty
            else { state.update(true); rows.take(1) }
        }
    }
  }

  test("restart from the flatMapGroupsWithState gate's (string key + " +
      "SeenState(2)) checkpoint fails loudly") {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import StatefulDedup.SeenState
    // inline replica of the gate this operator replaced: "k"+v group key
    // ("\u0000null" for a null key) and a versioned SeenState(2) marker
    assertOldCheckpointRefused("dedupfmgws") { df =>
      implicit val rowEnc: Encoder[Row] = Encoders.row(df.schema)
      implicit val stEnc: Encoder[SeenState] = Encoders.product[SeenState]
      df.groupByKey { r =>
        val v = r.get(0)
        if (v == null) "\u0000null" else "k" + v
      }(Encoders.STRING)
        .flatMapGroupsWithState[SeenState, Row](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_: String, rows: Iterator[Row], state: GroupState[SeenState]) =>
            if (state.exists) Iterator.empty
            else { state.update(SeenState(2)); rows.take(1) }
        }
    }
  }
}
