package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge

/** The rare-first gram prefix of the gram joins ([[JaccardJoin]],
  * [[ContainmentJoin]]), and the sizing of the stop-gram table that
  * orders it.
  *
  * Why a sizing rule and not a fixed cap: a fixed 65,536-entry cap was
  * the sole source of candidate super-linearity in q59. At sf1 the
  * corpus holds 272 K df≥2 grams; grams past the cap fall back to hash
  * order, prefixes steer less rarely, and candidates grew 15.5× on 10×
  * data, while covering the whole table restored linear growth (−35%
  * shuffle volume; PLANS.md "q59 stage decomposition"). A fixed cap's
  * covered share trends to zero as the corpus grows. The rule instead
  * covers EVERY df≥2 gram (a df-1 gram cannot skew a bucket, so full
  * df≥2 coverage makes the prefix order exactly the PPJoin frequency
  * order), bounded only by an explicit driver-memory budget; past the
  * budget the Auto path switches to [[joinPrefix]], and a manual cap
  * warns with the uncovered count, never silently.
  *
  * Memory accounting: a table entry is two longs, 16 bytes in the
  * primitive (key, df) arrays that [[graft.functions.RarestPrefix
  * .broadcastTable]] broadcasts once per call, so they ship once per
  * executor. The default 64 MiB budget covers 4.19 M df≥2 grams, 15×
  * the measured sf1 table; a driver with more headroom raises
  * `stopGramBudgetBytes` at the operator call.
  */
object StopGrams {

  /** Sentinel for `maxStopGrams`: size the table from the measured
    * df≥2 gram count under the byte budget. An explicit value ≥ 0 is a
    * manual cap (0 = empty table = pure hash order, the losslessness
    * spec's dial). */
  val Auto: Int = -1

  /** Bytes per collected table entry: (gram hash, df) as two longs in
    * the primitive arrays the prefix expression binary-searches. */
  val BytesPerEntry: Long = 16L

  /** Default driver budget for the table: 64 MiB = 4,194,304 entries. */
  val DefaultBudgetBytes: Long = 64L << 20

  /** The sizing rule: cover every df≥2 gram up to the byte budget.
    * Monotone in both arguments; never exceeds Int.MaxValue (the
    * `limit()` contract). */
  def capFor(totalDf2Grams: Long, budgetBytes: Long): Int = {
    require(budgetBytes >= 0, s"budget must be >= 0, got $budgetBytes")
    val byBudget = budgetBytes / BytesPerEntry
    math.min(math.max(0L, totalDf2Grams),
      math.min(byBudget, Int.MaxValue.toLong)).toInt
  }

  /** Swappable sink for the budget-bound warning, (tag, cap, totalDf2,
    * budgetBytes) — same spec-capture discipline as
    * [[graft.functions.SkewWarn.sink]]. Fires only when the table is
    * genuinely truncated (totalDf2 > cap), auto-sized or manual. */
  @volatile var warnSink: (String, Int, Long, Long) => Unit =
    (tag, cap, total, budget) =>
      org.slf4j.LoggerFactory.getLogger("graft.skew").warn(
        s"$tag: stop-gram table capped at $cap of $total df>=2 grams " +
          s"(budget $budget bytes at $BytesPerEntry bytes/entry) - " +
          "prefixes fall back to hash order past the cap and candidate " +
          "volume grows with the uncovered share; raise " +
          "stopGramBudgetBytes (or pass an explicit maxStopGrams) if " +
          "shuffle volume matters at this corpus size")

  /** The collect bound BEFORE the corpus's df≥2 count is known: the
    * budget ceiling for auto, the manual cap otherwise. The operators
    * collect up to this many rows in ONE job; a result SHORTER than
    * the bound proves the table is complete (no count job needed —
    * the common path), while a full result means possible truncation
    * and the true total is recovered with one count over the cached
    * 16-byte table (the rare path). */
  def collectBound(maxStopGrams: Int, budgetBytes: Long): Int =
    if (maxStopGrams >= 0) maxStopGrams
    else capFor(Long.MaxValue, budgetBytes)

  /** Truncation warning for the rare full-collect path. */
  def warnIfTruncated(tag: String, cap: Int, budgetBytes: Long,
      totalDf2Grams: Long): Unit =
    if (totalDf2Grams > cap) warnSink(tag, cap, totalDf2Grams, budgetBytes)

  /** Swappable sink for the BIND note — fires when the Auto path's
    * df≥2 table outgrows the driver budget and the operator switches
    * to the join-based exact frequency order ([[joinPrefix]]) instead
    * of degrading past the cap. Spec-capture
    * discipline like [[warnSink]]; info, not a warning — the fallback
    * is lossless AND keeps candidates data-proportional, it just pays
    * distributed shuffles instead of a driver broadcast. */
  @volatile var bindSink: (String, Int, Long, Long) => Unit =
    (tag, cap, total, budget) =>
      org.slf4j.LoggerFactory.getLogger("graft.skew").info(
        s"$tag: df>=2 gram table ($total grams) outgrew the " +
          s"$budget-byte driver budget ($cap entries) - switching to " +
          "the join-based exact frequency order (distributed (gram,df) " +
          "join + per-doc rank; no driver table, candidates stay " +
          "data-proportional)")

  /** Per doc, the sorted distinct k-word gram-hash set in one fused
    * pass ([[graft.functions.SortedGramHashes]]): (__id, __g), 8-byte
    * hashes, never gram strings. */
  private[operators] def gramSets(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("__id"), ColumnBridge.col(
      graft.functions.SortedGramHashes(ColumnBridge.expr(col(textCol)), k))
      .as("__g"))

  /** (__id, __n, __gram) rows of [[gramSets]] output `g`: one per
    * element of `grams` (an array over `__g`), __n the doc's set size.
    * `__g` is multi-referenced and non-cheap, so it stays materialized
    * in its own projection; the explode is null-guarded instead of
    * filtered, because a filter on the gram expression would be pushed
    * below that projection and evaluate the fused pass twice (see
    * [[MinHashLsh.bandBuckets]]). */
  private[operators] def gramRows(g: DataFrame, grams: Column): DataFrame =
    g.select(col("__id"), size(col("__g")).cast("long").as("__n"),
      explode(when(col("__g").isNotNull, grams)).as("__gram"))

  /** The rare-first prefix rows (__id, __n, __gram) of [[gramSets]]
    * output `g` under threshold `tRelaxed`: each doc's first
    * `n − ceil(t·n) + 1` grams, ordered by ascending corpus frequency.
    * The one prefix step of [[JaccardJoin]] and [[ContainmentJoin]].
    *
    * The df≥2 (gram, df) table is persisted for the duration of this
    * call, so the collect, a possible count and the census never
    * re-run the gram pass (16-byte rows, far narrower than the corpus).
    * ONE job on the common path: the collect is bounded by
    * [[collectBound]], and a result shorter than the bound proves full
    * df≥2 coverage with no count job. Only a bound-filling result can be
    * truncated; then one count over the cached 16-byte table recovers
    * the true total. Below the bound the table is broadcast once and the
    * prefix is a pure map ([[graft.functions.RarestPrefix]]). Auto plus
    * truncation is the BIND: [[bindSink]] fires and the prefix comes
    * from [[joinPrefix]] over the localCheckpointed table. A manual cap
    * keeps its warn-and-degrade meaning ([[warnSink]]; 0 = empty table =
    * pure hash order, the losslessness dial). `census` runs while the
    * table is still cached, with (collected rows, bound, cached table):
    * ContainmentJoin's hot-bucket census. */
  private[operators] def prefix(
      tag: String, g: DataFrame, tRelaxed: Double, maxStopGrams: Int,
      budgetBytes: Long)(
      census: (Array[Row], Int, DataFrame) => Unit = (_, _, _) => ())
      : DataFrame = {
    val bound = collectBound(maxStopGrams, budgetBytes)
    // df >= 2 only: a df-1 gram cannot skew a bucket; ties break on the
    // hash so the order is deterministic
    val persisted = g
      .select(explode(when(col("__g").isNotNull, col("__g"))).as("__gram"))
      .groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .persist()
    try {
      val rows =
        if (bound == 0) Array.empty[Row]
        else persisted.orderBy(col("__df").desc, col("__gram"))
          .limit(bound).collect()
      val totalDf2 =
        if (bound == 0 || rows.length == bound) persisted.count()
        else rows.length.toLong
      val bind = maxStopGrams == Auto && totalDf2 > bound
      if (bind) bindSink(tag, bound, totalDf2, budgetBytes)
      else warnIfTruncated(tag, bound, budgetBytes, totalDf2)
      census(rows, bound, persisted)
      if (bind) joinPrefix(g, persisted.localCheckpoint(), tRelaxed)
      else {
        val stopBc = graft.functions.RarestPrefix.broadcastTable(
          g.sparkSession,
          rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1))
        gramRows(g, ColumnBridge.col(graft.functions.RarestPrefix(
          ColumnBridge.expr(col("__g")), tRelaxed, stopBc)))
      }
    } finally { persisted.unpersist(); () }
  }

  /** The budget-bind fallback: the PPJoin
    * rare-first prefix computed DISTRIBUTED, with the exact corpus
    * frequency order — no driver table at any corpus size.
    *
    * Below the budget the broadcast table is strictly better (the
    * reorder is a pure map); past it the warn-and-degrade path's
    * candidates grow with the uncovered share
    * (35–50% extra volume at a 4× overrun, unbounded beyond), because
    * grams past the cap fall back to hash order and prefixes stop
    * steering. This path instead annotates every doc-gram with its
    * true df — one (gram)-keyed left join against the df≥2 table
    * (df-1 grams coalesce to 1) — and takes each doc's first
    * `n − ceil(t·n) + 1` grams under the (df asc, gram asc) total
    * order via one id-partitioned rank window. Both shuffles are
    * data-proportional ((id, gram, df) longs, never text); the order
    * is globally consistent, so the prefix-filter lemma holds exactly
    * as for the broadcast order and recall is unchanged (the operators'
    * exact verify never sees the difference — pinned by
    * StopGramSizingSpec's cross-path pair-identity tests).
    *
    * `g` is the operator's (__id, __g sorted-gram-array) frame;
    * `dfTable` its (gram → df≥2) table — pass a pinned (checkpointed)
    * plan, this consumes it once per downstream execution. Returns
    * (__id, __n, __gram) prefix rows. */
  def joinPrefix(
      g: DataFrame, dfTable: DataFrame, tRelaxed: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__df").asc, col("__gram").asc)
    gramRows(g, col("__g")).join(dfTable, Seq("__gram"), "left")
      .select(col("__id"), col("__n"), col("__gram"),
        coalesce(col("__df"), lit(1L)).as("__df"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <=
        col("__n") - ceil(lit(tRelaxed) * col("__n")) + 1)
      .select(col("__id"), col("__n"), col("__gram"))
  }
}
