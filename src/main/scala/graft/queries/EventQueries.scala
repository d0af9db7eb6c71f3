package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.operators.{EventAnalytics, SequenceMatch}

/** ClickHouse-analytics exercises over the `events` stream table
  * ([[graft.operators.EventAnalytics]]): the sessionize / windowFunnel /
  * retention workloads the reference's ingested tables exist to serve,
  * and ClickHouse's per-key series aggregates over the same table:
  * `sumMap`/`maxMap` (q76), interval union and overlap (q79, q80),
  * time-decayed averages (q81), `sequenceNextNode` (q86, q95), M4 and
  * LTTB downsampling (q87, q92), array functions (q88), `windowFunnel`
  * modes (q94) and `retention` conditions (q101). The oracles re-derive
  * the same semantics in DuckDB window SQL over exact integer
  * microseconds (`epoch_us` both sides — the test data is
  * micro-precise, so the ns→µs conversion in [[graft.Tables]] is
  * lossless). */
object EventQueries {

  /** 8 h inactivity gap: sparse synthetic traffic (~2.2 events/user/day)
    * still yields multi-event sessions at this gap. */
  private val SessionGapUs = 8L * 3600L * 1000000L

  /** 24 h chain window: measured level distribution at sf0.01 is
    * 1/65/66/18 across levels 1-4 — every level populated, so the gate
    * discriminates all four scoring branches. */
  private val FunnelWindowUs = 24L * 3600L * 1000000L

  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  /** q54: gap sessionization + per-session rollup. One shuffle: the
    * window passes and the (user, session) aggregate share the user
    * hash partitioning. */
  def q54Sessionize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    EventAnalytics.sessionize(e, "user_id", "ts", SessionGapUs)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        EventAnalytics.dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  /** q55: strict-order funnel signup→view→click→purchase within 24 h
    * (ClickHouse windowFunnel). Chained cumulative-max windows — no
    * self-join; the spec pins the operator against a brute-force
    * exists-chain model on adversarial corpora. */
  def q55Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    EventAnalytics.funnelLevels(e, "user_id", "ts", "event_type",
        FunnelSteps, FunnelWindowUs)
      .orderBy("user_id")
  }

  /** q56: weekly cohort retention — cohort by first `signup` week,
    * retained = any activity at week offset o. */
  def q56Retention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    EventAnalytics.cohortRetention(e, "user_id", "ts", "event_type",
        cohortType = "signup")
      .orderBy("cohort", "week_offset")
  }

  /** q60: ClickHouse `sequenceMatch` / `sequenceCount` — four pattern
    * branches over the same event table, chosen so every grammar form
    * is exercised AND every output column is mixed true/false (measured
    * at sf0.01: m_funnel 58/92, m_adjacent 110/40, m_gap 72/78, c_pairs
    * 0..4 spread):
    *  - m_funnel  `(?1)(?t<=43200)(?2)(?t<=43200)(?3)` — chained upper
    *    time bounds (view→click→purchase, ≤12 h each hop);
    *  - m_adjacent `(?1)(?2)(?3)` — DIRECT adjacency in the considered
    *    sequence, which is ClickHouse-parity restricted to the
    *    pattern's own condition set (signup,error,purchase);
    *  - m_gap `(?4)(?t>2300000)(?3)` — lower time bound (signup, then
    *    a purchase > ~26.6 days later);
    *  - c_pairs `sequenceCount((?1)(?t<=21600)(?2))` — non-overlapping
    *    view→click≤6 h chains, earliest-end greedy.
    * The three subsequence patterns evaluate from ONE collected array;
    * the adjacency pattern needs its own condition set (adjacency is
    * relative to the considered sequence), so q60 runs exactly two
    * 16-byte-per-event user-keyed shuffles. The oracle re-derives
    * m_funnel/m_gap by exhaustive per-user self-joins, m_adjacent by
    * window lead()s, and c_pairs by a recursive-CTE replay of the
    * greedy (earliest feasible chain end, restart strictly after). */
  def q60SequenceMatch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    val ty = col("event_type")
    val sub = SequenceMatch.collectSequences(e, "user_id", "ts",
      Seq(ty === "view", ty === "click", ty === "purchase", ty === "signup"))
    val adj = SequenceMatch.collectSequences(e, "user_id", "ts",
      Seq(ty === "signup", ty === "error", ty === "purchase"))
    e.select(col("user_id")).distinct()
      .join(sub.select(col("user_id"), col("__ev").as("__sub")),
        Seq("user_id"), "left")
      .join(adj.select(col("user_id"), col("__ev").as("__adj")),
        Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(SequenceMatch.matchPattern(col("__sub"),
          "(?1)(?t<=43200)(?2)(?t<=43200)(?3)"), lit(false)).as("m_funnel"),
        coalesce(SequenceMatch.matchPattern(col("__adj"),
          "(?1)(?2)(?3)"), lit(false)).as("m_adjacent"),
        coalesce(SequenceMatch.matchPattern(col("__sub"),
          "(?4)(?t>2300000)(?3)"), lit(false)).as("m_gap"),
        coalesce(SequenceMatch.countPattern(col("__sub"),
          "(?1)(?t<=21600)(?2)"), lit(0L)).as("c_pairs"))
      .orderBy("user_id")
  }

  /** q68: ClickHouse `argMax` — latest event per user as a MERGEABLE
    * AGGREGATE, not a window: `max(struct(ts, event_id, …))` gives
    * map-side partial maxima that merge associatively, so the shuffle
    * carries one candidate row per (user × partition) and nothing is
    * ever sorted — the at-scale winner over the row_number() / ORDER BY
    * LIMIT 1 formulations whenever only the argmax row is wanted.
    * Struct comparison is lexicographic, so (ts, event_id) ties break
    * to the larger event_id deterministically on both sides. */
  def q68ArgMax(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    e.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("__m"))
      .select(col("user_id"), col("__m.ts").as("ts"),
        col("__m.event_id").as("event_id"),
        col("__m.event_type").as("event_type"),
        round(col("__m.value"), 6).as("value"))
      .orderBy("user_id")
  }

  /** q70: ClickHouse `groupArrayMovingSum(7)` / `groupArrayMovingAvg(7)`
    * over each user's value stream, flattened to one row per event
    * ([[EventAnalytics.movingAgg]]). Same single user-keyed shuffle as
    * q54–q56; the DECIMAL-routed sum keeps the moving value exact, so
    * Spark's frame re-scan and DuckDB's segment-tree merge agree
    * bit-for-bit. */
  def q70MovingAgg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    EventAnalytics.movingAgg(e, "user_id", "ts", "event_id", "value", 7)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("mv_sum"), col("mv_avg"), col("mv_n"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** q71: ClickHouse `uniqUpTo(64)(event_id)` per user — exact distinct
    * count saturating at 65 ([[graft.functions.BoundedDistinct]]).
    * Unlike `count(distinct)`, whose state is the full value set (an
    * expand + re-shuffle in Spark's plan), the bounded buffer keeps
    * ≤ 65 longs per (user × partition) and merges map-side. N=64 is
    * chosen so BOTH branches populate in the test data (sf0.01: 85
    * saturated / 65 exact users), so the gate discriminates saturation
    * from plain counting. */
  def q71UniqUpto(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BoundedDistinct, ColumnBridge}
    val e = Tables.parallel(s, dir, "events")
    val uniq = ColumnBridge.col(
      BoundedDistinct(ColumnBridge.expr(col("event_id")), 64)
        .toAggregateExpression())
    e.groupBy(col("user_id"))
      .agg(uniq.as("u_events"))
      .orderBy("user_id")
  }

  /** q72: ClickHouse `deltaSum(value)` per user over the time-ordered
    * event stream ([[EventAnalytics.deltaSum]]) — positive consecutive
    * differences summed, counter resets ignored. Same one user-keyed
    * shuffle as the rest of the family. */
  def q72DeltaSum(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    EventAnalytics.deltaSum(e, "user_id", "ts", "event_id", "value")
      .orderBy("user_id")
  }

  /** q73: ClickHouse `groupBitmap` family ([[graft.functions.BitmapAgg]])
    * as a TWO-LEVEL bitmap plan: per-(event_type, week) roaring user-id
    * bitmaps built once (`groupBitmapState`), then re-aggregated three
    * ways per event_type — `groupBitmapOr` (distinct users),
    * `groupBitmapAnd` (users active EVERY week of that type) and
    * `groupBitmapXor` (users active an odd number of weeks). The
    * relational double-distinct formulation shuffles (type, week, user)
    * triples twice; here the second exchange carries one compressed
    * bitmap per (type, week) — the reference's own series-state shape
    * (output/clickhouse.go:65,110-130 keeps roaring64 per shard).
    * Week granularity chosen so all three combinators discriminate at
    * sf0.01 (AND 70–83 of 150, XOR 83–96 — measured). */
  def q73BitmapUsers(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BitmapAgg
    val e = Tables.parallel(s, dir, "events")
    e.groupBy(col("event_type"), date_trunc("week", col("ts")).as("wk"))
      .agg(BitmapAgg.groupBitmapState(col("user_id")).as("ubm"))
      .groupBy(col("event_type"))
      .agg(BitmapAgg.groupBitmapOrCard(col("ubm")).as("n_users"),
        BitmapAgg.groupBitmapAndCard(col("ubm")).as("n_users_every_week"),
        BitmapAgg.groupBitmapXorCard(col("ubm")).as("n_users_odd_weeks"))
      .orderBy("event_type")
  }

  /** q76: ClickHouse `sumMap`/`maxMap` ([[graft.functions.MapCombine]])
    * as a TWO-LEVEL map plan — the `-State`/`-Merge` combinator shape:
    * per-(user, week) revenue maps built once from rows, then merged
    * per user by feeding level-1 maps back in via
    * (`map_keys`, `map_values`) — the second exchange carries one
    * bounded map per (user, week), never re-touching event rows.
    * `sumMap` gives lifetime totals per event type, `maxMap` over the
    * same weekly maps gives each type's best week. DECIMAL(18,4)
    * accumulation keeps both sides order-independent (`dsum`
    * discipline). */
  def q76SumMap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MapCombine
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.parallel(s, dir, "events")
    val wk = e
      .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .agg(MapCombine.sumMap(
        array(col("event_type")),
        array(col("value").cast(DecimalType(18, 4)))).as("m"))
    wk.groupBy(col("user_id"))
      .agg(
        MapCombine.sumMap(map_keys(col("m")), map_values(col("m"))).as("tm"),
        MapCombine.maxMap(map_keys(col("m")), map_values(col("m"))).as("xm"))
      .select(col("user_id"), explode(col("tm")).as(Seq("event_type", "t")),
        col("xm"))
      .select(col("user_id"), col("event_type"),
        col("t").cast("double").as("total"),
        element_at(col("xm"), col("event_type")).cast("double")
          .as("weekly_max"))
      .orderBy("user_id", "event_type")
  }

  /** q79/q80's interval fixture: each event opens an interval of
    * `value` seconds starting at its timestamp — the "session /
    * request-in-flight" reading of a (ts, duration) event log. The
    * round() lands exactly on the integer the 2-decimal value encodes
    * (fp error never reaches ±0.5), so both engines cast identically. */
  private def intervals(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    e.select(col("user_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          round(col("value") * lit(1000000.0d), 0).cast("long")).as("e"))
      .filter(col("e") > col("s"))
  }

  /** q79: ClickHouse `intervalLengthSum` per user
    * ([[graft.operators.IntervalAnalytics.intervalLengthSum]]) — total
    * busy time with overlaps merged. One key-hash shuffle. */
  def q79IntervalUnion(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalAnalytics
      .intervalLengthSum(intervals(s, dir), "user_id", "s", "e")
      .orderBy("user_id")

  /** q80: ClickHouse `maxIntersections`/`maxIntersectionsPosition` per
    * user over the same intervals — peak concurrency and where it
    * first occurs. Explode + one key-hash sweep window. */
  def q80MaxOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalAnalytics
      .maxIntersections(intervals(s, dir), "user_id", "s", "e")
      .orderBy("user_id")

  /** q81's halflife: 7 days in µs — the monitoring-decay scale for a
    * ~90-day event table (weights span ~2⁻¹³..1, all well inside
    * DECIMAL(28,12)). */
  val emaHalflifeUs = 604800000000L

  /** q81: ClickHouse `exponentialTimeDecayedAvg` at each user's last
    * event ([[graft.operators.EventAnalytics.timeDecayedAvg]]) — the
    * closed-form, order-free reading; one key-hash exchange shared by
    * the window max and the two decimal-exact sums. */
  def q81TimeDecayedAvg(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.timeDecayedAvg(
        Tables.parallel(s, dir, "events"), "user_id", "ts", "value",
        emaHalflifeUs)
      .orderBy("user_id")

  /** q86: ClickHouse `sequenceNextNode('forward','first_match')` — the
    * event type immediately after each user's first consecutive
    * signup→view chain
    * ([[graft.operators.EventAnalytics.sequenceNextNode]]). */
  def q86NextNode(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.sequenceNextNode(
        Tables.parallel(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", Seq("signup", "view"))
      .orderBy("user_id")

  /** q87's bucket: 7-day pixels over the ~90-day table → ~13 buckets
    * per series. */
  val m4BucketUs = 604800000000L

  /** q87: M4 downsampling per event-type series
    * ([[graft.operators.Downsample.m4]]) — the error-free
    * min/max/first/last-per-bucket aggregation; a plain combinable
    * aggregate, the 100 TB-safe face of chart downsampling (its
    * sequential sibling LTTB is [[graft.operators.Downsample.lttb]],
    * spec-pinned). */
  def q87M4Downsample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Downsample.m4(
        Tables.parallel(s, dir, "events"), "event_type", "ts", "event_id",
        "value", m4BucketUs)
      .orderBy("event_type", "bucket")

  /** q88: ClickHouse array-function battery
    * ([[graft.operators.ArrayAnalytics.seriesProfile]]) — per-user
    * `arrayDifference`/`arrayCompact`/`arraySum`/`boundingRatio` over
    * the collected (groupArray) event series, computed with Spark's
    * native higher-order functions. */
  def q88ArrayProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.ArrayAnalytics.seriesProfile(
        Tables.parallel(s, dir, "events"), "user_id", "ts", "event_id",
        "value", "event_type")
      .orderBy("user_id")

  /** q92's fixture: epoch base (2024-01-01, below the data's Jan-2024
    * range) and the pixel budget. Subtracting the base keeps every
    * per-bucket time SUM below 2⁵³ — with value×100 likewise
    * integer-valued, every sum/average/area both engines compute is
    * EXACT (or one correctly-rounded division of exact integers), so
    * the greedy picks match bit-for-bit with no decimal plumbing. */
  val lttbBaseUs = 1704067200000000L
  val lttbThreshold = 20

  /** q92: ClickHouse `largestTriangleThreeBuckets(n)(t, v)` per user
    * ([[graft.operators.Downsample.lttb]]) — the sequential greedy
    * downsampler, oracle-gated: the DuckDB oracle replays the greedy
    * selection itself with a recursive CTE (state = the previously
    * selected point; the argmax-by-area step is a NOT-EXISTS
    * anti-join, ties to the earliest (t, v)), over the same
    * floor-division bucket boundaries and the same area expression
    * token-for-token. */
  def q92Lttb(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
      .select(col("user_id"),
        timestamp_micros(unix_micros(col("ts")) - lit(lttbBaseUs)).as("ts"),
        round(col("value") * 100, 0).as("v100"))
    graft.operators.Downsample.lttb(e, "user_id", "ts", "v100", lttbThreshold)
      .select(col("user_id"), col("t"), col("v").cast("long").as("v100"))
      .orderBy("user_id", "t", "v100")
  }

  /** q94's funnel fixture — q55's steps and 24 h window, so the two
    * queries' shared semantics are pinned by the same literals. */
  val funnelSteps = Seq("signup", "view", "click", "purchase")
  val funnelWindowUs = 24L * 3600L * 1000000L

  /** q94: ClickHouse `windowFunnel` MODE flags
    * ([[graft.operators.EventAnalytics.funnelLevelsModes]], the
    * array-scan recurrence): per user, the level under default,
    * `strict_dedup`, `strict_order` and `strict_increase`. Oracle
    * shape: the events table is tie-free at µs precision (verified
    * both SFs), where default and strict_increase both equal the
    * chained-window DP — the oracle re-derives BOTH exactly via q55's
    * window SQL, and re-derives the two strict columns INDEPENDENTLY
    * with a recursive-CTE fold of the ClickHouse getEventLevel
    * recurrence (no read-back: every column is oracle-pinned; the
    * engine-side semantics are additionally spec-pinned against a
    * second transcription of the CH loop on randomized streams). */
  def q94FunnelModes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    def variant(name: String, dd: Boolean = false, oo: Boolean = false,
        ii: Boolean = false): DataFrame =
      graft.operators.EventAnalytics.funnelLevelsModes(
          e, "user_id", "ts", "event_type", funnelSteps, funnelWindowUs,
          strictDedup = dd, strictOrder = oo, strictIncrease = ii)
        .withColumnRenamed("funnel_level", name)
    variant("lvl_default")
      .join(variant("lvl_dedup", dd = true), Seq("user_id"), "full_outer")
      .join(variant("lvl_order", oo = true), Seq("user_id"), "full_outer")
      .join(variant("lvl_increase", ii = true), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("lvl_default"), lit(0)).as("lvl_default"),
        coalesce(col("lvl_dedup"), lit(0)).as("lvl_dedup"),
        coalesce(col("lvl_order"), lit(0)).as("lvl_order"),
        coalesce(col("lvl_increase"), lit(0)).as("lvl_increase"))
      .orderBy("user_id")
  }

  /** q95: the full `sequenceNextNode` direction/base surface over the
    * signup→view chain ([[graft.operators.EventAnalytics
    * .sequenceNextNode]]): first/last forward matches, the head-gated
    * form, and the backward scan (node immediately BEFORE the latest
    * chain). One row per user appearing in any variant; every column
    * re-derived exactly by window SQL. */
  def q95NextNodeModes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    def v(name: String, direction: String, base: String,
        steps: Seq[String]): DataFrame =
      graft.operators.EventAnalytics.sequenceNextNode(
          e, "user_id", "ts", "event_id", "event_type", steps,
          direction, base)
        .withColumnRenamed("next_node", name)
    v("nn_first", "forward", "first_match", Seq("signup", "view"))
      .join(v("nn_last", "forward", "last_match", Seq("signup", "view")),
        Seq("user_id"), "full_outer")
      .join(v("nn_head", "forward", "head", Seq("signup", "view")),
        Seq("user_id"), "full_outer")
      .join(v("prev_of_last", "backward", "first_match",
          Seq("view", "signup")),
        Seq("user_id"), "full_outer")
      .orderBy("user_id")
  }

  /** q101's calendar anchors: the table's four January-2024 weeks
    * (Monday-start, matching date_trunc('week')). Shared literals. */
  val retWeeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")

  /** q101's value floor: bare weekly activity saturates every slot on
    * this dense table (141/141/…); a big-purchase condition spreads the
    * counts (measured 141/22/…/18 at sf0.01) so each slot genuinely
    * discriminates. */
  val retValueFloor = 150.0

  /** q101: ClickHouse `retention(cond1..condN)` in its literal
    * aggregate form ([[graft.operators.EventAnalytics
    * .retentionConditions]]): anchor = signed up in week 1, conditions
    * = made a big purchase in each calendar week; the output row is
    * the summed per-slot counts CH users divide to get retention
    * curves. */
  def q101RetentionConditions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
      .withColumn("__wk", date_trunc("week", col("ts")))
    val conds = (col("event_type") === "signup" &&
        col("__wk") === to_timestamp(lit(retWeeks.head))) +:
      retWeeks.map(w => col("event_type") === "purchase" &&
        col("value") > retValueFloor &&
        col("__wk") === to_timestamp(lit(w)))
    graft.operators.EventAnalytics
      .retentionConditions(e, "user_id", conds)
  }

  /** Shared interval CTE for the q79/q80 oracles — mirrors
    * [[intervals]] literally. */
  private val intervalCte =
    """iv AS (SELECT user_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + CAST(round(value * 1000000.0) AS BIGINT) AS e
      |       FROM events
      |       WHERE epoch_us(ts) + CAST(round(value * 1000000.0) AS BIGINT)
      |             > epoch_us(ts))""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q54_sessionize", q54Sessionize,
      s"""WITH e AS (SELECT user_id, ts, epoch_us(ts) AS t, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
        |         OR t - lag(t) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (SELECT *, CAST(sum(nw) OVER
        |        (PARTITION BY user_id ORDER BY t) AS BIGINT) AS session_seq
        |      FROM g)
        |SELECT user_id, session_seq,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
    Query("q55_funnel", q55Funnel,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |s1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w AS b1 FROM e
        |       WINDOW w AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN b1 END)
        |         OVER w AS b2 FROM s1
        |       WINDOW w AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN b2 END)
        |         OVER w AS b3 FROM s2
        |       WINDOW w AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND b3 IS NOT NULL
        |      AND t - b3 <= $FunnelWindowUs THEN 4
        |    WHEN event_type = 'click' AND b2 IS NOT NULL
        |      AND t - b2 <= $FunnelWindowUs THEN 3
        |    WHEN event_type = 'view' AND b1 IS NOT NULL
        |      AND t - b1 <= $FunnelWindowUs THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS funnel_level
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q56_retention", q56Retention,
      """WITH su AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
        |            FROM events WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |        FROM events),
        |j AS (SELECT s.cohort,
        |        (epoch_us(a.wk) - epoch_us(s.cohort) + 302400000000)
        |          // 604800000000 AS week_offset,
        |        a.user_id
        |      FROM act a JOIN su s USING (user_id)
        |      WHERE a.wk >= s.cohort),
        |r AS (SELECT cohort, CAST(week_offset AS BIGINT) AS week_offset,
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |      FROM j GROUP BY 1, 2),
        |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM su GROUP BY 1)
        |SELECT r.cohort, r.week_offset, r.n_active, cs.cohort_size,
        |  round(CAST(r.n_active AS DOUBLE) / cs.cohort_size, 6) AS retention
        |FROM r JOIN cs USING (cohort)
        |ORDER BY cohort, week_offset""".stripMargin),
    Query("q60_sequence_match", q60SequenceMatch,
      """WITH RECURSIVE
        |ev AS (SELECT user_id, epoch_us(ts) AS t, event_type AS ty
        |       FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |mf AS (
        |  SELECT DISTINCT a.user_id FROM ev a
        |  JOIN ev b ON b.user_id = a.user_id
        |  JOIN ev c ON c.user_id = a.user_id
        |  WHERE a.ty = 'view' AND b.ty = 'click' AND c.ty = 'purchase'
        |    AND b.t > a.t AND b.t - a.t <= 43200000000
        |    AND c.t > b.t AND c.t - b.t <= 43200000000),
        |fa AS (SELECT user_id, ty,
        |         lead(ty, 1) OVER (PARTITION BY user_id ORDER BY t) AS n1,
        |         lead(ty, 2) OVER (PARTITION BY user_id ORDER BY t) AS n2
        |       FROM ev WHERE ty IN ('signup', 'error', 'purchase')),
        |ma AS (SELECT DISTINCT user_id FROM fa
        |       WHERE ty = 'signup' AND n1 = 'error' AND n2 = 'purchase'),
        |mg AS (
        |  SELECT DISTINCT a.user_id FROM ev a
        |  JOIN ev b ON b.user_id = a.user_id
        |  WHERE a.ty = 'signup' AND b.ty = 'purchase' AND b.t > a.t
        |    AND b.t - a.t > 2300000000000),
        |feas AS (
        |  SELECT b.user_id, b.t,
        |    (SELECT max(a.t) FROM ev a WHERE a.user_id = b.user_id
        |      AND a.ty = 'view' AND a.t < b.t
        |      AND b.t - a.t <= 21600000000) AS besta
        |  FROM ev b WHERE b.ty = 'click'),
        |f2 AS (SELECT user_id, t, besta FROM feas WHERE besta IS NOT NULL),
        |rec AS (
        |  SELECT user_id, CAST(-9223372036854775808 AS BIGINT) AS match_end,
        |    0 AS cnt
        |  FROM u
        |  UNION ALL
        |  SELECT r.user_id,
        |    (SELECT min(f.t) FROM f2 f WHERE f.user_id = r.user_id
        |       AND f.besta > r.match_end),
        |    r.cnt + 1
        |  FROM rec r
        |  WHERE (SELECT min(f.t) FROM f2 f WHERE f.user_id = r.user_id
        |           AND f.besta > r.match_end) IS NOT NULL),
        |cp AS (SELECT user_id, CAST(max(cnt) AS BIGINT) AS c_pairs
        |       FROM rec GROUP BY user_id)
        |SELECT u.user_id,
        |  u.user_id IN (SELECT user_id FROM mf) AS m_funnel,
        |  u.user_id IN (SELECT user_id FROM ma) AS m_adjacent,
        |  u.user_id IN (SELECT user_id FROM mg) AS m_gap,
        |  coalesce(cp.c_pairs, 0) AS c_pairs
        |FROM u LEFT JOIN cp USING (user_id)
        |ORDER BY user_id""".stripMargin),
    Query("q68_arg_max", q68ArgMax,
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts, event_id, event_type,
        |  round(value, 6) AS value
        |FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    Query("q70_moving_agg", q70MovingAgg,
      """SELECT user_id, event_id, ts,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    AS mv_sum,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / 7, 6) AS mv_avg,
        |  CAST(count(*) OVER w AS BIGINT) AS mv_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),
    Query("q71_uniq_upto", q71UniqUpto,
      """SELECT user_id,
        |  CAST(least(count(DISTINCT event_id), 65) AS BIGINT) AS u_events
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    Query("q72_delta_sum", q72DeltaSum,
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(value AS DECIMAL(18,4))
        |      - lag(CAST(value AS DECIMAL(18,4)) IGNORE NULLS)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
        |  FROM events)
        |SELECT user_id,
        |  COALESCE(CAST(sum(CASE WHEN dv > 0 THEN dv END) AS DOUBLE), 0)
        |    AS delta_sum
        |FROM d GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    Query("q73_bitmap_users", q73BitmapUsers,
      """WITH d AS (SELECT DISTINCT event_type,
        |    date_trunc('week', ts) AS wk, user_id FROM events),
        |nd AS (SELECT event_type, count(DISTINCT wk) AS n_wk
        |       FROM d GROUP BY 1),
        |uc AS (SELECT event_type, user_id, count(DISTINCT wk) AS uw
        |       FROM d GROUP BY 1, 2)
        |SELECT uc.event_type,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(*) FILTER (WHERE uw = n_wk) AS BIGINT)
        |    AS n_users_every_week,
        |  CAST(count(*) FILTER (WHERE uw % 2 = 1) AS BIGINT)
        |    AS n_users_odd_weeks
        |FROM uc JOIN nd USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q101_retention_conditions", q101RetentionConditions, {
      val wks = retWeeks.map(w => s"TIMESTAMP '$w 00:00:00'")
      s"""WITH e AS (SELECT user_id, event_type, value,
        |             date_trunc('week', ts) AS wk FROM events),
        |f AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' AND wk = ${wks.head}
        |        THEN 1 ELSE 0 END) AS c0,
        |${retWeeks.indices.map(i =>
            s"    max(CASE WHEN event_type = 'purchase' AND value > " +
              s"$retValueFloor AND wk = ${wks(i)} THEN 1 ELSE 0 END) " +
              s"AS c${i + 1}").mkString(",\n")}
        |  FROM e GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN c0 = 1 AND c0 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS r_0,
        |${retWeeks.indices.map(i =>
            s"  CAST(sum(CASE WHEN c0 = 1 AND c${i + 1} = 1 THEN 1 ELSE 0 END)" +
              s" AS BIGINT) AS r_${i + 1}").mkString(",\n")}
        |FROM f""".stripMargin
    }),
    Query("q95_next_node_modes", q95NextNodeModes,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |           FROM events),
        |f AS (SELECT user_id, event_type,
        |        lead(event_type, 1) OVER w AS n1,
        |        lead(event_type, 2) OVER w AS n2,
        |        row_number() OVER w AS rn
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |fm AS (SELECT user_id, n2, rn FROM f
        |       WHERE event_type = 'signup' AND n1 = 'view'),
        |bw AS (SELECT user_id, event_type,
        |        lead(event_type, 1) OVER w AS n1,
        |        lead(event_type, 2) OVER w AS n2,
        |        row_number() OVER w AS rn
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id
        |        ORDER BY t DESC, event_id DESC)),
        |bm AS (SELECT user_id, n2, rn FROM bw
        |       WHERE event_type = 'view' AND n1 = 'signup'),
        |firstm AS (SELECT user_id, n2 AS nn_first FROM (
        |    SELECT user_id, n2, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rn) AS r2 FROM fm) WHERE r2 = 1),
        |lastm AS (SELECT user_id, n2 AS nn_last FROM (
        |    SELECT user_id, n2, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rn DESC) AS r2 FROM fm) WHERE r2 = 1),
        |headm AS (SELECT user_id, n2 AS nn_head FROM fm WHERE rn = 1),
        |backm AS (SELECT user_id, n2 AS prev_of_last FROM (
        |    SELECT user_id, n2, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rn) AS r2 FROM bm) WHERE r2 = 1),
        |u AS (SELECT DISTINCT user_id FROM fm
        |      UNION SELECT DISTINCT user_id FROM bm)
        |SELECT u.user_id, firstm.nn_first, lastm.nn_last, headm.nn_head,
        |  backm.prev_of_last
        |FROM u
        |LEFT JOIN firstm ON firstm.user_id = u.user_id
        |LEFT JOIN lastm ON lastm.user_id = u.user_id
        |LEFT JOIN headm ON headm.user_id = u.user_id
        |LEFT JOIN backm ON backm.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin),
    Query("q94_funnel_modes", q94FunnelModes,
      s"""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |           FROM events),
        |s1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w1 AS b1 FROM e
        |       WINDOW w1 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN b1 END)
        |         OVER w2 AS b2 FROM s1
        |       WINDOW w2 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN b2 END)
        |         OVER w3 AS b3 FROM s2
        |       WINDOW w3 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |dp AS (SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND b3 IS NOT NULL
        |      AND t - b3 <= $funnelWindowUs THEN 4
        |    WHEN event_type = 'click' AND b2 IS NOT NULL
        |      AND t - b2 <= $funnelWindowUs THEN 3
        |    WHEN event_type = 'view' AND b1 IS NOT NULL
        |      AND t - b1 <= $funnelWindowUs THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS lvl FROM s3 GROUP BY user_id),
        |ev AS (SELECT user_id, t,
        |    CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |      WHEN 'click' THEN 3 WHEN 'purchase' THEN 4 ELSE 0 END AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t,
        |      CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'click' THEN 3 WHEN 'purchase' THEN 4 ELSE 0 END) AS rn
        |  FROM e),
        |nev AS (SELECT user_id, count(*) AS n_ev FROM ev GROUP BY 1),
        |-- one pass of the ClickHouse getEventLevel recurrence per user,
        |-- folding BOTH strict-variant states (d* = strict_dedup,
        |-- o* = strict_order); dK/oK hold slot K's chain-start time,
        |-- df/oof the forced (interrupt) level once processing stops
        |fold AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
        |    CAST(NULL AS BIGINT) AS d1, CAST(NULL AS BIGINT) AS d2,
        |    CAST(NULL AS BIGINT) AS d3, CAST(NULL AS BIGINT) AS d4,
        |    CAST(NULL AS INTEGER) AS df,
        |    CAST(NULL AS BIGINT) AS o1, CAST(NULL AS BIGINT) AS o2,
        |    CAST(NULL AS BIGINT) AS o3, CAST(NULL AS BIGINT) AS o4,
        |    FALSE AS fe, CAST(NULL AS INTEGER) AS oof
        |  FROM nev
        |  UNION ALL
        |  SELECT f.user_id, v.rn,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 1 THEN f.d1
        |         ELSE v.t END,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 2 OR f.d2 IS NOT NULL
        |           OR f.d1 IS NULL OR v.t - f.d1 > $funnelWindowUs
        |         THEN f.d2 ELSE f.d1 END,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 3 OR f.d3 IS NOT NULL
        |           OR f.d2 IS NULL OR v.t - f.d2 > $funnelWindowUs
        |         THEN f.d3 ELSE f.d2 END,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 4 OR f.d4 IS NOT NULL
        |           OR f.d3 IS NULL OR v.t - f.d3 > $funnelWindowUs
        |         THEN f.d4 ELSE f.d3 END,
        |    CASE WHEN f.df IS NOT NULL THEN f.df
        |         WHEN v.c = 2 AND f.d2 IS NOT NULL THEN 2
        |         WHEN v.c = 3 AND f.d3 IS NOT NULL THEN 3
        |         WHEN v.c = 4 AND f.d4 IS NOT NULL THEN 4
        |         WHEN v.c = 4 AND f.d3 IS NOT NULL
        |           AND v.t - f.d3 <= $funnelWindowUs THEN 4
        |         ELSE NULL END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 1 THEN f.o1
        |         ELSE v.t END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 2
        |           OR f.o1 IS NULL OR v.t - f.o1 > $funnelWindowUs
        |         THEN f.o2 ELSE f.o1 END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 3
        |           OR f.o2 IS NULL OR v.t - f.o2 > $funnelWindowUs
        |         THEN f.o3 ELSE f.o2 END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 4
        |           OR f.o3 IS NULL OR v.t - f.o3 > $funnelWindowUs
        |         THEN f.o4 ELSE f.o3 END,
        |    CASE WHEN f.oof IS NULL AND v.c = 1 THEN TRUE ELSE f.fe END,
        |    CASE WHEN f.oof IS NOT NULL THEN f.oof
        |         WHEN (v.c = 0 AND f.fe)
        |           OR (v.c >= 2 AND f.fe AND (CASE v.c WHEN 2 THEN f.o1
        |               WHEN 3 THEN f.o2 ELSE f.o3 END) IS NULL) THEN
        |           CASE WHEN f.o4 IS NOT NULL THEN 4
        |                WHEN f.o3 IS NOT NULL THEN 3
        |                WHEN f.o2 IS NOT NULL THEN 2
        |                WHEN f.o1 IS NOT NULL THEN 1 ELSE 0 END
        |         WHEN v.c = 4 AND f.o3 IS NOT NULL
        |           AND v.t - f.o3 <= $funnelWindowUs THEN 4
        |         ELSE NULL END
        |  FROM fold f JOIN ev v
        |    ON v.user_id = f.user_id AND v.rn = f.rn + 1),
        |fin AS (
        |  SELECT fo.user_id,
        |    CAST(coalesce(fo.df, CASE WHEN fo.d4 IS NOT NULL THEN 4
        |      WHEN fo.d3 IS NOT NULL THEN 3 WHEN fo.d2 IS NOT NULL THEN 2
        |      WHEN fo.d1 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |      AS lvl_dedup,
        |    CAST(coalesce(fo.oof, CASE WHEN fo.o4 IS NOT NULL THEN 4
        |      WHEN fo.o3 IS NOT NULL THEN 3 WHEN fo.o2 IS NOT NULL THEN 2
        |      WHEN fo.o1 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |      AS lvl_order
        |  FROM fold fo JOIN nev ON nev.user_id = fo.user_id
        |    AND fo.rn = nev.n_ev)
        |SELECT dp.user_id, dp.lvl AS lvl_default, fin.lvl_dedup,
        |  fin.lvl_order, dp.lvl AS lvl_increase
        |FROM dp JOIN fin ON fin.user_id = dp.user_id
        |ORDER BY dp.user_id""".stripMargin),
    Query("q92_lttb", q92Lttb, {
      val nB = lttbThreshold - 2
      def area(x: String) =
        s"abs((s.t - a.ax) * ($x.v - s.v) - (s.t - $x.t) * (a.ay - s.v))"
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id AS k, epoch_us(ts) - $lttbBaseUs AS t,
        |    round(value * 100) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) - $lttbBaseUs, round(value * 100)) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |small AS (SELECT k, t, v FROM pts WHERE n <= $lttbThreshold),
        |big AS (SELECT * FROM pts WHERE n > $lttbThreshold),
        |meta AS (SELECT k, max(n) AS n FROM big GROUP BY 1),
        |buckets AS (
        |  SELECT m.k, bb.b,
        |    1 + ((m.n - 2) * bb.b) // $nB AS lo,
        |    1 + ((m.n - 2) * (bb.b + 1)) // $nB AS hi
        |  FROM meta m, (SELECT unnest(range($nB)) AS b) bb),
        |bpts AS (
        |  SELECT p.k, bu.b, p.t, p.v
        |  FROM big p JOIN buckets bu ON bu.k = p.k
        |    AND p.rn - 1 >= bu.lo AND p.rn - 1 < bu.hi),
        |ends AS (SELECT k,
        |    max(CASE WHEN rn = 1 THEN t END) AS t1,
        |    max(CASE WHEN rn = 1 THEN v END) AS v1,
        |    max(CASE WHEN rn = n THEN t END) AS tn,
        |    max(CASE WHEN rn = n THEN v END) AS vn
        |  FROM big GROUP BY k),
        |bavg AS (SELECT k, b - 1 AS b, sum(t) / count(*) AS ax,
        |           sum(v) / count(*) AS ay
        |         FROM bpts GROUP BY k, b),
        |anch AS (
        |  SELECT bu.k, bu.b,
        |    CASE WHEN bu.b = ${nB - 1} THEN e.tn * 1.0 ELSE av.ax END AS ax,
        |    CASE WHEN bu.b = ${nB - 1} THEN e.vn * 1.0 ELSE av.ay END AS ay
        |  FROM buckets bu JOIN ends e USING (k)
        |  LEFT JOIN bavg av ON av.k = bu.k AND av.b = bu.b),
        |r AS (
        |  SELECT k, -1 AS b, t1 AS t, v1 AS v FROM ends
        |  UNION ALL
        |  SELECT DISTINCT c.k, s.b + 1 AS b, c.t, c.v
        |  FROM r s
        |  JOIN bpts c ON c.k = s.k AND c.b = s.b + 1
        |  JOIN anch a ON a.k = s.k AND a.b = s.b + 1
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM bpts c2
        |    WHERE c2.k = c.k AND c2.b = c.b AND
        |      (${area("c2")} > ${area("c")}
        |       OR (${area("c2")} = ${area("c")}
        |           AND (c2.t, c2.v) < (c.t, c.v))))),
        |allpts AS (
        |  SELECT k, t, v FROM small
        |  UNION ALL SELECT k, t, v FROM r
        |  UNION ALL SELECT k, tn, vn FROM ends)
        |SELECT k AS user_id, t, CAST(v AS BIGINT) AS v100
        |FROM allpts ORDER BY user_id, t, v100""".stripMargin
    }),
    Query("q88_array_profile", q88ArrayProfile,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |             CAST(value AS DECIMAL(18,4)) AS v, event_type
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT user_id, t, v, event_type,
        |        lag(v) OVER w AS pv, lag(event_type) OVER w AS pn,
        |        row_number() OVER w AS rf,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY t DESC, event_id DESC) AS rl
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(v - pv) AS DOUBLE) AS max_jump,
        |  CAST(count(CASE WHEN v - pv < 0 THEN 1 END) AS BIGINT) AS n_drops,
        |  CAST(1 + count(CASE WHEN pn IS NOT NULL AND event_type != pn
        |       THEN 1 END) AS BIGINT) AS n_runs,
        |  CAST(CAST(sum(v) AS DECIMAL(28,4)) AS DOUBLE) AS total,
        |  CASE WHEN max(t) > min(t) THEN
        |    round(CAST(max(CASE WHEN rl = 1 THEN v END) -
        |               max(CASE WHEN rf = 1 THEN v END) AS DOUBLE) /
        |          (CAST(max(t) - min(t) AS DOUBLE) / 1000000.0), 9)
        |  END AS bounding_ratio
        |FROM o GROUP BY user_id HAVING count(*) >= 2
        |ORDER BY user_id""".stripMargin),
    Query("q79_interval_union", q79IntervalUnion,
      s"""WITH $intervalCte,
        |m AS (SELECT user_id, s, e,
        |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM iv),
        |isl AS (SELECT user_id, s, e,
        |          sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |        FROM m),
        |sp AS (SELECT user_id, g, min(s) AS s0, max(e) AS e0
        |       FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(e0 - s0) AS BIGINT) AS interval_length_sum
        |FROM sp GROUP BY 1 ORDER BY user_id""".stripMargin),
    Query("q80_max_overlap", q80MaxOverlap,
      s"""WITH $intervalCte,
        |d AS (SELECT user_id, s AS p, 1 AS dl FROM iv
        |      UNION ALL SELECT user_id, e AS p, -1 AS dl FROM iv),
        |r AS (SELECT user_id, p, dl,
        |        sum(dl) OVER (PARTITION BY user_id ORDER BY p, dl
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |      FROM d),
        |r2 AS (SELECT user_id, p, open,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY open DESC, p, dl) AS rn
        |       FROM r)
        |SELECT user_id, CAST(max(open) AS BIGINT) AS max_intersections,
        |  CAST(max(CASE WHEN rn = 1 THEN p END) AS BIGINT) AS position
        |FROM r2 GROUP BY 1 ORDER BY user_id""".stripMargin),
    Query("q81_time_decayed_avg", q81TimeDecayedAvg,
      s"""WITH m AS (SELECT user_id, epoch_us(ts) AS t, value,
        |             max(epoch_us(ts)) OVER (PARTITION BY user_id) AS tmax
        |           FROM events WHERE value IS NOT NULL),
        |w AS (SELECT user_id,
        |        CAST(pow(0.5, CAST(tmax - t AS DOUBLE) / $emaHalflifeUs.0)
        |          AS DECIMAL(28,12)) AS w,
        |        CAST(pow(0.5, CAST(tmax - t AS DOUBLE) / $emaHalflifeUs.0)
        |          * value AS DECIMAL(28,12)) AS wv
        |      FROM m)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(wv) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS ema
        |FROM w GROUP BY 1 ORDER BY user_id""".stripMargin),
    Query("q86_next_node", q86NextNode,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |           FROM events),
        |l AS (SELECT user_id, t, event_id, event_type,
        |        lead(event_type, 1) OVER w AS n1,
        |        lead(event_type, 2) OVER w AS n2
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT user_id, t, event_id, n2 AS nxt,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY t, event_id) AS rn
        |      FROM l WHERE event_type = 'signup' AND n1 = 'view')
        |SELECT user_id, nxt AS next_node FROM m
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Query("q87_m4_downsample", q87M4Downsample,
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS t, event_id, value,
        |             epoch_us(ts) // $m4BucketUs AS bucket
        |           FROM events),
        |r AS (SELECT event_type, bucket, value,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |          ORDER BY t, event_id) AS rf,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |          ORDER BY t DESC, event_id DESC) AS rl
        |      FROM e)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  max(CASE WHEN rf = 1 THEN value END) AS v_first,
        |  min(value) AS v_min, max(value) AS v_max,
        |  max(CASE WHEN rl = 1 THEN value END) AS v_last
        |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),
    Query("q76_sum_map", q76SumMap,
      """WITH wk AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk, event_type,
        |    sum(CAST(value AS DECIMAL(18,4))) AS s
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, event_type,
        |  CAST(CAST(sum(s) AS DECIMAL(18,4)) AS DOUBLE) AS total,
        |  CAST(max(s) AS DOUBLE) AS weekly_max
        |FROM wk GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin))
}
