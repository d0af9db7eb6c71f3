package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** ClickHouse statistical aggregates as distributed operators:
  * histogram (q77), the moment/regression battery (q78), entropy and
  * association (q82, q83), two-sample tests (q84), rank correlation
  * (q89), weighted quantiles (q90), information value (q93), Tukey
  * fences (q98) and two-feature OLS (q99). Sums run through exact
  * decimals and double formula trees are written token-identically on
  * both sides, so the DuckDB comparison is bit-tight; every query is
  * totally ordered, int outputs are cast BIGINT on both sides. */
object Statistics {

  /** q77: ClickHouse `histogram(bins)(x)`
    * ([[graft.functions.AdaptiveHistogram]], Ben-Haim/Tom-Toub) per
    * return flag over l_quantity. The oracle leans on the algorithm's
    * exactness property — distinct values (50) under the bin budget
    * (64) make the adaptive histogram collapse to the exact frequency
    * table at ANY partitioning — so a plain GROUP-BY-value count pins
    * it. The over-budget approximate regime is spec-pinned
    * (AdaptiveHistogramSpec) by its order-invariant envelope. */
  def q77Histogram(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AdaptiveHistogram
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(AdaptiveHistogram.histogram(
        col("l_quantity").cast("double"), 64).as("h"))
      .select(col("l_returnflag"), explode(col("h")).as("e"))
      .select(col("l_returnflag"), col("e.x").as("q"), col("e.w").as("cnt"))
      .orderBy("l_returnflag", "q")
  }

  /** q78: ClickHouse moment/regression battery — `simpleLinearRegression
    * (hour, value)`, `corr`, `stddevSamp`, `skewPop`, `kurtPop` (CH parity: m4/sigma^4, NOT
    * excess kurtosis — no −3) and the
    * `-If` combinators (`countIf`/`avgIf`) per event type. All
    * statistics are rational functions of the power sums (n, Σx, Σx²,
    * Σxy, Σy, Σy², Σy³, Σy⁴); the sums are accumulated EXACTLY (value
    * has 2 decimals, so its DECIMAL powers up to y³ are exact; y⁴ is
    * one deterministic IEEE product) and the double-precision formula
    * trees are written token-identically on both sides — so the oracle
    * comparison is bit-tight, with no dependence on either engine's
    * internal streaming-moment order. The sums are plain map-side
    * combinable aggregates: the shuffle carries 8 numbers per group,
    * the ClickHouse-aggregate scale shape. */
  def q78StatsBattery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables(s, dir, "events")
    val h = hour(col("ts")).cast(DecimalType(18, 4))
    val v = col("value").cast(DecimalType(18, 4))
    val sums = e.groupBy(col("event_type")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(h).cast("double").as("sx"),
      sum(h * h).cast("double").as("sxx"),
      sum(h * v).cast("double").as("sxy"),
      sum(v).cast("double").as("sy"),
      sum(v * v).cast("double").as("syy"),
      sum((col("value") * col("value") * col("value"))
        .cast(DecimalType(38, 6))).cast("double").as("sy3"),
      sum(((col("value") * col("value")) * (col("value") * col("value")))
        .cast(DecimalType(38, 8))).cast("double").as("sy4"),
      count(when(col("value") > 100.0d, 1)).cast("double").as("nhi"),
      sum(when(col("value") > 100.0d, v)).cast("double").as("shi"))
    val n = col("n"); val sx = col("sx"); val sxx = col("sxx")
    val sxy = col("sxy"); val sy = col("sy"); val syy = col("syy")
    val sy3 = col("sy3"); val sy4 = col("sy4")
    // named intermediates mirror the oracle's `derived` CTE so both
    // engines evaluate token-identical double expression trees
    val derived = sums
      .withColumn("mu", sy / n)
      .withColumn("varp", syy / n - col("mu") * col("mu"))
      .withColumn("slope_raw",
        (n * sxy - sx * sy) / (n * sxx - sx * sx))
    val mu = col("mu"); val varp = col("varp"); val slope = col("slope_raw")
    derived.select(col("event_type"),
      round(slope, 6).as("slope"),
      round((sy - slope * sx) / n, 6).as("intercept"),
      round((n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr"),
      round(sqrt((syy - sy * sy / n) / (n - lit(1.0d))), 6).as("stddev_samp"),
      round((sy3 / n - lit(3.0d) * mu * (syy / n) + lit(2.0d) * mu * mu * mu) /
        (sqrt(varp) * sqrt(varp) * sqrt(varp)), 6).as("skew_pop"),
      round((sy4 / n - lit(4.0d) * mu * (sy3 / n) +
        lit(6.0d) * mu * mu * (syy / n) - lit(3.0d) * mu * mu * mu * mu) /
        (varp * varp), 6).as("kurt_pop"),
      col("nhi").cast("long").as("cnt_hi"),
      round(col("shi") / col("nhi"), 6).as("avg_hi"))
      .orderBy("event_type")
  }

  /** q82: ClickHouse `entropy` — per-source Shannon entropy (bits) of
    * the language mix ([[graft.operators.CategoricalStats.entropy]]).
    * The raw table is touched once by a combinable count; everything
    * downstream is contingency-sized. */
  def q82Entropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.CategoricalStats
      .entropy(Tables.parallel(s, dir, "documents"), "source", "lang")
      .orderBy("source")

  /** q83: ClickHouse `cramersV`/`theilsU` between lang and source
    * ([[graft.operators.CategoricalStats.association]]) — one
    * contingency pass, broadcast margins, single-row output. */
  def q83Association(s: SparkSession, dir: String): DataFrame =
    graft.operators.CategoricalStats
      .association(Tables.parallel(s, dir, "documents"), "lang", "source")

  /** q84: two-sample test battery click-vs-view over `value`
    * ([[graft.operators.StatTests.battery]]): Welch t, Mann–Whitney U
    * (tie-averaged ranks, exact integer halves), Kolmogorov–Smirnov D
    * (integer-cleared ECDF gap). */
  def q84StatTests(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
    graft.operators.StatTests
      .battery(e, "value", col("event_type") === "click")
  }

  /** q89: ClickHouse `rankCorr` — Spearman correlation of hour-of-day
    * vs value per event type ([[graft.operators.StatTests.rankCorr]]),
    * tie-averaged ranks in exact integer halves. */
  def q89RankCorr(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatTests.rankCorr(
        Tables.parallel(s, dir, "events")
          .withColumn("__hr", hour(col("ts"))),
        "event_type", "__hr", "value")
      .orderBy("event_type")

  /** q90: ClickHouse `quantileExactWeighted` — quarter quantiles of
    * l_extendedprice weighted by quantity per return flag
    * ([[graft.operators.Quantiles.exactWeighted]]); all-integer rank
    * arithmetic, value-grouped before the window so the sort sees the
    * (flag × price)-distinct table, not the rows. */
  def q90WeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.exactWeighted(
        Tables(s, dir, "lineitem")
          .withColumn("__wt", round(col("l_quantity"), 0).cast("long")),
        "l_returnflag", "l_extendedprice", "__wt",
        Seq("w_p25" -> 1, "w_median" -> 2, "w_p75" -> 3))
      .orderBy("l_returnflag")

  /** q93: ClickHouse `categoricalInformationValue` — hour-of-day WoE
    * against the purchase outcome
    * ([[graft.operators.CategoricalStats.informationValue]]); the IV
    * decomposition stays per-category, so the query output has zero
    * cross-row float reductions. */
  def q93InformationValue(s: SparkSession, dir: String): DataFrame =
    graft.operators.CategoricalStats.informationValue(
        Tables.parallel(s, dir, "events").withColumn("hr", hour(col("ts"))),
        "hr", col("event_type") === "purchase")
      .orderBy("hr")

  /** q98: Tukey-fence outlier census per event type over `value`
    * ([[graft.operators.Quantiles.tukeyOutliers]]) — the grouped form
    * of ClickHouse `seriesOutliersDetectTukey`; quartiles ride q29's
    * proven percentile_cont parity surface. */
  def q98TukeyOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.tukeyOutliers(
        Tables.parallel(s, dir, "events"), "event_type", "value")
      .orderBy("event_type")

  /** q99: exact two-feature OLS `value ~ hour + dow` per event type
    * ([[graft.operators.StatTests.ols2]]) — the closed-form
    * deterministic counterpart of ClickHouse
    * `stochasticLinearRegression`, from nine decimal-exact power sums.
    * `dow` is Spark `dayofweek − 1` ≡ DuckDB `dow` (Sunday = 0). */
  def q99Ols(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatTests.ols2(
        Tables.parallel(s, dir, "events"), "event_type",
        hour(col("ts")), dayofweek(col("ts")) - 1, "value")
      .orderBy("event_type")

  val entries: Seq[Query] = Seq(
    Query("q98_tukey_outliers", q98TukeyOutliers,
      """WITH q AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25), 4) AS q1,
        |    round(quantile_cont(value, 0.75), 4) AS q3
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(f.q1) AS q1, max(f.q3) AS q3,
        |  max(f.lo) AS lo_fence, max(f.hi) AS hi_fence,
        |  CAST(count(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 END)
        |    AS BIGINT) AS n_outliers,
        |  min(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END)
        |    AS min_outlier,
        |  max(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END)
        |    AS max_outlier
        |FROM events e JOIN f ON f.event_type = e.event_type
        |WHERE e.value IS NOT NULL
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    Query("q99_ols", q99Ols,
      """WITH s AS (SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(dayofweek(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |      CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(dayofweek(ts) AS DECIMAL(18,4)) *
        |      CAST(dayofweek(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |      CAST(dayofweek(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(hour(ts) AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(CAST(dayofweek(ts) AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS s2y,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS syy
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |d AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
        |      s2 * (s1 * s12 - s11 * s2) AS det
        |  FROM s),
        |b AS (SELECT *,
        |    CASE WHEN abs(det) > 1e-6 THEN
        |      (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
        |       s2 * (s1y * s12 - s11 * s2y)) / det END AS b0r,
        |    CASE WHEN abs(det) > 1e-6 THEN
        |      (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
        |       s2 * (s1 * s2y - s1y * s2)) / det END AS b1r,
        |    CASE WHEN abs(det) > 1e-6 THEN
        |      (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
        |       sy * (s1 * s12 - s11 * s2)) / det END AS b2r
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(b0r, 6) AS b0, round(b1r, 6) AS b1, round(b2r, 6) AS b2,
        |  round(1.0 - (syy - b0r * sy - b1r * s1y - b2r * s2y) /
        |    (syy - sy * sy / n), 6) AS r2
        |FROM b ORDER BY event_type""".stripMargin),
    Query("q93_information_value", q93InformationValue,
      """WITH c AS (SELECT hour(ts) AS hr,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_good,
        |    count(CASE WHEN event_type != 'purchase' THEN 1 END) AS n_bad
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(n_good) AS g, sum(n_bad) AS b FROM c)
        |SELECT hr, CAST(n_good AS BIGINT) AS n_good,
        |  CAST(n_bad AS BIGINT) AS n_bad,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    round(ln((CAST(n_good AS DOUBLE) * CAST(b AS DOUBLE)) /
        |             (CAST(n_bad AS DOUBLE) * CAST(g AS DOUBLE))), 6)
        |  END AS woe,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    round((CAST(n_good AS DOUBLE) / CAST(g AS DOUBLE) -
        |           CAST(n_bad AS DOUBLE) / CAST(b AS DOUBLE)) *
        |          ln((CAST(n_good AS DOUBLE) * CAST(b AS DOUBLE)) /
        |             (CAST(n_bad AS DOUBLE) * CAST(g AS DOUBLE))), 6)
        |  END AS iv_term
        |FROM c CROSS JOIN tot ORDER BY hr""".stripMargin),
    Query("q89_rank_corr", q89RankCorr,
      """WITH e AS (SELECT event_type, hour(ts) AS x, value AS y
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type,
        |        CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY x) +
        |          count(*) OVER (PARTITION BY event_type, x) - 1
        |          AS DECIMAL(38,0)) AS rx,
        |        CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY y) +
        |          count(*) OVER (PARTITION BY event_type, y) - 1
        |          AS DECIMAL(38,0)) AS ry
        |      FROM e),
        |sums AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(rx) AS DOUBLE) AS sx,
        |    CAST(sum(rx * rx) AS DOUBLE) AS sxx,
        |    CAST(sum(rx * ry) AS DOUBLE) AS sxy,
        |    CAST(sum(ry) AS DOUBLE) AS sy,
        |    CAST(sum(ry * ry) AS DOUBLE) AS syy
        |  FROM r GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |         (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rank_corr
        |FROM sums ORDER BY event_type""".stripMargin),
    Query("q90_weighted_quantiles", q90WeightedQuantiles,
      """WITH b AS (SELECT l_returnflag, l_extendedprice AS v,
        |             sum(CAST(round(l_quantity) AS BIGINT)) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, v, w,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |        sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |      FROM b)
        |SELECT l_returnflag,
        |  min(CASE WHEN cumw * 4 >= tot * 1 THEN v END) AS w_p25,
        |  min(CASE WHEN cumw * 4 >= tot * 2 THEN v END) AS w_median,
        |  min(CASE WHEN cumw * 4 >= tot * 3 THEN v END) AS w_p75,
        |  CAST(max(tot) AS BIGINT) AS total_weight
        |FROM r GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
    Query("q82_entropy", q82Entropy,
      """WITH c AS (SELECT source, lang, count(*) AS c
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, c,
        |        CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |          AS DECIMAL(28,12)) AS clnc
        |      FROM c)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  round((ln(CAST(sum(c) AS DOUBLE)) -
        |    CAST(sum(clnc) AS DOUBLE) / CAST(sum(c) AS DOUBLE))
        |    / 0.6931471805599453, 6) AS entropy
        |FROM t GROUP BY 1 ORDER BY source""".stripMargin),
    Query("q83_association", q83Association,
      """WITH cells AS (SELECT lang AS x, source AS y, count(*) AS o
        |               FROM documents GROUP BY 1, 2),
        |rows_ AS (SELECT x, sum(o) AS r FROM cells GROUP BY 1),
        |cols_ AS (SELECT y, sum(o) AS cj FROM cells GROUP BY 1),
        |tot AS (SELECT sum(o) AS n, count(DISTINCT x) AS nx,
        |          count(DISTINCT y) AS ny FROM cells),
        |terms AS (SELECT o,
        |    CAST(CAST(o AS DOUBLE) * CAST(o AS DOUBLE) /
        |      (CAST(r AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,12)) AS chi,
        |    CAST(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE))
        |      AS DECIMAL(28,12)) AS olno
        |  FROM cells JOIN rows_ USING (x) JOIN cols_ USING (y)
        |  CROSS JOIN tot),
        |rsum AS (SELECT CAST(sum(CAST(CAST(r AS DOUBLE) *
        |    ln(CAST(r AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS rlnr
        |  FROM rows_),
        |csum AS (SELECT CAST(sum(CAST(CAST(cj AS DOUBLE) *
        |    ln(CAST(cj AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS clnc
        |  FROM cols_),
        |agg AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |          CAST(max(nx) AS BIGINT) AS n_x,
        |          CAST(max(ny) AS BIGINT) AS n_y,
        |          greatest(CAST(sum(chi) AS DOUBLE) -
        |            CAST(max(n) AS DOUBLE), 0.0) AS chi2,
        |          CAST(sum(olno) AS DOUBLE) AS so
        |        FROM terms CROSS JOIN tot)
        |SELECT n, n_x, n_y, round(chi2, 6) AS chi2,
        |  round(sqrt(chi2 / (CAST(n AS DOUBLE) *
        |    CAST(least(n_x - 1, n_y - 1) AS DOUBLE))), 6) AS cramers_v,
        |  round((ln(CAST(n AS DOUBLE)) - rlnr / CAST(n AS DOUBLE) -
        |         (clnc - so) / CAST(n AS DOUBLE)) /
        |        (ln(CAST(n AS DOUBLE)) - rlnr / CAST(n AS DOUBLE)), 6)
        |    AS theils_u
        |FROM agg CROSS JOIN rsum CROSS JOIN csum""".stripMargin),
    Query("q84_stat_tests", q84StatTests,
      """WITH src AS (SELECT value, event_type = 'click' AS a FROM events
        |             WHERE event_type IN ('click', 'view')
        |               AND value IS NOT NULL),
        |sums AS (SELECT
        |    count(CASE WHEN a THEN 1 END) AS na,
        |    count(CASE WHEN NOT a THEN 1 END) AS nb,
        |    CAST(sum(CASE WHEN a THEN CAST(value AS DECIMAL(18,4)) END)
        |      AS DOUBLE) AS sa,
        |    CAST(sum(CASE WHEN NOT a THEN CAST(value AS DECIMAL(18,4)) END)
        |      AS DOUBLE) AS sb,
        |    CAST(sum(CASE WHEN a THEN CAST(value AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS qa,
        |    CAST(sum(CASE WHEN NOT a THEN CAST(value AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS qb
        |  FROM src),
        |byval AS (SELECT value AS v,
        |    count(CASE WHEN a THEN 1 END) AS ca,
        |    count(CASE WHEN NOT a THEN 1 END) AS cb
        |  FROM src GROUP BY 1),
        |ranked AS (SELECT v, ca, cb,
        |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |    (sum(ca) OVER w + sum(cb) OVER w - ca - cb) * 2 + ca + cb + 1
        |      AS r2
        |  FROM byval
        |  WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |rk AS (SELECT sum(r2 * ca) AS r1x2,
        |         max(abs(cuma * (SELECT nb FROM sums) -
        |                 cumb * (SELECT na FROM sums))) AS ksnum,
        |         (SELECT na FROM sums) * (SELECT nb FROM sums) AS ksden
        |       FROM ranked)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(sa / na, 6) AS mean_a,
        |  round(sb / nb, 6) AS mean_b,
        |  round((sa / na - sb / nb) /
        |    sqrt(((qa - sa * sa / na) / (na - 1)) / na +
        |         ((qb - sb * sb / nb) / (nb - 1)) / nb), 6) AS t_stat,
        |  round(pow(((qa - sa * sa / na) / (na - 1)) / na +
        |            ((qb - sb * sb / nb) / (nb - 1)) / nb, 2.0) /
        |    (pow(((qa - sa * sa / na) / (na - 1)) / na, 2.0) / (na - 1) +
        |     pow(((qb - sb * sb / nb) / (nb - 1)) / nb, 2.0) / (nb - 1)), 6)
        |    AS welch_df,
        |  round(CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0, 6) AS mw_u,
        |  round(CAST(ksnum AS DOUBLE) / CAST(ksden AS DOUBLE), 6) AS ks_d
        |FROM sums CROSS JOIN rk""".stripMargin),
    Query("q77_histogram", q77Histogram,
      """SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_returnflag, q""".stripMargin),
    Query("q78_stats_battery", q78StatsBattery,
      """WITH sums AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |             CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |             CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(value AS DECIMAL(18,4)) *
        |             CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(value * value * value AS DECIMAL(38,6)))
        |      AS DOUBLE) AS sy3,
        |    CAST(sum(CAST((value * value) * (value * value) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS sy4,
        |    CAST(count(CASE WHEN value > 100.0 THEN 1 END) AS DOUBLE) AS nhi,
        |    CAST(sum(CASE WHEN value > 100.0
        |             THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS shi
        |  FROM events GROUP BY event_type),
        |derived AS (
        |  SELECT *, sy / n AS mu,
        |    syy / n - (sy / n) * (sy / n) AS varp,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw
        |  FROM sums)
        |SELECT event_type,
        |  round(slope_raw, 6) AS slope,
        |  round((sy - slope_raw * sx) / n, 6) AS intercept,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr,
        |  round(sqrt((syy - sy * sy / n) / (n - 1.0)), 6) AS stddev_samp,
        |  round((sy3 / n - 3.0 * mu * (syy / n) + 2.0 * mu * mu * mu) /
        |    (sqrt(varp) * sqrt(varp) * sqrt(varp)), 6) AS skew_pop,
        |  round((sy4 / n - 4.0 * mu * (sy3 / n) + 6.0 * mu * mu * (syy / n)
        |    - 3.0 * mu * mu * mu * mu) / (varp * varp), 6) AS kurt_pop,
        |  CAST(nhi AS BIGINT) AS cnt_hi,
        |  round(shi / nhi, 6) AS avg_hi
        |FROM derived ORDER BY event_type""".stripMargin))
}
