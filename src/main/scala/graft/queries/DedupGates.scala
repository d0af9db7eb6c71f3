package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.operators.{ContainmentJoin, JaccardJoin, StopGrams}

/** Adversarial gates for the gram-join dedup operators
  * ([[graft.operators.JaccardJoin]], [[graft.operators.ContainmentJoin]]),
  * each graded against an exhaustive all-pairs DuckDB ground truth, so
  * the blocking layer must stay lossless on its worst input, not merely
  * fast.
  *
  *  - q114/q115, Zipf-hot skew: every earlier pair-quadratic gate
  *    planted near-uniform corpora. These plant the crawl-scale shape:
  *    a fixed boilerplate banner (the "subscribe to our newsletter"
  *    header every page of a scraped site carries) on 10% of all
  *    documents, so each header trigram's document frequency is ~10% of
  *    the corpus — a Zipf head key that makes any frequency-blind
  *    blocking scheme quadratic on the hot grams, while the rare-first
  *    prefix order ([[graft.functions.RarestPrefix]]) pushes the hot
  *    grams out of every probe prefix and keeps candidates near-linear
  *    (sf0.1 → sf1 at 10.25× data: distinct candidates 15.0× vs 52.8×
  *    for the naive all-gram volume; PLANS.md "Skew-adversary
  *    decomposition").
  *  - q116/q117, the boilerplate-only cohort: a doc whose every gram is
  *    hot has no rare gram for the prefix to pick, and identical pages
  *    trivially contain each other, so the true answer over the raw
  *    corpus is itself quadratic. The defense is the pipeline's stage
  *    order ([[graft.operators.ContainmentJoin.containedPairsCollapsed]]):
  *    exact dedup collapses each identical-body class to one
  *    representative in one map-side-combined shuffle before the join
  *    (sf0.1 → sf1 at 10× data: the cohort's candidates grew 9.97×, the
  *    uncollapsed path ~100×). DuckDB replays the plant and the
  *    collapse.
  *  - q118/q119, the stop-gram budget-bind path: a deliberately tiny
  *    `stopGramBudgetBytes` makes the Auto path's df≥2 table outgrow
  *    the budget at every scale factor, so the operator takes
  *    [[graft.operators.StopGrams.joinPrefix]] (the distributed exact
  *    frequency order) end to end. The oracles are q43's and q59's, by
  *    reference: the bind path must reproduce the broadcast path's
  *    answers bit-for-bit.
  *  - q120/q121, bind × skew: the bind path on the q114/q115 corpora,
  *    graded by their oracles. `joinPrefix`'s gram-keyed shuffle join
  *    sends every doc holding a hot gram to one partition; measured
  *    from the executed plan (sf0.1 → sf1): 64 partitions at both
  *    scales, hottest/median row count 1.10 and 1.03, AQE's skew reader
  *    never fired (PLANS.md "Bind×skew decomposition").
  */
object DedupGates {

  /** The boilerplate banner. 12 words → 10 internal trigrams, every
    * one out of the corpus vocabulary, so hotness is exactly the
    * planted 10% and no pre-existing gram's frequency shifts. The
    * Scala literal and [[headerSqlLit]] must stay identical.
    * (r15 ADVICE: the counts were stated 13/11 — the miscount that
    * produced SkewGateSpec's drop(13) body-word bug; [[headerWords]]
    * derives the count so prose and code can't drift again.) */
  private[queries] val header =
    "subscribe to our newsletter for breaking updates and exclusive daily offers now"
  /** Derived word count — the single source for gram arithmetic. The
    * require makes the doc'd 12-word/10-trigram arithmetic (and q114's
    * 9-surviving-grams claim) fail loudly if the banner literal ever
    * drifts, instead of silently invalidating the gates' hotness
    * rationale (the r15 13/11 miscount class). */
  private[queries] val headerWords: Int = header.split(" ").length
  require(headerWords == 12,
    s"banner drifted to $headerWords words - q114/q115/q116 gate " +
      "arithmetic and SkewGateSpec assume 12")
  private val headerSqlLit = s"'$header '"

  private[queries] def withHeader(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 0,
          concat(lit(header + " "), col("text")))
        .otherwise(col("text")).as("text"),
      col("n_chars"))

  private[queries] val headeredSql =
    s"""CASE WHEN doc_id % 10 = 0 THEN $headerSqlLit || text
      |    ELSE text END""".stripMargin

  /** q114's corpus: header-planted documents ∪ perturbed copies of the
    * long ones (drop the first word; +1M ids — the q43 plant, applied
    * AFTER the header so hot docs keep 9 of their 10 hot grams — the
    * drop removes only "subscribe to our" — and the true near-dup
    * pairs ride through the skew). */
  private[graft] def jaccardSkewDocs(s: SparkSession, dir: String): DataFrame = {
    val base = withHeader(Tables.parallel(s, dir, "documents"))
    val perturbed = base.filter(col("n_chars") >= 100)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    base.select("doc_id", "text").unionByName(perturbed)
  }

  private val jaccardSkewSql =
    s"""aug AS (
      |  SELECT doc_id, $headeredSql AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(t, strpos(t, ' ') + 1)
      |  FROM (SELECT doc_id, $headeredSql AS t
      |        FROM documents WHERE n_chars >= 100))""".stripMargin

  /** q114: exact trigram Jaccard self-join over the Zipf-hot corpus —
    * q43's operator and parameters, the adversarial input. The hot
    * grams sort LAST under the rare-first canonical order, so no probe
    * prefix contains one and the header buckets are never pair-expanded
    * ([[graft.operators.JaccardJoin]] step 2-3); the exhaustive oracle
    * proves losslessness, and the r14 sf0.1 → sf1 measurement
    * (175,601 → 2,629,540 distinct candidates at 10.25× data) showed
    * the candidate set stays near-linear. */
  def q114JaccardSkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.JaccardJoin.nearDupPairs(jaccardSkewDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8)

  /** q115's corpus: header-planted documents ∪ head snippets (+4M ids,
    * the q59 plant) that KEEP the header on hot docs — so a hot
    * snippet's gram set is ~2/3 hot grams, the worst honest shape for
    * containment blocking: the index side must still index every hot
    * gram (containment puts no lower bound on |B|'s share), while the
    * probe prefix must stay hot-free for the join to stay linear.
    * Snippets take ≥5 words of the ORIGINAL body (not of the headered
    * text), so every snippet keeps enough doc-specific grams that its
    * only ≥0.9 containment is its own source — the true-pair set stays
    * linear under the plant. */
  private[graft] def containSkewDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val nTake = greatest(lit(5L), floor(size(w) * 35 / 100)).cast("int")
    val snipBody = concat_ws(" ", slice(w, lit(1), nTake))
    val snip = docs.filter(col("n_chars") >= 100)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0,
            concat(lit(header + " "), snipBody))
          .otherwise(snipBody).as("text"))
    withHeader(docs).select("doc_id", "text").unionByName(snip)
  }

  /** q115: asymmetric trigram containment over the Zipf-hot snippet
    * corpus — q59's operator and threshold, the adversarial input.
    * Exhaustive directed all-pairs DuckDB ground truth. */
  def q115ContainmentSkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairs(
      containSkewDocs(s, dir), "doc_id", "text", k = 3,
      minContainment = 0.9)

  /** Banner minus its last word — still every gram hot. */
  private val headerShort =
    header.split(" ").dropRight(1).mkString(" ")
  /** Banner plus one fixed word — 10 of its 11 grams hot
    * (headerLong→banner containment 10/11 = 0.909, banner→headerLong
    * 10/10 = 1.0). The EXACT-0.9 borderline the gate pins is
    * banner→headerShort: 9 of the banner's 10 grams survive the
    * dropped word, 9/10 = 0.90 — dead on the threshold both engines
    * must agree on. (Figures per-variant: banner 12 words = 10
    * trigrams, headerShort 9, headerLong 11 — r16 ADVICE corrected
    * the attribution here.) */
  private val headerLong = header + " today"

  /** q116's corpus: the q115 header-planted base (banner on 10% of
    * docs) ∪ a boilerplate-ONLY cohort (+8M ids, one per doc_id % 20
    * == 0 → 5% of docs, cycling three variants: the banner, banner
    * minus last word, banner + one word). Within a variant every text
    * is IDENTICAL — the empty-crawl-page class. */
  private[graft] def boilerDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val variant = expr("pmod(doc_id div 20, 3)")
    val boiler = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        when(variant === 0, lit(header))
          .when(variant === 1, lit(headerShort))
          .otherwise(lit(headerLong)).as("text"))
    withHeader(docs).select("doc_id", "text").unionByName(boiler)
  }

  /** q116: exact-collapse + containment over the boilerplate cohort —
    * directed pairs over min-id representatives of identical bodies. */
  def q116BoilerplateCollapse(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairsCollapsed(
      boilerDocs(s, dir), "doc_id", "text", k = 3, minContainment = 0.9)

  /** q117: the Jaccard twin over the same corpus — identical pages are
    * J=1.0 pairs (quadratic raw answer), the collapse restores linear;
    * the surviving boilerplate trio itself stays in-answer
    * (banner↔headerShort 9/10 = 0.90, banner↔headerLong 10/11 = 0.909,
    * headerShort↔headerLong 9/11 = 0.818 — all over the 0.8 line,
    * cross-variant structure the oracle must reproduce exactly). */
  def q117JaccardBoilerCollapse(s: SparkSession, dir: String): DataFrame =
    graft.operators.JaccardJoin.nearDupPairsCollapsed(
      boilerDocs(s, dir), "doc_id", "text", k = 3, minJaccard = 0.8)

  /** The q116/q117 plant + collapse as a reusable CTE pair: `raw` =
    * headered base ∪ boilerplate cohort, `aug` = min-id reps of
    * lower/trim-identical bodies (the name [[LlmPipeline
    * .exactJaccardPairsSql]]'s gram CTE reads from). */
  private val boilerCollapsedCte =
    s"""raw AS (
      |  SELECT doc_id, ${headeredSql} AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 8000000,
      |    CASE CAST((doc_id // 20) % 3 AS INT)
      |      WHEN 0 THEN '$header'
      |      WHEN 1 THEN '$headerShort'
      |      ELSE '$headerLong' END
      |  FROM documents WHERE doc_id % 20 = 0),
      |aug AS (
      |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
      |  FROM raw GROUP BY lower(trim(text)))""".stripMargin

  /** 1 KiB = 64 stop-gram entries: bound by construction on every sf
    * (the sf0.01 corpus alone has thousands of df≥2 trigrams), so the
    * gate can never silently fall back to the broadcast fast path. */
  val BindBudgetBytes: Long = 1024L

  /** q118: q43's exact Jaccard self-join, forced through the bind. */
  def q118JaccardBind(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(LlmPipeline.augmentedDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8,
      maxStopGrams = StopGrams.Auto, stopGramBudgetBytes = BindBudgetBytes)

  /** q119: q59's asymmetric containment join, forced through the bind. */
  def q119ContainmentBind(s: SparkSession, dir: String): DataFrame =
    ContainmentJoin.containedPairs(CorpusExtras.snippetCorpus(s, dir),
        "doc_id", "text", k = 3, minContainment = 0.9,
        maxStopGrams = StopGrams.Auto, stopGramBudgetBytes = BindBudgetBytes)
      .orderBy("id_a", "id_b")

  /** q120: q114's Zipf-hot Jaccard self-join forced through the bind
    * (BindBudgetBytes = 1 KiB = 64 stop-gram entries; the
    * skew corpus has thousands of df≥2 trigrams at every sf, so the
    * gate can never silently take the broadcast fast path). */
  def q120JaccardBindSkew(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(jaccardSkewDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8,
      maxStopGrams = StopGrams.Auto,
      stopGramBudgetBytes = BindBudgetBytes)

  /** q121: q115's Zipf-hot asymmetric containment forced through the
    * bind — the worst honest shape (a hot snippet's gram set is ~2/3
    * hot grams and the index side must still index every hot gram). */
  def q121ContainmentBindSkew(s: SparkSession, dir: String): DataFrame =
    ContainmentJoin.containedPairs(containSkewDocs(s, dir),
        "doc_id", "text", k = 3, minContainment = 0.9,
        maxStopGrams = StopGrams.Auto,
        stopGramBudgetBytes = BindBudgetBytes)
      .orderBy("id_a", "id_b")

  /** q114's exhaustive all-pairs ground truth over the Zipf-hot
    * corpus, shared by reference with q120 (the bind path) so the two
    * paths can never be graded against different SQL. */
  private val jaccardSkewOracle =
    LlmPipeline.exactJaccardPairsSql(3, "0.8", jaccardSkewSql)

  /** q115's exhaustive directed all-pairs ground truth over the
    * Zipf-hot snippet corpus, shared by reference with q121. */
  private val containSkewOracle =
      s"""WITH aug AS (
        |  SELECT doc_id, $headeredSql AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000,
        |    CASE WHEN doc_id % 10 = 0 THEN $headerSqlLit ELSE '' END ||
        |    array_to_string(string_split(text, ' ')[1:CAST(greatest(5,
        |      floor(len(string_split(text, ' ')) * 35 / 100)) AS INT)], ' ')
        |  FROM documents WHERE n_chars >= 100),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
        |    AS containment
        |FROM sh2 a JOIN sh2 b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q114_jaccard_skew", q114JaccardSkew, jaccardSkewOracle),
    Query("q115_containment_skew", q115ContainmentSkew, containSkewOracle),
    Query("q117_jaccard_boiler_collapse", q117JaccardBoilerCollapse,
      LlmPipeline.exactJaccardPairsSql(3, "0.8", boilerCollapsedCte)),
    Query("q116_boilerplate_collapse", q116BoilerplateCollapse,
      s"""WITH aug AS (
        |  SELECT doc_id, ${headeredSql} AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 8000000,
        |    CASE CAST((doc_id // 20) % 3 AS INT)
        |      WHEN 0 THEN '$header'
        |      WHEN 1 THEN '$headerShort'
        |      ELSE '$headerLong' END
        |  FROM documents WHERE doc_id % 20 = 0),
        |reps AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
        |  FROM aug GROUP BY lower(trim(text))),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM reps),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
        |    AS containment
        |FROM sh2 a JOIN sh2 b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q118_jaccard_bind", q118JaccardBind, LlmPipeline.jaccardNearDupSql),
    Query("q119_containment_bind", q119ContainmentBind, CorpusExtras.containmentDedupSql),
    Query("q120_jaccard_bind_skew", q120JaccardBindSkew, jaccardSkewOracle),
    Query("q121_containment_bind_skew", q121ContainmentBindSkew, containSkewOracle))
}
