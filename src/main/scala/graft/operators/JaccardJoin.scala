package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard threshold self-join — the deterministic sibling
  * of MinHash-LSH ([[MinHashLsh]]): the pre-filters are lossless by
  * construction (recall 1.0 up to 64-bit gram-hash collisions, ~2⁻⁶⁴
  * per gram pair — a collision can shrink one doc's hash-set size and
  * perturb the length filter; there is no LSH-style tunable miss
  * probability), at the cost of candidate volume that grows with
  * `1 - minJaccard` and with gram skew.
  *
  * Shape (prefix-filtered inverted index, after Chaudhuri et al. ICDE'06
  * and Xiao et al. "PPJoin" WWW'08 — public literature, no reference
  * analog; the reference has no similarity joins at all):
  *
  *  1. Per doc, ONE fused pass builds the sorted distinct gram-hash set
  *     ([[graft.functions.SortedGramHashes]]) — 8-byte hashes, never gram
  *     strings.
  *  2. A bounded **stop-gram table** (one map-combined count agg +
  *     sort-limit over 16-byte rows, sized by [[StopGrams]] to cover
  *     every df≥2 gram under an explicit driver-memory budget) steers
  *     PPJoin's rare-first canonical order. The prefix lemma is valid
  *     under ANY consistent total order; rare-first makes prefix
  *     buckets small (hash order ≈ random measured 8× slower on a
  *     931-distinct-bigram skew stress). Below the budget the df≥2
  *     table is broadcast once and the reorder is a pure map; past it
  *     the exact frequency order is computed distributed instead
  *     ([[StopGrams.joinPrefix]], measured ~2.5 s of the 6.6 s cold
  *     query at sf0.1). [[StopGrams.prefix]] makes that choice.
  *  3. **Prefix filter**: a pair with Jaccard ≥ t shares a gram within
  *     the first `n - ceil(t*n) + 1` elements of each doc's ordered gram
  *     set (proof: an intersection of o ≥ ceil(t·n) elements leaves at
  *     most n - o < prefix-length positions before its order-smallest
  *     member, which lies in both prefixes). Only prefix grams are
  *     indexed — at t=0.8 that is ~20% of (gram, id) rows, the rarest
  *     ones.
  *  4. ONE (gram, id, n) shuffle buckets prefix grams; in-bucket pair
  *     expansion and PPJoin's **length filter** (`J ≥ t ⟹ min(|A|,|B|) ≥
  *     t·max(|A|,|B|)`) run fused in one pass
  *     ([[graft.functions.LengthFilteredPairs]] under
  *     [[FilterVerify.expandBuckets]]) — sizes ride the bucket rows as
  *     8 bytes, so no extra corpus scan or join carries them.
  *  5. Candidates join raw text and are verified by the exact fused
  *     [[graft.functions.ShingleJaccard]] ([[FilterVerify.verify]]) —
  *     string-gram-exact, so hash collisions in steps 1-4 can only
  *     perturb candidate pruning, never the reported jaccard.
  *
  * Both pre-filters are relaxed by 1e-9 on t so double rounding can only
  * ADMIT a borderline candidate (the exact verify rejects it), never
  * drop a true pair. The gram pass runs twice (stop-gram branch + index
  * branch) — a deliberate recompute-over-materialize choice: it is a
  * pure map, and checkpointing the exploded gram index at 100 TB costs
  * more than re-scanning.
  */
object JaccardJoin {

  /** docs(id, text) → (id_a, id_b, jaccard) for all pairs with exact
    * k-word-gram Jaccard ≥ minJaccard (id_a < id_b). Building the
    * DataFrame runs ONE bounded Spark job on the common path (the
    * budget-bounded stop-gram collect; a possible truncation adds one
    * count over the cached 16-byte table).
    *
    * `maxStopGrams` defaults to [[StopGrams.Auto]]: the table is sized
    * to cover EVERY df≥2 gram up to `stopGramBudgetBytes` of driver
    * memory, so candidate volume stays data-proportional with no manual
    * dial. Past the budget the Auto path switches to the join-based
    * exact frequency order ([[StopGrams.joinPrefix]], lossless, noted
    * via [[StopGrams.bindSink]]); only an explicit cap smaller than the
    * df≥2 count warns and degrades ([[StopGrams.warnSink]]; 0 = empty
    * table = pure hash order). */
  def nearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minJaccard: Double = 0.8,
      maxStopGrams: Int = StopGrams.Auto,
      stopGramBudgetBytes: Long = StopGrams.DefaultBudgetBytes): DataFrame = {
    // lower bound well above the 1e-9 relaxation so tRelaxed stays
    // positive with a clear message at the API boundary
    require(minJaccard >= 0.01 && minJaccard <= 1.0,
      s"minJaccard must be in [0.01, 1.0], got $minJaccard")
    val tRelaxed = minJaccard - 1e-9
    val tag = "JaccardJoin.nearDupPairs"
    val prefix = StopGrams.prefix(tag, StopGrams.gramSets(docs, idCol,
      textCol, k), tRelaxed, maxStopGrams, stopGramBudgetBytes)()
    val cands = FilterVerify.expandBuckets(prefix, Seq(col("__gram")),
      struct(col("__id"), col("__n")), tag)(
      graft.functions.LengthFilteredPairs(_, tRelaxed))
    FilterVerify.verify(cands, docs, idCol, textCol, "jaccard")(
      MinHashLsh.shingleJaccard(_, _, k))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[nearDupPairs]] over the exact-collapse composition — the
    * Jaccard twin of [[ContainmentJoin.containedPairsCollapsed]]
    * (the same stage-order defense, symmetric on this side): identical
    * empty-crawl pages are J=1.0 pairs of each other, so a class of
    * c·N such docs makes the TRUE pair answer over raw input
    * quadratic (c²·N²/2) and no lossless blocking can return it
    * linearly; collapsing identical bodies to their min-id
    * representative first ([[DedupPipeline.collapseExact]] — the
    * pipeline's 128-bit fingerprint shuffle) restores data-proportional
    * candidates AND output, with pairs emitted over representatives.
    * [[DedupPipeline.corpusVerdict]] is the same composition around
    * the approximate MinHash-LSH path; this is the exact-join form.
    * Gate: q117 (exhaustive oracle replaying plant + collapse). */
  def nearDupPairsCollapsed(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minJaccard: Double = 0.8,
      maxStopGrams: Int = StopGrams.Auto,
      stopGramBudgetBytes: Long = StopGrams.DefaultBudgetBytes): DataFrame =
    nearDupPairs(DedupPipeline.collapseExact(docs, idCol, textCol),
      idCol, textCol, k, minJaccard, maxStopGrams, stopGramBudgetBytes)
}
