package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge

/** Asymmetric k-gram containment self-join — doc-in-doc detection
  * (quotes, snippets, boilerplate inclusions: the near-dup family's
  * blind spot, since Jaccard of a snippet against its source is only
  * ~|snippet|/|source|). Emits directed pairs (id_a, id_b) with
  * `|g(A) ∩ g(B)| / |g(A)| ≥ t`, A ≠ B.
  *
  * Shape (prefix filter on the PROBE side only):
  *
  *  1. One fused pass per doc builds the sorted distinct gram-hash set
  *     ([[graft.functions.SortedGramHashes]]); 8-byte hashes on the
  *     wire throughout.
  *  2. Containment ≥ t needs |g(A) ∩ g(B)| ≥ ceil(t·|A|), so dropping
  *     any |A| − ceil(t·|A|) grams of A still leaves a shared gram: A's
  *     prefix under the rare-first order is the same
  *     `n − ceil(t·n) + 1` formula as PPJoin's — [[graft.functions
  *     .RarestPrefix]] is reused verbatim (the lemma only needs a
  *     globally consistent order, and rare-first keeps probe buckets
  *     small).
  *  3. The INDEX side has no symmetric prefix: containment puts no
  *     lower bound on |B|'s share of its own grams, so B must index
  *     ALL its grams — the full inverted index is the honest
  *     data-proportional cost (same shape as the contamination gram
  *     index), one (gram, id, n) explode, no text.
  *  4. The only sound size filter is one-directional: ∩ ≤ |B| forces
  *     |B| ≥ t·|A| (relaxed by 1e-9 so double rounding only ADMITS).
  *     Applied inside the bucket join; candidates then distinct.
  *  5. Text joined for candidates only, verified by the string-gram-exact
  *     [[graft.functions.ShingleContainment]] ([[FilterVerify.verify]]).
  */
object ContainmentJoin {

  /** docs(id, text) → (id_a, id_b, containment): directed pairs where
    * A's gram set is ≥ minContainment covered by B's.
    *
    * `maxStopGrams` defaults to [[StopGrams.Auto]]: the stop-gram
    * table covers every df≥2 gram up to `stopGramBudgetBytes` of
    * driver memory, so probe-prefix candidate volume stays
    * data-proportional with no manual dial. Past the budget the Auto
    * path switches to the join-based exact frequency order
    * ([[StopGrams.joinPrefix]], lossless); only explicit caps warn and
    * degrade. */
  def containedPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minContainment: Double = 0.9,
      maxStopGrams: Int = StopGrams.Auto,
      stopGramBudgetBytes: Long = StopGrams.DefaultBudgetBytes): DataFrame = {
    require(minContainment >= 0.01 && minContainment <= 1.0,
      s"minContainment must be in [0.01, 1.0], got $minContainment")
    val tRelaxed = minContainment - 1e-9
    val tag = "ContainmentJoin.containedPairs"
    val g = StopGrams.gramSets(docs, idCol, textCol, k)
    // The hot-bucket census: this path's buckets are join-implicit
    // (probe prefix × full index per gram, never collected as arrays),
    // but the stop-gram collect already holds every shared gram's
    // index-side population in descending order, so its head feeds the
    // warning sink with no extra job on the common path. When the
    // capped collect is ENTIRELY hot (hot.length == bound), the true
    // threshold-passing count is unknowable from it and one count over
    // the still-cached (gram, df) table recovers it: recordCensus takes
    // the TRUE hits figure, and that corner is exactly the heavily
    // skewed corpus the census exists for.
    val probe = StopGrams.prefix(tag, g, tRelaxed, maxStopGrams,
        stopGramBudgetBytes) { (rows, bound, cached) =>
      val hot = rows.takeWhile(
        _.getLong(1) >= graft.functions.SkewWarn.threshold)
      val hotTotal =
        if (hot.nonEmpty && hot.length == bound)
          cached
            .filter(col("__df") >= graft.functions.SkewWarn.threshold)
            .count()
        else hot.length.toLong
      hot.take(5).reverseIterator.foreach(r =>
        graft.functions.SkewWarn.recordCensus(tag, r.getLong(1), hotTotal))
    }.select(col("__id").as("id_a"), col("__n").as("__na"), col("__gram"))
    val index = StopGrams.gramRows(g, col("__g"))
      .select(col("__id").as("id_b"), col("__n").as("__nb"), col("__gram"))
    val cands = probe.join(index, "__gram")
      .filter(col("id_a") =!= col("id_b") &&
        col("__nb").cast("double") >= col("__na") * tRelaxed)
      .select("id_a", "id_b")
      .distinct()
    FilterVerify.verify(cands, docs, idCol, textCol, "containment")(
      (a, b) => ColumnBridge.col(graft.functions.ShingleContainment(
        ColumnBridge.expr(a), ColumnBridge.expr(b), k)))
      .filter(col("containment") >= minContainment)
  }

  /** [[containedPairs]] over the exact-collapse composition: identical
    * bodies (lower/trim fingerprint, the
    * [[DedupPipeline]] normalization) collapse to their min-id
    * representative BEFORE the gram join, and pairs are emitted over
    * representatives only.
    *
    * Why this exists as product code: the standalone gram join's worst
    * honest adversary is the boilerplate-ONLY document class — empty
    * crawl pages whose every gram is hot. Their probe prefix CANNOT
    * avoid hot grams (there are no others), so each such doc joins the
    * full hot index bucket: c·N boilerplate docs against a header
    * carried by 10% of the corpus is c·0.1·N² candidate pairs — and
    * since identical docs trivially contain each other, the TRUE
    * directed-pair answer over the raw corpus is itself quadratic
    * (c²·N²), so no blocking scheme can return it linearly. The honest
    * fix is the pipeline's own stage order ([[DedupPipeline]]): exact
    * dedup first — ONE fingerprint-keyed shuffle with map-side partial
    * aggregation, duplicate bodies combine before the wire — then the
    * near/containment stage sees each distinct body once, every
    * identical-text class probes the index exactly once, and both the
    * candidate volume AND the output return to data-proportional.
    * Measured sf0.1 → sf1 (10× data): collapsed cohort-probe
    * candidates grew 9.97× where the raw path grew 100.1× (PLANS.md
    * "Skew-adversary decomposition"); the exhaustive-oracle gate is
    * q116.
    *
    * The collapse is [[DedupPipeline.collapseExact]] — the pipeline's
    * own exact stage (one 128-bit-fingerprint shuffle, survivors
    * localCheckpointed because this join consumes them three times:
    * gram table + probe/index builds + two text joins). */
  def containedPairsCollapsed(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minContainment: Double = 0.9,
      maxStopGrams: Int = StopGrams.Auto,
      stopGramBudgetBytes: Long = StopGrams.DefaultBudgetBytes): DataFrame =
    containedPairs(DedupPipeline.collapseExact(docs, idCol, textCol),
      idCol, textCol, k, minContainment, maxStopGrams, stopGramBudgetBytes)
}
