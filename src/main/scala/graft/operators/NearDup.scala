package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge

/** Near-duplicate detection over document text at 100 TB scale: banded
  * MinHash-LSH. All-pairs comparison is impossible at scale; the only
  * viable shape is shingle → minhash signature → band buckets →
  * within-bucket candidate join → exact verification of candidates only.
  *
  * Parameters trade recall for candidate volume: catch probability for a
  * pair with Jaccard J is `1 - (1 - J^rows)^bands`. The defaults
  * (32 bands × 2 rows) make missing a J ≥ 0.8 pair essentially impossible
  * (~1e-14) at the cost of more candidates, all of which are removed by
  * the exact-Jaccard filter — the right trade when correctness of the
  * dedup output matters more than candidate volume.
  */
object MinHashLsh {

  private def xxh(seed: Long, c: Column): Column =
    ColumnBridge.col(new XxHash64(Seq(ColumnBridge.expr(c)), seed))

  /** Distinct k-word shingles of a single-spaced text column — one native
    * pass ([[graft.functions.WordShingles]]). */
  def shingles(text: Column, k: Int): Column =
    ColumnBridge.col(graft.functions.WordShingles(ColumnBridge.expr(text), k))

  /** (id, band, bucket) — one row per doc per band. `sig` is the minhash
    * signature column (one native single-pass expression per document —
    * a pure map with NO shuffle) cut into `bands` bucket keys.
    *
    * Deliberately NO pre-filter on empty shingle sets: a `filter` over the
    * signature expression gets predicate-pushed below both the signature
    * projection and any fan-out repartition, so the most expensive per-row
    * work would (a) run twice and (b) run inside the (possibly
    * single-partition) scan stage. Instead the explode input is
    * null-guarded — `explode(when(sig.isNotNull, …))` emits zero rows for
    * empty docs — which keeps the signature evaluated exactly once, in one
    * projection, above the exchange. */
  def bandBuckets(
      docs: DataFrame, id: Column, sig: Column,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // __sig is multi-referenced and non-cheap, so CollapseProject keeps it
    // materialized in its own projection rather than inlining 32 copies.
    val withSig = docs.select(id.as("__id"), sig.as("__sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxh(0L, concat_ws("|",
          (0 until rows).map(r => element_at(col("__sig"), b * rows + r + 1)): _*))
          .as("bucket"))
    }
    withSig
      .select(col("__id"),
        explode(when(col("__sig").isNotNull, array(bandCols: _*))).as("__bb"))
      .select(col("__id"), col("__bb.band").as("__band"), col("__bb.bucket").as("__bucket"))
  }

  /** Candidate id pairs (a < b) sharing at least one band bucket: ONE
    * shuffle of (band, bucket, id) rows, then in-bucket pair expansion
    * ([[graft.functions.SortedPairs]] under
    * [[FilterVerify.expandBuckets]]). A self-join would shuffle the
    * same rows AND execute the whole shingle→signature pipeline twice —
    * this groups once and never recomputes. Pathological mega-buckets
    * (thousands of docs sharing a band slice) are giant near-dup
    * *clusters*; their quadratic pair set is inherent to a pairs output,
    * and the scale answer is cluster-level dedup (first-seen per bucket,
    * q12 shape) rather than pair enumeration. */
  def candidatePairs(buckets: DataFrame): DataFrame =
    FilterVerify.expandBuckets(buckets, Seq(col("__band"), col("__bucket")),
      col("__id"), "MinHashLsh.candidatePairs")(graft.functions.SortedPairs(_))

  /** Exact k-shingle Jaccard of two text columns in one fused native
    * pass ([[graft.functions.ShingleJaccard]]) — the candidate-verify
    * primitive shared by every blocking scheme. */
  def shingleJaccard(a: Column, b: Column, k: Int): Column =
    ColumnBridge.col(graft.functions.ShingleJaccard(
      ColumnBridge.expr(a), ColumnBridge.expr(b), k))

  /** Full pipeline: docs(id, text) → verified near-dup pairs with exact
    * shingle Jaccard ≥ minJaccard. The exact Jaccard is re-derived ONLY
    * for candidate rows after the id joins — the full corpus is shingled
    * exactly once (for signatures); the verify joins move candidate raw
    * text, never corpus-wide shingle arrays, and the per-pair check is
    * one fused expression rather than shingle-array compose-and-divide. */
  def nearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 32,
      minJaccard: Double = 0.8): DataFrame = {
    // shingle+signature is ONE fused per-row expression hashing gram
    // byte-slices in place ([[graft.functions.MinHashTextSignature]] —
    // bit-identical to MinHashSignature∘WordShingles, no gram strings or
    // array materialized); no intermediate filter (see bandBuckets
    // scaladoc: a pre-filter would be pushed below the signature
    // projection and double the hot loop)
    val sig = ColumnBridge.col(graft.functions.MinHashTextSignature(
      ColumnBridge.expr(col(textCol)), shingleK, numHashes))
    val cands = candidatePairs(
      bandBuckets(docs, col(idCol), sig, numHashes, bands))
    FilterVerify.verify(cands, docs, idCol, textCol, "jaccard")(
      shingleJaccard(_, _, shingleK))
      .filter(col("jaccard") >= minJaccard)
  }
}

/** 64-bit SimHash over token/shingle arrays: per-token xxhash64-seed0,
  * per-bit ±1 vote, sign → bit — one native single-pass expression per
  * row ([[graft.functions.SimHash64]]). Near-dup blocking buckets
  * signatures by bit bands and verifies candidates by Hamming distance —
  * the probabilistic blocking makes this a recall/cost dial rather than
  * an exact operator, so its parity pin is unit-level (NearDupSpec).
  */
object SimHash {

  def simhash64(tokens: Column): Column =
    ColumnBridge.col(graft.functions.SimHash64(ColumnBridge.expr(tokens)))

  /** Fused simhash over k-word gram byte slices of the text — see
    * [[graft.functions.SimHashTextSignature]] (signature-equivalent to
    * `simhash64(shingles(text, k))` modulo within-doc 64-bit gram-hash
    * collisions). */
  def simhashText(text: Column, k: Int): Column =
    ColumnBridge.col(graft.functions.SimHashTextSignature(
      ColumnBridge.expr(text), k))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
