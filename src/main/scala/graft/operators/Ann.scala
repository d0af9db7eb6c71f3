package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set, stream the corpus once, per-group top-k. The baseline and the
  *    verifier for the approximate path.
  *  - [[lshTopK]]: random-hyperplane LSH — bucket corpus and queries by
  *    sign-bit signature bands, join only within buckets, exact re-rank
  *    inside the candidate set. At 100 TB the corpus never self-joins;
  *    the bucket join's shuffle carries (id, bucket) pairs, not vectors
  *    (vectors are re-joined only for the candidate subset).
  */
object Ann {

  /** Cosine similarity of two double-array columns — one fused native
    * loop (deterministic sequential accumulation, zero allocation per
    * row): [[graft.functions.CosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.col(graft.functions.CosineSimilarity(
      ColumnBridge.expr(a), ColumnBridge.expr(b)))

  def toDoubleArray(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-k neighbors for each query row. `queries` must be small
    * (it is broadcast); the corpus is streamed once. Ranking uses the
    * µ-rounded cosine with id tie-breaks so results are stable across
    * float summation environments. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), toDoubleArray(col(vecCol)).as("__v"))
    val q = queries.select(col(idCol).as("q_id"), toDoubleArray(col(vecCol)).as("__q"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("__q"), col("__v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nn_id", "cos")
  }

  /** Hard-negative mining for contrastive training: per query/anchor,
    * the top-`k` most-similar corpus vectors whose µ-rounded cosine is
    * STRICTLY BELOW `maxCos` — similar enough to be informative,
    * excluded when so close they are near-duplicates/positives (the
    * standard "semi-hard" band's upper cut; compose with a near-dup
    * verdict table for id-level exclusions). Same scan shape as
    * [[bruteForceTopK]]: queries broadcast, corpus streamed once; swap
    * in the IVF/PQ probe for the 100 TB path. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, maxCos: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("neg_id"),
      toDoubleArray(col(vecCol)).as("__v"))
    val q = queries.select(col(idCol).as("q_id"), toDoubleArray(col(vecCol)).as("__q"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neg_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("__q"), col("__v")), 6))
      .filter(col("cos") < maxCos)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neg_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "neg_id", "cos")
  }

  /** Sign-bit signature of a double-array column under `nPlanes`
    * deterministic pseudo-random hyperplanes — one native fused pass
    * ([[graft.functions.HyperplaneSignature]]; plane p's weight for
    * dimension d is xxhash64(d, seed=p) mapped into [-1, 1)). */
  def hyperplaneSignature(vec: Column, nPlanes: Int): Column =
    ColumnBridge.col(graft.functions.HyperplaneSignature(
      ColumnBridge.expr(vec), nPlanes))

  /** Approximate top-k: signature bands → bucket join → exact re-rank of
    * candidates. Bands of `bandBits` bits each; a candidate must share at
    * least one full band with the query. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 16, bandBits: Int = 2): DataFrame = {
    require(nPlanes % bandBits == 0)
    val nBands = nPlanes / bandBits
    val mask = (1L << bandBits) - 1

    def withBands(df: DataFrame, id: String): DataFrame = {
      // signature materialized ONCE per row in its own projection — the
      // multi-referenced non-cheap alias is not collapsed into the band
      // structs (inlining it would recompute the signature per band)
      val bands = (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("__sig"), b * bandBits).bitwiseAND(lit(mask)).as("key"))
      }
      df.select(col(idCol).as(id), toDoubleArray(col(vecCol)).as(s"__v_$id"))
        .withColumn("__sig", hyperplaneSignature(col(s"__v_$id"), nPlanes))
        .filter(col("__sig").isNotNull) // empty vectors have no signature
        .withColumn("__band", explode(array(bands: _*)))
        .select(col(id), col(s"__v_$id"), col("__band.band").as("__b"),
          col("__band.key").as("__k"))
    }

    val cb = withBands(corpus, "nn_id")
    val qb = withBands(queries, "q_id")
    val joined = cb.as("c").join(broadcast(qb.as("q")),
        expr("c.__b = q.__b AND c.__k = q.__k") && col("c.nn_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("c.nn_id").as("nn_id"),
        col("q.__v_q_id").as("__q"), col("c.__v_nn_id").as("__v"))
      .dropDuplicates("q_id", "nn_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    joined
      .withColumn("cos", round(cosine(col("__q"), col("__v")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nn_id", "cos")
  }

  /** Embedding near-dup pairs WITHOUT a blocking label: hyperplane-LSH
    * over the whole corpus — the scale path next to the label-blocked
    * variant (q25), which degenerates quadratically when labels are
    * absent or huge. Signature bands bucket the corpus exactly like the
    * MinHash pipeline (ONE shuffle of (band, bucket, id); vectors join
    * back only for candidate pairs), then candidates verify by exact
    * cosine.
    *
    * Recall: exactly-parallel duplicates (scaled copies — scaling is
    * exact in binary FP, so every dot product keeps its sign) have
    * IDENTICAL signatures and share every band: guaranteed candidates.
    * Near-parallel pairs at cos ≥ 0.999 miss a 16-bit band only when a
    * hyperplane splits them (≈0.0046/plane ⇒ ≥1 clean band of 4 w.p.
    * ~0.99998). */
  def embedNearDupLsh(
      corpus: DataFrame, idCol: String, vecCol: String,
      minCos: Double, nPlanes: Int = 64, bandBits: Int = 16): DataFrame = {
    require(nPlanes % bandBits == 0 && nPlanes <= 64)
    val nBands = nPlanes / bandBits
    val mask = (1L << bandBits) - 1
    // signature materialized once per row in its own projection
    val sigs = corpus.select(col(idCol).as("__id"),
        hyperplaneSignature(toDoubleArray(col(vecCol)), nPlanes).as("__sig"))
      .filter(col("__sig").isNotNull) // empty vectors have no signature
    val bands = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__sig"), b * bandBits).bitwiseAND(lit(mask)).as("bucket"))
    }
    val buckets = sigs
      .select(col("__id"), explode(array(bands: _*)).as("__bb"))
      .select(col("__id"), col("__bb.band").as("__band"),
        col("__bb.bucket").as("__bucket"))
    FilterVerify.verify(MinHashLsh.candidatePairs(buckets), corpus, idCol,
      vecCol, "cos")((a, b) =>
      round(cosine(toDoubleArray(a), toDoubleArray(b)), 6))
      .filter(col("cos") >= minCos)
  }

  /** Top-`nProbe` nearest-centroid indices — the IVF coarse quantizer
    * ([[graft.functions.NearestCells]], a plan-constant map). */
  def nearestCells(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    ColumnBridge.col(graft.functions.NearestCells(
      ColumnBridge.expr(vec), centroids, nProbe))

  /** K-means centroids for the IVF index, trained FAISS-style on a
    * bounded deterministic sample (hash-ordered `TakeOrderedAndProject`
    * — per-partition top-n, no full sort) rather than the full corpus:
    * at 100 TB, full-corpus Lloyd is wasted work since centroid quality
    * saturates at a few hundred samples per cell. Initialization is the
    * first `nCells` sample rows in hash order; each Lloyd iteration is
    * distributed (assign = map with plan-constant centroids; recompute
    * = posexplode → per-(cell, dim) mean) and only the nCells × dim
    * means are collected. Means are accumulated in DECIMAL so they are
    * partition-order-independent → training is fully deterministic. */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 2, sampleN: Int = 2048): Seq[Seq[Double]] = {
    val seed = 0x19F1L
    // the hash rides the sample as a column so initialization can be
    // re-derived from the materialized sample itself (one tiny
    // TakeOrdered job) instead of a second corpus-wide TakeOrdered pass
    val samp = graft.Tables.localCheckpointWide(corpus
      .select(col(idCol).as("__id"), toDoubleArray(col(vecCol)).as("__v"),
        ColumnBridge.col(new XxHash64(
          Seq(ColumnBridge.expr(col(idCol))), seed)).as("__h"))
      .orderBy(col("__h"))
      .limit(sampleN))
    // localCheckpointWide, not cache: the cached TakeOrdered
    // sample materialized as ONE partition, so every Lloyd iteration's
    // assign+mean job ran single-task (q47 stage profile: two ~0.5 s
    // one-task stages on a 3.7 s row; the sf1 probe pegged
    // centroid_train at ~6.4 of 8.7 s). The respread spreads the
    // sample across the session's parallelism once; the decimal mean
    // accumulation is partition-order-independent, so centroids are
    // bit-identical to the serial run.
    var cents: Seq[Seq[Double]] =
      samp.orderBy(col("__h")).limit(nCells).select(col("__v"))
        .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    for (_ <- 1 to iters) {
      val meanRows = samp
        .select(element_at(nearestCells(col("__v"), cents, 1), 1).as("__cell"),
          posexplode(col("__v")).as(Seq("__pos", "__x")))
        // a sampled vector with no defined cosine to any centroid (zero
        // norm, mismatched dims) has a null cell — it must not join any
        // mean (and would NPE the driver-side getInt below)
        .filter(col("__cell").isNotNull)
        .groupBy("__cell", "__pos")
        // decimal accumulation: double sums depend on partition merge
        // order; decimal ones don't, so centroids are reproducible
        .agg((sum(col("__x").cast("decimal(28,12)")) / count(lit(1)))
          .cast("double").as("__m"))
        .collect()
      val byCell = meanRows.groupBy(_.getInt(0))
      cents = cents.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
          case None => cents(c) // empty cell keeps its centroid
        }
      }
    }
    // the checkpointed sample's blocks are released by the callers'
    // standard between-query leftover release (Bench/Verify);
    // nothing to unpersist here — localCheckpoint blocks cannot be
    // dropped while derived plans might still re-execute
    cents
  }

  /** IVF approximate top-k: train a coarse quantizer on a sample, assign
    * every corpus vector to its nearest cell (pure map — the 100 TB
    * analog is [[writeIvfIndex]]: the corpus written bucketed by
    * `__cell` once and reused across queries), probe each query's
    * `nProbe` nearest cells, and exact-re-rank only the probed cells'
    * vectors. The probe join broadcasts (query × nProbe) rows — the
    * corpus is never shuffled; the only corpus-wide work is one scan.
    * Recall is tuned by nCells/nProbe (AnnSpec pins recall@10 vs
    * [[bruteForceTopK]]). */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      iters: Int = 2, sampleN: Int = 2048): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nCells, iters, sampleN)
    val c = corpus
      .select(col(idCol).as("nn_id"), toDoubleArray(col(vecCol)).as("__v"))
      .withColumn("__cell", element_at(nearestCells(col("__v"), cents, 1), 1))
    val q = queries
      .select(col(idCol).as("q_id"), toDoubleArray(col(vecCol)).as("__q"))
      .withColumn("__probe", explode(nearestCells(col("__q"), cents, nProbe)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    c.join(broadcast(q),
        col("__cell") === col("__probe") && col("nn_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("__q"), col("__v")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nn_id", "cos")
  }

  /** Persist the corpus as an IVF index: one pass assigns cells, the
    * data lands parquet-partitioned by `__cell` (a directory per cell),
    * and the trained centroids are stored alongside. This is the 100 TB
    * deployment shape the one-shot [[ivfTopK]] scaladoc promises: index
    * once, then every search reads ONLY the probed cells' directories —
    * the scan cost per query batch is `nProbe / nCells` of the corpus,
    * enforced by partition pruning rather than trust. */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16, iters: Int = 2, sampleN: Int = 2048): Unit = {
    val spark = corpus.sparkSession
    val cents = trainCentroids(corpus, idCol, vecCol, nCells, iters, sampleN)
    corpus
      .select(col(idCol).as("nn_id"), toDoubleArray(col(vecCol)).as("vec"))
      .withColumn("__cell", element_at(nearestCells(col("vec"), cents, 1), 1))
      .write.partitionBy("__cell").mode("overwrite").parquet(s"$path/data")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Search a persisted IVF index. The probed cells are resolved
    * driver-side from the (tiny) stored centroid table, so the corpus
    * scan carries a LITERAL `__cell IN (…)` predicate — Catalyst prunes
    * the non-probed partition directories before any I/O (visible as
    * `PartitionFilters` on the scan; AnnSpec asserts it). Queries then
    * broadcast exactly as in [[ivfTopK]]. */
  def searchIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val cents: Seq[Seq[Double]] = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val q = queries
      .select(col(idCol).as("q_id"), toDoubleArray(col(vecCol)).as("__q"))
      .withColumn("__probe", explode(nearestCells(col("__q"), cents, nProbe)))
    // literal probe set: union of all queries' probed cells (queries are
    // a small set by contract — they broadcast)
    val probed = q.select("__probe").distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(s"$path/data")
      .filter(col("__cell").isin(probed.map(Integer.valueOf): _*))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    c.join(broadcast(q),
        col("__cell") === col("__probe") && col("nn_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("__q"), col("vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nn_id", "cos")
  }
}
