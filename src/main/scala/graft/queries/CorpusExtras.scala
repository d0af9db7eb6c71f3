package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.SparkEntry.oracleInputDir
import graft.functions.ColumnBridge

/** Corpus operators beside [[LlmPipeline]]: text canonicalization
  * (q57), sketched heavy hitters (q58), asymmetric containment (q59)
  * and edit-distance (q75) dedup, hybrid retrieval (q85),
  * temperature mixing (q96), hard-negative mining (q97) and
  * quality-aware cluster dedup (q105). Same conventions as
  * [[LlmPipeline]]: shared literals between Spark and oracle SQL,
  * read-back oracles where a sketch's content is run-dependent. */
object CorpusExtras {

  /** q57's unicode plant, keyed by doc_id % 4: decomposed accents (NFC
    * composes), compatibility-composed U+212B (NFC maps to U+00C5),
    * C0 controls (stripped), and whitespace runs (collapsed). The
    * Scala literals and the oracle's chr() concatenations must stay
    * character-for-character identical. */
  private def plantedText = concat(col("text"),
    when(pmod(col("doc_id"), lit(4)) === 0,
        lit("  Cafe\u0301 \u0007du\u000B monde "))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        lit("\t\u212B Angstro\u0308m"))
      .when(pmod(col("doc_id"), lit(4)) === 2, lit(" already clean "))
      .otherwise(lit("A\u030A\u0001end")))

  // NOTE: no line may START with "||" — this fragment is re-embedded in
  // a stripMargin template, which would eat the first pipe
  private val plantedSql =
    """text || CASE
      |    WHEN doc_id % 4 = 0 THEN '  Cafe' || chr(769) || ' ' || chr(7) ||
      |      'du' || chr(11) || ' monde '
      |    WHEN doc_id % 4 = 1 THEN chr(9) || chr(8491) || ' Angstro' ||
      |      chr(776) || 'm'
      |    WHEN doc_id % 4 = 2 THEN ' already clean '
      |    ELSE 'A' || chr(778) || chr(1) || 'end' END""".stripMargin

  /** q57: corpus text canonicalization
    * ([[graft.functions.NormalizeText]]): control strip → NFC →
    * whitespace collapse → trim, one native codegen pass. Pure map —
    * no shuffle; the plant makes every branch observable on an
    * otherwise-ASCII corpus. */
  def q57TextNormalize(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "documents")
      .select(col("doc_id"),
        ColumnBridge.col(graft.functions.NormalizeText(
          ColumnBridge.expr(plantedText))).as("norm_text"))
      .orderBy("doc_id")
  }

  /** q58: sketched heavy hitters over word bigrams — ClickHouse `topK`
    * (SpaceSaving) as a [[graft.functions.SpaceSavingTopK]] typed
    * imperative aggregate: per-partition summaries of `capacity`
    * counters, one tiny merge at the driver-side reduce — the shape
    * that holds when the corpus has 10^12 grams but the answer is 20
    * rows. capacity=128 < the ~916-bigram vocabulary, so evictions and
    * truncating merges are genuinely exercised at every SF. The sketch
    * content is merge-order dependent, so the oracle reads the result
    * back and re-checks the SpaceSaving invariant (est − err ≤ exact ≤
    * est, term must exist) against exact DuckDB counts — any violated
    * row is filtered out and fails the hash compare. */
  def q58TopkSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val grams = docs
      .select(split(col("text"), " ").as("__w"))
      .select(explode(when(size(col("__w")) >= 2,
        expr("transform(sequence(0, size(__w) - 2), " +
          "i -> concat_ws(' ', __w[i], __w[i + 1]))"))).as("gram"))
    val sk = grams.agg(ColumnBridge.col(
      graft.functions.SpaceSavingTopK(
        ColumnBridge.expr(col("gram")), capacity = 128)
        .toAggregateExpression()).as("__sk"))
    sk.select(posexplode(slice(col("__sk"), 1, 20)).as(Seq("__i", "__c")))
      .select((col("__i") + 1).cast("long").as("rank"),
        col("__c.term").as("term"), col("__c.est").as("est"),
        col("__c.err").as("err"))
      .orderBy("rank")
  }

  /** q59's corpus: documents ∪ a 35% head snippet of every long doc
    * (+4M ids) — planted doc-in-doc inclusions that Jaccard dedup
    * (q18/q43, scoring ~0.35 here) can never flag. Word arithmetic is
    * integer-exact and mirrored by the oracle. */
  private[graft] def snippetCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val nTake = greatest(lit(5L), floor(size(w) * 35 / 100)).cast("int")
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("n_chars") >= 100)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat_ws(" ", slice(w, lit(1), nTake)).as("text")))
  }

  /** q59: asymmetric containment self-join
    * ([[graft.operators.ContainmentJoin]]) — directed doc-in-doc pairs
    * at trigram containment ≥ 0.9. Exhaustive all-pairs DuckDB ground
    * truth (the q43 pattern): the lossless probe-prefix blocking must
    * reproduce it exactly. */
  def q59ContainmentDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairs(
        snippetCorpus(s, dir), "doc_id", "text", k = 3, minContainment = 0.9)
      .orderBy("id_a", "id_b")

  /** q75's threshold: planted near-dup doc pairs sit at head edit
    * distance <= 4 while unrelated word-salad pairs start at ~37
    * (measured at sf0.01) — 8 keeps a wide margin on both sides. */
  val editDistMax = 8
  val editHeadChars = 80

  /** q75: exact edit-distance self-join over fixed-length document
    * heads ([[graft.operators.EditDistanceJoin]], Pass-Join pigeonhole
    * blocking) — the character-level near-dup detector that catches
    * small in-place edits Jaccard shingles over-penalize. Candidates
    * come from a complete segment/window hash join; only candidate
    * pairs run the banded Levenshtein. The oracle is the brute-force
    * all-pairs scan (fine at sf0.01; the operator exists precisely so
    * the corpus never pays that quadratic cost). */
  def q75EditDistJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
      .filter(col("n_chars") >= editHeadChars)
      .select(col("doc_id"),
        substring(col("text"), 1, editHeadChars).as("head"))
    graft.operators.EditDistanceJoin
      .selfJoin(docs, "doc_id", "head", editDistMax)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** q85's fixture: seed docs for more-like-this, spanning the id
    * range; pool 50 candidates per ranker, fuse to top 10. */
  val rrfSeeds = Seq(0L, 7L, 42L)
  val rrfPoolK = 50
  val rrfK = 10

  /** q85: hybrid retrieval ([[graft.operators.HybridRetrieval]]) —
    * dense exact-cosine ranking over `embeddings` fused with sparse
    * word-set-Jaccard ranking over `documents` by Reciprocal Rank
    * Fusion (k₀=60). Rank-only fusion: the fused score is a sum of
    * exact small-integer rationals, so determinism needs no float
    * discipline beyond the rankers' own µ-rounding. */
  def q85HybridRrf(s: SparkSession, dir: String): DataFrame =
    graft.operators.HybridRetrieval.moreLikeThis(
        Tables.parallel(s, dir, "documents"), "doc_id", "text",
        Tables.parallel(s, dir, "embeddings"), "vec_id", "embedding",
        rrfSeeds, k = rrfK, poolK = rrfPoolK)
      .orderBy("q_id", "rank")

  /** q96's temperature: α=0.5 — strong rebalancing toward uniform
    * while keeping the natural ordering of source sizes. */
  val mixAlpha = 0.5

  /** q96: temperature-balanced corpus mixing
    * ([[graft.operators.CorpusMix.temperatureWeights]] → `mix`) — the
    * multilingual/source-balancing flow: α-sampling weights derived
    * from the corpus's own source counts, fanned out by q39's
    * deterministic bucket rule. Output: per source, the original and
    * realized doc counts plus the derived weight. */
  def q96TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusMix
    val docs = Tables.parallel(s, dir, "documents")
    val weights = CorpusMix.temperatureWeights(docs, "source", mixAlpha)
    val mixed = CorpusMix.mix(docs, weights, "source",
      bucket = col("doc_id") % 1000, buckets = 1000)
    val orig = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    mixed.groupBy(col("source")).agg(count(lit(1)).as("n_mixed"))
      .join(orig, "source")
      .join(weights.select(col("source"),
        round(col("weight"), 6).as("weight")), "source")
      .select("source", "n_orig", "n_mixed", "weight")
      .orderBy("source")
  }

  /** q97's band: exclude µ-rounded cosine ≥ 0.98 (the planted near-dup
    * pairs sit ≥ 0.999; a margin below keeps the cut decisive), top-5
    * negatives for the 10 q19 anchor vectors. */
  val negMaxCos = 0.98
  val negK = 5

  /** q97: hard-negative mining ([[graft.operators.Ann.hardNegatives]])
    * — per anchor, the most-similar vectors BELOW the near-duplicate
    * band: the contrastive-training sampler (semi-hard upper cut).
    * Exhaustive q19-style oracle with the same strict-< filter. */
  def q97HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    graft.operators.Ann.hardNegatives(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = negK, maxCos = negMaxCos)
      .orderBy("q_id", "rank")
  }

  /** q105: quality-aware cluster dedup — keep, per q18/q32 near-dup
    * component, the LONGEST member (priority = strlen(text), ties to
    * the smallest id) instead of q32's min-id representative
    * ([[graft.operators.ClusterDedup.dedupKeepBest]]). The oracle
    * recomputes the exhaustive pair graph, the exact transitive
    * closure (q32's recursive CTE), and the per-component argmax —
    * a fully independent check that the right member of every cluster
    * survives. Output: the surviving docs (id, n_chars). Gate note:
    * the exhaustive all-pairs + closure oracle is DuckDB-expensive —
    * compare runs at sf0.01 (green); at sf0.1 the engine
    * side is sanity-pinned by the survivor ratio (4756 of ~9.9 K aug
    * docs, matching sf0.01's 476 of ~990) — the q32 oracle class. */
  def q105KeepBestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = LlmPipeline.augmentedDocs(s, dir)
      .select(col("doc_id"), length(col("text")).as("n"))
    val pairs = LlmPipeline.q18MinhashNearDup(s, dir).select("id_a", "id_b")
    graft.operators.ClusterDedup.dedupKeepBest(docs, pairs, "doc_id",
        col("n"))
      .select(col("doc_id"), col("n").cast("long").as("n"))
      .orderBy("doc_id")
  }

  /** The directed 3-gram containment ≥ 0.9 ground truth over q59's
    * snippet corpus: q59's oracle, and q119's (the stop-gram bind
    * path). */
  private[queries] val containmentDedupSql =
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000,
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
    Query("q57_text_normalize", q57TextNormalize,
      s"""SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(regexp_replace(
        |    $plantedSql,
        |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
        |    '[ \\t\\n\\r]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q58_topk_sketch", q58TopkSketch,
      s"""WITH r AS (SELECT * FROM read_parquet('$oracleInputDir/q58_topk_sketch.parquet/*.parquet')),
        |w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT w[i] || ' ' || w[i + 1] AS term
        |      FROM w, UNNEST(generate_series(1, len(w) - 1)) t(i)),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS c
        |       FROM g GROUP BY 1)
        |SELECT r.rank, r.term, r.est, r.err
        |FROM r JOIN ex USING (term)
        |WHERE r.est >= ex.c AND r.est - r.err <= ex.c
        |ORDER BY r.rank""".stripMargin, readBack = true),
    Query("q59_containment_dedup", q59ContainmentDedup, containmentDedupSql),
    Query("q97_hard_negatives", q97HardNegatives,
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neg_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings),
        |scored AS (
        |  SELECT q_id, neg_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q CROSS JOIN c WHERE neg_id != q_id),
        |banded AS (SELECT * FROM scored WHERE cos < $negMaxCos),
        |ranked AS (
        |  SELECT q_id, neg_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, neg_id ASC) AS INTEGER) AS rank
        |  FROM banded)
        |SELECT q_id, rank, neg_id, cos FROM ranked
        |WHERE rank <= $negK ORDER BY q_id, rank""".stripMargin),
    Query("q96_temperature_mix", q96TemperatureMix,
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS bign FROM c),
        |sp AS (SELECT CAST(sum(CAST(
        |    pow(CAST(n AS DOUBLE) / CAST(bign AS DOUBLE), $mixAlpha)
        |    AS DECIMAL(28,12))) AS DOUBLE) AS s
        |  FROM c CROSS JOIN tot),
        |w AS (SELECT source, n,
        |    pow(CAST(n AS DOUBLE) / CAST(bign AS DOUBLE), $mixAlpha) / s
        |      * CAST(bign AS DOUBLE) / CAST(n AS DOUBLE) AS w
        |  FROM c CROSS JOIN tot CROSS JOIN sp),
        |m AS (SELECT d.source,
        |    CAST(floor(w.w) AS BIGINT) +
        |      CASE WHEN d.doc_id % 1000 < (w.w - floor(w.w)) * 1000
        |        THEN 1 ELSE 0 END AS nc
        |  FROM documents d JOIN w ON w.source = d.source)
        |SELECT w.source, CAST(w.n AS BIGINT) AS n_orig,
        |  CAST(mm.n_mixed AS BIGINT) AS n_mixed,
        |  round(w.w, 6) AS weight
        |FROM w JOIN (SELECT source, sum(nc) AS n_mixed FROM m GROUP BY 1) mm
        |  ON mm.source = w.source
        |WHERE mm.n_mixed > 0
        |ORDER BY w.source""".stripMargin),
    Query("q85_hybrid_rrf", q85HybridRrf, {
      val seedList = rrfSeeds.mkString(", ")
      s"""WITH qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |            FROM embeddings WHERE vec_id IN ($seedList)),
        |c AS (SELECT vec_id AS nn_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings),
        |dsc AS (SELECT q_id, nn_id AS doc_id,
        |          round(list_cosine_similarity(qv, cv), 6) AS cos
        |        FROM qv CROSS JOIN c WHERE nn_id != q_id),
        |dpool AS (SELECT q_id, doc_id, r FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, doc_id) AS r FROM dsc)
        |  WHERE r <= $rrfPoolK),
        |tok AS (SELECT doc_id,
        |          unnest(list_distinct(string_split(text, ' '))) AS w
        |        FROM documents),
        |tn AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
        |inter AS (SELECT s.doc_id AS q_id, t.doc_id, count(*) AS i
        |          FROM tok s JOIN tok t USING (w)
        |          WHERE s.doc_id IN ($seedList) AND t.doc_id != s.doc_id
        |          GROUP BY 1, 2),
        |jsc AS (SELECT qn.doc_id AS q_id, d.doc_id,
        |          round(CAST(coalesce(i.i, 0) AS DOUBLE) /
        |            CAST(qn.n + d.n - coalesce(i.i, 0) AS DOUBLE), 6) AS jac
        |        FROM tn qn CROSS JOIN tn d
        |        LEFT JOIN inter i ON i.q_id = qn.doc_id
        |          AND i.doc_id = d.doc_id
        |        WHERE qn.doc_id IN ($seedList) AND d.doc_id != qn.doc_id),
        |jpool AS (SELECT q_id, doc_id, r FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY jac DESC, doc_id) AS r FROM jsc)
        |  WHERE r <= $rrfPoolK),
        |fused AS (SELECT coalesce(d.q_id, j.q_id) AS q_id,
        |    coalesce(d.doc_id, j.doc_id) AS doc_id,
        |    round(coalesce(1.0 / (60.0 + CAST(d.r AS DOUBLE)), 0.0) +
        |          coalesce(1.0 / (60.0 + CAST(j.r AS DOUBLE)), 0.0), 9)
        |      AS rrf_score
        |  FROM dpool d FULL OUTER JOIN jpool j
        |    ON d.q_id = j.q_id AND d.doc_id = j.doc_id)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id, rrf_score
        |FROM (SELECT q_id, doc_id, rrf_score,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY rrf_score DESC, doc_id) AS rank
        |      FROM fused)
        |WHERE rank <= $rrfK ORDER BY q_id, rank""".stripMargin
    }),
    Query("q75_edit_dist_join", q75EditDistJoin,
      s"""WITH d AS (SELECT doc_id, substr(text, 1, $editHeadChars) AS head
        |           FROM documents WHERE n_chars >= $editHeadChars)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= $editDistMax
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("q105_keepbest_dedup", q105KeepBestDedup,
      s"""WITH RECURSIVE ${LlmPipeline.augmentedSql},
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |comp AS (SELECT s AS doc_id, least(s, min(d)) AS rep
        |         FROM reach GROUP BY s),
        |mem AS (SELECT c.doc_id, c.rep, strlen(a.text) AS n
        |        FROM comp c JOIN aug a ON a.doc_id = c.doc_id),
        |rk AS (SELECT doc_id,
        |         row_number() OVER (PARTITION BY rep
        |           ORDER BY n DESC, doc_id) AS r
        |       FROM mem),
        |losers AS (SELECT doc_id FROM rk WHERE r > 1)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
        |  CAST(strlen(a.text) AS BIGINT) AS n
        |FROM aug a
        |WHERE NOT EXISTS (SELECT 1 FROM losers l
        |                  WHERE l.doc_id = a.doc_id)
        |ORDER BY doc_id""".stripMargin))
}
