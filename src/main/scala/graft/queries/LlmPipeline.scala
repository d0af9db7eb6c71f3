package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.SparkEntry.oracleInputDir
import graft.functions.{ColumnBridge, Hashes}
import graft.operators.{Ann, Bm25, Contamination, CorpusMix, DedupPipeline, DupSpans, FilterVerify, HammingBand, JaccardJoin, MinHashLsh, Multimodal, Pq, SemanticDedup, SeqPack, SimHash}

/** Training-data-pipeline operators over `documents` / `embeddings`
  * (deduplication, similarity search, text analysis, multimodal plumbing),
  * each oracle-checked where SQL-expressible.
  *
  * The synthetic corpus has no true near-duplicates, so the dedup queries
  * first augment it with deterministic perturbed copies (drop the first
  * word; id + 1,000,000) — reproducible on the DuckDB side — so the
  * near-dup output is non-vacuous and every pipeline stage is exercised.
  */
object LlmPipeline {

  /** documents ∪ first-word-dropped copies of the longer docs. */
  private[graft] def augmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val perturbed = docs
      .filter(col("n_chars") >= 100)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    docs.select("doc_id", "text").unionByName(perturbed)
  }

  private[queries] val augmentedSql =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE n_chars >= 100)""".stripMargin

  /** q18: banded MinHash-LSH near-dup pairs, exact-Jaccard verified.
    * 32 bands × 2 rows: P(miss | J ≥ 0.8) ≈ 1e-14, so the output equals
    * the oracle's exhaustive all-pairs scan, but computed without ever
    * joining document text against itself. */
  def q18MinhashNearDup(s: SparkSession, dir: String): DataFrame =
    // No final orderBy: a global sort range-partitions, whose sampling
    // pass re-executes the whole LSH pipeline (~2× cost); the correctness
    // gate is row-order-insensitive.
    MinHashLsh.nearDupPairs(augmentedDocs(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 32, minJaccard = 0.8)

  /** q19: exact brute-force cosine top-k for 10 query vectors —
    * broadcast queries, one corpus pass, per-query top-k. The ANN/LSH
    * variant is [[graft.operators.Ann.lshTopK]] (AnnSpec pins its recall
    * against this baseline). */
  def q19AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10)
  }

  /** Occurrences of a space-padded keyword via replace-length arithmetic
    * (identical non-overlapping left-to-right semantics in Spark and
    * DuckDB — no regex dialect risk). */
  private def occ(padded: Column, kw: String): Column =
    ((length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(kw), ""))) /
      kw.length).cast("long")

  /** q20: language-ID heuristic — stopword-hit scores per language,
    * argmax with fixed priority. */
  def q20LangId(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val sEn = occ(padded, " the ") + occ(padded, " and ")
    val sDe = occ(padded, " der ") + occ(padded, " und ")
    val sFr = occ(padded, " le ") + occ(padded, " et ")
    val sEs = occ(padded, " el ") + occ(padded, " y ")
    docs.select(
        col("doc_id"),
        sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("lang_guess",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
  }

  /** q21: quality scoring — token counts, lexical diversity, average
    * token length, accept flag. */
  def q21TextQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val toks = split(col("text"), " ")
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("diversity",
        round(col("n_distinct").cast("double") / col("n_tokens"), 6))
      .withColumn("avg_token_len",
        round((col("n_chars_m") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"), 6))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("n_tokens") <= 1000 && col("diversity") >= 0.05)
  }

  /** q22: token counting per language — whitespace tokens and a BPE-ish
    * regex tokenizer ([a-z]+ | digits | single punct). */
  def q22TokenCount(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    docs.select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws_toks"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("re_toks"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_toks")).as("sum_ws_toks"),
        sum(col("re_toks")).as("sum_re_toks"))
      .withColumn("avg_ws_toks",
        round(col("sum_ws_toks").cast("double") / col("n_docs"), 6))
      .orderBy("lang")
  }

  /** q35: repetition scoring (Gopher-style quality signal): the fraction
    * of all word bigrams taken by the single most frequent bigram — high
    * values flag boilerplate/looping text. Non-distinct bigrams via
    * transform over index sequences (WordShingles dedups, so it can't be
    * used here); two partial-agg shuffles of (doc, gram-hash) — the gram
    * itself is hashed to 8 bytes before the wire. */
  def q35Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val grams = transform(sequence(lit(1), size(w) - 1),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1)))
    docs
      // guard like NgramLm: an unguarded sequence(1, 0) counts DOWN to
      // [1, 0] for a one-token doc and element_at(w, 0) throws; the
      // null explodes to no rows, matching the oracle's empty
      // generate_series
      .select(col("doc_id"),
        explode(when(size(w) >= 2, grams)).as("__gram"))
      // 8-byte fingerprint crosses the shuffle, never the gram text
      .select(col("doc_id"), Hashes.xxhash64Seed0(col("__gram")).as("__g"))
      .groupBy("doc_id", "__g").agg(count(lit(1)).as("__n"))
      .groupBy("doc_id").agg(
        sum(col("__n")).as("n_bigrams"),
        max(col("__n")).as("top_bigram_n"))
      .withColumn("top_frac",
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6))
      .withColumn("repetitive", col("top_frac") >= 0.18)
  }

  /** q36: PII extraction — emails and phone-shaped tokens pulled with
    * fixed regexes from a deterministic rendered line (the corpus is
    * synthetic, so PII is planted the same way q27 plants entities);
    * pure map, regex dialect shared by Spark and the DuckDB oracle. */
  /** The planted contact line shared by q36 (extraction) and q52
    * (redaction, which appends an IP segment) — ONE definition so the
    * two queries and their hand-written oracles always describe the
    * same plant. */
  private def contactLine: org.apache.spark.sql.Column = concat(
    lit("user "), col("user_id"), lit(" contact "),
    col("event_type"), col("user_id"), lit("@example.com"),
    lit(" or "), col("event_type"), lit("_admin@corp.io tel "),
    pmod(col("user_id"), lit(900)) + 100, lit("-"),
    pmod(col("user_id") * 7, lit(9000)) + 1000)

  def q36PiiExtract(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val line = contactLine
    // single-sourced from the redaction rules so extraction (q36) and
    // redaction (q52) can never disagree on what an email is
    val emails = regexp_extract_all(line,
      lit(graft.operators.PiiRedact.EmailRule._1), lit(0))
    // single-sourced from the redaction rule so extraction (q36) and
    // redaction (q52) can never disagree on what a phone is
    val phones = regexp_extract_all(line,
      lit(graft.operators.PiiRedact.PhoneRule._1), lit(0))
    events.select(
      col("event_id"),
      element_at(emails, 1).as("email_1"),
      element_at(emails, 2).as("email_2"),
      element_at(phones, 1).as("phone"),
      (size(emails) + size(phones)).cast("long").as("n_pii"))
  }

  /** q23: document fingerprinting — 128-bit hash of the normalized
    * text as the dedup key, so the distinct-shuffle carries 16 bytes
    * per doc instead of the document body (128 bits, not one xxhash64
    * word: at 10¹⁰ docs the 64-bit birthday
    * bound merges ~2.7 distinct texts and the count drifts from the
    * oracle's count-distinct-by-text; the null-guard matches the
    * oracle's NULL-ignoring count). */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    docs
      .withColumn("fp", when(col("text").isNotNull,
        Hashes.fingerprint128(lower(trim(col("text"))))))
      .groupBy("source")
      .agg(
        countDistinct(col("fp")).as("n_unique"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** q24: SimHash-blocked near-dup. Signatures are over 3-gram shingles,
    * not unigrams — the synthetic corpus shares a tiny vocabulary, so
    * unigram signatures would cluster and the band join would degenerate
    * toward all-pairs at scale. Banded 16-bit blocking, Hamming ≤ 12,
    * exact shingle-Jaccard ≥ 0.5 verification.
    *
    * Oracle: read-back. The signature/blocking path is not
    * SQL-expressible, and making it so would require ≤4-bit bands (the
    * pigeonhole guarantee needs bands > maxHamming), whose ≤16-value
    * keys degenerate to near-all-pairs buckets at scale — so instead
    * Verify copies this result to a fixed path and DuckDB re-derives the
    * verifiable part from raw `documents`: each returned pair's ids must
    * exist in the corpus (the join drops fabricated ids → row-count
    * mismatch) and its exact shingle-Jaccard is recomputed and
    * re-thresholded (dishonest similarity or a sub-0.5 pair → hash/row
    * mismatch). `hamming` is echoed, not recomputed — its semantics are
    * pinned by NearDupSpec; blocking recall (469/560 truth pairs at
    * sf0.01, the Hamming≤12 cut on an approximate blocker) is pinned by
    * the same spec rather than the oracle. */
  def q24SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = augmentedDocs(s, dir)
    // banded 16-bit blocking: only (id, sig) ever shuffles, never text;
    // Hamming verify fused in-bucket, exact Jaccard for candidates only
    val cands = HammingBand.bandPairs(docs, "doc_id",
      SimHash.simhashText(col("text"), 3), maxHamming = 12, bands = 4)
    FilterVerify.verify(cands, docs, "doc_id", "text", "jaccard")(
      MinHashLsh.shingleJaccard(_, _, 3))
      .filter(col("jaccard") >= 0.5)
  }

  /** q25: embedding-cosine near-dup — label-blocked pairs with µ-rounded
    * cosine ≥ 0.999 (scaled copies keep direction → cosine 1). The
    * label-free scale path is q33 ([[Ann.embedNearDupLsh]]). */
  def q25EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val scaled = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"),
      col("label"))
    val corpus = emb.select("vec_id", "embedding", "label").unionByName(scaled)
    val a = corpus.select(col("vec_id").as("id_a"),
      Ann.toDoubleArray(col("embedding")).as("va"), col("label"))
    val b = corpus.select(col("vec_id").as("id_b"),
      Ann.toDoubleArray(col("embedding")).as("vb"), col("label").as("label_b"))
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .withColumn("cos", round(Ann.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= 0.999)
      .select("id_a", "id_b", "label", "cos")
  }

  /** q26: multimodal plumbing + REAL image-header decode. Three payload
    * populations: the documents' text lifted into opaque binary (no
    * recognizable container → deterministic stub branch, status
    * 'opaque'); planted single-frame stills (+1M ids) — genuine
    * PNG/JPEG/GIF/BMP/WEBP/TIFF binary containers built at runtime with
    * dimensions derived from doc_id
    * ([[graft.operators.Multimodal.MediaBuild]]), which the decoder
    * must parse back from the actual bytes (magic, BE/LE dimension
    * fields, JPEG marker walk, VP8X 24-bit canvas, TIFF IFD walk); and
    * planted CORRUPT payloads (+2M ids) — real container signatures
    * with broken bodies, which must land in the 'quarantined' status
    * with zeroed dims, surviving the stage rather than throwing. The
    * oracle re-derives everything arithmetically from doc_id, so any
    * endianness/offset bug or a corrupt row killing the job fails the
    * gate. */
  def q26MediaMeta(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = Multimodal.asMedia(docs, "doc_id", "text", "image")
    val fmts = Multimodal.MediaBuild.Formats
    val planted = docs.select(col("doc_id")).as[Long].map { id =>
      val w = (id % 640L).toInt + 1
      val h = (id % 480L).toInt + 1
      val payload = fmts((id % 6L).toInt) match {
        case "png" => Multimodal.MediaBuild.png(w, h)
        case "jpeg" => Multimodal.MediaBuild.jpeg(w, h)
        case "gif" => Multimodal.MediaBuild.gif(w, h)
        case "bmp" => Multimodal.MediaBuild.bmp(w, h)
        case "webp" => Multimodal.MediaBuild.webp(w, h)
        case _ => Multimodal.MediaBuild.tiff(w, h)
      }
      Multimodal.MediaRecord(id + 1000000L, "image", payload)
    }
    val corrupt = docs.select(col("doc_id")).as[Long].map { id =>
      Multimodal.MediaRecord(id + 2000000L, "image",
        Multimodal.MediaBuild.corrupt(fmts((id % 6L).toInt)))
    }
    Multimodal.decodeMeta(media.union(planted).union(corrupt)).toDF()
      .select("media_id", "kind", "size_bytes", "width", "height",
        "n_frames", "first_frame_offset", "status")
  }

  /** q28: IVF approximate cosine top-k — coarse-quantizer training on a
    * deterministic sample, map-only cell assignment, probe-join search.
    *
    * Oracle: read-back. Which neighbors IVF returns depends on the
    * trained centroids (not SQL-expressible; recall vs the exact q19
    * baseline is pinned by AnnSpec), but the returned rows themselves
    * are fully checkable: DuckDB reads the result back from a fixed
    * path, recomputes every pair's cosine from the raw `embeddings`
    * table, and re-derives `rank` from the recomputed scores — a wrong
    * score, a fabricated id (join drops it), or a non-monotonic ranking
    * all break the hash compare. */
  def q28IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nCells = 16, nProbe = 8)
  }

  /** q67: product-quantization ANN ([[graft.operators.Pq]]) — the
    * memory-compressed corpus path: vectors encoded to m=16 codes once,
    * the ADC scan shortlists 64 candidates per query over CODES only
    * (the float corpus is never scanned at query time; PqSpec measures
    * shortlist-64 recall of the exact top-10 at 0.94), and the exact
    * cosine rerank joins raw vectors for the shortlist alone — the
    * standard IVF-PQ deployment shape at 100 TB.
    *
    * Oracle: read-back, exactly q28's contract — which candidates the
    * codes shortlist depends on the trained codebooks (not
    * SQL-expressible; recall is pinned by PqSpec), but every returned
    * row is checkable: DuckDB recomputes each pair's cosine from the
    * raw table and re-derives `rank`, so a wrong score, fabricated id,
    * or ADC-ordered (instead of rerank-ordered) output breaks the
    * compare. */
  def q67PqAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val cb = Pq.train(emb, "vec_id", "embedding", m = 16, ksub = 16)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val shortlist = Pq.adcTopK(codes, queries, "vec_id", "embedding", cb, k = 64)
    val vecs = emb.select(col("vec_id"),
      Ann.toDoubleArray(col("embedding")).as("__v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    shortlist
      .join(vecs.withColumnRenamed("vec_id", "nn_id")
        .withColumnRenamed("__v", "__vc"), "nn_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        Ann.toDoubleArray(col("embedding")).as("__vq"))), "q_id")
      .withColumn("cos", round(Ann.cosine(col("__vq"), col("__vc")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("q_id", "rank", "nn_id", "cos")
  }

  /** q31: winnowing (rolling-hash) near-dup candidates — the MOSS-style
    * third blocking scheme next to MinHash (q18) and SimHash (q24): any
    * pair sharing a substring of ≥ window+k-1 chars shares a
    * fingerprint, so candidates = pairs with ≥ `minShared` common
    * fingerprints. Same one-shuffle shape as the LSH bucket pass: the
    * wire carries (fingerprint, doc_id), never text. Fingerprints shared
    * by > 32 docs are stop-gram buckets (common boilerplate) and are
    * dropped, the standard winnowing-at-scale guard against quadratic
    * pair blowup.
    *
    * Oracle: read-back. The rolling-hash fingerprints are not
    * SQL-expressible (the shared-substring guarantee is pinned by
    * WinnowingSpec), so DuckDB reads the candidate pairs back from a
    * fixed path, verifies both ids exist in the corpus, and recomputes
    * each pair's shingle-Jaccard — `shared_fps` is echoed, `jaccard`
    * (emitted here for exactly this purpose) must match an honest
    * recomputation from raw text. */
  def q31WinnowNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = augmentedDocs(s, dir)
    val fp = ColumnBridge.col(graft.functions.WinnowFingerprints(
      ColumnBridge.expr(col("text")), k = 12, window = 8))
    val pairs = ColumnBridge.col(graft.functions.SortedPairs(
      ColumnBridge.expr(col("__ids"))))
    val cands = docs
      .select(col("doc_id").as("__id"), explode(fp).as("__fp"))
      .groupBy("__fp").agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, 32))
      .select(pairs.as(Seq("id_a", "id_b")))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 3)
    // text joined for candidates only — the oracle recomputes this
    // jaccard per returned pair, making the pair list driver-checkable
    FilterVerify.verify(cands, docs, "doc_id", "text", "jaccard")(
      MinHashLsh.shingleJaccard(_, _, 3))
  }

  /** q33: embedding near-dup via hyperplane LSH — the label-free scale
    * path beside q25's label-blocked variant. Oracle: exhaustive
    * all-pairs cosine scan (valid because scaled copies have provably
    * identical signatures — FP scaling preserves every dot sign — and
    * the fixture has zero natural cos ≥ 0.999 pairs, verified). */
  def q33EmbedNearDupLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val scaled = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(scaled)
    Ann.embedNearDupLsh(corpus, "vec_id", "embedding", minCos = 0.999)
  }

  /** q32: cluster-level dedup — connected-component representative
    * (min id) for every doc in the verified q18 near-dup pair graph,
    * via iterative min-label propagation over (id, id) longs. The
    * oracle recomputes the exhaustive pair graph AND the exact
    * transitive closure with a recursive CTE — a genuinely full
    * correctness check of the component assignment. */
  def q32ClusterDedup(s: SparkSession, dir: String): DataFrame = {
    val pairs = q18MinhashNearDup(s, dir).select("id_a", "id_b")
    graft.operators.ClusterDedup.clusterReps(pairs)
  }

  /** q37: benchmark decontamination — distinct 4-word-gram overlap of
    * every training-split doc (doc_id % 20 != 0) against the held-out
    * benchmark split (doc_id % 20 == 0). The operator
    * ([[graft.operators.Contamination.ngramOverlap]]) broadcasts the
    * distinct benchmark gram set and probes the corpus in one pass, so
    * its only shuffle is the per-doc hit count — the shape that holds
    * when the training side is 100 TB and the eval set is thousands of
    * docs. Oracle: fully SQL-expressible (DuckDB re-derives both splits'
    * gram sets and the per-doc overlap counts from raw text). */
  def q37Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    Contamination.ngramOverlap(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", k = 4)
  }

  /** q38: the full dedup stage as a user runs it — exact dedup, then
    * near-dup cluster dedup over the exact survivors, one verdict row
    * per doc ([[graft.operators.DedupPipeline.corpusVerdict]]). The
    * corpus plants both duplicate kinds: perturbed copies (+1M, first
    * word dropped → near_dup) and verbatim copies (+2M → exact_dup).
    * Oracle: fully SQL-expressible — DuckDB re-derives the exact groups
    * by raw text, the exhaustive jaccard pair graph over survivors, and
    * the exact transitive closure (recursive CTE, as in q32). */
  def q38DedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val verbatim = docs.filter(col("n_chars") >= 100)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val corpus = augmentedDocs(s, dir).unionByName(verbatim)
    DedupPipeline.corpusVerdict(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 32, minJaccard = 0.8)
  }

  /** q39: corpus mixing — deterministic stratified over/undersampling
    * by source ([[graft.operators.CorpusMix.mix]]): weights cycle
    * {0.0, 0.5, 1.0, 2.5} over the source index, bucket = doc_id % 1000
    * (a plain modulus keeps the oracle exact; production mixes hash).
    * Map-side broadcast join + explode, zero shuffles. */
  /** The 20-source weight dim shared by q39 and q41/q46's mix stage —
    * one definition so the two mixes (and the oracles that re-encode
    * the same {0.0, 0.5, 1.0, 2.5} cycle in SQL) cannot drift apart. */
  private def mixWeights(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.tabulate(20) { i =>
      ("src" + i, Seq(0.0, 0.5, 1.0, 2.5)(i % 4))
    }.toDF("source", "weight")
  }

  def q39CorpusMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    CorpusMix.mix(docs, mixWeights(s), "source",
        pmod(col("doc_id"), lit(1000)))
      .select("doc_id", "source", "copy")
  }

  /** q40: Gopher/C4-style quality-filter battery — the composite
    * rule-based document filter a pipeline applies before training:
    * every rule is a named boolean column (auditable, so a corpus owner
    * can see WHICH rule killed a doc, not just that one did) and `pass`
    * is their conjunction. Pure map over the corpus scan — no shuffle,
    * no UDF, all rules are codegen-able column expressions. */
  def q40QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("long")
    val meanLen = round((length(col("text")) - (nWords - 1))
      .cast("double") / nWords, 6)
    val diversity = round(size(array_distinct(toks)).cast("double") / nWords, 6)
    docs.select(
        col("doc_id"),
        nWords.as("n_words"),
        meanLen.as("mean_word_len"),
        diversity.as("diversity"),
        arrays_overlap(toks,
          array(lit("the"), lit("a"), lit("and"))).as("stop_ok"))
      .withColumn("n_words_ok", col("n_words").between(50, 10000))
      .withColumn("word_len_ok", col("mean_word_len").between(3.0, 10.0))
      .withColumn("diversity_ok", col("diversity") >= 0.1)
      .withColumn("pass",
        col("n_words_ok") && col("word_len_ok") &&
          col("diversity_ok") && col("stop_ok"))
  }

  /** q41: the full corpus-build DAG as ONE query — what a user actually
    * runs to turn raw documents into a training mix:
    *
    *   quality gate (q40 rules) → dedup verdicts (q38: exact → near →
    *   components) → benchmark decontamination (q37: drop any train doc
    *   sharing a 4-gram with the held-out split) → corpus mixing (q39
    *   weights) → (doc_id, source, copy).
    *
    * The corpus plants work for every stage: perturbed (+1M) and
    * verbatim (+2M) copies exercise near/exact dedup, and copies of
    * held-out docs land in the train split where only decontamination
    * can catch them. Every stage keeps its standalone plan shape (the
    * composition adds no new shuffle beyond its parts); the oracle
    * re-derives the whole DAG in SQL, recursive-CTE closure included. */
  /** The q41/q46 corpus: documents ∪ perturbed (+1M) ∪ verbatim (+2M). */
  private def buildCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs.filter(col("n_chars") >= 100).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"),
        col("source")))
      .unionByName(docs.filter(col("n_chars") >= 100).select(
        (col("doc_id") + 2000000L).as("doc_id"), col("text"), col("source")))
  }

  def q41CorpusBuild(s: SparkSession, dir: String): DataFrame =
    q41FromCorpus(s, stagedCorpus(s, dir))

  /** The staged (lazily materialized) q41/q46 corpus: the union is
    * consumed by three downstream stages (bench split, quality-gated
    * train split, kept-doc join-back), and without a lineage cut each
    * consumer re-runs the scan+union subtree — with the expensive
    * quality-gate predicate (tokenize + array_distinct) predicate-pushed
    * below the fan-out repartition, i.e. single-task on the unsplittable
    * testdata file (stage profile: nine ~0.3-0.5 s one-task stages
    * per q41 run, three per consumer). The lazy localCheckpoint
    * materializes the staged corpus once, at the union's full width; at
    * warehouse scale this is the standard "stage the raw+perturbed
    * corpus once" materialization the DAG's survivor checkpoints already
    * make. Lazy, not eager: the first consumer's job materializes it —
    * no separate call-time job. */
  private def stagedCorpus(s: SparkSession, dir: String): DataFrame =
    buildCorpus(s, dir).localCheckpoint(false)

  private def q41FromCorpus(s: SparkSession, corpus: DataFrame): DataFrame = {
    import s.implicits._
    val isBench = col("doc_id") < 1000000L && col("doc_id") % 20 === 0
    val bench = corpus.filter(isBench)
    val train = corpus.filter(!isBench)
    // quality gate — identical rounded formulations to q40 so boundary
    // cases agree with the SQL oracle
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("long")
    val meanLen = round((length(col("text")) - (nWords - 1))
      .cast("double") / nWords, 6)
    val diversity = round(size(array_distinct(toks)).cast("double") / nWords, 6)
    val q = train.filter(
      nWords.between(50, 10000) && meanLen.between(3.0, 10.0) &&
        diversity >= 0.1 &&
        arrays_overlap(toks, array(lit("the"), lit("a"), lit("and"))))
    // dedup: keep only 'kept' verdicts. keptDocs feeds three downstream
    // branches (contamination reads it twice, the mix once) —
    // localCheckpoint it so the quality scan + LSH + component DAG
    // behind it runs once, not once per consumer
    val kept = DedupPipeline.corpusVerdict(q.select("doc_id", "text"), "doc_id", "text")
      .filter(col("kept")).select("doc_id")
    // localCheckpointWide: the kept set is byte-small, so AQE pins
    // it to 1-2 partitions and the contamination gram explode — the
    // most expensive consumer — would run nearly serial
    val keptDocs = Tables.localCheckpointWide(q.join(kept, "doc_id"))
    // decontamination: any shared 4-gram with the held-out split kills
    val clean = Contamination
      .ngramOverlap(keptDocs, bench, "doc_id", "text", k = 4)
      .filter(col("n_contaminated") === 0).select("doc_id")
    CorpusMix.mix(keptDocs.join(clean, "doc_id").select("doc_id", "source"),
        mixWeights(s), "source", pmod(col("doc_id"), lit(1000)))
      .select("doc_id", "source", "copy")
  }

  /** q43: exact n-gram Jaccard threshold self-join — the deterministic
    * sibling of q18's probabilistic MinHash-LSH (lossless pre-filters,
    * no tunable miss probability), via the
    * rare-first prefix-filtered inverted index of
    * [[graft.operators.JaccardJoin]]. Deliberately the SAME parameters
    * as q18 (k=3, t=0.8): two independent algorithms — LSH blocking and
    * PPJoin exact blocking — must reproduce the identical exhaustive
    * all-pairs ground truth. (Bigrams were tried and rejected: this
    * corpus has only ~931 distinct bigrams, avg doc-frequency ~540 —
    * a gram-skew stress case that rare-first prefixes handle and that
    * trigrams' 27k-gram vocabulary sidesteps entirely.) */
  def q43JaccardNearDup(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(augmentedDocs(s, dir), "doc_id", "text",
      k = 3, minJaccard = 0.8)

  /** q44: greedy concat-and-chunk sequence packing — assign every doc a
    * (pack_group, seq_id, tok_offset) slot in fixed 512-token training
    * sequences ([[graft.operators.SeqPack]]). Groups by `doc_id % G`
    * (SQL-portable stand-in for a hash group) where G is DERIVED from
    * the corpus token total ([[SeqPack.deriveNumGroups]]) — the
    * parallelism dial scales with data volume instead of serializing
    * into 8 giant cumsums at 100× — orders by doc_id: fully
    * deterministic window arithmetic (the derivation is an exact
    * integer ceil-div the oracle replays), oracle-checked end to end. */
  def q44SeqPack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val toks = size(split(col("text"), " ")).cast("long")
    val ng = SeqPack.deriveNumGroups(docs, toks)
    SeqPack.pack(docs, "doc_id", toks,
      pmod(col("doc_id"), lit(ng.toLong)), col("doc_id"), budget = 512)
  }

  /** q45: approximate distinct-token counts per language —
    * `approx_count_distinct` (HyperLogLog++, rsd 2%) beside the exact
    * count, with an in-query relative-error audit, mirroring q42's
    * sketch-plus-audit pattern. At 100 TB the exact arm is dropped and
    * only the sketch runs: constant-size mergeable partials, map-side
    * combined, where exact count-distinct must shuffle every distinct
    * (lang, token) pair. Oracle: read-back — DuckDB recomputes the
    * exact count from the raw table and re-derives `rel_err` and
    * `within_tol` from the read-back sketch value, so a wrong approx
    * fails in the oracle, not just in Spark. */
  def q45DistinctApprox(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang")
      .agg(
        approx_count_distinct(col("tok"), 0.02).as("approx_distinct"),
        countDistinct(col("tok")).as("exact_distinct"))
      .withColumn("rel_err",
        round(abs(col("approx_distinct") - col("exact_distinct"))
          .cast("double") / col("exact_distinct"), 6))
      .withColumn("within_tol", col("rel_err") <= 0.05)
      .orderBy("lang")

  /** q46: the corpus-build DAG carried through to its training layout —
    * quality → dedup → decontaminate → mix (q41) → **sequence packing**
    * (q44's operator): every surviving (doc, copy) instance gets a
    * deterministic (pack_group, seq_id, tok_offset) slot in fixed
    * 512-token sequences. `row_id = doc_id·8 + copy` keys each instance
    * uniquely (copies ≤ 3 < 8); the oracle re-derives the WHOLE chain —
    * recursive-CTE closure included — plus the packing windows in one
    * SQL statement. */
  def q46CorpusPack(s: SparkSession, dir: String): DataFrame = {
    // ONE staged corpus shared by the q41 chain and the token-count
    // scan: a second buildCorpus here would re-run the 3-branch
    // scan+union subtree once per consumer
    val corpus = stagedCorpus(s, dir)
    val mixed = q41FromCorpus(s, corpus)
    val toks = corpus.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    // localCheckpoint: the survivor row set is consumed twice (the
    // group-count derivation scans it, then the pack) — without the
    // pin the whole corpus-build DAG would run once per consumer
    val rows0 = mixed.join(toks, "doc_id")
      .select((col("doc_id") * 8 + col("copy")).as("row_id"),
        col("doc_id"), col("n_toks"))
      .localCheckpoint()
    val ng = SeqPack.deriveNumGroups(rows0, col("n_toks"))
    val rows = rows0.select(col("row_id"),
      pmod(col("doc_id"), lit(ng.toLong)).as("grp"), col("n_toks"))
    SeqPack.pack(rows, "row_id", col("n_toks"), col("grp"), col("row_id"),
      budget = 512)
  }

  /** q47: semantic dedup — SemDeDup over the embedding corpus
    * ([[graft.operators.SemanticDedup]]): k-means cells as the blocking
    * scheme, in-cell cosine ≥ 0.999 pairs, connected-component min-id
    * representative per vector. Planted duplicates are the q25/q33
    * scaled copies (+1M, ×2 — cosine exactly 1 after rounding, and
    * scale-invariant cell assignment puts a copy in its original's
    * cell). Oracle: read-back — DuckDB accepts the k-means cell
    * assignment (not SQL-derivable) but re-derives EVERYTHING downstream
    * exhaustively from the raw table: all in-cell cosine pairs, the
    * recursive-CTE transitive closure, the min-id representative, and
    * both verdict columns. A wrong pair, wrong closure, or wrong
    * verdict fails the gate. */
  /** q47's corpus (embeddings ∪ double-scaled copies — cosine-identical
    * planted near-dups) and its cell count — factored out so the
    * ScaleBench stage probes ([[graft.tools.StageProbes]]) can time the row's
    * prefix stages against the full row. Cell COUNT scales with the
    * corpus so cell POPULATION stays fixed (~512): the in-cell
    * quadratic scan then grows linearly with data, which is the whole
    * point of clustering-as-blocking. Oracle-safe because the
    * read-back oracle accepts whatever cells were assigned. */
  private[graft] def q47Corpus(s: SparkSession, dir: String): (DataFrame, Int) = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val scaled = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(scaled)
    // corpus rows = 2 × embeddings rows BY CONSTRUCTION (scaled is a 1:1
    // projection), so the cell count comes from ONE metadata-cheap count
    // of the raw parquet scan instead of executing the union + fan-out
    // repartition of both branches just to count them (q47 profile:
    // the union count was two scan stages + a 64-task merge before any
    // real work)
    val nRows = 2L * Tables(s, dir, "embeddings").count()
    (corpus, math.max(8, (nRows / 512L).toInt))
  }

  def q47SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val (corpus, nCells) = q47Corpus(s, dir)
    SemanticDedup.verdicts(corpus, "vec_id", "embedding",
        minCos = 0.999, nCells = nCells,
        sampleN = math.max(2048, nCells * 64))
      .orderBy("vec_id")
  }

  /** The q48 query set — shared literal fixture for the Spark side and
    * the oracle's VALUES list. Terms span the corpus idf range ('dup'
    * is the rarest corpus term; the rest are mid/high-df). */
  val bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "hash join batch",
    1 -> "slow query scan",
    2 -> "dup vector window")

  /** q48: BM25 ranked retrieval over the documents table
    * ([[graft.operators.Bm25]]) — top-10 docs for each of three fixed
    * queries. Fully SQL-expressible oracle: DuckDB re-derives tf, df,
    * dl, the corpus stats, the Okapi formula (identical `+1` idf form),
    * the DECIMAL-accumulated per-doc sum, and the rounded-score ranking
    * from the raw table. */
  def q48Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    Bm25.search(docs, "doc_id", "text",
        bm25Queries.toDF("q_id", "q_text"), "q_id", "q_text", k = 10)
      .orderBy("q_id", "rank")
  }

  /** q49: exact duplicate-span profile ([[graft.operators.DupSpans]],
    * the Lee-et-al. exact-substring dedup semantics): per augmented doc,
    * the maximal merged spans of tokens covered by a 10-gram occurring
    * ≥2 times anywhere in the corpus. The perturbed copies plant long
    * cross-doc spans; repetitive docs plant within-doc ones. Fully
    * SQL-expressible oracle: DuckDB re-derives the gram stream (by gram
    * TEXT where Spark uses the 8-byte fingerprint — equal results absent
    * a 64-bit collision), the ≥2 count, and the same gaps-and-islands
    * window merge. The synthetic corpus is template-generated, so ~96%
    * of docs carry naturally repeated 10-grams and coverage skews high
    * (L=30 still flags 80% — a corpus property, not a dial failure;
    * measured); DupSpansSpec pins the discriminating semantics on
    * planted fixtures. */
  def q49DupSpans(s: SparkSession, dir: String): DataFrame =
    DupSpans.profile(augmentedDocs(s, dir), "doc_id", "text", L = 10)
      .orderBy("doc_id")

  /** q50's quality-tier cutoffs (avg negative log-likelihood, nats):
    * shared literals for the Spark side and the oracle SQL so the
    * bucket comparison uses bit-identical constants. Deriving cutoffs
    * from the corpus is an offline quantile job (q29/q42); these sit
    * inside the observed nll range (3.26–3.83 across sf0.001–sf0.1,
    * tertiles ≈ 3.37–3.41) so all three tiers are populated at every
    * scale factor. */
  val perplexityHeadMax = 3.39
  val perplexityMiddleMax = 3.41

  /** q50: CCNet-shape perplexity quality scoring
    * ([[graft.operators.NgramLm]]): every document scored by an add-one
    * bigram LM trained on the corpus itself, bucketed head/middle/tail
    * by fixed nll cutoffs. Fully SQL-expressible oracle: DuckDB
    * re-derives the bigram counts (by gram TEXT where Spark uses 8-byte
    * fingerprints), the smoothed per-occurrence `ln`, the
    * DECIMAL-accumulated per-doc sum, and the same cutoff CASE. */
  def q50Perplexity(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.perplexityProfile(
        Tables.parallel(s, dir, "documents"), "doc_id", "text",
        headMax = perplexityHeadMax, middleMax = perplexityMiddleMax)
      .orderBy("doc_id")

  /** q51: incremental dedup of a new batch against the persisted corpus
    * index ([[graft.operators.IncrementalDedup]]) — the daily-crawl
    * flow. New batch: perturbed (+1M → near), verbatim (+2M → exact),
    * and word-reversed (+3M → new) copies of the long docs. The index
    * is built once per JVM+sfDir (the deployment shape: index exists,
    * the daily job probes it); the timed query is the probe path.
    * Fully SQL-expressible oracle: exact via normalized-text equality,
    * near via the exhaustive new×history shingle-Jaccard scan that the
    * LSH blocking provably (1e-14) reproduces. */
  def q51IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalDedup
    val docs = Tables.parallel(s, dir, "documents")
    val hist = docs.select(col("doc_id"), col("text"))
    val long = docs.filter(col("n_chars") >= 100)
    val newBatch = long
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .unionByName(long.select((col("doc_id") + 2000000L).as("doc_id"),
        col("text")))
      .unionByName(long.select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text")))
    val idx = incrementalIndexFor(s, dir, hist)
    // no trailing orderBy: the correctness gate is row-order-
    // insensitive (the driver hash-compares row-sorted frames — the q18
    // precedent) and the global sort's range-partitioning sampling pass
    // re-executes the verdict join subtree, ~doubling the probe.
    IncrementalDedup.dedupNew(s, newBatch, hist, "doc_id", "text", idx)
  }

  /** One index build per (JVM, sfDir): q51's bench-timed region is the
    * daily probe, not the one-time index build it amortizes. */
  private val incrementalIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def incrementalIndexFor(
      s: SparkSession, dir: String, hist: DataFrame): String =
    incrementalIndexes.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_incdedup").toString
      graft.operators.IncrementalDedup.writeIndex(hist, "doc_id", "text", p)
      p
    })

  /** q52: PII redaction ([[graft.operators.PiiRedact]]) — the write
    * side of q36's extraction over the same planted event lines, plus
    * an IPv4 segment so all three rule types fire. The oracle doesn't
    * run regexes at all: it constructs the expected redacted line
    * directly from the planted layout, so any over- or under-match by
    * the Spark regex fold breaks string equality on every row. */
  def q52PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PiiRedact
    val events = Tables.parallel(s, dir, "events")
    val line = concat(contactLine,
      lit(" src 10."), pmod(col("user_id"), lit(256)), lit(".0."),
      pmod(col("user_id") * 3, lit(256)))
    events.select(col("event_id"),
        PiiRedact.redact(line).as("redacted"),
        PiiRedact.redactionCount(line).as("n_redacted"))
      .orderBy("event_id")
  }

  /** q53: deterministic corpus reshard ([[graft.operators.Reshard]]):
    * seed-42 hash order into 32 shards. Read-back oracle: the hash is
    * echoed (pinned against official vectors by HashesSpec), and DuckDB
    * re-derives shard = pmod(h, 32) and pos = row_number by (h, id)
    * from it, anchored on `documents` via a LEFT join so a missing or
    * fabricated id breaks the row count. */
  def q53Reshard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Reshard.reshard(
        Tables.parallel(s, dir, "documents"), "doc_id",
        nShards = 32, seed = 42L)
      .orderBy("shard", "pos")

  /** Exhaustive all-pairs k-gram Jaccard ground truth — ONE definition
    * shared by q18 (MinHash-LSH), q43 (exact PPJoin), and q114's
    * Zipf-hot skew gate ([[DedupGates]]), so every blocking algorithm is
    * cross-validated against the identical oracle shape. `corpusCte`
    * must define an `aug(doc_id, text)` CTE body. */
  private[queries] def exactJaccardPairsSql(k: Int, threshold: String,
      corpusCte: String = augmentedSql): String = {
    val split = "string_split(text, ' ')"
    val gram = (0 until k)
      .map(j => if (j == 0) s"$split[i]" else s"$split[i+$j]")
      .mkString(" || ' ' ||\n           ")
    s"""WITH $corpusCte,
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, len($split) - ${k - 1}),
      |      i -> $gram)) AS s
      |  FROM aug),
      |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) >= $threshold
      |ORDER BY id_a, id_b""".stripMargin
  }

  /** The 3-gram Jaccard ≥ 0.8 ground truth over the augmented corpus:
    * q18's and q43's oracle, and q118's (the stop-gram bind path). */
  private[queries] val jaccardNearDupSql = exactJaccardPairsSql(3, "0.8")

  val entries: Seq[Query] = Seq(
    Query("q18_minhash_neardup", q18MinhashNearDup, jaccardNearDupSql),
    Query("q43_jaccard_neardup", q43JaccardNearDup, jaccardNearDupSql),
    Query("q45_distinct_approx", q45DistinctApprox,
      s"""WITH a AS (
        |  SELECT lang, approx_distinct
        |  FROM read_parquet('$oracleInputDir/q45_distinct_approx.parquet/*.parquet')),
        |e AS (
        |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY lang)
        |SELECT a.lang, a.approx_distinct, e.exact_distinct,
        |  round(CAST(abs(a.approx_distinct - e.exact_distinct) AS DOUBLE)
        |    / e.exact_distinct, 6) AS rel_err,
        |  round(CAST(abs(a.approx_distinct - e.exact_distinct) AS DOUBLE)
        |    / e.exact_distinct, 6) <= 0.05 AS within_tol
        |FROM a JOIN e USING (lang) ORDER BY lang""".stripMargin, readBack = true),
    Query("q44_seq_pack", q44SeqPack,
      s"""WITH t0 AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents),
        |ng AS (SELECT greatest(CAST(8 AS BIGINT),
        |  (sum(n_tokens) + ${SeqPack.DefaultTokensPerGroup - 1}) //
        |    ${SeqPack.DefaultTokensPerGroup}) AS g FROM t0),
        |t AS (SELECT doc_id,
        |  CAST(doc_id % (SELECT g FROM ng) AS BIGINT) AS pack_group,
        |  n_tokens FROM t0),
        |c AS (SELECT doc_id, pack_group, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS ts
        |FROM t)
        |SELECT doc_id, pack_group, n_tokens,
        |  CAST(ts // 512 AS BIGINT) AS seq_id,
        |  CAST(ts % 512 AS BIGINT) AS tok_offset,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (ts + n_tokens - 1) // 512 - ts // 512 + 1 END
        |    AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("q19_ann_topk", q19AnnTopK,
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nn_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, nn_id, round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q CROSS JOIN c WHERE nn_id != q_id),
        |ranked AS (
        |  SELECT q_id, nn_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, nn_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT q_id, rank, nn_id, cos FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Query("q20_lang_id", q20LangId,
      """WITH t AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
        |s AS (SELECT doc_id,
        |  (length(p) - length(replace(p, ' the ', ''))) // 5 +
        |  (length(p) - length(replace(p, ' and ', ''))) // 5 AS s_en,
        |  (length(p) - length(replace(p, ' der ', ''))) // 5 +
        |  (length(p) - length(replace(p, ' und ', ''))) // 5 AS s_de,
        |  (length(p) - length(replace(p, ' le ', ''))) // 4 +
        |  (length(p) - length(replace(p, ' et ', ''))) // 4 AS s_fr,
        |  (length(p) - length(replace(p, ' el ', ''))) // 4 +
        |  (length(p) - length(replace(p, ' y ', ''))) // 3 AS s_es
        |FROM t)
        |SELECT doc_id, s_en, s_de, s_fr, s_es,
        |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q21_text_quality", q21TextQuality,
      """WITH t AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |FROM documents)
        |SELECT doc_id, n_chars_m, n_tokens, n_distinct,
        |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS diversity,
        |  round(CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / n_tokens, 6)
        |    AS avg_token_len,
        |  (n_tokens >= 5 AND n_tokens <= 1000 AND
        |   round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) >= 0.05)
        |    AS quality_ok
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("q22_token_count", q22TokenCount,
      """WITH t AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS BIGINT) AS re
        |FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS sum_ws_toks,
        |  CAST(sum(re) AS BIGINT) AS sum_re_toks,
        |  round(CAST(sum(ws) AS DOUBLE) / count(*), 6) AS avg_ws_toks
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q23_fingerprint", q23Fingerprint,
      """SELECT source, count(DISTINCT lower(trim(text))) AS n_unique,
        | count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // Read-back oracles (q24/q28/q31): re-derive every SQL-expressible
    // column of the returned rows from the raw tables; see each query's
    // scaladoc for the verified-vs-echoed split.
    Query("q24_simhash_neardup", q24SimhashNearDup,
      s"""WITH $augmentedSql,
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |pairs AS (SELECT id_a, id_b, hamming FROM read_parquet('$oracleInputDir/q24_simhash_neardup.parquet/*.parquet'))
        |SELECT p.id_a, p.id_b, p.hamming,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin, readBack = true),
    Query("q67_pq_ann", q67PqAnn,
      s"""WITH pairs AS (
        |  SELECT q_id, nn_id FROM read_parquet('$oracleInputDir/q67_pq_ann.parquet/*.parquet')),
        |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rescored AS (
        |  SELECT p.q_id, p.nn_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
        |  FROM pairs p
        |  JOIN emb q ON q.vec_id = p.q_id
        |  JOIN emb c ON c.vec_id = p.nn_id)
        |SELECT q_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, nn_id ASC) AS INTEGER) AS rank,
        |  nn_id, cos
        |FROM rescored ORDER BY q_id, rank""".stripMargin, readBack = true),
    Query("q28_ivf_ann", q28IvfAnn,
      s"""WITH pairs AS (
        |  SELECT q_id, nn_id FROM read_parquet('$oracleInputDir/q28_ivf_ann.parquet/*.parquet')),
        |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rescored AS (
        |  SELECT p.q_id, p.nn_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
        |  FROM pairs p
        |  JOIN emb q ON q.vec_id = p.q_id
        |  JOIN emb c ON c.vec_id = p.nn_id)
        |SELECT q_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, nn_id ASC) AS INTEGER) AS rank,
        |  nn_id, cos
        |FROM rescored ORDER BY q_id, rank""".stripMargin, readBack = true),
    Query("q31_winnow_neardup", q31WinnowNearDup,
      s"""WITH $augmentedSql,
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |pairs AS (SELECT id_a, id_b, shared_fps FROM read_parquet('$oracleInputDir/q31_winnow_neardup.parquet/*.parquet'))
        |SELECT p.id_a, p.id_b, p.shared_fps,
        |  CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            len(list_distinct(list_concat(a.s, b.s))) END AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin, readBack = true),
    Query("q25_embed_neardup", q25EmbedNearDup,
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2),
        |         label
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM corpus a JOIN corpus b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q32_cluster_dedup", q32ClusterDedup,
      s"""WITH RECURSIVE $augmentedSql,
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
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s)
        |SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS rep_id
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin),
    Query("q33_embed_neardup_lsh", q33EmbedNearDupLsh,
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2)
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q35_repetition", q35Repetition,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram)
        |SELECT doc_id,
        |  CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(max(n) AS BIGINT) AS top_bigram_n,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_frac,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) >= 0.18 AS repetitive
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q36_pii_extract", q36PiiExtract,
      """SELECT event_id,
        |  event_type || CAST(user_id AS VARCHAR) || '@example.com' AS email_1,
        |  event_type || '_admin@corp.io' AS email_2,
        |  CAST(user_id % 900 + 100 AS VARCHAR) || '-' ||
        |    CAST((user_id * 7) % 9000 + 1000 AS VARCHAR) AS phone,
        |  CAST(3 AS BIGINT) AS n_pii
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q26_media_meta", q26MediaMeta,
      """SELECT doc_id AS media_id, 'image' AS kind,
        | CAST(strlen(text) AS BIGINT) AS size_bytes,
        | CAST(strlen(text) % 640 AS INTEGER) AS width,
        | CAST(strlen(text) % 480 AS INTEGER) AS height,
        | CAST(strlen(text) // 100 + 1 AS INTEGER) AS n_frames,
        | CAST(strlen(text) % 100 AS BIGINT) AS first_frame_offset,
        | 'opaque' AS status
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS media_id,
        | CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |   WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' WHEN 4 THEN 'webp'
        |   ELSE 'tiff' END AS kind,
        | CAST(CASE doc_id % 6 WHEN 0 THEN 45 WHEN 1 THEN 23
        |   WHEN 2 THEN 13 WHEN 3 THEN 54 WHEN 4 THEN 30
        |   ELSE 38 END AS BIGINT) AS size_bytes,
        | CAST(doc_id % 640 + 1 AS INTEGER) AS width,
        | CAST(doc_id % 480 + 1 AS INTEGER) AS height,
        | CAST(1 AS INTEGER) AS n_frames,
        | CAST(0 AS BIGINT) AS first_frame_offset,
        | 'ok' AS status
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 2000000 AS media_id,
        | CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |   WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' WHEN 4 THEN 'webp'
        |   ELSE 'tiff' END AS kind,
        | CAST(CASE doc_id % 6 WHEN 0 THEN 12 WHEN 1 THEN 6
        |   WHEN 2 THEN 8 WHEN 3 THEN 26 WHEN 4 THEN 12
        |   ELSE 8 END AS BIGINT) AS size_bytes,
        | CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
        | CAST(0 AS INTEGER) AS n_frames,
        | CAST(0 AS BIGINT) AS first_frame_offset,
        | 'quarantined' AS status
        |FROM documents ORDER BY media_id""".stripMargin),
    Query("q37_contamination", q37Contamination,
      """WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id % 20 <> 0),
        |bw AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id % 20 = 0),
        |bg AS (SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS gram
        |       FROM bw, UNNEST(range(1, greatest(len(w) - 2, 1))) AS t(i)),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS gram
        |       FROM tw, UNNEST(range(1, greatest(len(w) - 2, 1))) AS t(i)),
        |cnt AS (SELECT doc_id, count(*) AS n_hit
        |        FROM tg JOIN bg USING(gram) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(cnt.n_hit, 0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN coalesce(tot.n_grams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(CAST(coalesce(cnt.n_hit, 0) AS DOUBLE)
        |                  / tot.n_grams, 6) END AS contam_frac,
        |  coalesce(cnt.n_hit, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN tot ON tot.doc_id = d.doc_id
        |LEFT JOIN cnt ON cnt.doc_id = d.doc_id
        |ORDER BY 1""".stripMargin),
    Query("q38_dedup_corpus", q38DedupCorpus,
      s"""WITH RECURSIVE $augmentedSql,
        |aug2 AS (SELECT doc_id, text FROM aug
        |         UNION ALL
        |         SELECT doc_id + 2000000, text FROM documents
        |         WHERE n_chars >= 100),
        |g AS (SELECT doc_id, text,
        |        min(doc_id) OVER (PARTITION BY lower(trim(text))) AS erep
        |      FROM aug2),
        |reps AS (SELECT doc_id, text FROM g WHERE doc_id = erep),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM reps),
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
        |near_drop AS (SELECT doc_id FROM comp WHERE doc_id <> rep)
        |SELECT g.doc_id AS doc_id,
        |  CASE WHEN g.doc_id <> g.erep THEN 'exact_dup'
        |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'kept' END AS stage,
        |  (g.doc_id = g.erep AND nd.doc_id IS NULL) AS kept
        |FROM g LEFT JOIN near_drop nd ON nd.doc_id = g.doc_id
        |ORDER BY 1""".stripMargin),
    Query("q39_corpus_mix", q39CorpusMix,
      """WITH wt AS (
        |  SELECT 'src' || CAST(i AS VARCHAR) AS source,
        |    CAST(CASE i % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 0.5
        |         WHEN 2 THEN 1.0 ELSE 2.5 END AS DOUBLE) AS w
        |  FROM range(20) t(i)),
        |n AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN d.doc_id % 1000 < (w - floor(w)) * 1000
        |           THEN 1 ELSE 0 END AS nc
        |  FROM documents d JOIN wt USING(source))
        |SELECT doc_id, source, CAST(c AS BIGINT) AS copy
        |FROM n, UNNEST(range(1, nc + 1)) t(c)
        |ORDER BY doc_id, copy""".stripMargin),
    Query("q40_quality_filter", q40QualityFilter,
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |           FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  round(CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w), 6)
        |    AS mean_word_len,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        |    AS diversity,
        |  list_has_any(w, ['the', 'a', 'and']) AS stop_ok
        |FROM t)
        |SELECT doc_id, n_words, mean_word_len, diversity, stop_ok,
        |  n_words BETWEEN 50 AND 10000 AS n_words_ok,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS word_len_ok,
        |  diversity >= 0.1 AS diversity_ok,
        |  (n_words BETWEEN 50 AND 10000 AND
        |   mean_word_len BETWEEN 3.0 AND 10.0 AND
        |   diversity >= 0.1 AND stop_ok) AS pass
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("q41_corpus_build", q41CorpusBuild,
      s"""$corpusBuildSqlPrefix
        |SELECT doc_id, source, CAST(c AS BIGINT) AS copy
        |FROM n, UNNEST(range(1, nc + 1)) t(c)
        |ORDER BY doc_id, copy""".stripMargin),
    Query("q46_corpus_pack", q46CorpusPack,
      s"""$corpusBuildSqlPrefix,
        |mixed AS (
        |  SELECT doc_id, source, CAST(c AS BIGINT) AS copy
        |  FROM n, UNNEST(range(1, nc + 1)) t(c)),
        |tok AS (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM corpus),
        |packrows0 AS (
        |  SELECT m.doc_id * 8 + m.copy AS row_id, m.doc_id, t.n_tokens
        |  FROM mixed m JOIN tok t USING (doc_id)),
        |ng AS (SELECT greatest(CAST(8 AS BIGINT),
        |  (sum(n_tokens) + ${SeqPack.DefaultTokensPerGroup - 1}) //
        |    ${SeqPack.DefaultTokensPerGroup}) AS g FROM packrows0),
        |packrows AS (
        |  SELECT row_id,
        |    CAST(doc_id % (SELECT g FROM ng) AS BIGINT) AS pack_group, n_tokens
        |  FROM packrows0),
        |cum AS (
        |  SELECT row_id, pack_group, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY row_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS ts
        |  FROM packrows)
        |SELECT row_id, pack_group, n_tokens,
        |  CAST(ts // 512 AS BIGINT) AS seq_id,
        |  CAST(ts % 512 AS BIGINT) AS tok_offset,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (ts + n_tokens - 1) // 512 - ts // 512 + 1 END
        |    AS BIGINT) AS n_seqs
        |FROM cum ORDER BY row_id""".stripMargin),
    Query("q47_semantic_dedup", q47SemanticDedup,
      s"""WITH RECURSIVE out AS (
        |  SELECT vec_id, cell FROM read_parquet('$oracleInputDir/q47_semantic_dedup.parquet/*.parquet')),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2)
        |  FROM embeddings),
        |m AS (SELECT o.vec_id, o.cell, c.v FROM out o JOIN corpus c USING (vec_id)),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE a.cell <> -1
        |    AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.999),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |rep AS (SELECT s AS vec_id, least(s, min(d)) AS rep_id
        |        FROM reach GROUP BY s)
        |SELECT m.vec_id, m.cell,
        |  CAST(coalesce(rep.rep_id, m.vec_id) AS BIGINT) AS rep_id,
        |  coalesce(rep.rep_id, m.vec_id) = m.vec_id AS kept
        |FROM m LEFT JOIN rep USING (vec_id) ORDER BY m.vec_id""".stripMargin, readBack = true),
    Query("q48_bm25_topk", q48Bm25TopK, {
      val values = bm25Queries
        .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH q(q_id, q_text) AS (VALUES $values),
        |qt AS (SELECT q_id, unnest(list_distinct(string_split(q_text, ' '))) AS term
        |       FROM q),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM d),
        |tf AS (SELECT qt.q_id, qt.term, tok.doc_id, count(*) AS tf
        |       FROM tok JOIN qt USING (term) GROUP BY 1, 2, 3),
        |df AS (SELECT q_id, term, count(*) AS df FROM tf GROUP BY 1, 2),
        |sc AS (SELECT tf.q_id, tf.doc_id,
        |  CAST(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1) *
        |    (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
        |    AS DECIMAL(28,12)) AS s
        |  FROM tf JOIN df USING (q_id, term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (SELECT q_id, doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score
        |        FROM sc GROUP BY 1, 2),
        |r AS (SELECT q_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |  FROM agg)
        |SELECT q_id, rank, doc_id, score FROM r
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
    }),
    Query("q49_dup_spans", q49DupSpans,
      s"""WITH $augmentedSql,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
        |g2 AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+9], ' ') AS gram
        |       FROM toks, UNNEST(range(1, greatest(len(w) - 8, 1))) AS t(i)),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos, pos + 9 AS e FROM g2 JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos, e,
        |          max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |        FROM cov),
        |isl2 AS (SELECT doc_id, pos, e,
        |           sum(CASE WHEN pmax IS NULL OR pos > pmax + 1
        |               THEN 1 ELSE 0 END)
        |             OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS island
        |         FROM isl),
        |spans AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e2
        |          FROM isl2 GROUP BY doc_id, island),
        |prof AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
        |           CAST(sum(e2 - s + 1) AS BIGINT) AS dup_tokens
        |         FROM spans GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(t.w), 6)
        |    AS dup_ratio
        |FROM toks t LEFT JOIN prof p USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("q50_perplexity", q50Perplexity,
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |bo AS (SELECT doc_id, w[i] AS p, w[i] || ' ' || w[i+1] AS b
        |       FROM d, UNNEST(range(1, greatest(len(w), 1))) AS t(i)),
        |tf AS (SELECT doc_id, b, p, CAST(count(*) AS BIGINT) AS tf
        |       FROM bo GROUP BY 1, 2, 3),
        |c2 AS (SELECT b, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY b),
        |c1 AS (SELECT p, CAST(sum(tf) AS BIGINT) AS c1 FROM tf GROUP BY p),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |      FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |            FROM documents)),
        |term AS (SELECT tf.doc_id,
        |    CAST(ln((CAST(c2.c2 AS DOUBLE) + 1.0) /
        |        CAST(c1.c1 + v.v AS DOUBLE)) * tf.tf
        |      AS DECIMAL(28,12)) AS s,
        |    tf.tf AS tf
        |  FROM tf JOIN c2 USING (b) JOIN c1 USING (p) CROSS JOIN v),
        |agg AS (SELECT doc_id, sum(s) AS ss,
        |          CAST(sum(tf) AS BIGINT) AS n_bigrams
        |        FROM term GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  round(-CAST(a.ss AS DOUBLE) / a.n_bigrams, 6) AS nll,
        |  CASE WHEN a.doc_id IS NULL THEN 'unscored'
        |       WHEN round(-CAST(a.ss AS DOUBLE) / a.n_bigrams, 6)
        |         <= CAST($perplexityHeadMax AS DOUBLE) THEN 'head'
        |       WHEN round(-CAST(a.ss AS DOUBLE) / a.n_bigrams, 6)
        |         <= CAST($perplexityMiddleMax AS DOUBLE) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("q51_incremental_dedup", q51IncrementalDedup,
      """WITH hist AS (SELECT doc_id, text FROM documents),
        |newb AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, strpos(text, ' ') + 1) AS text
        |  FROM documents WHERE n_chars >= 100
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE n_chars >= 100
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE n_chars >= 100),
        |ex AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_exact
        |       FROM newb n JOIN hist h
        |         ON lower(trim(n.text)) = lower(trim(h.text))
        |       GROUP BY 1),
        |ns AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, len(string_split(text, ' ')) - 2),
        |         i -> string_split(text, ' ')[i] || ' ' ||
        |              string_split(text, ' ')[i+1] || ' ' ||
        |              string_split(text, ' ')[i+2])) AS s
        |       FROM newb
        |       WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
        |hs AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, len(string_split(text, ' ')) - 2),
        |         i -> string_split(text, ' ')[i] || ' ' ||
        |              string_split(text, ' ')[i+1] || ' ' ||
        |              string_split(text, ' ')[i+2])) AS s
        |       FROM hist),
        |nr AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_near
        |       FROM ns n JOIN hs h
        |         ON len(n.s) > 0 AND len(h.s) > 0
        |        AND CAST(len(list_intersect(n.s, h.s)) AS DOUBLE) /
        |            len(list_distinct(list_concat(n.s, h.s))) >= 0.8
        |       GROUP BY 1)
        |SELECT n.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
        |       WHEN nr.doc_id IS NOT NULL THEN 'near'
        |       ELSE 'new' END AS verdict,
        |  CAST(coalesce(ex.n_exact, nr.n_near, 0) AS BIGINT) AS n_dups
        |FROM newb n
        |LEFT JOIN ex ON ex.doc_id = n.doc_id
        |LEFT JOIN nr ON nr.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin),
    Query("q52_pii_redact", q52PiiRedact,
      """SELECT event_id,
        |  'user ' || CAST(user_id AS VARCHAR) ||
        |    ' contact <EMAIL> or <EMAIL> tel <PHONE> src <IP>' AS redacted,
        |  CAST(4 AS BIGINT) AS n_redacted
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q53_reshard", q53Reshard,
      s"""WITH o AS (SELECT doc_id, h, shard, pos
        |           FROM read_parquet('$oracleInputDir/q53_reshard.parquet/*.parquet')),
        |j AS (SELECT d.doc_id, o.h FROM documents d
        |      LEFT JOIN o ON o.doc_id = d.doc_id),
        |r AS (SELECT doc_id, h,
        |        CAST(((h % 32) + 32) % 32 AS INTEGER) AS shard,
        |        CAST(row_number() OVER (
        |          PARTITION BY ((h % 32) + 32) % 32
        |          ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM j)
        |SELECT doc_id, h, shard, pos FROM r
        |ORDER BY shard, pos""".stripMargin, readBack = true))

  /** Shared WITH-chain of the corpus-build DAG oracle (quality gate →
    * exact dedup → transitive near-dup closure → decontamination → mix
    * copy counts), ending at CTE `n` — q41 appends the mix expansion,
    * q46 continues through token counts and the packing windows. */
  private lazy val corpusBuildSqlPrefix: String =
      """WITH RECURSIVE
        |corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1), source
        |  FROM documents WHERE n_chars >= 100
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, source FROM documents
        |  WHERE n_chars >= 100),
        |train AS (SELECT * FROM corpus
        |          WHERE NOT (doc_id < 1000000 AND doc_id % 20 = 0)),
        |q AS (
        |  SELECT doc_id, text, source FROM (
        |    SELECT doc_id, text, source,
        |      CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |      round(CAST(length(text) - (len(string_split(text,' ')) - 1)
        |        AS DOUBLE) / len(string_split(text,' ')), 6) AS mwl,
        |      round(CAST(len(list_distinct(string_split(text,' ')))
        |        AS DOUBLE) / len(string_split(text,' ')), 6) AS dv,
        |      list_has_any(string_split(text,' '), ['the','a','and']) AS stop_ok
        |    FROM train)
        |  WHERE n_words BETWEEN 50 AND 10000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND dv >= 0.1 AND stop_ok),
        |g AS (SELECT doc_id, text,
        |        min(doc_id) OVER (PARTITION BY lower(trim(text))) AS erep
        |      FROM q),
        |reps AS (SELECT doc_id, text FROM g WHERE doc_id = erep),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, len(string_split(text,' ')) - 2),
        |         i -> string_split(text,' ')[i] || ' ' ||
        |              string_split(text,' ')[i+1] || ' ' ||
        |              string_split(text,' ')[i+2])) AS s FROM reps),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |comp AS (SELECT s AS doc_id, least(s, min(d)) AS rep
        |         FROM reach GROUP BY s),
        |near_drop AS (SELECT doc_id FROM comp WHERE doc_id <> rep),
        |kept AS (SELECT r.doc_id, r.text FROM reps r
        |         LEFT JOIN near_drop nd ON nd.doc_id = r.doc_id
        |         WHERE nd.doc_id IS NULL),
        |bw AS (SELECT string_split(text,' ') AS w FROM corpus
        |       WHERE doc_id < 1000000 AND doc_id % 20 = 0),
        |bg AS (SELECT DISTINCT array_to_string(w[i:i+3],' ') AS gram
        |       FROM bw, UNNEST(range(1, greatest(len(w)-2,1))) AS t(i)),
        |kw AS (SELECT doc_id, string_split(text,' ') AS w FROM kept),
        |kg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3],' ') AS gram
        |       FROM kw, UNNEST(range(1, greatest(len(w)-2,1))) AS t(i)),
        |contam AS (SELECT DISTINCT doc_id FROM kg JOIN bg USING(gram)),
        |clean AS (SELECT k.doc_id FROM kept k
        |          LEFT JOIN contam c ON c.doc_id = k.doc_id
        |          WHERE c.doc_id IS NULL),
        |wt AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,
        |         CAST(CASE i % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 0.5
        |              WHEN 2 THEN 1.0 ELSE 2.5 END AS DOUBLE) AS w
        |       FROM range(20) t(i)),
        |base AS (SELECT c.doc_id, q2.source FROM clean c
        |         JOIN (SELECT doc_id, source FROM q) q2 USING (doc_id)),
        |n AS (SELECT b.doc_id, b.source,
        |        CAST(floor(w) AS BIGINT) +
        |          CASE WHEN b.doc_id % 1000 < (w - floor(w)) * 1000
        |               THEN 1 ELSE 0 END AS nc
        |      FROM base b JOIN wt USING(source))""".stripMargin
}
