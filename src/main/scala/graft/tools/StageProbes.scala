package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge
import graft.operators.MinHashLsh
import graft.queries.{CorpusExtras, DedupGates, LlmPipeline, MediaDedup}

/** Stage decompositions for ScaleBench rows that have earned one (r18
  * judge directive #5): each entry names PREFIX sub-pipelines of the
  * row's own plan, which ScaleBench times at BOTH scales right after
  * the row and ships in-artifact as `stage_decomp` — the prefix
  * decomposition that classified q50 (r18: scoring join 6.9× of a
  * 2.25× row, work-linear), but as a SELF-CLASSIFYING ARTIFACT FIELD
  * instead of a PLANS prose paragraph, re-measured on every sweep.
  *
  * Reading a decomposition: each stage's sf1/sf0.1 ratio brackets where
  * the row's ratio lives. A row whose stages all carry ratios at or
  * below its own, with the heaviest stage a known work-linear map, is
  * the overhead-amortization class (the sf0.1 denominator is fixed
  * session/stage setup that the sf1 numerator amortizes away — the
  * q52/q109 shape); a stage whose ratio EXCEEDS the row's by a margin
  * is the carrier to fix. The probes are prefixes of the actual query
  * code (same functions, same parameters), so a plan change in the row
  * automatically changes its probes.
  *
  * Registered rows — the r18 recurring trio (q18 2.88/2.77, q106
  * 2.93/2.63, q42 2.78/2.04 norm/raw), parked for multiple sweeps just
  * under every mechanical rule's threshold:
  *
  *  - q18_minhash_neardup: `sig_bands` = the fused shingle→minhash
  *    signature map + band explode (pre-shuffle, text-linear);
  *    `candidates` = + the one (band,bucket) shuffle, in-bucket pair
  *    expansion and distinct. The full row adds the two id→text joins
  *    and the fused Jaccard verify.
  *  - q47_semantic_dedup (added after the r19 full sweep stamped it
  *    raw 4.10 with no rule applicable — high raw, big denominator,
  *    honest re-sampled bands): `centroid_train` = the sampled
  *    k-means train, an eager driver-coordinated fixed cost;
  *    `assign` = + the corpus-linear nearest-cell map. The full row
  *    adds the per-cell quadratic pair scan (cell population pinned
  *    ~512 by construction), component labeling, and the verdict
  *    join + sort.
  *  - q42_quantiles_approx: `approx_sketch` = the Greenwald-Khanna
  *    sketch aggregate alone (constant-size partials, one shuffle).
  *    The full row adds the rank-check re-scan joined against the
  *    broadcast quantile table.
  *  - q59_containment_dedup (added after the r19 re-stamp parked it at
  *    norm 2.52 with aligned brackets — no rule applies, so the
  *    standing r14 skew-curve prose class moves in-artifact):
  *    `gram_df` = corpus gram hashing + the (gram, df) count shuffle;
  *    `pairs_unsorted` = the full containment join minus the row's
  *    final global sort.
  *  - q116_boilerplate_collapse (added after three r19 windows parked
  *    it at 2.4–3.1 raw with aligned brackets — no rule applies):
  *    `collapse` = the exact-collapse fingerprint groupBy; `gram_df`
  *    = + the collapsed corpus's (gram, df) count shuffle. The full
  *    row adds the prefix-ordered containment join over the
  *    collapsed reps.
  *  - q106_video_neardup: `plant_read` = the cached GIF plant scan;
  *    `avghash_map` = + the LZW decode → temporal-mean dHash map
  *    (payload-linear, the known dominant work class). The full row
  *    adds the Hamming band join and the output sort.
  */
object StageProbes {

  val probes: Map[String, Seq[(String, (SparkSession, String) => DataFrame)]] =
    Map(
      "q18_minhash_neardup" -> Seq(
        "sig_bands" -> { (s: SparkSession, dir: String) =>
          val docs = LlmPipeline.augmentedDocs(s, dir)
          MinHashLsh.bandBuckets(docs, col("doc_id"),
            ColumnBridge.col(graft.functions.MinHashTextSignature(
              ColumnBridge.expr(col("text")), 3, 64)), 64, 32)
        },
        "candidates" -> { (s: SparkSession, dir: String) =>
          val docs = LlmPipeline.augmentedDocs(s, dir)
          MinHashLsh.candidatePairs(
            MinHashLsh.bandBuckets(docs, col("doc_id"),
              ColumnBridge.col(graft.functions.MinHashTextSignature(
                ColumnBridge.expr(col("text")), 3, 64)), 64, 32))
        }),
      "q47_semantic_dedup" -> Seq(
        // sampled k-means centroid train (eager, driver-coordinated
        // sample + iterations) over the doubled corpus — fixed-job
        // overhead that a small sf0.1 denominator amortizes away
        "centroid_train" -> { (s: SparkSession, dir: String) =>
          val (corpus, nCells) = LlmPipeline.q47Corpus(s, dir)
          graft.operators.Ann.trainCentroids(
            corpus.filter(size(col("embedding")) > 0), "vec_id",
            "embedding", nCells, iters = 2,
            sampleN = math.max(2048, nCells * 64))
          corpus.select("vec_id").limit(1)
        },
        // + the assignment map (nearest-cell per vector) — the
        // corpus-linear stage
        "assign" -> { (s: SparkSession, dir: String) =>
          val (corpus, nCells) = LlmPipeline.q47Corpus(s, dir)
          val cents = graft.operators.Ann.trainCentroids(
            corpus.filter(size(col("embedding")) > 0), "vec_id",
            "embedding", nCells, iters = 2,
            sampleN = math.max(2048, nCells * 64))
          corpus.select(col("vec_id"),
            graft.operators.Ann.toDoubleArray(col("embedding")).as("__v"))
            .withColumn("cell", coalesce(
              when(size(col("__v")) > 0, element_at(
                graft.operators.Ann.nearestCells(col("__v"), cents, 1), 1)),
              lit(-1)))
        }),
      "q42_quantiles_approx" -> Seq(
        "approx_sketch" -> { (s: SparkSession, dir: String) =>
          graft.operators.Quantiles.approx(
            graft.Tables(s, dir, "lineitem"), "l_returnflag",
            "l_extendedprice",
            Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"),
            accuracy = 10000)
        }),
      "q59_containment_dedup" -> Seq(
        // the gram-df table: corpus gram hashing + the one (gram, df)
        // count shuffle — the stage that scales with corpus tokens
        "gram_df" -> { (s: SparkSession, dir: String) =>
          val g = CorpusExtras.snippetCorpus(s, dir)
            .select(col("doc_id").as("__id"),
              ColumnBridge.col(graft.functions.SortedGramHashes(
                ColumnBridge.expr(col("text")), 3)).as("__g"))
          g.select(explode(when(col("__g").isNotNull, col("__g")))
              .as("__gram"))
            .groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
            .filter(col("__df") >= 2)
        },
        // the full containment join minus the row's final global sort
        "pairs_unsorted" -> { (s: SparkSession, dir: String) =>
          graft.operators.ContainmentJoin.containedPairs(
            CorpusExtras.snippetCorpus(s, dir), "doc_id", "text",
            k = 3, minContainment = 0.9)
        }),
      "q116_boilerplate_collapse" -> Seq(
        // the exact-collapse (fingerprint groupBy keeping one rep per
        // identical-text class) — the stage that turns the cohort
        // quadratic into rep-count work
        "collapse" -> { (s: SparkSession, dir: String) =>
          graft.operators.DedupPipeline.collapseExact(
            DedupGates.boilerDocs(s, dir), "doc_id", "text")
        },
        // + the collapsed corpus's (gram, df) table — gram hashing +
        // the one count shuffle (the q59 probe shape over THIS corpus)
        "gram_df" -> { (s: SparkSession, dir: String) =>
          val g = graft.operators.DedupPipeline.collapseExact(
            DedupGates.boilerDocs(s, dir), "doc_id", "text")
            .select(col("doc_id").as("__id"),
              ColumnBridge.col(graft.functions.SortedGramHashes(
                ColumnBridge.expr(col("text")), 3)).as("__g"))
          g.select(explode(when(col("__g").isNotNull, col("__g")))
              .as("__gram"))
            .groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
            .filter(col("__df") >= 2)
        }),
      "q106_video_neardup" -> Seq(
        "plant_read" -> { (s: SparkSession, dir: String) =>
          MediaDedup.q106Media(s, dir)
        },
        "avghash_map" -> { (s: SparkSession, dir: String) =>
          MediaDedup.q106Media(s, dir).select(col("media_id"),
            graft.operators.VideoDedup.avgHash(col("payload")).as("__h"))
        }))
}
