package graft

import org.apache.spark.sql.DataFrame

import graft.functions.SkewWarn
import graft.operators.{ContainmentJoin, JaccardJoin}

/** Zipf-hot adversary for the pair-quadratic self-join family (r14
  * judge directive #1): a fixed boilerplate header on a third of the
  * docs makes every header trigram a hot key — the crawl shape the
  * skew machinery exists for, which the salted near-uniform gate
  * corpora never exercised. Pins, per path:
  *  - results stay EXACT under skew (brute-force parity — the blocking
  *    layer is lossless, not merely fast);
  *  - the probes observe the hot key exactly where hot buckets
  *    genuinely exist (the containment index side), and stay silent
  *    where the rare-first prefix order has already defused them (the
  *    Jaccard prefix buckets) — firing there would mean the prefix
  *    order failed and the pair join went quadratic.
  * The sf-scale candidate-count curve (r14, sf0.1 → sf1 at 10.25×
  * data: q114 distinct candidates grew 15.0× while the naive all-gram
  * volume grew 52.8×) is recorded in PLANS.md "Skew-adversary
  * decomposition"; the driver-gated corpora are q114/q115. */
class SkewGateSpec extends SparkSuite {

  test("ScaleBench rules 3/4/5 trigger predicates pin the historical " +
      "rows each rule was built from (r18 directives #1/#5)") {
    import graft.tools.ScaleBench._
    // rule-3 (r16 directive #4): band inflation — norm >= 3, raw <= 2.6
    assert(rule3Fires(norm = 3.35, raw = 2.5)) // q52 r18 sweep
    assert(!rule3Fires(norm = 3.35, raw = 2.8)) // high raw: real or named
    assert(!rule3Fires(norm = 2.97, raw = 2.02)) // under 3: rule-5 ground
    // rule-4 (r17 directive #2, r19 widened to the watchlist line):
    // small denominator — q106 r18 (norm 2.93, sf01 0.952) parked in
    // [2.5, 3) for multiple sweeps and no rule reached it; q52's r18
    // shape (3.35, 1.014) fired at the old threshold and still does
    assert(rule4Fires(norm = 2.93, sf01 = 0.952)) // q106 r18 — NOW fires
    assert(rule4Fires(norm = 3.35, sf01 = 1.014)) // q52 r18 — unchanged
    assert(!rule4Fires(norm = 2.93, sf01 = 1.25)) // q42-size denominator
    assert(!rule4Fires(norm = 2.4, sf01 = 0.95)) // under watchlist: quiet
    // rule-5 (r18 directive #1): between-windows band divergence —
    // q118 r18 (norm 2.97, bands 0.937/0.638 = 1.47x) and q42 r18
    // (2.78, 1.203/0.883 = 1.36x) fire; q18 r18 (2.88, 0.836/0.805 =
    // 1.04x — aligned brackets) must NOT (its treatment is the
    // stage_decomp field, not a band excuse)
    assert(rule5Fires(norm = 2.97, band01 = 0.937, band1 = 0.638))
    assert(rule5Fires(norm = 2.78, band01 = 1.203, band1 = 0.883))
    assert(!rule5Fires(norm = 2.88, band01 = 0.836, band1 = 0.805))
    assert(!rule5Fires(norm = 2.3, band01 = 0.937, band1 = 0.638))
    // divergence is direction-agnostic (a hot sf0.1 window inflates the
    // other way through the same mechanism)
    assert(rule5Fires(norm = 2.6, band01 = 0.638, band1 = 0.937))
  }

  private val header = "subscribe to our newsletter for breaking " +
    "updates and exclusive daily offers now" // 12 words, 10 hot trigrams

  /** Unique-vocabulary body per doc: rare grams have df ≤ 2 (doc +
    * perturbed copy), so EVERY bucket past the lowered threshold is a
    * header bucket by construction. */
  private def body(i: Long): String =
    (0 until 20).map(j => s"w${i}x$j").mkString(" ")

  private def baseDocs: Seq[(Long, String)] =
    (1L to 60L).map { i =>
      val t = body(i)
      (i, if (i % 3 == 0) header + " " + t else t)
    }

  private def toDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def grams(t: String): Set[String] =
    t.split(" ").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  /** Capture warnings, run `body`, restore the sink + threshold. */
  private def capturing(threshold: Long)(run: => Unit)
      : Seq[(String, Long)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val oldSink = SkewWarn.sink
    val oldThr = SkewWarn.threshold
    SkewWarn.reset()
    SkewWarn.sink = (tag, size, _) => { got.add((tag, size)); () }
    SkewWarn.threshold = threshold
    try run
    finally { SkewWarn.sink = oldSink; SkewWarn.threshold = oldThr
      SkewWarn.reset() }
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  test("Jaccard under a Zipf-hot header: exact brute-force parity, and " +
      "the rare-first prefix keeps every hot gram out of the probe " +
      "buckets (no hot-bucket warning fires)") {
    // perturbed copies (drop first word) plant true near-dup pairs that
    // must survive the skew
    val pert = baseDocs.filter(_._1 % 5 == 0).map { case (id, t) =>
      (id + 1000L, t.substring(t.indexOf(' ') + 1))
    }
    val corpus = baseDocs ++ pert
    val hotDf = corpus.count(_._2.startsWith("subscribe to our"))
    val events = capturing(threshold = math.max(10L, hotDf / 2)) {
      val got = JaccardJoin.nearDupPairs(toDf(corpus), "doc_id", "text",
          k = 3, minJaccard = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val g = corpus.map { case (id, t) => id -> grams(t) }.toMap
      val expect = (for {
        (a, ga) <- g.toSeq; (b, gb) <- g.toSeq if a < b
        j = (ga & gb).size.toDouble / (ga | gb).size if j >= 0.8
      } yield (a, b)).toSet
      assert(expect.nonEmpty, "plant produced no true pairs")
      assert(got === expect)
    }
    // header trigram df is past the lowered threshold by construction,
    // yet no prefix bucket reached it: the hot grams sorted LAST under
    // rare-first and never entered a prefix — a warning here would mean
    // the header bucket was pair-expanded (the quadratic failure)
    assert(hotDf >= 20, s"plant broke: only $hotDf hot docs")
    assert(events.isEmpty,
      s"hot bucket leaked into a Jaccard probe prefix: $events")
  }

  test("containment under a Zipf-hot header: exact brute-force parity, " +
      "and the index-side census reports the hot gram at its true df") {
    // snippet plant (the q115 shape): hot snippets keep the header, so
    // ~2/3 of a hot snippet's grams are hot — the worst honest probe
    val snips = baseDocs.filter(_._1 % 2 == 0).map { case (id, t) =>
      // drop exactly the header's word count (12) so hot snippets start
      // at the FIRST body word and are fully contained in their source
      // at 1.0 — the r15 drop(13) also dropped one body word, which cut
      // hot-snippet containment to 16/18 < 0.9 and silently planted
      // zero hot-snippet true pairs (r15 ADVICE). Derived, not a
      // literal, so the count can't drift from the header again.
      val bodyWords = (if (t.startsWith("subscribe to our"))
        t.split(" ").drop(header.split(" ").length)
      else t.split(" ")).take(8)
      val s = bodyWords.mkString(" ")
      (id + 4000L,
        if (t.startsWith("subscribe to our")) header + " " + s else s)
    }
    val corpus = baseDocs ++ snips
    val hotGramDf = corpus.count(_._2.startsWith("subscribe to our")).toLong
    val events = capturing(threshold = hotGramDf / 2) {
      val got = ContainmentJoin.containedPairs(toDf(corpus), "doc_id",
          "text", k = 3, minContainment = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val g = corpus.map { case (id, t) => id -> grams(t) }.toMap
      val expect = (for {
        (a, ga) <- g.toSeq; (b, gb) <- g.toSeq if a != b
        c = (ga & gb).size.toDouble / ga.size if c >= 0.9
      } yield (a, b)).toSet
      assert(expect.nonEmpty, "plant produced no true pairs")
      // the claimed coverage must actually exist: HOT snippets (header
      // kept, ~2/3 hot grams) are fully contained in their sources, so
      // their true pairs ride through the skew (r15 ADVICE: drop(13)
      // silently planted none)
      val hotSnipPairs = expect.filter { case (a, b) =>
        a > 4000L && corpus.exists(d => d._1 == a &&
          d._2.startsWith("subscribe to our")) && b == a - 4000L
      }
      assert(hotSnipPairs.nonEmpty,
        "no hot-snippet true pair survived the plant")
      assert(got === expect)
    }
    // the stop-gram census holds the full index-side population: the
    // hot header trigrams MUST surface here, at their exact df
    val census = events.filter(_._1 == "ContainmentJoin.containedPairs")
    assert(census.nonEmpty,
      "containment census stayed silent on a hot index gram")
    assert(census.map(_._2).max === hotGramDf,
      s"census max ${census.map(_._2).max} != header gram df $hotGramDf")
  }

  test("worst corner — a header-ONLY probe (every gram hot) joins the " +
      "full hot bucket and the result is still exact") {
    // one snippet that is exactly the boilerplate: its prefix CANNOT
    // avoid hot grams (there are no others), so it probes the whole
    // hot index bucket — the bounded blow-up the census reports. The
    // true answer is every header-carrying doc (containment 1.0), and
    // the operator must return exactly that, nothing else.
    val corpus = baseDocs :+ (9000L, header)
    val got = ContainmentJoin.containedPairs(toDf(corpus), "doc_id",
        "text", k = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = corpus.map { case (id, t) => id -> grams(t) }.toMap
    val expect = (for {
      (a, ga) <- g.toSeq; (b, gb) <- g.toSeq if a != b
      c = (ga & gb).size.toDouble / ga.size if c >= 0.9
    } yield (a, b)).toSet
    assert(got === expect)
    // the probe really fanned out: the header snippet pairs with every
    // hot base doc
    val hotIds = baseDocs.filter(_._2.startsWith("subscribe to our"))
      .map(_._1).toSet
    assert(hotIds.forall(h => got.contains((9000L, h))),
      "header-only probe must be contained in every header doc")
  }

  test("boilerplate-ONLY cohort (r15 directive #2): the exact-collapse " +
      "composition returns the exact representative-pair answer, " +
      "including the 9/10 = 0.9 borderline") {
    // 12 empty-crawl pages in 3 identical-body classes: the banner,
    // banner minus last word, banner + one word — every gram hot, so
    // uncollapsed each page probes the full hot bucket and the true
    // raw answer is quadratic in the class size. Collapsed, each class
    // is one min-id representative.
    val variants = Seq(header,
      header.split(" ").dropRight(1).mkString(" "), header + " today")
    val boiler = (0 until 12).map(j => (7000L + j, variants(j % 3)))
    val corpus = baseDocs ++ boiler
    val got = ContainmentJoin.containedPairsCollapsed(toDf(corpus),
        "doc_id", "text", k = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the collapsed reps (min id per lower/trim body)
    val reps = corpus.groupBy(_._2.trim.toLowerCase)
      .map { case (_, ds) => ds.minBy(_._1) }.toSeq
    val g = reps.map { case (id, t) => id -> grams(t) }.toMap
    val expect = (for {
      (a, ga) <- g.toSeq; (b, gb) <- g.toSeq if a != b
      c = (ga & gb).size.toDouble / ga.size if c >= 0.9
    } yield (a, b)).toSet
    assert(expect.nonEmpty)
    assert(got === expect)
    // the 12-page cohort collapsed to exactly its 3 class reps
    val cohortProbes = got.map(_._1).filter(_ >= 7000L)
    assert(cohortProbes.nonEmpty &&
      cohortProbes.subsetOf(Set(7000L, 7001L, 7002L)),
      s"cohort must probe only via its 3 reps, got $cohortProbes")
    // the banner is contained in every hot base doc via its rep only
    val hotIds = baseDocs.filter(_._2.startsWith("subscribe to our"))
      .map(_._1).toSet
    assert(hotIds.forall(h => got.contains((7000L, h))))
    // borderline both engines must agree on: banner → banner-minus-
    // last-word shares 9 of the banner's 10 grams — exactly 0.9
    assert(got.contains((7000L, 7001L)),
      "the 9/10 = 0.9 borderline pair must be admitted")
  }

  test("boilerplate-ONLY cohort, Jaccard twin: collapsed exact join " +
      "returns the rep-pair answer; the variant trio survives at " +
      "9/10, 10/11 and 9/11") {
    val variants = Seq(header,
      header.split(" ").dropRight(1).mkString(" "), header + " today")
    val boiler = (0 until 12).map(j => (7000L + j, variants(j % 3)))
    val corpus = baseDocs ++ boiler
    val got = JaccardJoin.nearDupPairsCollapsed(toDf(corpus),
        "doc_id", "text", k = 3, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reps = corpus.groupBy(_._2.trim.toLowerCase)
      .map { case (_, ds) => ds.minBy(_._1) }.toSeq
    val g = reps.map { case (id, t) => id -> grams(t) }.toMap
    val expect = (for {
      (a, ga) <- g.toSeq; (b, gb) <- g.toSeq if a < b
      j = (ga & gb).size.toDouble / (ga | gb).size if j >= 0.8
    } yield (a, b)).toSet
    assert(got === expect)
    // the 12-page cohort reduced to its 3 reps, which near-dup each
    // other: banner↔short 9/10 (0.90), banner↔long 10/11 (0.909),
    // short↔long 9/11 (0.818) — all over the 0.8 line; the RAW cohort would
    // have emitted 3·C(4,2) = 18 intra-class J=1.0 pairs plus
    // 3·4·4 = 48 cross-class pairs (66 vs these 3 — the quadratic
    // the collapse removes)
    assert(got.filter(p => p._1 >= 7000L && p._2 >= 7000L) ===
      Set((7000L, 7001L), (7000L, 7002L), (7001L, 7002L)))
  }
}
