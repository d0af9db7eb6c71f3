package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact edit-distance (Levenshtein) threshold self-join via
  * pigeonhole segment blocking, after Li/Deng/Feng's Pass-Join
  * (PVLDB 5(3), 2011 — public literature; the reference engine has no
  * similarity joins at all, see SURVEY.md §2.6 note on near-dup ops).
  *
  * Pigeonhole lemma: split string `a` into `d+1` contiguous segments.
  * Any `b` with `ed(a, b) <= d` leaves at least one segment of `a`
  * UNEDITED — it appears in `b` as an exact substring. Pass-Join's
  * multi-match-aware selection (Lemma 3) sharpens WHERE: there exists
  * a surviving segment `i` (0-based, start `p_c` in `a`) whose match
  * start `p` in `b` satisfies BOTH `|p − p_c| <= i` AND
  * `|p − p_c − Δ| <= d − i` (`Δ = len_b − len_a`) — a single integer
  * interval `[p_c + max(−i, Δ−(d−i)), p_c + min(i, Δ+(d−i))]` of
  * width `min(2i+1, 2(d−i)+1)`, summing to ~`(d+1)²/2` positions per
  * partner length instead of every start. Blocking on (exact segment
  * hash, segment index, segment length, that interval) is therefore
  * COMPLETE: recall 1.0 up to 64-bit hash collisions, which can only
  * ADD candidates (the exact verify rejects them), never drop a true
  * pair.
  *
  * Shape — two bounded explodes, one hash-join on narrow keys, verify
  * on candidates only:
  *
  *  1. Segment side: each string emits its `d+1` segments as
  *     `(xxhash64(seg), seg_index, seg_len, id, len, start)` —
  *     O(d·N) rows of ~32 bytes, never the strings.
  *  2. Window side: for each partner length `La ∈ [L−d, L+d]` and each
  *     segment index `i`, the segment length `l_i(La)` and expected
  *     start `p_c(La, i)` are KNOWN, so only the Lemma-3 interval is
  *     emitted — `O(d²)` distinct (index, length, start) triples per
  *     string after `array_distinct` (duplicates across nearby `La`
  *     collapse), independent of L, vs the O(L·d) of hashing every
  *     start (measured at sf1: 100 window rows/string vs 247) — and
  *     only for partner lengths that actually OCCUR in the corpus
  *     (one bounded distinct-length collect — a
  *     constant-length corpus otherwise pays the whole `2d+1` band
  *     for one useful length: 100 → 41 rows/string on q75).
  *  3. Join on `(hash, seg_index, seg_len)` — NOT the bare hash: a
  *     Zipf-common gram splits across `(d+1) × |lengths|` buckets, so
  *     the in-bucket cross-product (the superlinear term at scale)
  *     shrinks by that factor — with the length-band and per-index
  *     Lemma-3 position predicates inline, `id_a < id_b` (the lemma
  *     holds with either member as the segment side, so one direction
  *     suffices), then `distinct` candidate pairs — all BEFORE any
  *     string moves.
  *  4. Verify: candidates re-join the (id, string) base — two id-keyed
  *     hash joins, candidate-proportional — and run Spark's native
  *     banded `levenshtein(a, b, threshold)` (O(d·L) per pair, -1 past
  *     the band).
  *
  * Skew note for 100 TB: a segment shared by k strings at the SAME
  * index/length/±d position expands to O(k²) candidate pairs in step 3
  * — but that is the adversarial all-identical-strings case, where the
  * output itself is Θ(k²) and no blocking can beat its own result
  * size; Zipf-common grams at scattered positions split across the
  * composite key.
  *
  * Strings with `length <= maxDist` are dropped (their `d+1`-way split
  * has empty segments, which match everywhere): at that length the
  * predicate `ed <= d` is near-vacuous — callers pre-slice to a fixed
  * head (as q75 does) or pool tiny strings separately.
  */
object EditDistanceJoin {

  /** Longest supported string: the packed window codes carry segment
    * length and start in 24-bit fields. Longer inputs raise (loudly)
    * rather than silently corrupting codes and losing recall. */
  val MaxStrLen: Int = (1 << 24) - 1

  /** Driver bound on the distinct-length collect that feeds the
    * present-length window restriction (4 bytes/entry ⇒ 256 KiB at the
    * bound). The distinct-length domain is at most the longest string,
    * so the bound binds only on corpora mixing >64 K distinct lengths —
    * past it the operator falls back to full-band windows, which is
    * lossless (the restriction is a pruning, never a filter on truth),
    * just noisier on the probe side. */
  val MaxDistinctLengths: Int = 1 << 16

  /** All pairs `(id_a < id_b, dist)` with
    * `levenshtein(str_a, str_b) <= maxDist`.
    *
    * EAGER JOB + IMMUTABLE-INPUT ASSUMPTION: building the
    * returned DataFrame runs ONE narrow Spark job at call time — the
    * distinct-length collect that feeds the present-length window
    * restriction — so this call is not purely declarative (same
    * contract class as the gram joins' stop-table collect,
    * [[StopGrams.prefix]]). The collected length set is a
    * SNAPSHOT of `df` at call time: the restriction is lossless only
    * while the input plan is deterministic and its source unchanged
    * between this call and every execution of the result. A
    * non-deterministic input (rand-derived strings) or a source
    * directory that gains files after the call could hold a length
    * absent from the snapshot, and pairs needing that length would be
    * silently dropped. Callers violating that (rare — a re-read lake
    * partition mid-pipeline) should pin the input first
    * (localCheckpoint) so the collect and the execution read the same
    * rows. */
  def selfJoin(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val d = maxDist
    val parts = d + 1

    val base = df
      .select(col(idCol).cast("long").as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) > d)
      .withColumn("__len", length(col("__s")))
      // the packed (i, l, p) window codes below carry l and p in 24-bit
      // fields; a string past 2^24-1 chars would silently corrupt codes
      // and drop true pairs — fail LOUDLY instead (assert_true throws
      // per offending row; coalesce turns its null success into `keep`)
      .filter(coalesce(assert_true(col("__len") <= lit(MaxStrLen),
        lit(s"EditDistanceJoin supports strings up to $MaxStrLen chars " +
          "(packed window-code bound)")), lit(true)))
      // one 8-byte content digest per string rides the blocking rows:
      // Pass-Join's content filter applied AT THE JOIN — see
      // [[graft.functions.PackedHist]] for the soundness chain
      .withColumn("__ph", graft.functions.ColumnBridge.col(
        graft.functions.PackedHist(
          graft.functions.ColumnBridge.expr(col("__s")))))

    // Segment i of a length-L string under the balanced split:
    // k = L div parts, r = L % parts; segments 0..r-1 have length k+1,
    // the rest k; 1-based start = i*k + min(i, r) + 1. (floor() because
    // Spark's `/` on integers is DOUBLE division.)
    val k = floor(col("__len") / parts).cast("int")
    val r = (col("__len") % parts).cast("int")
    val segs = base.select(
      col("__id"), col("__len"), col("__ph"),
      explode(transform(sequence(lit(0), lit(d)), i => {
        val start = (i * k + least(i, r) + lit(1)).cast("int")
        val slen = (k + when(i < r, 1).otherwise(0)).cast("int")
        struct(i.cast("int").as("i"), slen.as("l"), start.as("p"),
          xxhash64(col("__s").substr(start, slen)).as("h"))
      })).as("e"))
      .select(col("__id").as("id_a"), col("__len").as("len_a"),
        col("__ph").as("ph_a"),
        col("e.i").as("i"), col("e.l").as("l"), col("e.p").as("p_a"),
        col("e.h").as("h"))

    // Window side: for each in-band partner length La (> d, or its
    // segments would be empty) and segment index i, emit ONLY the
    // Lemma-3 start interval around the expected position (width
    // min(2i+1, 2(d-i)+1) — multi-match-aware selection). Triples are
    // packed into one long (i << 48 | l << 24 | p) and de-duplicated,
    // so the substring is hashed once per DISTINCT triple. The codes
    // come from ONE compiled loop ([[graft.functions.WindowCodes]]):
    // the nested transform/filter/sequence lambda this replaces
    // allocated ~(2d+1)·(d+1) intermediate arrays per row and made the
    // window explode GC-hostage (profiled 2.2–11.3 s at sf1 on
    // identical data depending on heap state); the expression emits
    // one result array per row and is parity-pinned against the
    // lambda in EditDistanceJoinSpec.
    // Present-length restriction (the q75 carrier cut): windows exist to meet SEGMENT rows, whose (i, l)
    // derive from the segment string's actual length La — so codes for
    // an La no string has are pure probe noise. One narrow job (length
    // projection + map-combined distinct) collects the corpus's
    // distinct-length set; windows then emit only for lengths in
    // band ∩ set. Lossless: a true pair (a, b) matches through
    // La = len(a), present by construction. On a constant-length
    // corpus (q75: fixed 80-char heads) this cuts window rows — and
    // their substring hashing and join probes — from ~100 to 41 per
    // string; past the driver bound the full band is emitted instead
    // (same answer: fall back, never degrade, as the stop-gram table does).
    // Honest cost: the distinct is one extra corpus pass that reads
    // the string column to compute lengths (narrow OUTPUT, not a
    // narrow scan) — the operator already scans the strings 2× for
    // segments/windows, and the pass buys back a (2d+1)/k_present
    // multiple of window rows, substring hashes, AND join probes, so
    // it pays for itself whenever the length domain is meaningfully
    // sparser than the band (q75 re-stamp: sf1 6.64 → 3.50 s net of
    // this scan).
    val presentLengths: Array[Int] = {
      val rows = base.select(col("__len")).distinct()
        .limit(MaxDistinctLengths + 1).collect()
      if (rows.length > MaxDistinctLengths) null
      else {
        val a = rows.map(_.getInt(0))
        java.util.Arrays.sort(a)
        a
      }
    }
    val winCodes =
      if (presentLengths == null)
        graft.functions.ColumnBridge.col(
          graft.functions.WindowCodes(
            graft.functions.ColumnBridge.expr(col("__len")), d))
      else
        graft.functions.ColumnBridge.col(
          graft.functions.WindowCodesPresent(
            graft.functions.ColumnBridge.expr(col("__len")), d,
            df.sparkSession.sparkContext.broadcast(presentLengths)))
    val code = col("__c")
    val wins = base.select(
      col("__id"), col("__len"), col("__s"), col("__ph"),
      explode(winCodes).as("__c"))
      .select(col("__id").as("id_b"), col("__len").as("len_b"),
        col("__ph").as("ph_b"),
        shiftright(code, 48).cast("int").as("i"),
        shiftright(code, 24).bitwiseAND(lit((1L << 24) - 1))
          .cast("int").as("l"),
        code.bitwiseAND(lit((1L << 24) - 1)).cast("int").as("p_b"),
        xxhash64(col("__s").substr(
          code.bitwiseAND(lit((1L << 24) - 1)).cast("int"),
          shiftright(code, 24).bitwiseAND(lit((1L << 24) - 1)).cast("int")))
          .as("h"))

    // hot-bucket census: the join buckets are
    // the composite (h, i, l) keys — a boilerplate clique puts k
    // strings in the SAME bucket and the candidate stage goes O(k²).
    // No size column exists (streaming hash join), so this is the
    // driver-side top-N census over the segment side's key population:
    // one narrow job (an 8-byte combined key per segment row) that
    // re-runs only the projection+hash stage, never the verify.
    graft.functions.SkewWarn.logTopBuckets(
      segs.select(xxhash64(col("h"), col("i"), col("l")).as("__bk")),
      "__bk", "EditDistanceJoin.selfJoin")

    val candidates = segs.join(wins, Seq("h", "i", "l"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= d &&
        abs(col("p_b") - col("p_a")) <= col("i") &&
        abs(col("p_b") - col("p_a") - (col("len_b") - col("len_a"))) <=
          lit(d) - col("i") &&
        // 8-bucket content filter on the JOINED blocking rows: two
        // longs already on the row, so a content-impossible pair dies
        // here — before the distinct shuffle and the string joins —
        // while the tighter 256-bucket CodepointL1 below still guards
        // the DP. Never drops a true pair (PackedHist soundness chain).
        graft.functions.ColumnBridge.col(graft.functions.PackedHistL1(
          graft.functions.ColumnBridge.expr(col("ph_a")),
          graft.functions.ColumnBridge.expr(col("ph_b")))) <= 2 * d)
      .select("id_a", "id_b").distinct()

    candidates
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      // Pass-Join's content filter on the already-shuffled candidate
      // rows: the bucketed codepoint-frequency L1 is
      // ≤ 2·ed, so L1 > 2d proves ed > d without the banded DP — an
      // O(L) byte walk that discharges the (at sf1) ~5000:1
      // false-candidate majority before the O(d·L) verify; complete,
      // never drops a true pair ([[graft.functions.CodepointL1]])
      .filter(graft.functions.ColumnBridge.col(
        graft.functions.CodepointL1(
          graft.functions.ColumnBridge.expr(col("__sa")),
          graft.functions.ColumnBridge.expr(col("__sb")))) <= 2 * d)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb"), d).as("__lev"))
      .filter(col("__lev") >= 0)
      .select(col("id_a"), col("id_b"), col("__lev").cast("long").as("dist"))
  }
}
