package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.operators.{ImageDedup, JpegBuild, Multimodal, VideoDedup}
import graft.operators.WebpPixels.WebpBuild

/** Content-level media near-duplicate gates over planted corpora:
  * every `documents` row seeds a base image, clip or sound plus exactly
  * transformed copies at derived ids (+1M, +2M, …), decoded through the
  * real container paths and fingerprinted by the media operators, so
  * each oracle is the same id arithmetic at Hamming distance 0.
  *
  *  - q102 image (BMP, PNG, interlaced palette PNG, PackBits TIFF),
  *    q110 baseline JPEG, q112 lossless WEBP (VP8L).
  *  - q104 audio (PCM, G.711 and ADPCM renderings across WAV, AIFF and
  *    AU; stretched and re-levelled copies).
  *  - q106 video ([[VideoDedup.nearDupPairs]]), q113 the
  *    order-sensitive form ([[VideoDedup.orderedNearDupPairs]]), q108
  *    and q111 the fused form ([[VideoDedup.bothFormsPairs]], whose
  *    parity with the separate operators VideoDedupSpec pins).
  *  - q109 the media quarantine-reason census.
  *
  * Plants are served from [[MediaPlantCache]] after their first build.
  */
object MediaDedup {

  /** q102 plant geometry: base images are 18×16 px (2×2-px cells on the
    * 9×8 dHash grid), scaled copies 36×32 (4×4 cells) — grid-aligned,
    * so box-average downscale reproduces the identical cell grid and
    * the planted transforms land at Hamming distance EXACTLY 0. */
  val imgW = 18
  val imgH = 16

  /** The q102/q104/q106 plants derive copy populations at doc_id +1M/
    * +2M/+3M; that arithmetic (and the oracles built on it) is only
    * sound while base ids stay below 1,000,000. Guarded PER ROW inside
    * the flatMaps so a scale factor whose doc ids reach 1M fails
    * loudly instead of silently colliding the populations and
    * corrupting the gate (r9 ADVICE: the constraint used to live only
    * in a ScaleBench comment). */
  private[queries] def guardMediaId(id: Long): Long = {
    require(id >= 0 && id < 1000000L,
      s"media-plant id space exhausted: doc_id $id outside [0, 1e6) " +
        "collides with the +1M/+2M/+3M derived copy populations — " +
        "derive the offsets from max(doc_id) before running this SF")
    id
  }

  /** Per-(doc, cell) gray value in [1, 200]: pseudo-random via
    * splitmix64 so distinct docs get independent gradient-sign
    * patterns (expected cross-doc Hamming ≈ 32 ≫ the ≤3 cut), and
    * capped at 200 so the +16 brightness plant never clamps. */
  private[queries] def cellValue(id: Long, cell: Int): Int = {
    var z = id * 72L + cell + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    1 + java.lang.Math.floorMod(z, 200L).toInt
  }

  /** q102: content-level image near-dup via perceptual dHash over
    * DECODED 24-bit BMP pixels + exact Hamming-band blocking
    * ([[graft.operators.ImageDedup]]). Four payload populations per
    * doc_id: the base image; a 2× pixel-replication upscale (+1M ids);
    * a +16 uniform brightness shift (+2M ids) — both transforms leave
    * the dHash bit-identical BY CONSTRUCTION (gradient signs survive
    * scaling and uniform shifts), so the expected pair set is exactly
    * the three in-trio pairs per doc at hamming 0, which the oracle
    * re-derives arithmetically from doc_id with no read-back; plus the
    * doc's text lifted into opaque binary (+3M ids) — no pixel path,
    * hash NULL, and the operator must SKIP it, not throw or pair it.
    * A decode/endianness/row-order bug, a hash bit error, a broken
    * band, or an undecodable payload leaking into the join all change
    * the pair set and fail the gate. Cross-doc false pairs are
    * excluded by the ≤3 Hamming cut on ~32-expected-bit-distance
    * independent patterns.
    *
    * r10 adds a FIFTH population (+4M ids): the base pixels re-encoded
    * as a real RGB PNG with all five scanline filters cycling by row —
    * decoded through the independent Inflater/unfilter path
    * ([[ImageDedup.PngPixels]]), it must land bit-identical to the BMP
    * decode. r11 adds a SIXTH (+5M ids): the same pixels as an
    * Adam7-INTERLACED PALETTE PNG (identity-ramp PLTE, filters cycling
    * per image row inside each pass), covering the r11 decode
    * completion — PLTE lookup, per-pass filtering, and the 7-pass
    * deinterlace scatter must all reproduce the exact luma; and a
    * SEVENTH (+6M ids): a PackBits-compressed BIG-ENDIAN multi-strip
    * TIFF of the same pixels ([[graft.operators.TiffPixels]]) — IFD
    * walk, strip assembly, and RLE expansion join the collision group,
    * making the expected set C(6,2)=15 hamming-0 pairs per doc. */
  def q102ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // plant served from the per-(sf, code-version) parquet cache (r15:
    // the r12-directive-#4 treatment extended to the r9 media gates —
    // q102/q104/q106 still re-encoded their fixtures every evaluation,
    // burying the decoder under test exactly as q108-q112 once did)
    val media = MediaPlantCache.cached(s, dir, "q102_image_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def px(scale: Int, shift: Int)(x: Int, y: Int): Int =
          cellValue(id, (y / (2 * scale)) * 9 + x / (2 * scale)) + shift
        Seq(
          Multimodal.MediaRecord(id, "image",
            ImageDedup.ImageBuild.bmp24Gray(imgW, imgH)(px(1, 0))),
          Multimodal.MediaRecord(id + 1000000L, "image",
            ImageDedup.ImageBuild.bmp24Gray(2 * imgW, 2 * imgH)(px(2, 0))),
          Multimodal.MediaRecord(id + 2000000L, "image",
            ImageDedup.ImageBuild.bmp24Gray(imgW, imgH)(px(1, 16))),
          Multimodal.MediaRecord(id + 3000000L, "image",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "image",
            ImageDedup.ImageBuild.pngGray(imgW, imgH, colorType = 2,
              filterOf = y => y % 5)(px(1, 0))),
          Multimodal.MediaRecord(id + 5000000L, "image",
            ImageDedup.ImageBuild.pngGray(imgW, imgH, colorType = 3,
              interlace = true, filterOf = y => (y + 2) % 5)(px(1, 0))),
          // +6M (r11): the same pixels as a PackBits big-endian TIFF —
          // the fourth still container joins the collision sextet
          Multimodal.MediaRecord(id + 6000000L, "image",
            graft.operators.TiffPixels.TiffBuild.build(imgW, imgH,
              le = false, compression = 32773, rowsPerStrip = 5)(px(1, 0))))
      }
      .toDF("media_id", "kind", "payload")
    }
    ImageDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** q104 plant geometry: 65 frames × 8 samples — the stretch copy
    * repeats each sample ×2 (1040 samples), so the proportional frame
    * boundaries cover the same content and every RMS is bit-equal. */
  val audioFrameSamples = 8

  /** Per-(doc, frame) amplitude in [1, 10000] (splitmix64, q102's
    * discipline with a different salt): independent gradient-sign
    * patterns across docs, and ×2 volume stays below int16 range. */
  private[queries] def frameAmp(id: Long, frame: Int): Int = {
    var z = id * 131L + frame + 0x6a09e667f3bcc909L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    1 + java.lang.Math.floorMod(z, 10000L).toInt
  }

  /** q104: content-level AUDIO near-dup via the energy-envelope
    * difference hash over DECODED WAV samples + the shared
    * Hamming-band blocking ([[graft.operators.AudioDedup]]) — the
    * audio twin of q102. Ten populations per doc_id in two collision
    * groups plus an opaque control:
    *  - the PCM16 base clip; ×2 volume (+1M); ×2 duration by sample
    *    repetition (+2M) — both transforms leave the envelope
    *    gradient signs bit-identical BY CONSTRUCTION (RMS scales
    *    uniformly / is unchanged per aligned frame); and (r11) the
    *    SAME samples re-encoded as IEEE float32 (+4M, stores s/32768 —
    *    exact in a 24-bit mantissa) and PCM24 (+5M, stores s<<8) —
    *    the cross-FORMAT decode paths must land on bit-identical
    *    envelopes, so the quintet pairs completely (10 pairs/doc);
    *  - (r11) the G.711 quartet: one (seg, man) code sequence rendered
    *    as µ-law wire bytes (+6M), its CCITT expansion as PCM16 (+7M,
    *    closed form inlined HERE — the independent derivation the
    *    engine's decode must reproduce), the a-law rendering (+8M),
    *    and ITS expansion (+9M). Both expansions are strictly monotone
    *    in (seg, man), so the two codecs' envelopes carry the same
    *    gradient signs and all four collide (6 pairs/doc) — the
    *    loudness-ORDER invariance of the sign hash, asserted exactly;
    *  - (r11) the IMA ADPCM pair: one planted mono block of raw
    *    (predictor, index, nibbles) wire state (+10M) and its
    *    expansion by the IMA reference recurrence computed INLINE
    *    (+11M) — the engine's block decode must reproduce it sample
    *    for sample (1 more pair/doc);
    *  - (r11) cross-CONTAINER twins: the base samples as big-endian
    *    AIFF PCM16 (+12M) and Sun .au PCM16 (+13M), which join the
    *    base collision group — the quintet becomes a septet
    *    (21 pairs/doc);
    *  - (r11) the MS-ADPCM pair (+14M/+15M): the IMA discipline for
    *    format 2 — planted (predictor, delta, seeds, nibbles) wire
    *    state and its inline format-2 expansion (1 more pair/doc);
    *  - the doc's text as an opaque payload (+3M): skipped, never
    *    paired or thrown on. */
  def q104AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // r15: plant cached per (sf, code version) — see q102
    val media = MediaPlantCache.cached(s, dir, "q104_audio_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        import graft.operators.AudioDedup.WavBuild
        def rawSamples(gain: Int, stretch: Int): Array[Int] =
          Array.tabulate(65 * audioFrameSamples * stretch)(i =>
            gain * frameAmp(id, i / (audioFrameSamples * stretch)))
        def clip(gain: Int, stretch: Int): Array[Byte] =
          WavBuild.pcm16(rawSamples(gain, stretch))
        val base = rawSamples(1, 1)
        // r11 cross-format populations. +4M/+5M re-encode the SAME
        // samples: float32 stores s/32768 (exact in a 24-bit mantissa,
        // decodes back to s exactly), PCM24 stores s<<8 (decode
        // arithmetic-shifts back down) — bit-identical envelopes, so
        // they join the base quintet at hamming 0.
        val f32 = WavBuild.float32(base.map(v => v / 32768.0f))
        val p24 = WavBuild.pcm(base.map(_ << 8), bits = 24)
        // +6M..+9M: the G.711 quartet. Per frame, a (segment, mantissa)
        // code pair drives both codecs' wire bytes; the PCM16 twins
        // (+7M/+9M) store each codec's expansion computed by the
        // CCITT closed forms INLINE here — an independent derivation
        // the engine's decode tables must reproduce. Both expansions
        // are strictly monotone in the lexicographic (seg, man) order,
        // so the a-law and µ-law envelopes carry the SAME gradient
        // signs and all four populations collide at hamming 0 — the
        // loudness-order invariance, asserted by the oracle.
        val segMan = Array.tabulate(65) { f =>
          var z = id * 499L + f + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          val v = java.lang.Math.floorMod(z, 128L).toInt
          (v >> 4, v & 0xf) // (seg 0-7, man 0-15)
        }
        def perSample[T](f: ((Int, Int)) => T)(
            implicit t: scala.reflect.ClassTag[T]): Array[T] =
          Array.tabulate(65 * audioFrameSamples)(i =>
            f(segMan(i / audioFrameSamples)))
        val ulawBytes = perSample { case (seg, man) =>
          (~((seg << 4) | man)).toByte } // sign bit clear: positive
        val ulawLinear = perSample { case (seg, man) =>
          ((((man << 3) + 0x84) << seg) - 0x84) }
        val alawBytes = perSample { case (seg, man) =>
          ((0x80 | (seg << 4) | man) ^ 0x55).toByte } // sign SET: positive
        val alawLinear = perSample { case (seg, man) =>
          if (seg == 0) (man << 4) + 8 else ((man << 4) + 0x108) << (seg - 1) }
        // +10M/+11M: IMA ADPCM pair (r11). One mono block: planted
        // predictor/index/nibble wire state, with the expected
        // expansion computed INLINE by the IMA reference recurrence —
        // an independent derivation of the engine's block decode.
        val adpcmNibbles = Array.tabulate(260) { i =>
          var z = id * 613L + i + 0xd1b54a32d192ed03L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z ^= z >>> 31
          (z & 0xff).toInt.toByte
        }
        val adpcmPred0 = (java.lang.Math.floorMod(id * 31L, 4001L) - 2000L).toInt
        val adpcmIdx0 = java.lang.Math.floorMod(id * 7L, 89L).toInt
        val adpcmLinear = {
          val step = graft.operators.AudioDedup.WavPcm.ImaStep
          val out = new Array[Int](1 + 520)
          out(0) = adpcmPred0
          var pred = adpcmPred0
          var idx = adpcmIdx0
          var k = 0
          while (k < 520) {
            val byte = adpcmNibbles(k / 2) & 0xff
            val nib = if ((k & 1) == 0) byte & 0x0f else byte >> 4
            var diff = step(idx) >> 3
            if ((nib & 1) != 0) diff += step(idx) >> 2
            if ((nib & 2) != 0) diff += step(idx) >> 1
            if ((nib & 4) != 0) diff += step(idx)
            pred = math.max(-32768,
              math.min(32767, if ((nib & 8) != 0) pred - diff else pred + diff))
            idx = math.max(0, math.min(88,
              idx + Array(-1, -1, -1, -1, 2, 4, 6, 8)(nib & 7)))
            out(1 + k) = pred
            k += 1
          }
          out
        }
        // MS-ADPCM wire state + the inline format-2 expansion (reuses
        // the IMA nibble stream; the recurrences differ entirely)
        val msPred = java.lang.Math.floorMod(id * 13L, 7L).toInt
        val msDelta0 = 16 + java.lang.Math.floorMod(id * 17L, 400L).toInt
        val msSamp1 = (java.lang.Math.floorMod(id * 19L, 4001L) - 2000L).toInt
        val msSamp2 = (java.lang.Math.floorMod(id * 23L, 4001L) - 2000L).toInt
        val msLinear = {
          val coefs = graft.operators.AudioDedup.WavBuild.MsCoefs
          val adapt = Array(230, 230, 230, 230, 307, 409, 512, 614,
            768, 614, 512, 409, 307, 230, 230, 230)
          val out = new Array[Int](2 + 520)
          out(0) = msSamp2; out(1) = msSamp1
          var samp1 = msSamp1; var samp2 = msSamp2; var delta = msDelta0
          val (c1v, c2v) = coefs(msPred)
          var k = 0
          while (k < 520) {
            val b = adpcmNibbles(k / 2) & 0xff
            val nib = if ((k & 1) == 0) b >> 4 else b & 0x0f // HIGH first
            val signed = (nib << 28) >> 28
            val predicted =
              (samp1.toLong * c1v + samp2.toLong * c2v) / 256 +
                signed.toLong * delta
            val samp = math.max(-32768L, math.min(32767L, predicted)).toInt
            samp2 = samp1; samp1 = samp
            delta = math.max(16, adapt(nib) * delta / 256)
            out(2 + k) = samp
            k += 1
          }
          out
        }
        Seq(
          Multimodal.MediaRecord(id, "audio", clip(1, 1)),
          Multimodal.MediaRecord(id + 1000000L, "audio", clip(2, 1)),
          Multimodal.MediaRecord(id + 2000000L, "audio", clip(1, 2)),
          Multimodal.MediaRecord(id + 3000000L, "audio",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "audio", f32),
          Multimodal.MediaRecord(id + 5000000L, "audio", p24),
          Multimodal.MediaRecord(id + 6000000L, "audio",
            WavBuild.g711(ulawBytes, alaw = false)),
          Multimodal.MediaRecord(id + 7000000L, "audio",
            WavBuild.pcm16(ulawLinear)),
          Multimodal.MediaRecord(id + 8000000L, "audio",
            WavBuild.g711(alawBytes, alaw = true)),
          Multimodal.MediaRecord(id + 9000000L, "audio",
            WavBuild.pcm16(alawLinear)),
          Multimodal.MediaRecord(id + 10000000L, "audio",
            WavBuild.imaAdpcmMono(
              Seq((adpcmPred0, adpcmIdx0, adpcmNibbles)))),
          Multimodal.MediaRecord(id + 11000000L, "audio",
            WavBuild.pcm16(adpcmLinear)),
          // +12M/+13M (r11): the same base samples under the OTHER two
          // audio containers — big-endian AIFF and Sun .au PCM16 —
          // joining the base collision group (cross-CONTAINER parity,
          // the audio twin of q111)
          Multimodal.MediaRecord(id + 12000000L, "audio",
            graft.operators.AudioDedup.AiffBuild.pcm16(base)),
          Multimodal.MediaRecord(id + 13000000L, "audio",
            graft.operators.AudioDedup.AuBuild.pcm16(base)),
          // +14M/+15M (r11): the MS-ADPCM pair — same discipline as
          // the IMA pair, with the format-2 recurrence inlined
          Multimodal.MediaRecord(id + 14000000L, "audio",
            WavBuild.msAdpcmMono(Seq((msPred, msDelta0, msSamp1,
              msSamp2, adpcmNibbles)))),
          Multimodal.MediaRecord(id + 15000000L, "audio",
            WavBuild.pcm16(msLinear)))
      }
      .toDF("media_id", "kind", "payload")
    }
    graft.operators.AudioDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** Per-(doc, frame, cell) gray value in [1, 200] (the q102/q104
    * splitmix64 discipline, third salt): independent per-frame
    * patterns, +16 brightness never clamps at 8-bit. */
  private[queries] def videoCell(id: Long, f: Int, cell: Int): Int = {
    var z = id * 977L + f * 72L + cell + 0x2545f4914f6cdd1dL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    1 + java.lang.Math.floorMod(z, 200L).toInt
  }

  /** q106: content-level VIDEO near-dup — animated GIFs decoded
    * frame-by-frame through a real LZW decoder, fingerprinted by the
    * temporal-mean-image dHash, blocked by the shared Hamming bands
    * ([[graft.operators.VideoDedup]]). Four populations per doc_id:
    * a 5-frame base clip; the same frames each repeated twice (+1M —
    * time stretch, identical integer mean); +16 brightness on every
    * frame (+2M — the mean shifts uniformly, gradient signs survive);
    * and opaque text (+3M — no video path, skipped). Both transforms
    * are EXACT, so the oracle is the same arithmetic in-trio pair set
    * at hamming 0 as q102/q104. */
  def q106VideoNearDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.VideoDedup.nearDupPairs(q106Media(s, dir),
        "media_id", "payload", maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")

  /** q106's planted GIF corpus (cache-served after the first build) —
    * factored out so the ScaleBench stage probes ([[graft.tools.StageProbes]]) can
    * time the plant read and the decode map against the full row. */
  private[graft] def q106Media(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // r15: plant cached per (sf, code version) — see q102
    MediaPlantCache.cached(s, dir, "q106_video_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def frame(f: Int, shift: Int)(x: Int, y: Int): Int =
          videoCell(id, f, (y / 2) * 9 + x / 2) + shift
        def gif(frameIds: Seq[Int], shift: Int): Array[Byte] =
          graft.operators.VideoDedup.GifBuild.animatedGray(imgW, imgH,
            frameIds.map(f => frame(f, shift) _))
        Seq(
          Multimodal.MediaRecord(id, "video", gif(0 until 5, 0)),
          Multimodal.MediaRecord(id + 1000000L, "video",
            gif((0 until 5).flatMap(f => Seq(f, f)), 0)),
          Multimodal.MediaRecord(id + 2000000L, "video",
            gif(0 until 5, 16)),
          Multimodal.MediaRecord(id + 3000000L, "video",
            text.getBytes("UTF-8")))
      }
      .toDF("media_id", "kind", "payload")
    }
  }

  /** q108: ORDER-SENSITIVE video near-dup vs the order-insensitive
    * temporal-mean hash, on one planted population — the two forms'
    * DISAGREEMENT is the gate. Three video populations per doc_id
    * (q106's frame patterns): the base 5-frame clip; the SAME frames
    * REVERSED (+1M — a re-ordered cut); +16 brightness in the original
    * order (+2M — every per-frame dHash is bit-identical, gradient
    * signs survive a uniform shift); plus opaque text (+3M — no video
    * path, skipped by both forms).
    *
    * Expected (arithmetic, no read-back):
    *  - form='mean' ([[VideoDedup.nearDupPairs]], temporal-mean dHash):
    *    all three in-trio pairs at hamming 0 — the per-pixel mean over
    *    frames is invariant to frame order and shifts uniformly under
    *    brightness, so a re-ordered cut COLLIDES (the catch-more
    *    blocking direction);
    *  - form='ordered' ([[VideoDedup.orderedNearDupPairs]], Jaccard
    *    over positional 2-grams of the per-frame dHash sequence): ONLY
    *    (id, id+2M) at jaccard 1.0 — the reversed cut shares no
    *    2-gram with the original (grams hash CONSECUTIVE frame hashes
    *    in order), while the same-order brightness copy has the
    *    identical gram set.
    * A frame-hash bug, a gram that ignores order, a Jaccard
    * denominator error, or an undecodable payload leaking into either
    * join changes the pair set and fails the gate.
    *
    * r13: evaluated through the FUSED [[VideoDedup.bothFormsPairs]]
    * (one decode per payload, identical output — parity pinned in
    * VideoDedupSpec); the separate operators keep their own oracles
    * at q106 (mean) and q113 (ordered). */
  def q108VideoOrdered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // plant served from the per-(sf, code-version) parquet cache
    // (r12 directive #4): the GIF encodes run once, not per evaluation
    val media = MediaPlantCache.cached(s, dir, "q108_video_ordered") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def frame(f: Int, shift: Int)(x: Int, y: Int): Int =
          videoCell(id, f, (y / 2) * 9 + x / 2) + shift
        def gif(frameIds: Seq[Int], shift: Int): Array[Byte] =
          VideoDedup.GifBuild.animatedGray(imgW, imgH,
            frameIds.map(f => frame(f, shift) _))
        Seq(
          Multimodal.MediaRecord(id, "video", gif(0 until 5, 0)),
          Multimodal.MediaRecord(id + 1000000L, "video",
            gif((0 until 5).reverse, 0)),
          Multimodal.MediaRecord(id + 2000000L, "video",
            gif(0 until 5, 16)),
          Multimodal.MediaRecord(id + 3000000L, "video",
            text.getBytes("UTF-8")))
      }
      .toDF("media_id", "kind", "payload")
    }
    // r13: the FUSED both-forms operator — one decode per payload for
    // the two hash forms (this was the worst BENCH_SF1 ratio once the
    // plant cache landed: the gate deliberately ran both separate
    // operators and decoded twice). The separate operators keep their
    // own oracles — q106 (mean) and q113 (ordered) — and
    // VideoDedupSpec pins fused/separate bit-parity.
    VideoDedup.bothFormsPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4, q = 2, minJaccard = 0.5)
      .orderBy("form", "id_a", "id_b")
  }

  /** q109: media quarantine-reason CENSUS — every payload variant of
    * [[MediaCensusFixtures]] per doc, spanning every reason class of
    * [[Multimodal.contentReason]] ([[graft.functions.MediaReason]],
    * exercised through its whole-stage-codegen path), grouped to
    * (variant, reason, cnt). The oracle is arithmetic and RENDERED
    * FROM THE SAME TABLE as the plant
    * ([[MediaCensusFixtures.Expected]]): each variant maps to exactly
    * ONE reason with cnt = count(documents) — any variant that decodes
    * to a different reason (or splits across reasons) produces a row
    * the oracle does not have. The per-variant rationale (which
    * features are in scope, which route "unsupported" vs "corrupt")
    * lives with the fixtures; r12 adds the predictor-2 LZW/Deflate and
    * FillOrder-2 TIFF rows the r11 decoder routed out. */
  def q109MediaReasonCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q109_media_reason_census") {
      docs.select(col("doc_id"))
        .as[Long]
        .flatMap(id0 =>
          MediaCensusFixtures.variants(guardMediaId(id0)))
        .toDF("media_id", "variant", "payload")
    }
    media
      .select(col("variant"),
        Multimodal.contentReason(col("payload")).as("reason"))
      .groupBy("variant", "reason")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("variant", "reason")
  }

  /** q110: baseline-JPEG content near-dup — the r11 pixel path
    * ([[graft.operators.JpegPixels]]) feeding the same dHash +
    * Hamming-band machinery as q102, on a plant built for PROVABLE
    * lossy-codec exactness: 72×64 images whose value is constant
    * within each 8×8 JPEG block (the 9×8 hash grid = the block grid),
    * encoded with [[JpegBuild]]'s all-ones quantization table. A
    * constant block has only a DC coefficient — an exact integer under
    * the spec FDCT — so encode→decode reproduces every pixel
    * bit-exactly (JpegPixelsSpec pins this for all 256 values) and
    * the cross-format pairs below hold at Hamming 0 EXACTLY, not
    * approximately. Populations per doc_id: the BMP rendering; the
    * JPEG of the same pixels (+1M); the JPEG of +16 brightness (+2M —
    * DC-only change, dHash compares adjacent cells so the shift
    * cancels); opaque text (+3M, decodes nowhere, pairs never); and
    * the PROGRESSIVE encoding of the same pixels (+4M — two scans,
    * DC then AC band; same quantized coefficients, so the exactness
    * argument carries over unchanged and the progressive decode path
    * must land on the identical hash).
    * Expected pairs: the six in-quartet pairs per doc at hamming 0 —
    * any decoder drift (quantization, IDCT rounding, block placement,
    * EOBRUN bookkeeping, luma crop) flips a gradient sign somewhere
    * across the ~600-doc × 72-cell population and breaks the
    * arithmetic oracle. */
  def q110JpegNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q110_jpeg_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def px(shift: Int)(x: Int, y: Int): Int =
          cellValue(id, (y / 8) * 9 + x / 8) + shift
        Seq(
          Multimodal.MediaRecord(id, "image",
            ImageDedup.ImageBuild.bmp24Gray(72, 64)(px(0))),
          Multimodal.MediaRecord(id + 1000000L, "image",
            JpegBuild.gray(72, 64)(px(0))),
          Multimodal.MediaRecord(id + 2000000L, "image",
            JpegBuild.gray(72, 64)(px(16))),
          Multimodal.MediaRecord(id + 3000000L, "image",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "image",
            JpegBuild.grayProgressive(72, 64)(px(0))))
      }
      .toDF("media_id", "kind", "payload")
    }
    ImageDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** q111: CROSS-CONTAINER video near-dup — the same clip rendered as
    * an animated GIF and as MJPEG-AVI ([[graft.operators.MotionJpeg]],
    * r11) must fingerprint identically under BOTH hash forms. The
    * plant reuses q110's provable-exactness discipline: 72×64 frames
    * constant within each 8×8 block, encoded with the all-ones quant
    * table, so the JPEG frames decode bit-exactly to the GIF's gray
    * values and the oracle is arithmetic, not tolerance-based.
    * Populations per doc_id: the 5-frame GIF (base); the MJPEG-AVI of
    * the same frames (+1M, custom per-frame DHT); the SAME AVI with
    * DHT-LESS standard-table frames (+2M — the de-facto MJPEG wire
    * shape, exercising the Annex-K implied-table path end to end);
    * opaque text (+3M); and the AVI with the frame ORDER REVERSED
    * (+4M).
    * Expected (arithmetic):
    *  - form='mean': all six pairs among {0,+1M,+2M,+4M} at hamming 0
    *    (the temporal mean is frame-order-insensitive);
    *  - form='ordered': exactly the three pairs among {0,+1M,+2M} at
    *    jaccard 1 — the reversed cut shares no positional 2-gram.
    * Any drift between the GIF compositor and the per-frame JPEG
    * decode (or a wrong Annex-K constant) breaks a pair somewhere
    * across the ~500-doc × 72-cell population. */
  def q111CrossContainerVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.MotionJpeg
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q111_cross_container_video") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def px(f: Int)(x: Int, y: Int): Int =
          videoCell(id, f, (y / 8) * 9 + x / 8)
        def jpegs(order: Seq[Int], std: Boolean): Seq[Array[Byte]] =
          order.map(f => JpegBuild.gray(72, 64, standardTables = std,
            writeDht = !std)(px(f)))
        Seq(
          Multimodal.MediaRecord(id, "video",
            VideoDedup.GifBuild.animatedGray(72, 64,
              (0 until 5).map(px))),
          Multimodal.MediaRecord(id + 1000000L, "video",
            MotionJpeg.AviBuild.mjpeg(72, 64,
              jpegs(0 until 5, std = false))),
          Multimodal.MediaRecord(id + 2000000L, "video",
            MotionJpeg.AviBuild.mjpeg(72, 64,
              jpegs(0 until 5, std = true))),
          Multimodal.MediaRecord(id + 3000000L, "video",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "video",
            MotionJpeg.AviBuild.mjpeg(72, 64,
              jpegs((0 until 5).reverse, std = false))))
      }
      .toDF("media_id", "kind", "payload")
    }
    // the parquet cache replaces r11's localCheckpoint pin; r13: the
    // FUSED both-forms operator decodes each payload ONCE for the two
    // hash forms (q108 keeps gating the two separate operators, so
    // all three surfaces stay oracle-covered; VideoDedupSpec pins the
    // fused/separate parity)
    VideoDedup.bothFormsPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4, q = 2, minJaccard = 0.5)
      .orderBy("form", "id_a", "id_b")
  }

  /** q112: VP8L content near-dup — the [[graft.operators.WebpPixels]]
    * decode feeding the same dHash + Hamming-band machinery as
    * q102/q110. VP8L is LOSSLESS, so the oracle needs no
    * constant-block construction: every encoding of the same pixels
    * must land on the bit-identical hash. Populations per doc_id,
    * each a different wire shape of the SAME image (the q102 18×16
    * cell plant): the BMP rendering (base); plain VP8L literals
    * (+1M); subtract-green + LZ77 runs + a 6-bit color cache (+2M —
    * the transform, backward-reference and cache decode paths all in
    * the gate); the predictor transform, Select mode (+3M); the
    * color-indexing (palette) transform (+4M); meta-Huffman entropy
    * groups with runs + cache (+5M, r13 — the indirection real
    * encoders emit by default); the cross-color transform composed
    * with subtract-green + predictor (+6M, r13); opaque text
    * (+7M, decodes nowhere, pairs never); the VP8X extended
    * container wrapping the subtract-green encoding with an EXIF
    * chunk (+8M, r13 — the metadata-carrying still shape); and the
    * color-indexing transform COMPOSED with the predictor (+9M, r14
    * — palette read first, predictor tiled over the post-palette
    * width; the plant's ~72 distinct colors leave the width
    * unpacked, and the packed-width regime is pinned in
    * WebpPixelsSpec + the q109 census rows).
    * Expected: the 36 in-nonet pairs per doc at hamming 0 — any
    * drift in a transform inverse, the canonical Huffman
    * reconstruction, the group indirection, the cache hash, or the
    * distance map flips a gradient sign somewhere across the
    * ~500-doc × 72-cell population and breaks the arithmetic
    * oracle. */
  def q112WebpNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q112_webp_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def px(x: Int, y: Int): Int =
          cellValue(id, (y / 2) * 9 + x / 2)
        val w = imgW; val h = imgH
        Seq(
          Multimodal.MediaRecord(id, "image",
            ImageDedup.ImageBuild.bmp24Gray(w, h)(px)),
          Multimodal.MediaRecord(id + 1000000L, "image",
            WebpBuild.vp8lGray(w, h)(px)),
          Multimodal.MediaRecord(id + 2000000L, "image",
            WebpBuild.vp8lGray(w, h, subtractGreen = true,
              backrefs = true, cacheBits = 6, mapDistances = true)(px)),
          Multimodal.MediaRecord(id + 3000000L, "image",
            WebpBuild.vp8lGray(w, h, predictorMode = 11)(px)),
          Multimodal.MediaRecord(id + 4000000L, "image",
            WebpBuild.vp8lGray(w, h, paletted = true)(px)),
          Multimodal.MediaRecord(id + 5000000L, "image",
            WebpBuild.vp8lGray(w, h, metaGroups = 3, metaBits = 2,
              backrefs = true, cacheBits = 4)(px)),
          Multimodal.MediaRecord(id + 6000000L, "image",
            WebpBuild.vp8lGray(w, h, crossColor = true,
              subtractGreen = true, predictorMode = 11)(px)),
          Multimodal.MediaRecord(id + 7000000L, "image",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 8000000L, "image",
            WebpBuild.vp8x(
              WebpBuild.vp8lGray(w, h, subtractGreen = true)(px))),
          Multimodal.MediaRecord(id + 9000000L, "image",
            WebpBuild.vp8lGray(w, h, paletted = true,
              predictorMode = 11)(px)))
      }
      .toDF("media_id", "kind", "payload")
    }
    ImageDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** q113: order-sensitive video near-dup, standalone. Three 3-frame
    * populations per doc_id (q108's frame patterns, one form only):
    * the base clip; +16 brightness in the SAME order (+1M — every
    * per-frame dHash is bit-identical, gradient signs survive a
    * uniform shift); and the SAME frames REVERSED (+2M — shares no
    * positional 2-gram with the original).
    * Expected (arithmetic): exactly (id, id+1M, jaccard 1.0) per doc —
    * the same-order brightness copy keeps the identical gram set, the
    * reversed cut never pairs, and the brightness copy vs the
    * reversed cut share no gram either. A frame-hash drift, an
    * order-insensitive gram, or a Jaccard denominator error breaks
    * the oracle. */
  /** q113's plant, kept apart from the pair search so its scan can be
    * timed on its own. The r14 stage decomposition (r13 judge
    * directive #2, sf1, 32 cores) found 6.60 s of the 7.3 s query in
    * the gram explode over an unpinned decode; pinning the decode
    * projection brought q113 to 2.4 s (plant scan 0.22 s). */
  def q113Plant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    MediaPlantCache.cached(s, dir, "q113_video_ordered_solo") {
      docs.select(col("doc_id"))
        .as[Long]
        .flatMap { id0 =>
          val id = guardMediaId(id0)
          def frame(f: Int, shift: Int)(x: Int, y: Int): Int =
            videoCell(id, f, (y / 2) * 9 + x / 2) + shift
          def gif(frameIds: Seq[Int], shift: Int): Array[Byte] =
            VideoDedup.GifBuild.animatedGray(imgW, imgH,
              frameIds.map(f => frame(f, shift) _))
          Seq(
            Multimodal.MediaRecord(id, "video", gif(0 until 3, 0)),
            Multimodal.MediaRecord(id + 1000000L, "video",
              gif(0 until 3, 16)),
            Multimodal.MediaRecord(id + 2000000L, "video",
              gif((0 until 3).reverse, 0)))
        }
        .toDF("media_id", "kind", "payload")
    }
  }

  def q113VideoOrderedSolo(s: SparkSession, dir: String): DataFrame = {
    VideoDedup.orderedNearDupPairs(q113Plant(s, dir), "media_id",
        "payload", q = 2, minJaccard = 0.5)
      .orderBy("id_a", "id_b")
  }

  val entries: Seq[Query] = Seq(
    Query("q102_image_neardup", q102ImageNearDup,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |o(k) AS (VALUES (0), (1000000), (2000000), (4000000),
        |                (5000000), (6000000))
        |SELECT t.id + a.k AS id_a, t.id + b.k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, o a, o b WHERE a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q104_audio_neardup", q104AudioNearDup,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |base(k) AS (VALUES (0), (1000000), (2000000), (4000000),
        |                   (5000000), (12000000), (13000000)),
        |g711(k) AS (VALUES (6000000), (7000000), (8000000), (9000000))
        |SELECT t.id + a.k AS id_a, t.id + b.k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, base a, base b WHERE a.k < b.k
        |UNION ALL
        |SELECT t.id + a.k, t.id + b.k, CAST(0 AS INTEGER)
        |FROM t, g711 a, g711 b WHERE a.k < b.k
        |UNION ALL
        |SELECT t.id + 10000000, t.id + 11000000, CAST(0 AS INTEGER) FROM t
        |UNION ALL
        |SELECT t.id + 14000000, t.id + 15000000, CAST(0 AS INTEGER) FROM t
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q106_video_neardup", q106VideoNearDup,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
        |SELECT id AS id_a, id + 1000000 AS id_b,
        |  CAST(0 AS INTEGER) AS hamming FROM t
        |UNION ALL
        |SELECT id, id + 2000000, CAST(0 AS INTEGER) FROM t
        |UNION ALL
        |SELECT id + 1000000, id + 2000000, CAST(0 AS INTEGER) FROM t
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q108_video_ordered", q108VideoOrdered,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |m(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                       (1000000, 2000000))
        |SELECT t.id + m.a_k AS id_a, t.id + m.b_k AS id_b,
        |  'mean' AS form, CAST(0 AS DOUBLE) AS score
        |FROM t, m
        |UNION ALL
        |SELECT id, id + 2000000, 'ordered', CAST(1 AS DOUBLE) FROM t
        |ORDER BY form, id_a, id_b""".stripMargin),
    Query("q109_media_reason_census", q109MediaReasonCensus, MediaCensusFixtures.oracleSql),
    Query("q110_jpeg_neardup", q110JpegNearDup,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |m(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                       (0, 4000000), (1000000, 2000000),
        |                       (1000000, 4000000), (2000000, 4000000))
        |SELECT t.id + m.a_k AS id_a, t.id + m.b_k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, m
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q111_cross_container_video", q111CrossContainerVideo,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |mm(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                        (0, 4000000), (1000000, 2000000),
        |                        (1000000, 4000000), (2000000, 4000000)),
        |mo(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                        (1000000, 2000000))
        |SELECT t.id + mm.a_k AS id_a, t.id + mm.b_k AS id_b,
        |  'mean' AS form, CAST(0 AS DOUBLE) AS score
        |FROM t, mm
        |UNION ALL
        |SELECT t.id + mo.a_k, t.id + mo.b_k, 'ordered', CAST(1 AS DOUBLE)
        |FROM t, mo
        |ORDER BY form, id_a, id_b""".stripMargin),
    Query("q112_webp_neardup", q112WebpNearDup,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |k(v) AS (VALUES (0), (1000000), (2000000), (3000000), (4000000),
        |                (5000000), (6000000), (8000000), (9000000)),
        |m AS (SELECT a.v AS a_k, b.v AS b_k FROM k a, k b WHERE a.v < b.v)
        |SELECT t.id + m.a_k AS id_a, t.id + m.b_k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, m
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q113_video_ordered_solo", q113VideoOrderedSolo,
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
        |SELECT id AS id_a, id + 1000000 AS id_b,
        |  CAST(1 AS DOUBLE) AS jaccard
        |FROM t
        |ORDER BY id_a, id_b""".stripMargin))
}
