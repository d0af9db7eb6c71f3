package graft.queries

import graft.operators.{AudioDedup, ImageDedup, JpegBuild, MotionJpeg,
  Multimodal, TiffPixels, VideoDedup, WebpPixels}

/** The q109 census plant: every payload variant, its byte-patching, and
  * the expected (variant → reason) table — in ONE place so the Spark
  * side and the DuckDB oracle derive from the same list (r11 judge
  * finding #3: the 140 inline fixture lines in the query body were a
  * maintenance trap of hand-edited magic offsets).
  *
  * Patching conventions:
  *  - WAV offsets are named constants below (the canonical
  *    RIFF(12) + "fmt "+size(8) layout every [[AudioDedup.WavBuild]]
  *    product uses puts the fmt body at byte 20);
  *  - TIFF patches go through [[patchTiffTag]] (an IFD walk, not an
  *    offset — entry positions shift as the builder gains tags);
  *  - BMP's bits-per-pixel lives at [[BmpBitsPerPixel]].
  */
object MediaCensusFixtures {

  /** fmt-chunk wFormatTag (LE u16): RIFF header 12 + "fmt " id/size 8. */
  val WavFormatTag = 20
  /** High byte of wFormatTag (patched together with [[WavFormatTag]]
    * for the 0xFFFE extensible tag). */
  val WavFormatTagHi = 21
  /** A byte inside the 16-byte extensible SubFormat GUID (fmt body
    * offset 24 + 6): corrupting it makes the GUID a non-media subtype,
    * which is well-formed but out of decode scope. */
  val WavExtGuidByte = 50
  /** BITMAPINFOHEADER biBitCount (LE u16 at file offset 28). */
  val BmpBitsPerPixel = 28

  /** Patch one IFD entry's inline value word (little-endian builds). */
  def patchTiffTag(tiff: Array[Byte], tag: Int, v: Int): Array[Byte] = {
    val c = tiff.clone
    def u16(i: Int): Int = (c(i) & 0xff) | ((c(i + 1) & 0xff) << 8)
    def u32(i: Int): Int = u16(i) | (u16(i + 2) << 16)
    val ifd = u32(4)
    val n = u16(ifd)
    var e = 0
    var hit = false
    while (e < n) {
      val o = ifd + 2 + e * 12
      if (u16(o) == tag) {
        c(o + 8) = (v & 0xff).toByte
        c(o + 9) = ((v >> 8) & 0xff).toByte
        hit = true
      }
      e += 1
    }
    require(hit, s"TIFF tag $tag not present to patch")
    c
  }

  /** Expected census: one reason per variant — the single source the
    * oracle's VALUES table is rendered from. Kept next to [[variants]]
    * so adding a payload without deciding its reason is impossible. */
  val Expected: Seq[(String, String)] = Seq(
    // still images: the four decoded containers + policy/structure rows
    "bmp" -> "ok", "png_gray8" -> "ok", "png_palette_adam7" -> "ok",
    "png_gray16" -> "ok", "gif" -> "ok",
    "jpeg_base" -> "ok", "jpeg_prog" -> "ok",
    "bmp_8bpp" -> "unsupported", "jpeg_12bit" -> "unsupported",
    "jpeg_hdr" -> "corrupt", "bmp_trunc" -> "corrupt",
    "png_huge" -> "oversized", "no_magic" -> "opaque",
    "missing" -> "missing",
    // WAV scope (q104's widened decode)
    "wav" -> "ok", "wav_pcm8" -> "ok", "wav_f64" -> "ok",
    "wav_ulaw" -> "ok", "wav_alaw" -> "ok", "wav_ext" -> "ok",
    "wav_ima" -> "ok", "wav_ms" -> "ok",
    "wav_float" -> "unsupported", "wav_adpcm" -> "unsupported",
    "wav_ext_guid" -> "unsupported", "wav_ext_short" -> "corrupt",
    // MJPEG-AVI (q111's container)
    "avi_mjpeg" -> "ok", "avi_nodht" -> "ok",
    "avi_xvid" -> "unsupported", "avi_trunc" -> "corrupt",
    // AIFF / Sun .au containers
    "aiff" -> "ok", "au_ulaw" -> "ok",
    "au_g721" -> "unsupported", "aiff_trunc" -> "corrupt",
    // TIFF (q102's container; r12 adds the predictor/fill-order rows)
    "tiff_gray" -> "ok", "tiff_packbits" -> "ok", "tiff_lzw" -> "ok",
    "tiff_deflate" -> "ok", "tiff_pred_lzw" -> "ok",
    "tiff_pred_deflate" -> "ok", "tiff_fillorder2" -> "ok",
    "tiff_ycbcr" -> "unsupported", "tiff_trunc" -> "corrupt",
    // WEBP (r12, q112's container): lossless decodes; lossy VP8 and
    // animation are the external-codec seam. r13 adds the
    // default-real-encoder shapes the r12 decoder routed out:
    // meta-Huffman entropy groups, the cross-color transform, and the
    // still VP8X extended container (metadata-carrying lossless files
    // — the walk skips EXIF/XMP/ICCP and decodes the VP8L chunk when
    // the canvas matches). A VP8X whose canvas differs from its image
    // chunk (composite framing) routes unsupported; an extended header
    // with NO image chunk violates the spec's mandatory image chunk
    // and is corrupt (it was "unsupported" through r12, when any VP8X
    // routed out wholesale).
    "webp_vp8l" -> "ok", "webp_vp8l_pal" -> "ok",
    "webp_meta_huffman" -> "ok", "webp_cross_color" -> "ok",
    "webp_vp8x_lossless" -> "ok",
    // r14: palette COMPOSED with other transforms (the last named
    // VP8L route-out) — both spec width regimes: SG read before the
    // palette (inverse at full width, post-unpack) and the predictor
    // read after it (tiles and inverts over the PACKED width)
    "webp_pal_sg" -> "ok", "webp_pal_pred" -> "ok",
    "webp_vp8x_anim" -> "unsupported",
    "webp_vp8x_canvas" -> "unsupported",
    "webp_lossy" -> "unsupported", "webp_vp8x" -> "corrupt",
    "webp_trunc" -> "corrupt")

  /** DuckDB oracle: the same [[Expected]] table crossed with
    * count(documents) — each variant maps to exactly ONE reason with
    * cnt = document count. */
  def oracleSql: String = {
    val values = Expected.map { case (v, r) => s"('$v', '$r')" }
      .mkString(",\n        |  ")
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
        |v(variant, reason) AS (VALUES
        |  $values)
        |SELECT v.variant, v.reason, n.c AS cnt FROM v, n
        |ORDER BY variant, reason""".stripMargin
  }

  /** All census payloads for one base doc id (already guarded by the
    * caller): (media_id, variant, payload). Media ids are
    * index-derived (+k·1M) — the census groups on `variant`, so only
    * uniqueness matters. */
  def variants(id: Long): Seq[(Long, String, Array[Byte])] = {
    def px(x: Int, y: Int): Int = MediaDedup.cellValue(id, (y / 2) * 9 + x / 2)
    val w = MediaDedup.imgW; val h = MediaDedup.imgH

    val bmp = ImageDedup.ImageBuild.bmp24Gray(w, h)(px)
    val pcm16Samples = Array.tabulate(520)(i => MediaDedup.frameAmp(id, i / 8))
    val wav = AudioDedup.WavBuild.pcm16(pcm16Samples)
    val bmpRle = bmp.clone; bmpRle(BmpBitsPerPixel) = 8 // valid, o-o-scope
    // format 3 + bits 16: a "float" width the decode scope does NOT
    // cover (32/64 only) — stays "unsupported"
    val wavFloat = wav.clone; wavFloat(WavFormatTag) = 3
    // ADPCM tag on a 16-bit fmt: recognized codec, wrong width
    // (real 4-bit IMA ADPCM decodes — the wav_ima row)
    val wavAdpcm = wav.clone; wavAdpcm(WavFormatTag) = 17
    // extensible tag on a 16-byte fmt: structurally broken (the
    // mandatory SubFormat field cannot exist)
    val wavExtShort = wav.clone
    wavExtShort(WavFormatTag) = 0xfe.toByte
    wavExtShort(WavFormatTagHi) = 0xff.toByte
    val wavExt = AudioDedup.WavBuild.extensiblePcm16(
      pcm16Samples, channels = 2, channelMask = 3)
    // non-media SubFormat GUID tail: valid, out of scope
    val wavExtGuid = wavExt.clone; wavExtGuid(WavExtGuidByte) = 0x11
    val g711Codes = pcm16Samples.map(s => (s % 128).toByte)
    val adpcmNibbles =
      Array.tabulate(64)(i => (MediaDedup.frameAmp(id, i) % 256).toByte)

    val aviFrames = Seq(JpegBuild.gray(w, h)((x, y) => px(x, y)))
    val avi = MotionJpeg.AviBuild.mjpeg(w, h, aviFrames)

    val tiff = TiffPixels.TiffBuild.build(w, h)((x, y) => px(x, y))
    // photometric 6 (YCbCr): well-formed, outside the baseline scope
    val tiffYcbcr = patchTiffTag(tiff, 262, 6)

    val pngHuge = ImageDedup.ImageBuild.pngGray(1, 1)((_, _) => 0)
    // IHDR dims at 16/20 (BE): claim 8192x8192 > the 2^24 pixel cap
    pngHuge(17) = 0; pngHuge(18) = 0x20; pngHuge(19) = 0
    pngHuge(21) = 0; pngHuge(22) = 0x20; pngHuge(23) = 0

    val payloads: Seq[(String, Array[Byte])] = Seq(
      "bmp" -> bmp,
      "png_gray8" -> ImageDedup.ImageBuild.pngGray(w, h)(px),
      "png_palette_adam7" -> ImageDedup.ImageBuild.pngGray(w, h,
        colorType = 3, depth = 4, interlace = true)((x, y) => px(x, y) % 16),
      "png_gray16" -> ImageDedup.ImageBuild.pngGray(w, h, depth = 16)(px),
      "gif" -> VideoDedup.GifBuild.animatedGray(w, h, Seq(px _)),
      "wav" -> wav,
      "bmp_8bpp" -> bmpRle,
      "wav_float" -> wavFloat,
      "jpeg_hdr" -> Multimodal.MediaBuild.jpeg(w, h),
      "bmp_trunc" -> bmp.take(40),
      "png_huge" -> pngHuge,
      "no_magic" -> Array[Byte](0x01, 0x7f, 0x03, 0x00, 0x42, 0x42),
      "missing" -> null,
      "jpeg_base" -> JpegBuild.gray(w, h)((x, y) => px(x, y)),
      "jpeg_prog" -> JpegBuild.grayProgressive(w, h)((x, y) => px(x, y)),
      "jpeg_12bit" -> JpegBuild.precision12Twin(
        JpegBuild.gray(w, h)((x, y) => px(x, y))),
      "wav_pcm8" -> AudioDedup.WavBuild.pcm(
        Array.tabulate(520)(i => MediaDedup.frameAmp(id, i / 8) % 256),
        bits = 8),
      "wav_f64" -> AudioDedup.WavBuild.float64(
        pcm16Samples.map(_ / 32768.0)),
      "wav_ulaw" -> AudioDedup.WavBuild.g711(g711Codes, alaw = false),
      "wav_alaw" -> AudioDedup.WavBuild.g711(g711Codes, alaw = true),
      "wav_ext" -> wavExt,
      "wav_adpcm" -> wavAdpcm,
      "wav_ext_guid" -> wavExtGuid,
      "wav_ext_short" -> wavExtShort,
      "avi_mjpeg" -> avi,
      "avi_nodht" -> MotionJpeg.AviBuild.mjpeg(w, h, Seq(
        JpegBuild.gray(w, h, standardTables = true,
          writeDht = false)((x, y) => px(x, y)))),
      "avi_xvid" -> MotionJpeg.AviBuild.mjpeg(w, h, aviFrames,
        handler = "xvid"),
      "avi_trunc" -> avi.take(avi.length / 2),
      "wav_ima" -> AudioDedup.WavBuild.imaAdpcmMono(
        Seq((100, 30, adpcmNibbles))),
      "aiff" -> AudioDedup.AiffBuild.pcm16(pcm16Samples),
      "aiff_trunc" -> AudioDedup.AiffBuild.pcm16(pcm16Samples).take(40),
      "au_ulaw" -> AudioDedup.AuBuild.build(1,
        g711Codes.map(c => (~(c & 0x7f)).toByte)),
      "au_g721" -> AudioDedup.AuBuild.build(23, g711Codes),
      "wav_ms" -> AudioDedup.WavBuild.msAdpcmMono(
        Seq((2, 100, 50, -50, adpcmNibbles))),
      "tiff_gray" -> tiff,
      "tiff_packbits" -> TiffPixels.TiffBuild.build(w, h,
        le = false, compression = 32773)((x, y) => px(x, y)),
      "tiff_lzw" -> TiffPixels.TiffBuild.build(w, h,
        compression = 5)((x, y) => px(x, y)),
      "tiff_trunc" -> tiff.take(40),
      "tiff_deflate" -> TiffPixels.TiffBuild.build(w, h,
        le = false, compression = 8)((x, y) => px(x, y)),
      "tiff_ycbcr" -> tiffYcbcr,
      // r12: the default real-encoder shapes — LZW/Deflate WITH
      // horizontal differencing — and LSB-first fill order
      "tiff_pred_lzw" -> TiffPixels.TiffBuild.build(w, h,
        compression = 5, predictor = 2)((x, y) => px(x, y)),
      "tiff_pred_deflate" -> TiffPixels.TiffBuild.build(w, h,
        le = false, compression = 8, predictor = 2)((x, y) => px(x, y)),
      "tiff_fillorder2" -> TiffPixels.TiffBuild.build(w, h,
        fillOrder = 2)((x, y) => px(x, y)),
      // r12: the VP8L pixel path (q112's container)
      "webp_vp8l" -> WebpPixels.WebpBuild.vp8lGray(w, h,
        subtractGreen = true)((x, y) => px(x, y)),
      "webp_vp8l_pal" -> WebpPixels.WebpBuild.vp8lGray(w, h,
        paletted = true)((x, y) => px(x, y)),
      // r13: the real-encoder default shapes — spatially-varying
      // entropy groups and the cross-color transform (cwebp -lossless
      // emits both by default on most images)
      "webp_meta_huffman" -> WebpPixels.WebpBuild.vp8lGray(w, h,
        metaGroups = 3, metaBits = 2, backrefs = true,
        cacheBits = 4)((x, y) => px(x, y)),
      "webp_cross_color" -> WebpPixels.WebpBuild.vp8lGray(w, h,
        crossColor = true, subtractGreen = true,
        predictorMode = 11)((x, y) => px(x, y)),
      // r13: VP8X extended container — still lossless + EXIF decodes;
      // the animation flag and a composite canvas route out
      "webp_vp8x_lossless" -> WebpPixels.WebpBuild.vp8x(
        WebpPixels.WebpBuild.vp8lGray(w, h,
          subtractGreen = true)((x, y) => px(x, y))),
      "webp_vp8x_anim" -> WebpPixels.WebpBuild.vp8x(
        WebpPixels.WebpBuild.vp8lGray(w, h)((x, y) => px(x, y)),
        anim = true),
      "webp_vp8x_canvas" -> WebpPixels.WebpBuild.vp8x(
        WebpPixels.WebpBuild.vp8lGray(w, h)((x, y) => px(x, y)),
        canvasW = w * 2, canvasH = h),
      // r14: palette composition rows — mod-16 pixels so the 4-bit
      // sub-byte packing is genuinely on the wire in both shapes
      "webp_pal_sg" -> WebpPixels.WebpBuild.vp8lGray(w, h,
        paletted = true, subtractGreen = true)((x, y) => px(x, y) % 16),
      "webp_pal_pred" -> WebpPixels.WebpBuild.vp8lGray(w, h,
        paletted = true, predictorMode = 11)((x, y) => px(x, y) % 16),
      "webp_lossy" -> WebpPixels.WebpBuild.lossyHeader(w, h),
      "webp_vp8x" -> Multimodal.MediaBuild.webp(w, h),
      "webp_trunc" -> WebpPixels.WebpBuild.vp8lGray(w, h)(
        (x, y) => px(x, y)).take(24))

    require(payloads.map(_._1).sorted == Expected.map(_._1).sorted,
      "census variants and Expected reasons diverged")
    payloads.zipWithIndex.map { case ((variant, p), k) =>
      (id + k * 1000000L, variant, p)
    }
  }
}
