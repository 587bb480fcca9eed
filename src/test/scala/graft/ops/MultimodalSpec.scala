package graft.ops

import java.awt.image.BufferedImage

import graft.SparkTestBase

class MultimodalSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def magic(bytes: Array[Byte], fmt: String): Boolean = fmt match {
    case "png"  => bytes.take(8).map(_ & 0xFF).startsWith(Seq(0x89, 0x50, 0x4E, 0x47))
    case "jpeg" => (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8
    case "wav"  => new String(bytes.take(4), "US-ASCII") == "RIFF" &&
                   new String(bytes.slice(8, 12), "US-ASCII") == "WAVE"
  }

  test("media table stages genuinely encoded bytes (magic numbers per format)") {
    val rows = Multimodal.mediaTable(spark, sf).collect()
    assert(rows.map(_.format).toSet == Set("png", "jpeg", "wav"))
    rows.foreach { r =>
      assert(magic(r.media, r.format),
        s"doc ${r.doc_id} (${r.format}) bytes lack the codec header")
    }
  }

  test("image decode recovers exact dimensions; PNG round-trips pixels losslessly") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val meta = media.collect().map(r => r.doc_id -> r).toMap
    feats.filter(f => f.format == "png" || f.format == "jpeg").foreach { f =>
      assert(f.decoded_w == meta(f.doc_id).width &&
        f.decoded_h == meta(f.doc_id).height,
        s"doc ${f.doc_id}: codec dims ${f.decoded_w}x${f.decoded_h} != metadata")
    }
    // PNG is lossless: decoding must reproduce the rendered pixels
    // bit-for-bit, so the decoded mean equals the render-side mean.
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.filter(_.format == "png").take(10).foreach { f =>
      val img = Multimodal.Codecs.renderImage(
        docs(f.doc_id).getBytes("UTF-8"), f.decoded_w, f.decoded_h)
      val (_, _, _, expectedMean) = Multimodal.Codecs.decodeImage(
        Multimodal.Codecs.encodeImage(img, "png"))
      assert(math.abs(f.mean_byte - expectedMean) < 1e-12,
        s"doc ${f.doc_id}: PNG round-trip mean drifted")
    }
  }

  test("wav decode recovers the exact sample count and PCM values") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf))
      .collect().filter(_.format == "wav")
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val expected = (f.doc_id % 768 + 256).toInt
      assert(f.decoded_w == expected,
        s"doc ${f.doc_id}: decoded $expected samples expected, got ${f.decoded_w}")
    }
    // WAV PCM is lossless: re-render one doc's samples and compare the mean.
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val f = feats.head
    val samples = Multimodal.Codecs.renderSamples(
      docs(f.doc_id).getBytes("UTF-8"), f.decoded_w, f.doc_id)
    val (n, _, mean) = Multimodal.Codecs.decodeWav(Multimodal.Codecs.encodeWav(samples))
    assert(n == samples.length && math.abs(mean - f.mean_byte) < 1e-12)
  }

  test("thumbnails preserve aspect ratio, bound dims, and re-encode as real PNG") {
    val thumbs = Multimodal.thumbnails(Multimodal.mediaTable(spark, sf),
      maxW = 16, maxH = 16).collect()
    assert(thumbs.nonEmpty)
    thumbs.foreach { t =>
      assert(t.format != "wav")
      assert(t.thumb_w <= 16 && t.thumb_h <= 16 && t.thumb_w >= 1 && t.thumb_h >= 1)
      // aspect preserved within integer rounding
      val origRatio = t.orig_w.toDouble / t.orig_h
      val thumbRatio = t.thumb_w.toDouble / t.thumb_h
      assert(math.abs(origRatio - thumbRatio) / origRatio < 0.35,
        s"doc ${t.doc_id}: ratio drifted $origRatio -> $thumbRatio")
      // output is genuinely PNG and decodable at the reported dims
      assert(magic(t.thumb, "png"))
      val (w, h, _, _) = Multimodal.Codecs.decodeImage(t.thumb)
      assert(w == t.thumb_w && h == t.thumb_h)
    }
    // images already inside the bounds pass through unscaled
    val big = Multimodal.thumbnails(Multimodal.mediaTable(spark, sf),
      maxW = 4096, maxH = 4096).collect()
    big.foreach(t => assert(t.thumb_w == t.orig_w && t.thumb_h == t.orig_h))
  }

  test("partition-wise feature extraction is deterministic and normalized") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf))
      .collect().sortBy(_.doc_id)
    val again = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf))
      .collect().sortBy(_.doc_id)
    assert(feats.map(_.mean_byte).toSeq == again.map(_.mean_byte).toSeq)
    feats.foreach { f =>
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9, "histogram must normalize")
      assert(f.histogram.length == Multimodal.Codecs.bins)
      assert(f.n_bytes > 0)
    }
  }

  test("frame sampling keeps every k-th fixed-size chunk") {
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaTable(spark, sf).limit(5), frameBytes = 64, every = 4)
      .collect()
    assert(frames.nonEmpty)
    frames.foreach { r =>
      assert(r.getAs[Int]("frame_no") % 4 == 0)
      assert(r.getAs[Int]("frame_bytes") <= 64)
    }
  }

  test("perceptual hash: codec-robust, noise-tolerant, discriminative") {
    import Multimodal.{Codecs, perceptualHash}
    def decode(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    val raster = Codecs.renderImage("the quick brown fox".getBytes("UTF-8"), 40, 30)
    val pngHash = perceptualHash(decode(Codecs.encodeImage(raster, "png")))
    // JPEG re-encode of the SAME raster stays in the similar band
    val jpegHash = perceptualHash(decode(Codecs.encodeImage(raster, "jpeg")))
    assert(java.lang.Long.bitCount(pngHash ^ jpegHash) <= 6,
      s"jpeg re-encode moved the hash ${java.lang.Long.bitCount(pngHash ^ jpegHash)} bits")
    // a few perturbed pixels stay in the near band
    val noisy = Codecs.renderImage("the quick brown fox".getBytes("UTF-8"), 40, 30)
    for (i <- 0 until 5) noisy.setRGB(i * 7, i * 5, noisy.getRGB(i * 7, i * 5) ^ 0x0F0F0F)
    val noisyHash = perceptualHash(decode(Codecs.encodeImage(noisy, "png")))
    assert(java.lang.Long.bitCount(pngHash ^ noisyHash) <= 3,
      s"5 perturbed pixels moved the hash ${java.lang.Long.bitCount(pngHash ^ noisyHash)} bits")
    // a RESIZED copy (the thumbnail re-post case) stays in the
    // similar band for images with LOW-FREQUENCY structure — i.e.
    // real photographs/renders; the text-tiled rasters above are
    // per-pixel noise, where averaging 40x30 vs 16x12 down to 8x8
    // legitimately disagrees, so the invariance is pinned on a
    // smooth gradient instead
    val smooth = new java.awt.image.BufferedImage(40, 30,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 30; x <- 0 until 40) {
      val r = x * 255 / 39
      val g = y * 255 / 29
      val b = ((x + y) % 40) * 255 / 39
      smooth.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val smoothHash = perceptualHash(decode(Codecs.encodeImage(smooth, "png")))
    val thumb = Multimodal.resizeImage(smooth, 16, 16)
    val thumbHash = perceptualHash(decode(Codecs.encodeImage(thumb, "png")))
    assert(java.lang.Long.bitCount(smoothHash ^ thumbHash) <= 8,
      s"16px thumbnail moved the hash ${java.lang.Long.bitCount(smoothHash ^ thumbHash)} bits")
    // an unrelated raster lands far away
    val other = Codecs.renderImage("completely different text entirely".getBytes("UTF-8"), 36, 28)
    val otherHash = perceptualHash(decode(Codecs.encodeImage(other, "png")))
    assert(java.lang.Long.bitCount(pngHash ^ otherHash) >= 12,
      s"unrelated image only ${java.lang.Long.bitCount(pngHash ^ otherHash)} bits away")
  }

  test("DCT pHash tier: gamma-shifted copies caught at Hamming <= 3") {
    import MultimodalSpec.{gammaShift, texture}
    import Multimodal.{Codecs, dctHash}
    def decode(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    // broadband low-frequency texture — the photograph-like case where
    // every coefficient the DCT reads is significant (the gamma
    // Hammings measure 2 here; sparse-spectrum synthetics like a
    // linear gradient legitimately sit higher, at 4-6)
    val tex = texture(42L)
    val baseHash = dctHash(decode(Codecs.encodeImage(tex, "png")))
    for (gamma <- Seq(0.7, 1.2)) {
      val shifted = dctHash(decode(Codecs.encodeImage(gammaShift(tex, gamma), "png")))
      assert(java.lang.Long.bitCount(baseHash ^ shifted) <= 3,
        s"gamma $gamma moved the DCT hash ${java.lang.Long.bitCount(baseHash ^ shifted)} bits")
    }
    // still discriminative: unrelated content lands far away
    for (other <- Seq(
        dctHash(decode(Codecs.encodeImage(texture(7L), "png"))),
        dctHash(decode(Codecs.encodeImage(
          Codecs.renderImage("completely different text entirely".getBytes("UTF-8"), 36, 28), "png"))))) {
      assert(java.lang.Long.bitCount(baseHash ^ other) >= 12,
        s"unrelated image only ${java.lang.Long.bitCount(baseHash ^ other)} DCT bits away")
    }
  }

  test("DCT tier catches a gamma copy the aHash tier's radius-6 band misses") {
    import spark.implicits._
    import MultimodalSpec.{gammaShift, texture, tightTexture}
    import Multimodal.{Codecs, MediaRow}
    // the differential that justifies the second tier: a tight-contrast
    // broadband texture (every aHash cell near the global mean) under a
    // gamma-0.7 copy moves aHash PAST the radius-6 band (measured: 7
    // bits) while the DCT hash stays within the 4-chunk pigeonhole
    // guarantee (2 bits) — aHash's mean threshold slides through the
    // dense luminance cluster, the DCT's median spectrum barely moves
    val tight = tightTexture(13L, 8)
    val rows = Seq(
      MediaRow(1L, "png", 40, 30, Codecs.encodeImage(tight, "png")),
      MediaRow(2L, "png", 40, 30, Codecs.encodeImage(gammaShift(tight, 0.7), "png")),
      MediaRow(3L, "png", 40, 30, Codecs.encodeImage(texture(42L), "png")),
      MediaRow(4L, "png", 40, 30, Codecs.encodeImage(gammaShift(texture(42L), 0.7), "png")),
      MediaRow(20L, "png", 36, 28, Codecs.encodeImage(
        Codecs.renderImage("completely different text entirely".getBytes("UTF-8"), 36, 28), "png")))
    def pairsOf(hashes: org.apache.spark.sql.DataFrame, radius: Int) =
      Multimodal.phashNearDupPairs(hashes, radius).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming"))
        .toMap
    val dct = pairsOf(Multimodal.dctImageHashes(rows.toDS()), radius = 6)
    assert(dct.get((1L, 2L)).exists(_ <= 3),
      s"DCT tier missed the tight-texture gamma copy: $dct")
    assert(dct.contains((3L, 4L)), s"DCT tier missed the texture gamma copy: $dct")
    assert(!dct.keys.exists { case (a, b) => a == 20L || b == 20L },
      s"unrelated image paired in the DCT tier: $dct")
    val ah = pairsOf(Multimodal.imageHashes(rows.toDS()), radius = 6)
    assert(!ah.contains((1L, 2L)),
      s"fixture no longer differential: aHash caught the gamma copy at radius 6: $ah")
  }

  test("q38f report: fixed 3-band shape over the DCT tier") {
    val rows = Multimodal.imageDctDedupReport(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[String]("band")).toSeq ==
      Seq("h0_identical", "h1_3_near", "h4_6_similar"))
    rows.foreach(r => assert(r.getAs[Long]("n_assets") > 0))
  }

  test("image near-dup pairs: planted re-encodes and exact copies found, unrelated not") {
    import spark.implicits._
    import Multimodal.{Codecs, MediaRow}
    val base = Codecs.renderImage("shared source raster for the family".getBytes("UTF-8"), 40, 30)
    val noisy = Codecs.renderImage("shared source raster for the family".getBytes("UTF-8"), 40, 30)
    for (i <- 0 until 5) noisy.setRGB(i * 7, i * 5, noisy.getRGB(i * 7, i * 5) ^ 0x0F0F0F)
    val basePng = Codecs.encodeImage(base, "png")
    val rows = Seq(
      MediaRow(1L, "png", 40, 30, basePng),
      MediaRow(2L, "jpeg", 40, 30, Codecs.encodeImage(base, "jpeg")),
      MediaRow(3L, "png", 40, 30, Codecs.encodeImage(noisy, "png")),
      MediaRow(10L, "png", 40, 30, basePng), // byte-identical re-post of 1
    ) ++ Seq(
      // genuinely distinct content AND geometry (texts that differ by
      // one tiled byte at equal dims render near-identical rasters —
      // a true near-dup the operator would be right to report)
      (20L, "zebra quartz mosaic", 36), (21L, "seventeen violet umbrellas stacked", 37),
      (22L, "baking soda volcano experiment run", 38), (23L, "mountain railway timetable appendix", 36),
      (24L, "jellyfish propulsion dynamics paper", 37), (25L, "cryptographic nonce reuse incident", 38),
    ).map { case (id, text, w) => MediaRow(id, "png", w, 28,
      Codecs.encodeImage(Codecs.renderImage(text.getBytes("UTF-8"), w, 28), "png")) }
    val hashes = Multimodal.imageHashes(rows.toDS())
    val pairs = Multimodal.phashNearDupPairs(hashes, radius = 6).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming"))
      .toMap
    // the family pairs (jpeg re-encode, pixel noise, exact re-post)
    assert(pairs.contains((1L, 2L)), "jpeg re-encode pair missed")
    assert(pairs.contains((1L, 3L)), "pixel-noise pair missed")
    assert(pairs.get((1L, 10L)).contains(0), "byte-identical pair must verify at Hamming 0")
    // no unrelated image joins the family or pairs with another
    val unrelated = pairs.keys.filter { case (a, b) => a >= 20 || b >= 20 }
    assert(unrelated.isEmpty, s"unrelated images paired: $unrelated")
  }

  test("envelope hash: volume-invariant, edit-tolerant, discriminative") {
    import Multimodal.{Codecs, envelopeHash}
    val base = Codecs.renderSamples("a steady test tone source".getBytes("UTF-8"), 800, 7L)
    val h0 = envelopeHash(base)
    // uniform gain change leaves the hash untouched (every window and
    // the mean scale together)
    val quiet = base.map(s => (s / 2).toShort)
    assert(envelopeHash(quiet) == h0, "volume change moved the envelope hash")
    // an edit localized to ~3 of 64 windows moves few bits — pinned
    // on a clip with ENVELOPE STRUCTURE (amplitude modulation): the
    // flat tone above keeps every window at the threshold, where any
    // mean shift legitimately flips many bits (the audio analog of
    // the noise-raster caveat in the aHash test)
    val structured = Array.tabulate(800) { i =>
      val env = 2000.0 + 10000.0 * math.abs(math.sin(2 * math.Pi * i * 3 / 800.0))
      (math.sin(2 * math.Pi * i / 32.0) * env).toInt
        .max(Short.MinValue).min(Short.MaxValue).toShort
    }
    val hs = envelopeHash(structured)
    val edited = structured.clone()
    for (i <- 0 until 40) edited(300 + i) = (edited(300 + i) / 4).toShort
    assert(java.lang.Long.bitCount(envelopeHash(edited) ^ hs) <= 6,
      s"local edit moved the envelope hash ${java.lang.Long.bitCount(envelopeHash(edited) ^ hs)} bits")
    // a different clip lands far away
    val other = Codecs.renderSamples("completely different audio content here".getBytes("UTF-8"), 700, 23L)
    assert(java.lang.Long.bitCount(envelopeHash(other) ^ h0) >= 12,
      s"unrelated clip only ${java.lang.Long.bitCount(envelopeHash(other) ^ h0)} bits away")
  }

  test("audio near-dup pairs: re-post and volume copy found via the shared machinery") {
    import spark.implicits._
    import Multimodal.{Codecs, MediaRow}
    val base = Codecs.renderSamples("the shared source clip for this family".getBytes("UTF-8"), 800, 7L)
    val quiet = base.map(s => (s / 2).toShort)
    val rows = Seq(
      MediaRow(1L, "wav", 800, 1, Codecs.encodeWav(base)),
      MediaRow(2L, "wav", 800, 1, Codecs.encodeWav(quiet)), // volume copy
      MediaRow(3L, "wav", 800, 1, Codecs.encodeWav(base)),  // byte-identical re-post
      MediaRow(20L, "wav", 640, 1,
        Codecs.encodeWav(Codecs.renderSamples("entirely different spoken material".getBytes("UTF-8"), 640, 23L))),
      MediaRow(21L, "wav", 720, 1,
        Codecs.encodeWav(Codecs.renderSamples("yet another unrelated recording".getBytes("UTF-8"), 720, 41L))),
    )
    val pairs = Multimodal.phashNearDupPairs(
      Multimodal.audioHashes(rows.toDS()), radius = 6).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming"))
      .toMap
    assert(pairs.get((1L, 2L)).exists(_ <= 6), "volume copy missed")
    assert(pairs.get((1L, 3L)).contains(0), "byte-identical re-post must verify at Hamming 0")
    val unrelated = pairs.keys.filter { case (a, b) => a >= 20 || b >= 20 }
    assert(unrelated.isEmpty, s"unrelated clips paired: $unrelated")
  }

  test("q38d report: fixed 3-band shape over the audio rows") {
    val report = Multimodal.audioDedupReport(spark, sf).collect()
    Dedup.releaseSketchCaches()
    assert(report.map(_.getAs[String]("band")).toSeq ==
      Seq("h0_identical", "h1_3_near", "h4_6_similar"))
    val docs = graft.Tables.documents(spark, sf).count()
    assert(report.head.getAs[Long]("n_assets") == (0L until docs).count(_ % 3 == 2))
  }

  test("phash index store: delta pairs against stored hashes only, no corpus re-decode") {
    import spark.implicits._
    import Multimodal.{Codecs, MediaRow}
    val base = Codecs.renderImage("the standing corpus raster".getBytes("UTF-8"), 40, 30)
    val corpus = Seq(
      MediaRow(1L, "png", 40, 30, Codecs.encodeImage(base, "png")),
      MediaRow(2L, "png", 36, 28, Codecs.encodeImage(
        Codecs.renderImage("unrelated standing image".getBytes("UTF-8"), 36, 28), "png")))
    val delta = Seq(
      MediaRow(100L, "jpeg", 40, 30, Codecs.encodeImage(base, "jpeg")), // re-encode of 1
      MediaRow(101L, "png", 33, 27, Codecs.encodeImage(
        Codecs.renderImage("fresh unrelated content".getBytes("UTF-8"), 33, 27), "png")))
    val store = new PhashIndexStore(spark, s"${tmpDir("phidx")}/index")
    store.appendRound(Multimodal.imageHashes(corpus.toDS()), 0L)
    val pairs = store.newPairsAgainst(Multimodal.imageHashes(delta.toDS()), radius = 6)
    val got = pairs.select("new_doc", "old_doc").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L)), s"expected the re-encode pair only, got $got")
    // the plan's only FILE scan is the stored index: the corpus side
    // is 8-byte hashes read back, never re-decoded media
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    var scans = List.empty[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case r: ReusedExchangeExec    => walk(r.child)
      case s: FileSourceScanExec =>
        scans ::= s.relation.location.rootPaths.map(_.toString).mkString(",")
      case other => other.children.foreach(walk)
    }
    walk(pairs.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.contains("phidx")),
      s"delta round read something beyond the stored index: $scans")
  }

  test("q38e report: fixed shape, delta + corpus accounting sums to the image count") {
    val report = Multimodal.imageDedupIncremental(spark, sf).collect()
    Dedup.releaseSketchCaches()
    assert(report.map(_.getAs[String]("band")).toSeq ==
      Seq("h0_identical", "h1_3_near", "h4_6_similar"))
    val docs = graft.Tables.documents(spark, sf).count()
    val nImages = (0L until docs).count(_ % 3 != 2)
    val r = report.head
    assert(r.getAs[Long]("n_delta_assets") + r.getAs[Long]("n_corpus_assets") == nImages,
      "watermark split lost or doubled images")
    assert(r.getAs[Long]("n_delta_assets") > 0)
  }

  test("q38c report: fixed 3-band shape, exact corpus totals") {
    val report = Multimodal.imageDedupReport(spark, sf).collect()
    Dedup.releaseSketchCaches()
    assert(report.map(_.getAs[String]("band")).toSeq ==
      Seq("h0_identical", "h1_3_near", "h4_6_similar"))
    val nAssets = report.head.getAs[Long]("n_assets")
    // formats cycle by doc_id % 3: two thirds of docs are images
    val docs = graft.Tables.documents(spark, sf).count()
    assert(nAssets == (0L until docs).count(_ % 3 != 2))
    assert(report.forall(_.getAs[Long]("n_pairs") >= 0))
    assert(report.head.getAs[Long]("n_distinct_hashes") <= nAssets)
  }
}

/** Image fixtures for the DCT-tier cases: a gamma map and broadband
  * textures whose low frequencies fill the 8x8 block the DCT hash reads. */
object MultimodalSpec {
  def gammaShift(src: BufferedImage, gamma: Double): BufferedImage = {
    val out = new BufferedImage(src.getWidth, src.getHeight, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until src.getHeight; x <- 0 until src.getWidth) {
      val rgb = src.getRGB(x, y)
      def m(v: Int) = math.min(255, math.round(255.0 * math.pow(v / 255.0, gamma))).toInt
      out.setRGB(x, y, (m((rgb >> 16) & 0xFF) << 16) | (m((rgb >> 8) & 0xFF) << 8) | m(rgb & 0xFF))
    }
    out
  }

  /** Seeded random 8x8 luminance grid bilinearly upsampled to 40x30:
    * broadband in exactly the 8x8 low frequencies the DCT hash reads. */
  private def gridTexture(seed: Long, cell: scala.util.Random => Int): BufferedImage = {
    val rnd = new scala.util.Random(seed)
    val grid = Array.fill(8, 8)(cell(rnd))
    val img = new BufferedImage(40, 30, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 30; x <- 0 until 40) {
      val gx = x * 7.0 / 39
      val gy = y * 7.0 / 29
      val (x0, y0) = (gx.toInt, gy.toInt)
      val (x1, y1) = (math.min(7, x0 + 1), math.min(7, y0 + 1))
      val (fx, fy) = (gx - x0, gy - y0)
      val v = math.round(grid(y0)(x0) * (1 - fy) * (1 - fx) + grid(y0)(x1) * (1 - fy) * fx +
        grid(y1)(x0) * fy * (1 - fx) + grid(y1)(x1) * fy * fx).toInt
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  /** Broadband full-contrast texture — the photograph-like case. */
  def texture(seed: Long): BufferedImage =
    gridTexture(seed, rnd => 40 + rnd.nextInt(176))

  /** Broadband texture with a TIGHT luminance range around mid-gray:
    * every aHash cell sits near the global mean (where a gamma map
    * moves the effective threshold through the dense cluster), while
    * the DCT spectrum stays broadband and well-conditioned. */
  def tightTexture(seed: Long, amp: Int): BufferedImage =
    gridTexture(seed, rnd => 128 - amp + rnd.nextInt(2 * amp + 1))
}
