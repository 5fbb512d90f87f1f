package graft

import graft.multimodal.Jpeg
import org.scalatest.funsuite.AnyFunSuite

/** Cross-implementation verification of the hand-written JPEG decoder
  * for baseline (SOF0) and progressive (SOF2) frames: the ENCODER is
  * always the JDK's ImageIO JPEG writer (native IJG libjpeg; in
  * progressive mode its 6-scan gray script — spectral selection,
  * successive approximation in both DC and AC, EOB runs) — their
  * encoder, our decoder, like the BMP/WAV paths.
  *
  * Exact tier: uniform 8×8 blocks have a single DC coefficient
  * 8·(v−128) that every conforming FDCT computes exactly, so the full
  * lossy chain is integer-predictable:
  *   Fq  = round-half-away(8·(v−128) / Q)   (IJG quantize)
  *   lvl = clamp(((Fq·Q + 4) >> 3) + 128)   (dequant + DC-only IDCT)
  * The `multimodal_jpeg` driver query rides the same identity in SQL.
  * Successive approximation is LOSSLESS once every scan lands, so a
  * progressive encode reconstructs the same quantized coefficients as
  * the baseline encode of the same image: its pixels must be
  * bit-identical. Tolerance tier: against the JDK's own reader on the
  * same bytes, within the T.81 Annex A per-sample IDCT window.
  */
class JpegSpec extends AnyFunSuite {

  private def grayImage(w: Int, h: Int)(lum: (Int, Int) => Int)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, lum(x, y) & 0xFF)
    img
  }

  private def rgbImage(w: Int, h: Int)(rgb: (Int, Int) => Int)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    img
  }

  /** JDK encode. `dri` > 0 writes a DRI segment (restart interval in
    * MCUs), and color is written 4:4:4 (the decoder's 1×1 sampling
    * scope; the writer subsamples by default), both through the
    * writer's native metadata tree. */
  private def encode(img: java.awt.image.BufferedImage,
                     progressive: Boolean = false,
                     quality: Float = 0.5f,
                     dri: Int = 0): Array[Byte] = {
    import javax.imageio.metadata.IIOMetadataNode
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    if (progressive)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val meta =
      if (dri == 0 && img.getRaster.getNumBands == 1) null
      else {
        val md = w.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), p)
        val fmt = "javax_imageio_jpeg_image_1.0"
        val root = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        if (dri > 0) {
          val seq = root.getElementsByTagName("markerSequence").item(0)
          val node = new IIOMetadataNode("dri")
          node.setAttribute("interval", dri.toString)
          seq.insertBefore(node, seq.getFirstChild)
        }
        val comps = root.getElementsByTagName("componentSpec")
        for (i <- 0 until comps.getLength) {
          val c = comps.item(i).asInstanceOf[IIOMetadataNode]
          c.setAttribute("HsamplingFactor", "1")
          c.setAttribute("VsamplingFactor", "1")
        }
        md.setFromTree(fmt, root)
        md
      }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, meta), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  /** Offset of the first `marker` segment, walking the segment chain
    * from SOI; -1 when the walk reaches SOS or the end first. */
  private def markerAt(jpg: Array[Byte], marker: Int): Int = {
    var q = 2
    while (q + 3 < jpg.length) {
      val m = jpg(q + 1) & 0xFF
      if ((jpg(q) & 0xFF) == 0xFF && m == marker) return q
      if (m == 0xDA) return -1
      q += 2 + (((jpg(q + 2) & 0xFF) << 8) | (jpg(q + 3) & 0xFF))
    }
    -1
  }

  /** The integer chain the oracle predicts (round-half-away quantize,
    * exact DC-only reconstruction). */
  private def predictedLevel(v: Int, q: Int): Int = {
    val d = 8 * (v - 128)
    val fq = if (d >= 0) (d + q / 2) / q else -((-d + q / 2) / q)
    val lvl = ((fq * q + 4) >> 3) + 128
    math.max(0, math.min(255, lvl))
  }

  private def maxDiffVsJdk(bytes: Array[Byte]): Int = {
    val ours = Jpeg.decode(bytes).get
    val theirs = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(ours.width === theirs.getWidth)
    assert(ours.height === theirs.getHeight)
    var maxDiff = 0
    for (y <- 0 until ours.height; x <- 0 until ours.width)
      maxDiff = math.max(maxDiff, math.abs(
        (ours.pixels(y * ours.width + x) & 0xFF) -
          theirs.getRaster.getSample(x, y, 0)))
    maxDiff
  }

  test("exact tier: every gray level round-trips JDK-encode -> our " +
       "decode to the integer-predicted value") {
    // 16x16 blocks of 8x8 px, block (by,bx) holds level by*16+bx —
    // all 256 levels in one image, and DC DPCM chains across blocks
    // so the test also exercises the differencing path
    val img = grayImage(128, 128)((x, y) => (y / 8) * 16 + (x / 8))
    val jpg = encode(img)
    val dec = Jpeg.decode(jpg).getOrElse(fail("decode returned None"))
    assert(dec.width === 128 && dec.height === 128 && dec.nComp === 1)
    assert(!dec.progressive)
    val q = dec.dcQuant
    assert(q > 0)
    for (by <- 0 until 16; bx <- 0 until 16) {
      val v = by * 16 + bx
      val want = predictedLevel(v, q)
      for (y <- by * 8 until by * 8 + 8; x <- bx * 8 until bx * 8 + 8) {
        val got = dec.pixels(y * 128 + x) & 0xFF
        assert(got === want,
          s"block v=$v px($x,$y): got $got want $want (Q=$q)")
      }
    }
  }

  test("tolerance tier: arbitrary image agrees with the JDK's own " +
       "reader within the T.81 IDCT mismatch allowance") {
    val img = grayImage(71, 53)((x, y) => (x * 40 + y * 90 + x * y) % 256)
    val jpg = encode(img, quality = 0.9f)
    val maxDiff = maxDiffVsJdk(jpg)
    assert(maxDiff <= 2,
      s"per-sample divergence $maxDiff exceeds the conformance window")
  }

  test("gradient image: progressive decode within the Annex A window " +
       "of the JDK reader, across qualities and odd dimensions") {
    for ((w, h, q) <- Seq((37, 29, 0.5f), (64, 64, 0.9f), (8, 8, 0.3f),
                          (17, 51, 0.75f))) {
      val prog = encode(grayImage(w, h)((x, y) => x * 7 + y * 13), true, q)
      assert(Jpeg.decode(prog).get.progressive)
      assert(maxDiffVsJdk(prog) <= 2, s"dims ${w}x$h q=$q")
    }
  }

  test("noise image exercises EOB runs and AC refinement heavily; " +
       "still inside the conformance window") {
    val rnd = new scala.util.Random(42)
    val prog = encode(
      grayImage(48, 40)((_, _) => rnd.nextInt(256)), progressive = true)
    assert(maxDiffVsJdk(prog) <= 2)
  }

  test("uniform blocks: progressive pixels BIT-EQUAL the baseline " +
       "decode — successive approximation is lossless when complete") {
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val lv = Array.fill(6 * 5)(rnd.nextInt(256))
      def img = grayImage(48, 40)((x, y) => lv((y / 8) * 6 + x / 8))
      val base = Jpeg.decode(encode(img, progressive = false)).get
      val prog = Jpeg.decode(encode(img, progressive = true)).get
      assert(prog.width == base.width && prog.height == base.height)
      assert(java.util.Arrays.equals(prog.pixels, base.pixels),
        s"seed $seed: progressive and baseline pixels must be identical")
    }
  }

  test("a progressive encode decodes to the baseline encode's pixels") {
    // arbitrary content, not only DC-only blocks: every AC band and
    // refinement scan must land on the baseline's quantized values
    val rnd = new scala.util.Random(5)
    val noise = Array.fill(40 * 29)(rnd.nextInt(256))
    for ((img, q) <- Seq(
           (grayImage(24, 24)((x, y) => (x + y) % 256), 0.5f),
           (grayImage(71, 53)((x, y) => x * 40 + y * 90 + x * y), 0.9f),
           (grayImage(40, 29)((x, y) => noise(y * 40 + x)), 0.75f),
           (rgbImage(19, 13)((x, y) =>
              (x * 13 << 16) | (y * 19 << 8) | noise(y * 40 + x)), 0.8f))) {
      val base = Jpeg.decode(encode(img, progressive = false, q)).get
      val prog = Jpeg.decode(encode(img, progressive = true, q)).get
      assert(!base.progressive && prog.progressive)
      assert((prog.width, prog.height, prog.nComp, prog.dcQuant) ===
        ((base.width, base.height, base.nComp, base.dcQuant)))
      assert(java.util.Arrays.equals(prog.pixels, base.pixels),
        s"${img.getWidth}x${img.getHeight} q=$q: pixels differ")
    }
  }

  test("a baseline stream with its trailing EOI removed decodes to the " +
       "same pixels") {
    val jpg = encode(grayImage(37, 29)((x, y) => x * 7 + y * 13))
    assert((jpg(jpg.length - 2) & 0xFF) == 0xFF &&
      (jpg(jpg.length - 1) & 0xFF) == 0xD9, "writer must end with EOI")
    val whole = Jpeg.decode(jpg).get
    val cut = Jpeg.decode(jpg.dropRight(2)).get
    assert((cut.width, cut.height) === ((whole.width, whole.height)))
    assert(java.util.Arrays.equals(cut.pixels, whole.pixels))
  }

  test("an SOF0 marker patched to SOF1, SOF3 or SOF9 still returns None") {
    val jpg = encode(grayImage(24, 24)((x, y) => (x + y) % 256))
    val sof = markerAt(jpg, 0xC0)
    assert(sof > 0, "test stream must contain an SOF0 marker")
    assert(Jpeg.decode(jpg).isDefined)
    for (m <- Seq(0xC1, 0xC3, 0xC9)) {
      val mut = jpg.clone(); mut(sof + 1) = m.toByte
      assert(Jpeg.decode(mut).isEmpty, f"SOF marker 0x$m%02X must be None")
    }
  }

  test("a sequential scan ends the block on any zero-size AC symbol") {
    // EOBn runs (run 1..14, size 0) exist only in progressive AC-band
    // scans; in a baseline scan such a symbol ends the block like EOB
    // and reads no run bits. Relabel the AC table's EOB value (0x00) as
    // 0x50: the decode must not change.
    val jpg = encode(grayImage(37, 29)((x, y) => x * 7 + y * 13))
    def u16(i: Int) = (jpg(i) & 0xFF) << 8 | (jpg(i + 1) & 0xFF)
    var eob = -1
    var q = 2 // walk every DHT segment before the scan for the AC table
    while (eob < 0 && (jpg(q + 1) & 0xFF) != 0xDA) {
      if ((jpg(q + 1) & 0xFF) == 0xC4) {
        var p = q + 4
        while (p < q + 2 + u16(q + 2)) {
          val total = (1 to 16).map(l => jpg(p + l) & 0xFF).sum
          if (((jpg(p) >> 4) & 0xF) == 1 && eob < 0)
            eob = (p + 17 until p + 17 + total).find(jpg(_) == 0).getOrElse(-1)
          p += 17 + total
        }
      }
      q += 2 + u16(q + 2)
    }
    assert(eob > 0, "the writer's AC table must define EOB")
    val mut = jpg.clone(); mut(eob) = 0x50.toByte
    assert(java.util.Arrays.equals(Jpeg.decode(mut).get.pixels,
      Jpeg.decode(jpg).get.pixels))
  }

  test("non-baseline and corrupt streams degrade to None, never throw") {
    val img = grayImage(24, 24)((x, y) => (x + y) % 256)
    val jpg = encode(img)
    assert(Jpeg.decode(jpg.take(20)).isEmpty, "truncated must be None")
    assert(Jpeg.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Jpeg.decode("not a jpeg at all".getBytes).isEmpty)
    assert(Jpeg.decode("GIF89a".getBytes ++ jpg).isEmpty)
    // no entropy data: the SOS header itself runs past the end
    val sos = jpg.indices.find(i =>
      (jpg(i) & 0xFF) == 0xFF && (jpg(i + 1) & 0xFF) == 0xDA).get
    assert(Jpeg.decode(jpg.take(sos + 7)).isEmpty, "cut SOS must be None")
    // an EOI ends the image, even where a segment marker should stand
    val eoi = jpg.clone(); eoi(3) = 0xD9.toByte // APP0 -> EOI
    assert(Jpeg.decode(eoi).isEmpty, "EOI before the frame must be None")
    // one frame per stream: the same image's progressive SOF2 ahead of
    // the baseline SOF0 must not leave a decodable sequential frame
    val prog = encode(img, progressive = true)
    val sof2 = markerAt(prog, 0xC2)
    val sof2Len = ((prog(sof2 + 2) & 0xFF) << 8 | (prog(sof2 + 3) & 0xFF)) + 2
    val sof0 = markerAt(jpg, 0xC0)
    val mixed = jpg.take(sof0) ++ prog.slice(sof2, sof2 + sof2Len) ++
      jpg.drop(sof0)
    assert(Jpeg.decode(prog).isDefined)
    assert(Jpeg.decode(mixed).isEmpty, "SOF2 then SOF0 must be None")
    // flip bytes through the entropy segment — must never throw/hang
    for (i <- 0 until jpg.length by 7) {
      val mut = jpg.clone(); mut(i) = (mut(i) ^ 0x5A).toByte
      Jpeg.decode(mut) // Option either way; just must return
    }
  }

  test("hostile: corrupt/truncated/oversized streams degrade to None, " +
       "never throw") {
    val img = grayImage(32, 24)((x, y) => x * 11 + y * 3)
    for ((progressive, sofMarker) <- Seq((false, 0xC0), (true, 0xC2))) {
      val jpg = encode(img, progressive)
      // truncation sweep — every prefix must return cleanly
      for (n <- 2 until jpg.length by 11) Jpeg.decode(jpg.take(n))
      // byte-flip sweep through headers and entropy data
      for (i <- 0 until jpg.length by 5) {
        val mut = jpg.clone(); mut(i) = (mut(i) ^ 0x5A).toByte
        Jpeg.decode(mut)
      }
      // hostile SOF dimensions (65535x65535 would be ~16 GB of Int
      // coefficients) must be rejected BEFORE the rasters are allocated
      // — an OutOfMemoryError is an Error the decode() catch cannot
      // convert to None (ADVICE r10). Patch the real stream's SOF
      // height/width fields to the max.
      val huge = jpg.clone()
      val sof = markerAt(huge, sofMarker)
      assert(sof > 0, f"test stream must contain an SOF marker 0x$sofMarker%02X")
      huge(sof + 5) = 0xFF.toByte; huge(sof + 6) = 0xFF.toByte // height
      huge(sof + 7) = 0xFF.toByte; huge(sof + 8) = 0xFF.toByte // width
      assert(Jpeg.decode(huge).isEmpty,
        "oversized declared dimensions must decode to None, not allocate")
    }
  }

  test("restart markers resync the DC predictors") {
    // restart intervals reset the DC predictors (and a progressive AC
    // scan's EOB run) without changing a coefficient, so a stream with
    // them decodes to the pixels of the same encode without them
    val img = grayImage(33, 17)((x, y) => x * 5 + y * 9 + (x * y) % 7)
    for (progressive <- Seq(false, true); dri <- Seq(1, 3, 7)) {
      val jpg = encode(img, progressive, dri = dri)
      assert(markerAt(jpg, 0xDD) > 0, "writer must emit DRI")
      assert(jpg.indices.init.exists(i => (jpg(i) & 0xFF) == 0xFF &&
        (jpg(i + 1) & 0xF8) == 0xD0), "writer must emit RSTn markers")
      val plain = Jpeg.decode(encode(img, progressive)).get
      val rst = Jpeg.decode(jpg).get
      assert(java.util.Arrays.equals(rst.pixels, plain.pixels),
        s"progressive=$progressive dri=$dri")
    }
  }

  test("query-side synthesis round-trips: synthJpegProg streams decode " +
       "bit-equal to the baseline path and carry the 6-scan script") {
    import graft.operators.Multimodal
    for (text <- Seq("a", "hello progressive world", "x" * 131)) {
      val bytes = text.getBytes("UTF-8")
      val (bw, bh, prog) = Multimodal.synthJpegProg(bytes)
      val (_, _, base) = Multimodal.synthJpeg(bytes)
      val dp = Jpeg.decode(prog).get
      val db = Jpeg.decode(base).get
      assert(dp.progressive && !db.progressive)
      assert(dp.width == bw * 8 && dp.height == bh * 8)
      assert(java.util.Arrays.equals(dp.pixels, db.pixels))
      var nScans = 0
      for (i <- 0 until prog.length - 1)
        if ((prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xDA)
          nScans += 1
      assert(nScans == 6, s"JDK gray scan script drifted: $nScans scans")
    }
  }
}
