package graft

import graft.multimodal.Media
import graft.multimodal.Media.{MediaRow, MediaMeta}

class MediaSpec extends SparkSpec {

  /** 8-byte header (w=640 h=480 rate=16000 frames=3) + payload. */
  private def blob(payload: Array[Byte]): Array[Byte] =
    Array[Byte](0x02, 0x80.toByte, 0x01, 0xE0.toByte, 0x3E, 0x80.toByte,
                0x00, 0x03) ++ payload

  private def ds = {
    val spark2 = spark
    import spark2.implicits._
    Seq(
      MediaRow(1, "image", blob(Array.tabulate(40)(_.toByte))),
      MediaRow(2, "audio", blob(Array.fill(100)(7.toByte))),
      MediaRow(3, "video", Array.empty[Byte])).toDS()
  }

  test("decode parses the header via the batched stub") {
    val out = Media.decode(ds).collect().sortBy(_.media_id)
    assert(out(0).meta === MediaMeta("image", 640, 480, 16000, 3))
    assert(out(2).meta === MediaMeta("video", 0, 0, 0, 0)) // short blob
  }

  test("features: histogram counts every byte exactly once") {
    val out = Media.features(ds).collect().sortBy(_.media_id)
    assert(out(0).histogram.sum === out(0).nBytes.toLong)
    assert(out(1).histogram(7) === 100L) // payload byte 0x07 x100
    assert(out(2).nBytes === 0 && out(2).mean === 0.0)
  }

  test("resize keeps every k-th byte deterministically") {
    val out = Media.resize(ds, 4).collect().sortBy(_.media_id)
    assert(out(0).content.length === (48 + 3) / 4)
    assert(out(0).content(0) === 0x02)
  }

  /** Encode known pixels as a real container via ImageIO; returns
    * (container bytes, expected row-major RGB24 plane). */
  private def fixture(fmt: String, w: Int, h: Int): (Array[Byte], Array[Byte]) = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      // deterministic distinct channel values per pixel
      val (r, g, b) = ((x * 40 + y) % 256, (y * 90 + x) % 256,
                       (x * 7 + y * 13) % 256)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      val i = (y * w + x) * 3
      rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    (bos.toByteArray, rgb)
  }

  test("real PNG and BMP containers decode byte-for-byte via javax.imageio") {
    val spark2 = spark
    import spark2.implicits._
    val (png, pngRgb) = fixture("png", 5, 3)
    val (bmp, bmpRgb) = fixture("bmp", 4, 4)
    assert(Media.isImageContainer(png) && Media.isImageContainer(bmp))
    // driver-side: exact pixel round-trip through the real codec
    assert(Media.imageRgb(png).get.toSeq === pngRgb.toSeq)
    assert(Media.imageRgb(bmp).get.toSeq === bmpRgb.toSeq)
    // through the distributed decode pass: real dims, not the stub's
    // header parse (PNG magic bytes would read as garbage dims)
    val rows = Seq(MediaRow(10, "image", png), MediaRow(11, "image", bmp),
                   MediaRow(12, "audio", blob(Array.fill(8)(1.toByte))))
      .toDS()
    val out = Media.decode(rows).collect().sortBy(_.media_id)
    assert(out(0).meta === MediaMeta("image", 5, 3, 0, 1))
    assert(out(1).meta === MediaMeta("image", 4, 4, 0, 1))
    // non-image blobs still take the stub path
    assert(out(2).meta === MediaMeta("audio", 640, 480, 16000, 3))
  }

  test("baseline and progressive JPEGs decode to their dimensions") {
    val spark2 = spark
    import spark2.implicits._
    // gray: the hand-written decoder takes 1×1 sampling only, and the
    // JDK writer subsamples color by default
    def jpeg(w: Int, h: Int, progressive: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (x * 7 + y * 13) % 256)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = wr.getDefaultWriteParam
      if (progressive)
        p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close(); wr.dispose()
      bos.toByteArray
    }
    val rows = Seq(MediaRow(20, "image", jpeg(37, 29, progressive = false)),
                   MediaRow(21, "image", jpeg(17, 51, progressive = true)))
      .toDS()
    val out = Media.decode(rows).collect().sortBy(_.media_id)
    assert(out(0).meta === MediaMeta("image", 37, 29, 0, 1))
    assert(out(1).meta === MediaMeta("image", 17, 51, 0, 1))
  }

  /** Gradient image with an optional small perturbation — the dHash
    * fixture: perceptually near-identical variants must land within a
    * few bits; an inverted gradient must land far away. */
  private def gradient(w: Int, h: Int, invert: Boolean = false,
                       tweak: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (x * 255 / (w - 1)).min(255)
      val v = if (invert) 255 - base else base
      val vv = if (tweak && x == w / 2 && y == h / 2) (v + 8).min(255) else v
      img.setRGB(x, y, (vv << 16) | (vv << 8) | vv)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash: stable under small edits and re-encode, far for inverse, distributed") {
    val spark2 = spark
    import spark2.implicits._
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = Media.dHash64(gradient(64, 48)).get
    val tweaked = Media.dHash64(gradient(64, 48, tweak = true)).get
    val rescaled = Media.dHash64(gradient(32, 24)).get // same scene, half size
    val inverted = Media.dHash64(gradient(64, 48, invert = true)).get
    assert(ham(base, tweaked) <= 4,
      s"one-pixel edit moved ${ham(base, tweaked)} bits")
    assert(ham(base, rescaled) <= 4,
      s"rescale moved ${ham(base, rescaled)} bits")
    assert(ham(base, inverted) >= 32,
      s"inverted gradient only ${ham(base, inverted)} bits away")
    // a BMP re-encode of the same pixels hashes identically (container-
    // independent — the property a content hash does NOT have)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gradient(64, 48)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    assert(Media.dHash64(bos.toByteArray).get === base)
    // distributed pass: image rows hash, non-image rows null
    val rows = Seq(MediaRow(1, "image", gradient(64, 48)),
                   MediaRow(2, "audio", blob(Array.fill(8)(1.toByte))))
      .toDS()
    val out = Media.imageHashes(rows).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out(1L) === Some(base))
    assert(out(2L) === None)
  }

  test("real WAV: JDK encoder -> RIFF walker decode, sample-exact") {
    import graft.multimodal.Media
    // adversarial samples: extremes, zero crossings, odd length (forces
    // the word-alignment path on any following chunk)
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345, 256)
    val wav = Media.encodeWavPcm16(44100, samples)
    assert(Media.isWavContainer(wav), "JDK writer must emit RIFF/WAVE")
    val pcm = Media.decodeWav(wav).get
    assert(pcm.sampleRate === 44100)
    assert(pcm.channels === 1)
    assert(pcm.samples.toSeq === samples.toSeq,
      "decode must round-trip the JDK-encoded samples bit-for-bit")
    // decode() routes WAV through the real parser, not the stub
    val meta = Media.decodeWav(wav).map(w =>
      (w.sampleRate, w.samples.length)).get
    assert(meta === ((44100, samples.length)))
    // non-WAV bytes and truncated headers refuse, never garbage
    assert(Media.decodeWav("not audio at all".getBytes).isEmpty)
    assert(Media.decodeWav(wav.take(11)).isEmpty)
    // a corrupted fmt tag degrades to None (no data chunk match)
    val broken = wav.clone(); broken(12) = 'X'
    assert(Media.decodeWav(broken).isEmpty)
  }

  test("wHash: flat image hashes 0, textured image doesn't, re-encode " +
       "invariant") {
    // constant image: every WHT coefficient except DC is 0, median 0,
    // strict > keeps every bit clear
    val flat = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, 0x7F7F7F)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val (dcF, whF) = Media.wHash(flat).get
    assert(whF === 0L, "flat image must hash to 0")
    assert(dcF === 127L * 64, "DC is the total luma")
    // a pure 1-D gradient is the DEGENERATE case (all nonzero ACs share
    // one sign, the median sits at 0, no bit exceeds it) — a 2-D
    // texture must set bits, and the same pixels re-encoded through
    // another real container must hash identically
    val tex = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = ((x * 37 + y * 11 + (x * y) % 29) % 256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val (_, whT) = Media.wHash(tex).get
    assert(whT !== 0L, "textured image must set frequency bits")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(tex))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    assert(Media.wHash(bos.toByteArray).get._2 === whT,
      "re-encode changed the perceptual hash")
  }

  test("tileVariance: flat image is blank (16/16 flat), gradient is not") {
    val flat = {
      val img = new java.awt.image.BufferedImage(
        20, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 20) img.setRGB(x, y, 0x404040)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos); bos.toByteArray
    }
    val (flatTiles, minVar) = Media.tileVariance(flat).get
    assert(flatTiles === 16 && minVar === 0L)
    val (gTiles, gMin) = Media.tileVariance(gradient(64, 64)).get
    // a horizontal gradient varies inside every tile (64/4 = 16 distinct
    // luma levels per tile column span)
    assert(gTiles === 0, s"gradient flagged $gTiles flat tiles")
    assert(gMin > 0L)
  }

  test("frameSample emits one row per kept frame") {
    val out = Media.frameSample(ds, frameBytes = 16, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // media 1: 48 bytes -> 3 frames -> frames 0,2 kept
    assert(out.count(_._1 == 1L) === 2)
    assert(out.filter(_._1 == 1L).map(_._2).sorted.toSeq === Seq(0, 2))
    // media 3: empty -> no frames
    assert(!out.exists(_._1 == 3L))
  }
}
