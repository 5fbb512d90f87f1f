package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing — builder-prompt
  * north-star. Media is carried as an opaque `binary` column plus a typed
  * metadata struct; decode / feature-extract / resize / frame-sample run
  * as batched per-partition transforms (`mapPartitions` over a typed
  * Dataset — the Scala analogue of `mapInPandas`: an iterator of batches,
  * never a whole-partition materialization).
  *
  * IMAGE decode is REAL: PNG/BMP/GIF containers decode through the
  * in-JDK `javax.imageio` (no external codec libs needed — headless
  * safe), detected by magic bytes, with pixel access via [[imageRgb]].
  * AUDIO decode is REAL for WAV/PCM16: [[decodeWav]] is a RIFF chunk
  * walker, with the JDK `javax.sound.sampled` writer as the independent
  * encoder ([[encodeWavPcm16]]) so round trips cross implementations.
  * MP3 metadata is REAL: [[Mp3]] is an independent ISO 11172-3
  * frame-header walker (sync scan, frame-length stepping, bitrate/
  * padding census) — a header parser, not a PCM decoder. MP4/ISO-BMFF
  * structure is REAL: [[Mp4]] is an independent ISO 14496-12 box
  * walker (size/largesize stepping, container recursion, mvhd
  * timescale/duration). Full PCM decode of compressed-codec PAYLOADS
  * (mp3 audio data, aac samples inside mp4) needs codec libraries NOT
  * in this container, so only that payload step falls back to
  * `decodeStub`, a clearly-marked deterministic fake that parses our
  * own 8-byte header; everything around it — schema, encoders, batch
  * shape, partition distribution — is real and tested (MediaSpec).
  * Swapping the stub for a JNI/ffmpeg call changes one function.
  *
  * Scale posture: media blobs are large; all transforms here are
  * narrow (no shuffle), so media never moves between executors — only
  * the extracted features/metadata (tiny) flow into joins/aggregations.
  */
object Media {

  // javax.imageio defaults to a DISK-backed stream cache: every
  // ImageIO.read(InputStream) call creates, writes, and deletes a temp
  // FILE. Per-decode that is invisible; per-corpus it is the measured
  // super-linear term of the codec queries (sf1→sf10 exponent 1.17 with
  // 500k temp-file churn cycles under 32-way concurrency). Sources here
  // are always in-memory byte arrays, so the memory cache is strictly
  // better; runs once per executor JVM at classload.
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed metadata carried alongside the blob. */
  case class MediaMeta(kind: String, width: Int, height: Int,
                       sampleRate: Int, nFrames: Int)

  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  case class DecodedRow(media_id: Long, kind: String, content: Array[Byte],
                        meta: MediaMeta)

  case class FeatureRow(media_id: Long, nBytes: Int, mean: Double,
                        histogram: Array[Long])

  /** === STUB (deterministic fake codec) ===
    * Real decoders (JPEG/PNG/PCM/mp4) are not available in this
    * environment. This fake reads an 8-byte header we also use in tests:
    * bytes 0-1 width, 2-3 height, 4-5 sample rate, 6-7 frame count
    * (big-endian unsigned shorts). Deterministic for any input.
    */
  def decodeStub(kind: String, content: Array[Byte]): MediaMeta = {
    def u16(i: Int): Int =
      if (content.length < i + 2) 0
      else ((content(i) & 0xFF) << 8) | (content(i + 1) & 0xFF)
    MediaMeta(kind, u16(0), u16(2), u16(4), u16(6))
  }

  /** Magic-byte sniff for the REAL image containers [[decodeImage]]
    * handles: PNG (\x89PNG), BMP (BM), GIF (GIF8). Content-based, not
    * kind-based, so a text/audio blob never pays an ImageIO parse. */
  def isImageContainer(content: Array[Byte]): Boolean =
    content.length >= 4 &&
      (((content(0) & 0xFF) == 0x89 && content(1) == 'P' &&
         content(2) == 'N' && content(3) == 'G') ||
       (content(0) == 'B' && content(1) == 'M') ||
       (content(0) == 'G' && content(1) == 'I' && content(2) == 'F' &&
        content(3) == '8'))

  /** REAL image decode — in-JDK `javax.imageio` (PNG/BMP/GIF), headless
    * safe. None when the blob is not a decodable image. */
  def decodeImage(content: Array[Byte]): Option[MediaMeta] =
    if (!isImageContainer(content)) None
    else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      .map(img => MediaMeta("image", img.getWidth, img.getHeight, 0, 1))

  /** Decoded RGB24 plane of a real image blob: row-major, 3 bytes per
    * pixel (r, g, b) — the raw tensor a feature extractor consumes.
    * MediaSpec proves byte-for-byte round-trip against the source
    * pixels of a PNG/BMP fixture. */
  def imageRgb(content: Array[Byte]): Option[Array[Byte]] =
    if (!isImageContainer(content)) None
    else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val argb = img.getRGB(x, y)
          val i = (y * w + x) * 3
          out(i) = ((argb >> 16) & 0xFF).toByte
          out(i + 1) = ((argb >> 8) & 0xFF).toByte
          out(i + 2) = (argb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      out
    }

  /** Magic-byte sniff for RIFF/WAVE containers [[decodeWav]] handles. */
  def isWavContainer(content: Array[Byte]): Boolean =
    content.length >= 12 &&
      content(0) == 'R' && content(1) == 'I' && content(2) == 'F' &&
      content(3) == 'F' && content(8) == 'W' && content(9) == 'A' &&
      content(10) == 'V' && content(11) == 'E'

  /** Decoded PCM16 audio: rate/channel metadata plus the raw samples. */
  case class WavPcm(sampleRate: Int, channels: Int,
                    samples: Array[Short])

  /** REAL audio decode — a RIFF chunk walker for WAV/PCM16, the one
    * audio container that needs no codec library (the JDK's
    * `javax.sound.sampled` is the independent ENCODER in tests and the
    * `multimodal_wav` query, so the round trip crosses two
    * implementations). Walks fmt/data chunks with word alignment,
    * little-endian throughout per RIFF. None for non-WAV blobs,
    * non-PCM encodings, or non-16-bit depth — mp3 metadata routes to
    * the real [[Mp3]] header walker and mp4 structure to the real
    * [[Mp4]] box walker; [[decodeStub]] remains only for the PCM/pixel
    * PAYLOAD of compressed codecs (the part that genuinely needs a
    * codec library), never for container/header metadata. */
  def decodeWav(content: Array[Byte]): Option[WavPcm] = {
    if (!isWavContainer(content)) return None
    def u16(i: Int): Int = (content(i) & 0xFF) | ((content(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long =
      (content(i) & 0xFFL) | ((content(i + 1) & 0xFFL) << 8) |
      ((content(i + 2) & 0xFFL) << 16) | ((content(i + 3) & 0xFFL) << 24)
    // This walker runs inside the generic decode() pass over arbitrary
    // executor-side blobs, so a corrupt RIFF header must degrade to None,
    // never hang or throw: chunk sizes stay Long (a 0xFFFFFFF8 size would
    // otherwise truncate to a zero advance = infinite loop), negative or
    // out-of-bounds sizes abort the walk, and the fmt reads are
    // bounds-checked against the declared chunk, not just the header.
    var pos = 12L
    var rate = 0; var channels = 0; var bits = 0; var pcm = false
    var data: Option[(Int, Int)] = None
    var corrupt = false
    while (!corrupt && pos + 8 <= content.length) {
      val p = pos.toInt
      val id = new String(content, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = u32(p + 4) // Long: RIFF sizes are u32, never negative here
      if (id == "fmt ") {
        if (sz < 16 || p + 24 > content.length) corrupt = true // reads end at p+23
        else {
          pcm = u16(p + 8) == 1
          channels = u16(p + 10)
          rate = u32(p + 12).toInt
          bits = u16(p + 22)
        }
      } else if (id == "data") {
        data = Some((p + 8, math.min(sz, (content.length - p - 8).toLong).toInt))
      }
      pos += 8 + sz + (sz & 1) // RIFF chunks are word-aligned; monotone: sz >= 0
    }
    if (corrupt) return None
    data.collect { case (off, sz) if pcm && bits == 16 && channels >= 1 =>
      val n = sz / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) = ((content(off + 2 * i) & 0xFF) |
                      (content(off + 2 * i + 1) << 8)).toShort
        i += 1
      }
      WavPcm(rate, channels, samples)
    }
  }

  /** REAL audio encode via the in-JDK `javax.sound.sampled` WAV writer
    * (headless-safe, pure IO) — deliberately NOT the inverse of
    * [[decodeWav]]'s hand-written parser, so encode→decode equality is
    * a cross-implementation proof, not a self-inverse tautology. */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1,
      /*signed=*/ true, /*bigEndian=*/ false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private val BatchSize = 64

  /** Decode pass: batched per-partition metadata extraction. The
    * `grouped(BatchSize)` iterator is the mapInPandas batch shape — bounded
    * memory per batch regardless of partition size. Real image containers
    * (magic-sniffed) decode through [[decodeImage]], WAV through
    * [[decodeWav]], MP3 through the [[Mp3]] frame-header walker (frame
    * count + sample rate, no PCM decode); everything else falls back
    * to the deterministic stub (now only non-mp3 compressed formats:
    * aac/mp4). */
  def decode(ds: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map(r =>
          DecodedRow(r.media_id, r.kind, r.content,
                     decodeImage(r.content)
                       .orElse(decodeWav(r.content).map(w =>
                         MediaMeta("audio", 0, 0, w.sampleRate,
                           w.samples.length)))
                       .orElse(Jpeg.decode(r.content).map(j =>
                         MediaMeta("image", j.width, j.height, 0, 1)))
                       .orElse(if (Mp3.isMp3(r.content))
                         Mp3.census(r.content).map(c =>
                           MediaMeta("audio", 0, 0, c.sampleRateHz,
                             c.nFrames))
                       else None)
                       .orElse(if (Mp4.isMp4(r.content))
                         Mp4.census(r.content).map(c =>
                           MediaMeta("video", 0, 0,
                             math.min(c.timescale, Int.MaxValue).toInt,
                             c.nBoxes))
                       else None)
                       .getOrElse(decodeStub(r.kind, r.content))))
      }
    }
  }

  /** Feature extraction: byte histogram + mean — the stand-in for an
    * embedding/feature model, same batched shape. */
  def features(ds: Dataset[MediaRow]): Dataset[FeatureRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val hist = new Array[Long](256)
          var sum = 0L
          r.content.foreach { b => val u = b & 0xFF; hist(u) += 1; sum += u }
          FeatureRow(r.media_id, r.content.length,
                     if (r.content.isEmpty) 0.0
                     else sum.toDouble / r.content.length, hist)
        }
      }
    }
  }

  /** Per-row Shannon byte entropy in exact micro-bits — the fused form
    * of histogram-then-HOF (the HOF lambda path does not whole-stage-
    * codegen and re-walks a 256-bucket array per row; this single pass
    * measured 34.7s -> 6.7s at the docs10 rig). Arithmetic matches the
    * SQL oracle bit-for-bit: dyadic ratios (n/c a power of two — terms
    * that sit ON a floor boundary where last-ulp ln drift flips
    * engines) use pure Long arithmetic; all other terms floor-quantize
    * a shared IEEE expression (Math.log ≡ both engines' ln up to the
    * harmless-for-irrationals last ulp). Returns (media_id, n_bytes,
    * entropy_micro_bits). */
  case class EntropyRow(media_id: Long, n_bytes: Long,
                        entropy_micro_bits: Long)
  private val Ln2 = Math.log(2.0)
  def byteEntropy(ds: Dataset[MediaRow]): Dataset[EntropyRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val hist = new Array[Long](256) // reused across the partition
      rows.flatMap { r =>
        if (r.content.isEmpty) Iterator.empty
        else {
          java.util.Arrays.fill(hist, 0L)
          r.content.foreach { b => hist(b & 0xFF) += 1 }
          val n = r.content.length.toLong
          val lnN = Math.log(n.toDouble)
          var sum = 0L
          var i = 0
          while (i < 256) {
            val c = hist(i)
            if (c > 0) {
              val r0 = n / c
              sum +=
                (if (n % c == 0 && (r0 & (r0 - 1)) == 0) {
                   val k = Math.round(Math.log(r0.toDouble) / Ln2)
                   1000000L * c * k / n // nonneg Long division == DIV
                 } else
                   Math.floor(1000000d * (c.toDouble / n) *
                     (lnN - Math.log(c.toDouble)) / Ln2).toLong)
            }
            i += 1
          }
          Iterator(EntropyRow(r.media_id, n, sum))
        }
      }
    }
  }

  /** "Resize": deterministic fake — keep every `factor`-th byte (a real
    * impl would be an image-library call in the same batched loop). */
  def resize(ds: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val out = r.content.indices.collect {
            case i if i % factor == 0 => r.content(i)
          }.toArray
          r.copy(content = out)
        }
      }
    }
  }

  /** Perceptual difference hash (dHash) of a REAL image blob: nearest-
    * neighbor downsample to a 9×8 grayscale grid (ITU-R 601 integer
    * luma), one bit per adjacent-pixel brightness comparison → a 64-bit
    * signature whose Hamming distance tracks VISUAL similarity — the
    * image-side analogue of SimHash for text, and the candidate key for
    * image near-dup dedup (hash equality or banding exactly as in
    * `dedup_simhash`; re-encodes, resizes, and small edits move few
    * bits, where a byte-level content hash changes completely). Integer
    * arithmetic end to end — deterministic across JVMs. None for
    * non-image blobs. */
  def dHash64(content: Array[Byte]): Option[Long] =
    if (!isImageContainer(content)) None
    else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val g = Array.ofDim[Int](8, 9)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 9) {
          // nearest-neighbor sample at the cell center
          val sx = ((2 * x + 1) * w / 18).min(w - 1)
          val sy = ((2 * y + 1) * h / 16).min(h - 1)
          val argb = img.getRGB(sx, sy)
          g(y)(x) = (((argb >> 16) & 0xFF) * 299 +
                     ((argb >> 8) & 0xFF) * 587 +
                     (argb & 0xFF) * 114) / 1000
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        val (yy, xx) = (i / 8, i % 8)
        if (g(yy)(xx + 1) > g(yy)(xx)) hash |= (1L << i)
        i += 1
      }
      hash
    }

  /** Walsh-Hadamard perceptual hash — the frequency-domain (pHash-class)
    * complement of [[dHash64]]'s gradient hash, with the WHT standing in
    * for pHash's DCT so EVERY step is exact integer arithmetic (the DCT's
    * cosine basis would drag a libm transcendental into the value path):
    * decode → 8×8 nearest-neighbor luma grid at cell centers → the 4×4
    * low-frequency block of the 2-D WHT, coef(u,v) =
    * Σ_{y,x} (−1)^(popcount(u&y)+popcount(v&x)) · lum(y,x) → bit i=4u+v
    * (skipping the DC term i=0) set when its coefficient exceeds the
    * exact MEDIAN (8th smallest of the 15 AC coefficients). Returns
    * (dc, whash): the DC term is the total luma (brightness census),
    * the 15-bit hash is the frequency signature. */
  def wHash(content: Array[Byte]): Option[(Long, Long)] =
    if (!isImageContainer(content)) None
    else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val g = Array.ofDim[Long](8, 8)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val sx = ((2 * x + 1) * w / 16).min(w - 1)
          val sy = ((2 * y + 1) * h / 16).min(h - 1)
          val argb = img.getRGB(sx, sy)
          g(y)(x) = (((argb >> 16) & 0xFF) * 299 +
                     ((argb >> 8) & 0xFF) * 587 +
                     (argb & 0xFF) * 114) / 1000
          x += 1
        }
        y += 1
      }
      val coef = Array.ofDim[Long](4, 4)
      var u = 0
      while (u < 4) {
        var v = 0
        while (v < 4) {
          var acc = 0L
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val neg =
                (Integer.bitCount(u & yy) + Integer.bitCount(v & xx)) % 2 == 1
              acc += (if (neg) -g(yy)(xx) else g(yy)(xx))
              xx += 1
            }
            yy += 1
          }
          coef(u)(v) = acc
          v += 1
        }
        u += 1
      }
      val acs = for {
        uu <- 0 until 4; vv <- 0 until 4 if !(uu == 0 && vv == 0)
      } yield (uu * 4 + vv, coef(uu)(vv))
      // 8th smallest of 15 = quantile_cont(0.5) with no interpolation —
      // the oracle's median over ints is this exact order statistic
      val med = acs.map(_._2).sorted.apply(7)
      val hash = acs.collect { case (i, c) if c > med => 1L << i }.sum
      (coef(0)(0), hash)
    }

  /** 4×4 TILE-VARIANCE census — the blank/low-information image gate:
    * decode, split the full-resolution luma plane into 16 tiles
    * (tile(y) = 4y÷h, tile(x) = 4x÷w — every pixel lands in exactly one
    * tile, no resampling), and per tile form the exact integer variance
    * numerator n·Σl² − (Σl)². A tile is FLAT when that numerator is
    * below 4·n² (variance < 4 gray levels²); a frame whose every tile
    * is flat is a blank/synthetic fill the vision pipeline should drop
    * before burning decode budget downstream. Returns
    * (flat_tiles, min tile variance in milli gray-levels²) — all
    * integer, no division until the final reported DIV. */
  def tileVariance(content: Array[Byte]): Option[(Int, Long)] =
    if (!isImageContainer(content)) None
    else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val n = Array.ofDim[Long](4, 4)
      val sm = Array.ofDim[Long](4, 4)
      val ss = Array.ofDim[Long](4, 4)
      var y = 0
      while (y < h) {
        val ty = 4 * y / h
        var x = 0
        while (x < w) {
          val tx = 4 * x / w
          val argb = img.getRGB(x, y)
          val l = (((argb >> 16) & 0xFF) * 299 +
                   ((argb >> 8) & 0xFF) * 587 +
                   (argb & 0xFF) * 114) / 1000
          n(ty)(tx) += 1; sm(ty)(tx) += l; ss(ty)(tx) += l.toLong * l
          x += 1
        }
        y += 1
      }
      var flat = 0
      var minVar = Long.MaxValue
      var ty = 0
      while (ty < 4) {
        var tx = 0
        while (tx < 4) {
          val num = n(ty)(tx) * ss(ty)(tx) - sm(ty)(tx) * sm(ty)(tx)
          if (num < 4L * n(ty)(tx) * n(ty)(tx)) flat += 1
          val vm = 1000L * num / (n(ty)(tx) * n(ty)(tx))
          if (vm < minVar) minVar = vm
          tx += 1
        }
        ty += 1
      }
      (flat, minVar)
    }

  /** LETTERBOX / PILLARBOX border widths of a REAL image blob: the
    * count of consecutive dark rows (every pixel's luma ≤ `thr`) from
    * the top and bottom, and dark columns from the left and right — the
    * crop-detection pass a vision-curation pipeline runs so downstream
    * models never spend capacity on black bars. Fully-dark frames
    * attribute everything to `top` (bottom = 0) so the four widths
    * never double-count. Integer arithmetic end to end; None for
    * non-image blobs. */
  def borderWidths(content: Array[Byte], thr: Int = 16)
      : Option[(Int, Int, Int, Int, Int, Int)] =
    if (!isImageContainer(content)) None
    else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      def luma(x: Int, y: Int): Int = {
        val argb = img.getRGB(x, y)
        (((argb >> 16) & 0xFF) * 299 + ((argb >> 8) & 0xFF) * 587 +
          (argb & 0xFF) * 114) / 1000
      }
      def rowDark(y: Int): Boolean =
        (0 until w).forall(x => luma(x, y) <= thr)
      def colDark(x: Int): Boolean =
        (0 until h).forall(y => luma(x, y) <= thr)
      val ndRows = (0 until h).filterNot(rowDark)
      val ndCols = (0 until w).filterNot(colDark)
      val top = ndRows.headOption.getOrElse(h)
      val bottom = ndRows.lastOption.map(h - 1 - _).getOrElse(0)
      val left = ndCols.headOption.getOrElse(w)
      val right = ndCols.lastOption.map(w - 1 - _).getOrElse(0)
      (w, h, top, bottom, left, right)
    }

  /** Batched per-partition dHash pass over a media frame — same
    * mapPartitions shape as [[decode]]/[[features]]; null hash for
    * blobs that aren't decodable images. */
  def imageHashes(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map(r => (r.media_id, dHash64(r.content)))
      }
    }.toDF("media_id", "dhash")
  }

  /** Frame sampling: split the blob into fixed-size frames, keep every
    * `stride`-th frame. Emits one row per kept frame (generator shape). */
  def frameSample(ds: Dataset[MediaRow], frameBytes: Int,
                  stride: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.flatMap { r =>
          val nFrames = r.content.length / frameBytes
          (0 until nFrames by stride).map { f =>
            (r.media_id, f,
             r.content.slice(f * frameBytes, (f + 1) * frameBytes))
          }
        }
      }
    }.toDF("media_id", "frame_no", "frame")
  }
}
