package graft.operators

import graft.PlanUtil.TimedCheckpoint
import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column queries over testdata (document text cast to
  * bytes stands in for media blobs — the real media path is
  * [[graft.multimodal.Media]]): binary length/digest metadata and
  * frame-count arithmetic, both SQL-oracle-able.
  */
object Multimodal {

  /** Binary metadata extraction: byte length, first byte, content digest,
    * and frame-sampling arithmetic (16-byte frames, every 4th kept). */
  val multimodalMeta: Q = Q(
    "multimodal_meta",
    """SELECT doc_id,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  ascii(substr(text, 1, 1)) AS first_byte,
      |  sha256(text) AS digest,
      |  CAST(floor(octet_length(CAST(text AS BLOB)) / 16) AS BIGINT) AS n_frames,
      |  CAST(floor((floor(octet_length(CAST(text AS BLOB)) / 16) + 3) / 4) AS BIGINT) AS n_sampled
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val bin = col("text").cast("binary")
    val nBytes = octet_length(bin)
    // floor, not cast: DuckDB casts double->bigint by rounding, Spark by
    // truncation — floor() is exact in both.
    val nFrames = floor(nBytes / 16).cast("long")
    Tables.documents(s, d).select(
      col("doc_id"),
      nBytes.as("n_bytes"),
      ascii(col("text")).as("first_byte"),
      sha2(bin, 256).as("digest"),
      nFrames.as("n_frames"),
      floor((nFrames + 3) / 4).cast("long").as("n_sampled")
    )
  }

  /** Feature extraction through the REAL typed media path: the batched
    * `mapPartitions` pipeline ([[graft.multimodal.Media.features]] — the
    * mapInPandas analogue that a production embed/decode model plugs
    * into) runs over text-as-bytes blobs, and its byte-histogram outputs
    * are value-checked against a pure-SQL oracle. This pins the typed
    * path's semantics (batching, encoders, per-partition iteration)
    * with a hash compare, not just a spec. Narrow/no-shuffle: blobs
    * never leave their partition; only (id, stats) rows flow on.
    * The oracle iterates UTF-8 BYTES (hex(encode(text)) split into hex
    * pairs), exactly what the Spark side's binary cast feeds Media — NOT
    * per-character code points, which would silently diverge on any
    * non-ASCII document. */
  val multimodalFeatures: Q = Q(
    "multimodal_features",
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
      |b AS (SELECT doc_id,
      |        unnest([CAST('0x' || substr(hx, 2*i-1, 2) AS INT)
      |                FOR i IN range(1, len(hx)//2 + 1)]) AS byte
      |      FROM h),
      |pc AS (SELECT doc_id, byte, count(*) AS c FROM b GROUP BY 1, 2)
      |SELECT doc_id AS media_id,
      |  CAST(sum(c) AS INT) AS n_bytes,
      |  CAST(sum(byte * c) AS DOUBLE) / sum(c) AS mean_byte,
      |  CAST(count(*) AS INT) AS n_distinct,
      |  CAST(max(c) AS BIGINT) AS top_byte_n
      |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    val rows = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), lit("text").as("kind"),
              col("text").cast("binary").as("content"))
      .as[Media.MediaRow]
    Media.features(rows).toDF()
      .select(col("media_id"),
        col("nBytes").as("n_bytes"),
        col("mean").as("mean_byte"),
        size(filter(col("histogram"), _ > 0)).as("n_distinct"),
        array_max(col("histogram")).as("top_byte_n"))
  }

  /** PERCEPTUAL IMAGE HASHING through the REAL codec path, value-checked
    * end to end: each document's bytes paint a deterministic grayscale
    * image (luma at (x,y) = text byte at (y·w+x) mod len), the image is
    * encoded as an actual 24-bit BMP container, decoded back through
    * `javax.imageio` ([[graft.multimodal.Media.dHash64]]'s real decode),
    * downsampled 9×8 and hashed — and the emitted 16-bit dHash bands
    * (the near-dup banding keys, exactly as `dedup_simhash` bands its
    * text signatures) hash-compare against a PURE-SQL DuckDB oracle.
    *
    * The oracle is possible because gray pixels make the luma transform
    * the identity ((299b+587b+114b)/1000 = b), so the whole pipeline —
    * encode, decode, nearest-neighbor grid sample, bit comparisons —
    * must reproduce exact source bytes for the integer arithmetic over
    * hex pairs to agree: a LOSSLESSNESS proof of the codec round-trip
    * on every row, far stronger than a fixture spec. Bands (not one
    * int64) keep every mask within 16 bits — DuckDB's checked `<<`
    * cannot build bit 63 — and are what a dedup join would key on
    * anyway. Plan: narrow per-partition batched mapPartitions (blobs
    * never shuffle) over the WHOLE documents table — image work is
    * per-row and embarrassingly parallel at any scale, so the declared
    * query needs no demo-size bound. */
  /** The shared encode→decode→dHash pass behind [[multimodalDhash]] and
    * [[multimodalDhashDedup]]: synthesize a gray BMP from each document's
    * bytes, round-trip it through the REAL codec (ImageIO), perceptual-
    * hash the decoded pixels. Narrow mapPartitions — blobs never
    * shuffle; only the 64-bit hash leaves the task. */
  /** Synthesize the deterministic gray BMP for a document's bytes (the
    * luma-identity trick that makes real-codec passes SQL-oracle-able:
    * gray pixels ⇒ decoded luma == source byte). Returns (w, h, bmp). */
  private def synthBmp(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val w = 16 + (bytes.length % 17)
    val h = 16 + (bytes.length % 13)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val b = bytes((y * w + x) % bytes.length) & 0xFF
        img.setRGB(x, y, (b << 16) | (b << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    (w, h, bos.toByteArray)
  }

  private def dhashFrame(s: org.apache.spark.sql.SparkSession,
                         d: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (w, h, bmp) = synthBmp(bytes)
          // the REAL path: container bytes -> ImageIO decode -> grid -> hash
          val hash = Media.dHash64(bmp).get
          (id, w, h, hash)
        }
      }
      .toDF("doc_id", "w", "h", "dhash")
  }

  val multimodalDhash: Q = Q(
    "multimodal_dhash",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |dim AS (SELECT doc_id, hx, nb,
      |    16 + nb % 17 AS w, 16 + nb % 13 AS h FROM d),
      |g AS (SELECT doc_id, w, h, ys.y AS y, xs.x AS x,
      |    CAST('0x' || substr(hx,
      |      2 * ((LEAST((2*ys.y+1)*h//16, h-1) * w
      |            + LEAST((2*xs.x+1)*w//18, w-1)) % nb) + 1, 2) AS INT)
      |      AS lum
      |  FROM dim, range(0, 8) ys(y), range(0, 9) xs(x)),
      |bits AS (SELECT l.doc_id, l.w, l.h, l.y * 8 + l.x AS i,
      |    CASE WHEN r.lum > l.lum
      |         THEN CAST(1 AS INT) << CAST((l.y * 8 + l.x) % 16 AS INT)
      |         ELSE 0 END AS bit
      |  FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.y = r.y
      |                    AND r.x = l.x + 1
      |  WHERE l.x < 8)
      |SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
      |  CAST(i // 16 AS INT) AS band, CAST(sum(bit) AS INT) AS mask
      |FROM bits GROUP BY doc_id, w, h, i // 16
      |ORDER BY doc_id, band""".stripMargin
  ) { (s, d) =>
    dhashFrame(s, d)
      .select(col("doc_id"), col("w"), col("h"),
        posexplode(array((0 until 4).map(k =>
          shiftrightunsigned(col("dhash"), 16 * k)
            .bitwiseAND(lit(0xFFFFL)).cast("int")): _*))
          .as(Seq("band", "mask")))
  }

  /** Audio ingestion through the REAL WAV codec path, value-checked END
    * TO END — [[multimodalDhash]]'s discipline applied to the audio
    * leg: each document's bytes become PCM16 samples ((b−128)·256), the
    * JDK `javax.sound.sampled` writer builds a real RIFF/WAVE container
    * at a byte-dependent sample rate, and the distributed pass decodes
    * it back through [[graft.multimodal.Media.decodeWav]]'s independent
    * chunk walker, emitting integer sample statistics (duration,
    * Σ|s|, peak, position-weighted Σ i·s — the last catches any
    * reorder/off-by-one). The DuckDB oracle computes the same stats
    * straight from the hex pairs, so a hash match is a per-row
    * LOSSLESSNESS proof of encode→decode across two implementations.
    * Plan: narrow batched mapPartitions over the whole table, blobs
    * never shuffle — audio work is per-row and embarrassingly parallel. */
  val multimodalWav: Q = Q(
    "multimodal_wav",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |s AS (SELECT doc_id, nb, unnest(range(nb)) AS i, hx FROM d),
      |v AS (SELECT doc_id, nb, i,
      |    (CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128) * 256
      |      AS smp
      |  FROM s)
      |SELECT doc_id,
      |  CAST(8000 + (nb % 5) * 2000 AS INT) AS sample_rate,
      |  CAST(nb AS BIGINT) AS n_samples,
      |  CAST(nb * 1000000 // (8000 + (nb % 5) * 2000) AS BIGINT) AS duration_us,
      |  CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
      |  CAST(max(abs(smp)) AS INT) AS peak,
      |  CAST(sum((i + 1) * smp) AS BIGINT) AS psum
      |FROM v GROUP BY doc_id, nb ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rate = 8000 + (bytes.length % 5) * 2000
          val samples = bytes.map(b => (((b & 0xFF) - 128) * 256).toShort)
          // REAL path: JDK writer encodes, the RIFF walker decodes
          val wav = Media.encodeWavPcm16(rate, samples)
          val pcm = Media.decodeWav(wav).get
          var sumAbs = 0L; var peak = 0; var psum = 0L; var i = 0
          while (i < pcm.samples.length) {
            val v = pcm.samples(i).toInt
            sumAbs += math.abs(v)
            peak = math.max(peak, math.abs(v))
            psum += (i + 1).toLong * v
            i += 1
          }
          (id, pcm.sampleRate, pcm.samples.length.toLong,
           pcm.samples.length.toLong * 1000000L / pcm.sampleRate,
           sumAbs, peak, psum)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "duration_us",
        "sum_abs", "peak", "psum")
  }

  /** FRAME-LEVEL audio features through the real codec path — the
    * generator sibling of [[multimodalWav]]'s per-file stats, and the
    * shape a speech pipeline actually extracts (energy per fixed-size
    * window): decode the real RIFF container, split samples into
    * 256-sample frames (last partial frame kept), emit one row per
    * frame with exact integer energy stats. The DuckDB oracle groups
    * the same hex-pair arithmetic by `i // 256`, so the hash match
    * extends the per-row codec losslessness proof down to FRAME
    * boundaries — an off-by-one in the chunk walker's data offset
    * would shift every frame's stats. Same narrow batched
    * mapPartitions posture, whole table — frame rows multiply only by
    * ⌈doc bytes / 256⌉, bounded by the fixture's ~600-byte docs. */
  val multimodalWavFrames: Q = Q(
    "multimodal_wav_frames",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |s AS (SELECT doc_id, nb, unnest(range(nb)) AS i, hx FROM d),
      |v AS (SELECT doc_id, CAST(i // 256 AS INT) AS frame_no,
      |    (CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128) * 256
      |      AS smp
      |  FROM s)
      |SELECT doc_id, frame_no, CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
      |  CAST(max(abs(smp)) AS INT) AS peak
      |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) => wavFrameStats(s, d) }

  /** Shared decode→frame pipeline for [[multimodalWavFrames]] and
    * [[multimodalWavVad]]: synth WAV per doc through the REAL codec
    * round-trip, split into 256-sample frames, exact integer energy
    * stats per frame. */
  private def wavFrameStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rate = 8000 + (bytes.length % 5) * 2000
          val samples = bytes.map(b => (((b & 0xFF) - 128) * 256).toShort)
          val pcm = Media.decodeWav(Media.encodeWavPcm16(rate, samples)).get
          pcm.samples.grouped(256).zipWithIndex.map { case (frame, k) =>
            var sumAbs = 0L; var peak = 0; var i = 0
            while (i < frame.length) {
              val v = math.abs(frame(i).toInt)
              sumAbs += v; peak = math.max(peak, v); i += 1
            }
            (id, k, frame.length.toLong, sumAbs, peak)
          }
        }
      }
      .toDF("doc_id", "frame_no", "n_samples", "sum_abs", "peak")
  }

  /** ENERGY-BASED ACTIVITY SEGMENTATION (VAD shape) over the decoded
    * frames — the segmentation operator every speech-data curation
    * pipeline runs between decode and transcription: frames whose mean
    * absolute amplitude clears an exact integer floor (`sum_abs DIV n ≥
    * 8600` — UTF-8 text bytes sit in the ASCII band, so per-frame means
    * cluster tightly around ~8560; the floor at the ~60th percentile
    * yields a realistic active/inactive mix with real gaps) are ACTIVE, and active frames merge into segments
    * across gaps of at most one inactive frame (single-frame silences —
    * plosives, breaths — stay inside a segment; longer silence closes
    * it). Per segment: frame span, frame count, exact total energy.
    *
    * This is [[graft.operators.Streaming]]'s sessionize-gaps shape
    * applied to the signal domain: activity threshold = event presence,
    * frame index = time, gap tolerance = session gap. All arithmetic is
    * exact integers (the amplitude floor is a floor-DIV, energies are
    * BIGINT sums), the lag/cumsum windows order by the unique (doc,
    * frame_no), so both engines segment identically. Plan: the narrow
    * decode mapPartitions (shared with [[multimodalWavFrames]] — blobs
    * never shuffle, only (doc_id, frame stats) rows do) into one
    * doc-keyed window pair and one segment aggregate: a single exchange
    * past the decode, output rows bounded by segment count. */
  val multimodalWavVad: Q = Q(
    "multimodal_wav_vad",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |s AS (SELECT doc_id, nb, unnest(range(nb)) AS i, hx FROM d),
      |v AS (SELECT doc_id, CAST(i // 256 AS INT) AS frame_no,
      |    abs((CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128)
      |        * 256) AS a
      |  FROM s),
      |f AS (SELECT doc_id, frame_no, count(*) AS n, sum(a) AS sum_abs
      |      FROM v GROUP BY 1, 2),
      |act AS (SELECT doc_id, frame_no, sum_abs
      |        FROM f WHERE sum_abs // n >= 8600),
      |b AS (SELECT doc_id, frame_no, sum_abs,
      |    CASE WHEN lag(frame_no) OVER w IS NULL
      |           OR frame_no - lag(frame_no) OVER w > 2 THEN 1 ELSE 0 END
      |      AS brk
      |  FROM act WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
      |g AS (SELECT doc_id, frame_no, sum_abs,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY frame_no
      |                   ROWS UNBOUNDED PRECEDING) AS seg
      |  FROM b)
      |SELECT doc_id, CAST(seg AS INT) AS seg_no,
      |  CAST(min(frame_no) AS INT) AS start_frame,
      |  CAST(max(frame_no) AS INT) AS end_frame,
      |  CAST(count(*) AS BIGINT) AS n_active_frames,
      |  CAST(sum(sum_abs) AS BIGINT) AS energy
      |FROM g GROUP BY 1, 2 ORDER BY doc_id, seg_no""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_no")
    wavFrameStats(s, d)
      .filter(expr("sum_abs DIV n_samples >= 8600"))
      .withColumn("brk",
        when(lag(col("frame_no"), 1).over(w).isNull ||
             col("frame_no") - lag(col("frame_no"), 1).over(w) > 2, 1)
          .otherwise(0))
      .withColumn("seg", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "seg")
      .agg(min(col("frame_no")).as("start_frame"),
           max(col("frame_no")).as("end_frame"),
           count(lit(1)).as("n_active_frames"),
           sum(col("sum_abs")).as("energy"))
      .select(col("doc_id"), col("seg").cast("int").as("seg_no"),
        col("start_frame"), col("end_frame"), col("n_active_frames"),
        col("energy"))
  }

  /** IMAGE NEAR-DUP detection — the [[graft.operators.Dedup.dedupSimhash]]
    * band-join pointed at PERCEPTUAL image hashes: candidates collide on
    * any of the four 16-bit dHash bands (Hamming ≤ 3 between 64-bit
    * hashes guarantees one exact band, the standard pigeonhole cut), the
    * verify stage computes the exact Hamming distance, and the 20 closest
    * pairs ship with their shared-band count. This is the image half of a
    * training-pipeline dedup (the text half is the Dedup module): same
    * sub-quadratic skeleton — hash is a narrow map over blobs, the join
    * keys on (band, mask), nothing corpus-sized broadcasts, blobs
    * themselves NEVER shuffle (only the 64-bit hash does).
    *
    * The hashes come through the REAL codec path ([[dhashFrame]]:
    * synthesize gray BMP → ImageIO decode → dHash64), and the oracle
    * recomputes the full pipeline — hash, banding, candidate join, exact
    * Hamming — from the source bytes in pure SQL (gray pixels make luma
    * the identity, the [[multimodalDhash]] losslessness trick), so the
    * driver value-checks the whole codec+index+verify chain. */
  val multimodalDhashDedup: Q = Q(
    "multimodal_dhash_dedup",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |dim AS (SELECT doc_id, hx, nb,
      |    16 + nb % 17 AS w, 16 + nb % 13 AS h FROM d),
      |g AS (SELECT doc_id, w, h, ys.y AS y, xs.x AS x,
      |    CAST('0x' || substr(hx,
      |      2 * ((LEAST((2*ys.y+1)*h//16, h-1) * w
      |            + LEAST((2*xs.x+1)*w//18, w-1)) % nb) + 1, 2) AS INT)
      |      AS lum
      |  FROM dim, range(0, 8) ys(y), range(0, 9) xs(x)),
      |bits AS (SELECT l.doc_id, l.y * 8 + l.x AS i,
      |    CASE WHEN r.lum > l.lum
      |         THEN CAST(1 AS INT) << CAST((l.y * 8 + l.x) % 16 AS INT)
      |         ELSE 0 END AS bit
      |  FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.y = r.y
      |                    AND r.x = l.x + 1
      |  WHERE l.x < 8),
      |bands AS (SELECT doc_id, CAST(i // 16 AS INT) AS band,
      |    CAST(sum(bit) AS INT) AS mask
      |  FROM bits GROUP BY doc_id, i // 16),
      |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    count(*) AS shared
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.mask = b.mask AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |ham AS (SELECT c.doc_a, c.doc_b, c.shared,
      |    CAST(sum(bit_count(xor(x.mask, y.mask))) AS INT) AS hamming
      |  FROM cand c
      |  JOIN bands x ON x.doc_id = c.doc_a
      |  JOIN bands y ON y.doc_id = c.doc_b AND y.band = x.band
      |  GROUP BY 1, 2, 3)
      |SELECT doc_a, doc_b, CAST(shared AS INT) AS shared_bands, hamming
      |FROM ham ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin
  ) { (s, d) =>
    val bands = dhashFrame(s, d)
      .select(col("doc_id"),
        posexplode(array((0 until 4).map(k =>
          shiftrightunsigned(col("dhash"), 16 * k)
            .bitwiseAND(lit(0xFFFFL)).cast("int")): _*))
          .as(Seq("band", "mask")))
      .timedLocalCheckpoint() // three consumers (join sides + verify) share it
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.mask") === col("b.mask") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    cand
      .join(bands.select(col("doc_id").as("doc_a"), col("band"),
                         col("mask").as("ma")), Seq("doc_a"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
                         col("mask").as("mb")), Seq("doc_b", "band"))
      .groupBy("doc_a", "doc_b", "shared")
      .agg(sum(bit_count(col("ma").bitwiseXOR(col("mb")))).cast("int")
        .as("hamming"))
      .select(col("doc_a"), col("doc_b"),
        col("shared").cast("int").as("shared_bands"), col("hamming"))
      .orderBy(asc("hamming"), asc("doc_a"), asc("doc_b")).limit(20)
  }.copy(eager = true) // band-frame materialization runs at plan build

  /** THUMBNAIL (2×2 box-average downscale) through the REAL codec path —
    * the resize stage of an image-preprocessing pipeline, value-checked
    * end to end: synthesize the gray BMP, DECODE it with ImageIO (the
    * real container → pixels hop), average each 2×2 block in integer
    * arithmetic, and emit the thumbnail's exact checksum plus its corner
    * pixels. The oracle recomputes every averaged block from the source
    * bytes in pure SQL (gray luma identity, the [[multimodalDhash]]
    * trick) — so a codec regression, an off-by-one in the block walk, or
    * a rounding change all hash-mismatch.
    *
    * Plan: narrow batched mapPartitions (blobs never shuffle; only the
    * per-doc summary row leaves the task) + one output sort. Odd
    * trailing rows/columns are cropped (floor dims), the standard
    * box-filter contract. */
  val multimodalThumbnail: Q = Q(
    "multimodal_thumbnail",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |dim AS (SELECT doc_id, hx, nb,
      |    16 + nb % 17 AS w, 16 + nb % 13 AS h FROM d),
      |g AS (SELECT doc_id, w, h, w // 2 AS w2, h // 2 AS h2,
      |    ys.y AS y2, xs.x AS x2,
      |    (CAST('0x' || substr(hx, 2*(((2*ys.y)*w + 2*xs.x) % nb) + 1, 2)
      |        AS INT)
      |     + CAST('0x' || substr(hx, 2*(((2*ys.y)*w + 2*xs.x+1) % nb) + 1, 2)
      |        AS INT)
      |     + CAST('0x' || substr(hx, 2*(((2*ys.y+1)*w + 2*xs.x) % nb) + 1, 2)
      |        AS INT)
      |     + CAST('0x' || substr(hx, 2*(((2*ys.y+1)*w + 2*xs.x+1) % nb) + 1, 2)
      |        AS INT)) // 4 AS v
      |  FROM dim, range(0, 16) ys(y), range(0, 16) xs(x)
      |  WHERE ys.y < h // 2 AND xs.x < w // 2)
      |SELECT doc_id, CAST(w2 AS INT) AS w2, CAST(h2 AS INT) AS h2,
      |  CAST(sum(v) AS BIGINT) AS checksum,
      |  CAST(max(CASE WHEN x2 = 0 AND y2 = 0 THEN v END) AS INT) AS first_px,
      |  CAST(max(CASE WHEN x2 = w2 - 1 AND y2 = h2 - 1 THEN v END) AS INT)
      |    AS last_px
      |FROM g GROUP BY doc_id, w2, h2 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (w, h, bmp) = synthBmp(bytes)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bmp)) // REAL decode
          val (w2, h2) = (w / 2, h / 2)
          var sum = 0L; var first = -1; var last = -1
          var y2 = 0
          while (y2 < h2) {
            var x2 = 0
            while (x2 < w2) {
              def lum(x: Int, y: Int): Int = img.getRGB(x, y) & 0xFF
              val v = (lum(2 * x2, 2 * y2) + lum(2 * x2 + 1, 2 * y2) +
                       lum(2 * x2, 2 * y2 + 1) +
                       lum(2 * x2 + 1, 2 * y2 + 1)) / 4
              sum += v
              if (x2 == 0 && y2 == 0) first = v
              if (x2 == w2 - 1 && y2 == h2 - 1) last = v
              x2 += 1
            }
            y2 += 1
          }
          (id, w2, h2, sum, first, last)
        }
      }
      .toDF("doc_id", "w2", "h2", "checksum", "first_px", "last_px")
      .select(col("doc_id"), col("w2").cast("int").as("w2"),
        col("h2").cast("int").as("h2"), col("checksum"),
        col("first_px").cast("int").as("first_px"),
        col("last_px").cast("int").as("last_px"))
  }

  /** BYTE-ENTROPY CENSUS over media blobs — the compressibility gate a
    * multimodal ingest runs before wasting codec CPU: Shannon entropy of
    * the byte histogram in bits. Near-8-bit blobs are already
    * compressed/encrypted (re-encoding wastes cycles, dedup-by-content
    * still works, text extraction won't); low-entropy blobs are
    * text-like or padded. Flag threshold 7.5 bits.
    *
    * Parity discipline: the per-byte-value term (c/n)·log₂(n/c)
    * quantizes ONCE per term (the PSI ln discipline, identical
    * association order in both engines), so the per-media entropy is an
    * exact BIGINT sum of ≤256 terms — with one refinement the PSI
    * family never needed. When n/c is an exact power of two the term is
    * exactly dyadic (c/n · k), i.e. the scaled value sits ON a floor
    * boundary, and the engines' last-ulp ln drift lands on opposite
    * sides of it — measured: recurring single-row flips at sf0.1 at
    * BOTH nano and micro quanta. Those terms therefore compute in pure
    * integer arithmetic ((10⁶·c·k) DIV n, with k recovered by exact
    * round); every remaining term has an IRRATIONAL value (log₂ of a
    * non-power-of-two is irrational), generically far from any boundary,
    * where last-ulp drift is harmless. Empty blobs are excluded by a
    * mirrored WHERE.
    *
    * Plan: one fused per-partition pass ([[graft.multimodal.Media.byteEntropy]]
    * — histogram and entropy in a single byte loop; blobs never
    * shuffle, no exchange at all before the presentation sort). A
    * histogram-column + SQL higher-order-function formulation measured
    * 56.4s (naive lambda) / 34.7s (hoisted, nonzero-filtered) at the
    * docs10 rig — HOF lambdas don't whole-stage-codegen — vs 6.7s
    * fused. */
  val multimodalByteEntropy: Q = Q(
    "multimodal_byte_entropy",
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
      |b AS (SELECT doc_id,
      |        unnest([CAST('0x' || substr(hx, 2*i-1, 2) AS INT)
      |                FOR i IN range(1, len(hx)//2 + 1)]) AS byte
      |      FROM h),
      |pc AS (SELECT doc_id, byte, count(*) AS c FROM b GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM pc GROUP BY 1),
      |t AS (SELECT pc.doc_id,
      |    CASE WHEN n % c = 0 AND ((n // c) & (n // c - 1)) = 0
      |    THEN (1000000 * c * CAST(round(ln(CAST(n // c AS DOUBLE))
      |           / ln(2)) AS BIGINT)) // n
      |    ELSE CAST(floor(1000000 * (CAST(c AS DOUBLE) / n)
      |      * (ln(CAST(n AS DOUBLE)) - ln(CAST(c AS DOUBLE))) / ln(2))
      |      AS BIGINT) END AS term
      |  FROM pc JOIN n ON pc.doc_id = n.doc_id WHERE n > 0)
      |SELECT t.doc_id AS media_id, n.n AS n_bytes,
      |  CAST(sum(term) AS BIGINT) AS entropy_micro_bits,
      |  CAST(sum(term) AS BIGINT) > 7500000 AS high_entropy
      |FROM t JOIN n ON t.doc_id = n.doc_id
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    val rows = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), lit("text").as("kind"),
              col("text").cast("binary").as("content"))
      .as[Media.MediaRow]
    Media.byteEntropy(rows).toDF()
      .select(col("media_id"), col("n_bytes"), col("entropy_micro_bits"))
      .withColumn("high_entropy", col("entropy_micro_bits") > 7500000L)
  }

  /** WALSH-HADAMARD PERCEPTUAL HASH — the frequency-domain (pHash-class)
    * member of the image-dedup family, complementing [[multimodalDhash]]'s
    * gradient hash: pHash thresholds the low-frequency block of a 2-D
    * transform against its median, which survives brightness/contrast
    * shifts and local edits that flip gradient bits. The WHT stands in
    * for pHash's DCT so the WHOLE value path is exact integer — the
    * DCT's cosine basis would put a libm transcendental per coefficient
    * into a 64-term sum (an unquantizable parity risk); the WHT basis is
    * ±1, coef(u,v) = Σ (−1)^(popcount(u&y)+popcount(v&x))·lum, and the
    * threshold is the exact 8th-order-statistic median of the 15 AC
    * coefficients (quantile_cont(0.5) over an odd count interpolates
    * nothing — the long-green agg_quantile pairing). Per doc: the DC
    * term (total luma census) and the 15-bit signature.
    *
    * Same real-codec discipline as [[multimodalDhash]]: bytes → gray BMP
    * → REAL ImageIO decode → grid → hash in one narrow mapPartitions
    * (blobs never shuffle; only (dc, whash) leaves the task), and the
    * gray luma-identity makes the decoded pixels SQL-reachable so the
    * oracle recomputes grid, transform, median, and bits from the raw
    * bytes (`Media.wHash`; sampling mirrors `Media.dHash64:312`). */
  val multimodalWhash: Q = Q(
    "multimodal_whash",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |dim AS (SELECT doc_id, hx, nb,
      |    16 + nb % 17 AS w, 16 + nb % 13 AS h FROM d),
      |g AS (SELECT doc_id, ys.y AS y, xs.x AS x,
      |    CAST('0x' || substr(hx,
      |      2 * ((LEAST((2*ys.y+1)*h//16, h-1) * w
      |            + LEAST((2*xs.x+1)*w//16, w-1)) % nb) + 1, 2) AS INT)
      |      AS lum
      |  FROM dim, range(0, 8) ys(y), range(0, 8) xs(x)),
      |c AS (SELECT doc_id, us.u AS u, vs.v AS v,
      |    CAST(sum(CASE WHEN (bit_count(us.u & g.y)
      |                        + bit_count(vs.v & g.x)) % 2 = 1
      |             THEN -lum ELSE lum END) AS BIGINT) AS coef
      |  FROM g, range(0, 4) us(u), range(0, 4) vs(v)
      |  GROUP BY 1, 2, 3),
      |a AS (SELECT doc_id, u * 4 + v AS i, coef FROM c
      |      WHERE NOT (u = 0 AND v = 0)),
      |m AS (SELECT doc_id, quantile_cont(coef, 0.5) AS med
      |      FROM a GROUP BY 1),
      |dc AS (SELECT doc_id, coef AS dcv FROM c WHERE u = 0 AND v = 0)
      |SELECT a.doc_id, CAST(min(dc.dcv) AS BIGINT) AS dc,
      |  CAST(sum(CASE WHEN a.coef > m.med
      |           THEN CAST(1 AS BIGINT) << CAST(a.i AS INT) ELSE 0 END)
      |    AS BIGINT) AS whash
      |FROM a JOIN m ON a.doc_id = m.doc_id
      |       JOIN dc ON a.doc_id = dc.doc_id
      |GROUP BY 1 ORDER BY a.doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (_, _, bmp) = synthBmp(bytes)
          val (dc, wh) = Media.wHash(bmp).get
          (id, dc, wh)
        }
      }
      .toDF("doc_id", "dc", "whash")
  }

  /** AUTOCORRELATION PITCH per audio frame — the F0 detector that
    * completes the audio-analysis set ([[multimodalWavFrames]] gives
    * energy, [[multimodalWavVad]] gives speech/silence, this gives the
    * fundamental): per full 256-sample frame, the lag τ ∈ [32, 128]
    * (the F0 band at these rates) maximizing the exact integer
    * autocorrelation R(τ) = Σ s[j]·s[j+τ], ties broken to the smallest
    * lag — the classic time-domain pitch tracker, here with NO float
    * anywhere (a frequency-domain tracker would need an FFT's
    * twiddle-factor transcendentals). Tail frames shorter than the
    * frame width are excluded on both engines — a short frame's
    * truncated lag window measures the frame, not the signal.
    *
    * Same real-codec discipline as the other WAV queries: bytes → PCM16
    * WAV container → REAL decode → frames, one narrow mapPartitions,
    * only (lag, R) leaves the task; the PCM identity makes the samples
    * SQL-reachable so the oracle recomputes every product from the raw
    * bytes (`wavFrameStats` synthesis; samples = (byte−128)·256). */
  val multimodalWavPitch: Q = Q(
    "multimodal_wav_pitch",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |s AS (SELECT doc_id, nb, unnest(range(nb)) AS i, hx FROM d),
      |v AS (SELECT doc_id, CAST(i // 256 AS INT) AS frame_no,
      |    CAST(i % 256 AS INT) AS j,
      |    (CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128)
      |      * 256 AS smp
      |  FROM s),
      |f AS (SELECT doc_id, frame_no FROM v GROUP BY 1, 2
      |      HAVING count(*) = 256),
      |r AS (SELECT a.doc_id, a.frame_no, tt.tau AS tau,
      |    CAST(sum(CAST(a.smp AS BIGINT) * b.smp) AS BIGINT) AS rv
      |  FROM v a CROSS JOIN range(32, 129) tt(tau)
      |       JOIN v b ON b.doc_id = a.doc_id AND b.frame_no = a.frame_no
      |                AND b.j = a.j + tt.tau
      |       JOIN f ON f.doc_id = a.doc_id AND f.frame_no = a.frame_no
      |  GROUP BY 1, 2, 3),
      |best AS (SELECT doc_id, frame_no, tau, rv,
      |    row_number() OVER (PARTITION BY doc_id, frame_no
      |                       ORDER BY rv DESC, tau) AS k
      |  FROM r)
      |SELECT doc_id, frame_no, CAST(tau AS INT) AS pitch_lag,
      |  rv AS r_at_lag
      |FROM best WHERE k = 1 ORDER BY doc_id, frame_no""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rate = 8000 + (bytes.length % 5) * 2000
          val samples = bytes.map(b => (((b & 0xFF) - 128) * 256).toShort)
          val pcm = Media.decodeWav(Media.encodeWavPcm16(rate, samples)).get
          pcm.samples.grouped(256).zipWithIndex
            .filter(_._1.length == 256)
            .map { case (frame, k) =>
              var bestTau = 0; var bestR = Long.MinValue
              var tau = 32
              while (tau <= 128) {
                var r = 0L; var j = 0
                while (j + tau < 256) {
                  r += frame(j).toLong * frame(j + tau); j += 1
                }
                if (r > bestR) { bestR = r; bestTau = tau }
                tau += 1
              }
              (id, k, bestTau, bestR)
            }
        }
      }
      .toDF("doc_id", "frame_no", "pitch_lag", "r_at_lag")
  }

  /** TILE-VARIANCE blank-image gate — the vision-set data-quality check
    * that drops blank/solid-fill/synthetic-padding frames before they
    * burn feature-extraction budget: the full-resolution luma plane
    * splits into a 4×4 tile grid (tile(y) = 4y÷h — every pixel in
    * exactly one tile, NO resampling, unlike the hash family's 8×8
    * sample grid), each tile carries the exact integer variance
    * numerator n·Σl² − (Σl)², a tile is FLAT below 4·n² (variance < 4
    * gray-levels²), and a frame with 16/16 flat tiles is `blank`. Also
    * reports the minimum tile variance in milli units — the "how close
    * to blank" margin.
    *
    * Parity discipline: pure integer (exact sums, one nonnegative floor
    * DIV per tile); the flat threshold compares integers so the flag
    * cannot straddle engine rounding. Same real-codec discipline as the
    * hash family — REAL ImageIO decode in a narrow mapPartitions, the
    * gray luma-identity making the decoded plane SQL-reachable
    * (`Media.tileVariance`). */
  val multimodalTileVariance: Q = Q(
    "multimodal_tile_variance",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |dim AS (SELECT doc_id, hx, nb,
      |    16 + nb % 17 AS w, 16 + nb % 13 AS h FROM d),
      |g AS (SELECT doc_id, (4 * ys.y) // h AS ty, (4 * xs.x) // w AS tx,
      |    CAST('0x' || substr(hx, 2 * ((ys.y * w + xs.x) % nb) + 1, 2)
      |      AS INT) AS lum
      |  FROM dim JOIN range(0, 32) ys(y) ON ys.y < h
      |           JOIN range(0, 32) xs(x) ON xs.x < w),
      |t AS (SELECT doc_id, ty, tx, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(lum) AS BIGINT) AS s,
      |    CAST(sum(lum * lum) AS BIGINT) AS ss
      |  FROM g GROUP BY 1, 2, 3),
      |v AS (SELECT doc_id,
      |    CASE WHEN n * ss - s * s < 4 * n * n THEN 1 ELSE 0 END AS flat,
      |    (1000 * (n * ss - s * s)) // (n * n) AS vm
      |  FROM t)
      |SELECT doc_id, CAST(sum(flat) AS INT) AS flat_tiles,
      |  CAST(min(vm) AS BIGINT) AS min_tile_var_milli,
      |  CAST(sum(flat) AS INT) = 16 AS blank
      |FROM v GROUP BY 1 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (_, _, bmp) = synthBmp(bytes)
          val (flat, minVar) = Media.tileVariance(bmp).get
          (id, flat, minVar, flat == 16)
        }
      }
      .toDF("doc_id", "flat_tiles", "min_tile_var_milli", "blank")
  }

  /** Dynamic-range / activity census per clip — the one-row-per-asset
    * summary an audio-curation pass ranks clips by before transcription
    * (a clip whose loudest frame barely clears its quietest is hum or
    * silence; one whose active share is tiny is mostly dead air): per
    * doc, the frame count, the loudest and quietest frame mean
    * amplitudes, their ratio in ppm (the integer stand-in for dB — no
    * log in the value path), and the active-frame share against the
    * same 8600 threshold [[multimodalWavVad]] segments with.
    *
    * The signal rides the REAL WAV codec round trip (synthesized PCM16 →
    * encode → decode, per-row losslessness like the rest of the wav
    * family), so the oracle's byte arithmetic checks the codec path
    * end to end. All arithmetic is exact nonnegative integers; the ratio
    * guards its divisor with nullif (an all-silent clip yields NULL on
    * both engines, the dq_profile_drift discipline).
    *
    * Plan: the shared narrow decode mapPartitions (blobs never shuffle —
    * only (doc, frame stat) rows do) into ONE doc-keyed partial+final
    * aggregate; output is one row per clip. */
  val multimodalWavSnr: Q = Q(
    "multimodal_wav_snr",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |s AS (SELECT doc_id, nb, unnest(range(nb)) AS i, hx FROM d),
      |v AS (SELECT doc_id, CAST(i // 256 AS INT) AS frame_no,
      |    abs((CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128)
      |        * 256) AS a
      |  FROM s),
      |f AS (SELECT doc_id, frame_no, count(*) AS n,
      |        CAST(sum(a) AS BIGINT) AS sum_abs
      |      FROM v GROUP BY 1, 2),
      |m AS (SELECT doc_id, frame_no, sum_abs // n AS fm FROM f)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(max(fm) AS BIGINT) AS max_frame_amp,
      |  CAST(min(fm) AS BIGINT) AS min_frame_amp,
      |  CAST((1000000 * min(fm)) // nullif(max(fm), 0) AS BIGINT)
      |    AS dyn_ratio_ppm,
      |  CAST(count(*) FILTER (WHERE fm >= 8600) AS BIGINT) AS n_active,
      |  CAST((1000000 * count(*) FILTER (WHERE fm >= 8600)) // count(*)
      |       AS BIGINT) AS active_ppm
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    wavFrameStats(s, d)
      .select(col("doc_id"), expr("sum_abs DIV n_samples").as("fm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
           max(col("fm")).as("max_frame_amp"),
           min(col("fm")).as("min_frame_amp"),
           count(when(col("fm") >= 8600, 1)).as("n_active"))
      .select(col("doc_id"), col("n_frames"), col("max_frame_amp"),
        col("min_frame_amp"),
        expr("(1000000 * min_frame_amp) div nullif(max_frame_amp, 0)")
          .as("dyn_ratio_ppm"),
        col("n_active"),
        expr("(1000000 * n_active) div n_frames").as("active_ppm"))
  }

  /** Synth gray BMP with PLANTED letterbox/pillarbox bars: same w/h and
    * byte→luma mapping as [[synthBmp]], but `nb % 5` rows top+bottom and
    * `nb % 3` columns left+right are forced to luma 0 — the fixture for
    * the crop detector, with bar widths varying per doc (including 0,
    * so the un-cropped case is exercised too). */
  private def synthLetterboxBmp(bytes: Array[Byte]): Array[Byte] = {
    val w = 16 + (bytes.length % 17)
    val h = 16 + (bytes.length % 13)
    val vpad = bytes.length % 5
    val hpad = bytes.length % 3
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bar = y < vpad || y >= h - vpad || x < hpad || x >= w - hpad
        val b = if (bar) 0 else bytes((y * w + x) % bytes.length) & 0xFF
        img.setRGB(x, y, (b << 16) | (b << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** LETTERBOX / PILLARBOX crop detector — the vision-curation pass that
    * finds black bars (broadcast padding, aspect-ratio fills) so the
    * training crop excludes them: per frame, the consecutive dark-row
    * widths from top and bottom and dark-column widths from left and
    * right (dark = every pixel luma ≤ 16 — a threshold, not exact 0,
    * because real bars carry compression noise), the surviving content
    * area in ppm, and the crop flag. Planted bars of per-doc-varying
    * width (including none) make the detector's whole range observable.
    *
    * Same real-codec discipline as the hash family: bytes → gray BMP
    * with planted bars → REAL ImageIO decode → border scan in one
    * narrow mapPartitions ([[graft.multimodal.Media.borderWidths]]);
    * the gray luma-identity makes the decoded plane SQL-reachable, so
    * the oracle recomputes the synthesis rule AND the border scan from
    * the raw bytes — a codec round-trip proof that constant bars
    * survive encode/decode exactly. All arithmetic integer; `FILTER`
    * only on plain min/max (the portable subset). */
  val multimodalLetterbox: Q = Q(
    "multimodal_letterbox",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |dim AS (SELECT doc_id, hx, nb,
      |    16 + nb % 17 AS w, 16 + nb % 13 AS h,
      |    nb % 5 AS vpad, nb % 3 AS hpad FROM d),
      |g AS (SELECT doc_id, w, h, ys.y AS y, xs.x AS x,
      |    CASE WHEN ys.y < vpad OR ys.y >= h - vpad
      |           OR xs.x < hpad OR xs.x >= w - hpad THEN 0
      |    ELSE CAST('0x' || substr(hx, 2 * ((ys.y * w + xs.x) % nb) + 1, 2)
      |           AS INT) END AS lum
      |  FROM dim JOIN range(0, 32) ys(y) ON ys.y < h
      |           JOIN range(0, 32) xs(x) ON xs.x < w),
      |rows_ AS (SELECT doc_id, w, h, y, max(lum) AS m
      |          FROM g GROUP BY 1, 2, 3, 4),
      |cols_ AS (SELECT doc_id, x, max(lum) AS m FROM g GROUP BY 1, 2),
      |rb AS (SELECT doc_id, w, h,
      |    min(y) FILTER (WHERE m > 16) AS fr,
      |    max(y) FILTER (WHERE m > 16) AS lr
      |  FROM rows_ GROUP BY 1, 2, 3),
      |cb AS (SELECT doc_id,
      |    min(x) FILTER (WHERE m > 16) AS fc,
      |    max(x) FILTER (WHERE m > 16) AS lc
      |  FROM cols_ GROUP BY 1),
      |b AS (SELECT rb.doc_id, w, h,
      |    CAST(CASE WHEN fr IS NULL THEN h ELSE fr END AS INT) AS top_rows,
      |    CAST(CASE WHEN lr IS NULL THEN 0 ELSE h - 1 - lr END AS INT)
      |      AS bottom_rows,
      |    CAST(CASE WHEN fc IS NULL THEN w ELSE fc END AS INT) AS left_cols,
      |    CAST(CASE WHEN lc IS NULL THEN 0 ELSE w - 1 - lc END AS INT)
      |      AS right_cols
      |  FROM rb JOIN cb ON rb.doc_id = cb.doc_id)
      |SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
      |  top_rows, bottom_rows, left_cols, right_cols,
      |  CAST((1000000 * (h - top_rows - bottom_rows)
      |        * (w - left_cols - right_cols)) // (w * h) AS BIGINT)
      |    AS content_ppm,
      |  top_rows + bottom_rows + left_cols + right_cols > 0 AS cropped
      |FROM b ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (w, h, top, bottom, left, right) =
            Media.borderWidths(synthLetterboxBmp(bytes)).get
          (id, w, h, top, bottom, left, right)
        }
      }
      .toDF("doc_id", "w", "h", "top_rows", "bottom_rows", "left_cols",
        "right_cols")
      .select(col("doc_id"), col("w"), col("h"), col("top_rows"),
        col("bottom_rows"), col("left_cols"), col("right_cols"),
        expr("""(1000000 * (h - top_rows - bottom_rows)
                * (w - left_cols - right_cols)) div (w * h)""")
          .cast("long").as("content_ppm"),
        (col("top_rows") + col("bottom_rows") + col("left_cols") +
          col("right_cols") > 0).as("cropped"))
  }

  /** CLIPPING CENSUS per audio clip — the gain-staging QA gate an audio
    * curation pass runs before wasting ASR budget on distorted takes:
    * samples pinned at full scale (±32767/−32768), their share in ppm,
    * and the RUN structure (count of maximal clipped runs, longest run)
    * — a few 1-sample clips are transients, long runs are hard limiter
    * damage. The clip is synthesized HOT (gain 700 with int16 clamp —
    * a genuinely clipped recording) and travels the REAL WAV codec
    * round trip, so the census reads DECODED samples and the byte-
    * arithmetic oracle (clamp(b·700) pins iff |b−128| ≥ 47) checks that
    * pinned values survive encode/decode exactly. Run grouping is the
    * window_islands index-minus-rank trick, identical in both engines.
    *
    * Plan: the shared narrow decode mapPartitions — the run scan is a
    * single in-task pass, only the 6-column census row leaves the task;
    * blobs never shuffle. */
  val multimodalWavClipping: Q = Q(
    "multimodal_wav_clipping",
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |s AS (SELECT doc_id, nb, unnest(range(nb)) AS i, hx FROM d),
      |v AS (SELECT doc_id, i,
      |    CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128
      |      AS b
      |  FROM s),
      |r AS (SELECT doc_id, i,
      |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM v WHERE b >= 47 OR b <= -47),
      |runs AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
      |  FROM r GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
      |    CAST(max(run_len) AS BIGINT) AS max_run,
      |    CAST(sum(run_len) AS BIGINT) AS n_clipped
      |  FROM runs GROUP BY 1)
      |SELECT d.doc_id, CAST(nb AS BIGINT) AS n_samples,
      |  CAST(coalesce(a.n_clipped, 0) AS BIGINT) AS n_clipped,
      |  CAST((1000000 * coalesce(a.n_clipped, 0)) // nb AS BIGINT)
      |    AS clip_ppm,
      |  CAST(coalesce(a.n_runs, 0) AS BIGINT) AS n_runs,
      |  CAST(coalesce(a.max_run, 0) AS BIGINT) AS max_run
      |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Media
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rate = 8000 + (bytes.length % 5) * 2000
          val hot = bytes.map { b =>
            val v = ((b & 0xFF) - 128) * 700
            (if (v > 32767) 32767 else if (v < -32768) -32768 else v)
              .toShort
          }
          val pcm = Media.decodeWav(Media.encodeWavPcm16(rate, hot)).get
          var nClipped = 0L; var nRuns = 0L; var maxRun = 0L
          var run = 0L
          pcm.samples.foreach { sm =>
            if (sm == 32767 || sm == -32768) {
              if (run == 0L) nRuns += 1L
              run += 1L; nClipped += 1L
              if (run > maxRun) maxRun = run
            } else run = 0L
          }
          val n = pcm.samples.length.toLong
          (id, n, nClipped, 1000000L * nClipped / n, nRuns, maxRun)
        }
      }
      .toDF("doc_id", "n_samples", "n_clipped", "clip_ppm", "n_runs",
        "max_run")
  }

  /** DC quantization value the JDK JPEG writer uses at compression
    * quality 0.5 (IJG luma table, quality-50 scaling — Annex K's 16).
    * The query REQUIRES the parsed DQT to match, so a JDK behavior
    * change fails the gate loudly instead of silently shifting
    * predictions; the oracle inlines the same literal. */
  private val JpegDcQ = 16

  /** Synthesize the constant-8×8-block gray image for a document and
    * JDK-encode it as a real JPEG at quality 0.5: block i's level is
    * the document byte at i mod nb. Constant blocks put the whole
    * lossy chain on the integer-exact DC path (see
    * [[graft.multimodal.Jpeg]] scaladoc), which is what makes a REAL
    * JPEG round trip SQL-oracle-able. */
  private[graft] def synthJpeg(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (bw, bh, img) = buildUniformGray(bytes)
    (bw, bh, jdkEncodeJpeg(img, progressive = false))
  }

  /** Same synthesized image, JDK-encoded as a PROGRESSIVE JPEG
    * (`MODE_DEFAULT` — libjpeg's standard 6-scan gray script with
    * spectral selection and successive approximation). */
  private[graft] def synthJpegProg(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (bw, bh, img) = buildUniformGray(bytes)
    (bw, bh, jdkEncodeJpeg(img, progressive = true))
  }

  private def buildUniformGray(bytes: Array[Byte])
      : (Int, Int, java.awt.image.BufferedImage) = {
    val bw = 4 + (bytes.length % 5)
    val bh = 4 + (bytes.length % 3)
    val img = new java.awt.image.BufferedImage(
      bw * 8, bh * 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        val v = bytes((by * bw + bx) % bytes.length) & 0xFF
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            r.setSample(bx * 8 + x, by * 8 + y, 0, v)
            x += 1
          }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    (bw, bh, img)
  }

  private def jdkEncodeJpeg(img: java.awt.image.BufferedImage,
                            progressive: Boolean): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.5f)
    if (progressive)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  /** REAL JPEG round trip, value-checked end to end — the last codec
    * family off the stub list (VERDICT r9 task 3): each document's
    * bytes become a constant-8×8-block gray image, the JDK's native
    * IJG writer encodes a real baseline JPEG, and the distributed pass
    * decodes it back through the HAND-WRITTEN T.81 decoder
    * ([[graft.multimodal.Jpeg]] — markers, DQT/DHT, Huffman, dequant,
    * IDCT), emitting per-doc integer statistics over the decoded block
    * levels. Constant blocks make the lossy chain exactly predictable
    * (quantize round-half-away, dequant, (x+4)>>3 descale), so the
    * DuckDB oracle recomputes every decoded level from the raw bytes —
    * a per-row cross-IMPLEMENTATION proof (their encoder, our decoder)
    * that the entropy decode, DC DPCM chain, dequant and descale are
    * all bit-correct. `uniform` additionally asserts every pixel of
    * every block (not just one probe) carries the block level.
    *
    * Plan: one narrow batched mapPartitions — blobs never shuffle,
    * only the 7-column census leaves the task. */
  val multimodalJpeg: Q = Q(
    "multimodal_jpeg",
    s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS nb
       |  FROM documents WHERE octet_length(encode(text)) > 0),
       |dim AS (SELECT doc_id, hx, nb,
       |    4 + nb % 5 AS bw, 4 + nb % 3 AS bh FROM d),
       |blk AS (SELECT doc_id, bw, bh, bs.i AS i,
       |    CAST('0x' || substr(hx, 2 * (bs.i % nb) + 1, 2) AS INT) AS v
       |  FROM dim JOIN range(0, 48) bs(i) ON bs.i < bw * bh),
       |lvl AS (SELECT doc_id, bw, bh, i,
       |    CASE WHEN v >= 128 THEN
       |      LEAST((((8 * (v - 128) + $JpegDcQ // 2) // $JpegDcQ
       |              * $JpegDcQ + 4) // 8) + 128, 255)
       |    ELSE
       |      GREATEST(128 - (((8 * (128 - v) + $JpegDcQ // 2)
       |                       // $JpegDcQ * $JpegDcQ + 3) // 8), 0)
       |    END AS lvl
       |  FROM blk)
       |SELECT doc_id, CAST(8 * bw AS INT) AS w, CAST(8 * bh AS INT) AS h,
       |  CAST(bw * bh AS BIGINT) AS n_blocks,
       |  true AS uniform,
       |  CAST($JpegDcQ AS INT) AS dc_q,
       |  CAST(sum(lvl) AS BIGINT) AS sum_level,
       |  CAST(sum((i + 1) * lvl) AS BIGINT) AS sum_pos_level
       |FROM lvl GROUP BY 1, 2, 3, 4
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Jpeg
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (bw, bh, jpg) = synthJpeg(bytes)
          val dec = Jpeg.decode(jpg).getOrElse(
            sys.error(s"jpeg decode failed for doc $id"))
          require(dec.dcQuant == JpegDcQ && dec.nComp == 1 &&
            dec.width == bw * 8 && dec.height == bh * 8,
            s"JDK encoder drifted: Q=${dec.dcQuant} dims=" +
              s"${dec.width}x${dec.height} for doc $id")
          var uniform = true
          var sumLevel = 0L
          var sumPos = 0L
          var by = 0
          while (by < bh) {
            var bx = 0
            while (bx < bw) {
              val i = by * bw + bx
              val lvl = dec.pixels((by * 8) * dec.width + bx * 8) & 0xFF
              var y = 0
              while (y < 8 && uniform) {
                var x = 0
                while (x < 8 && uniform) {
                  if ((dec.pixels((by * 8 + y) * dec.width +
                       bx * 8 + x) & 0xFF) != lvl) uniform = false
                  x += 1
                }
                y += 1
              }
              sumLevel += lvl
              sumPos += (i + 1).toLong * lvl
              bx += 1
            }
            by += 1
          }
          (id, bw * 8, bh * 8, (bw * bh).toLong, uniform, JpegDcQ,
            sumLevel, sumPos)
        }
      }
      .toDF("doc_id", "w", "h", "n_blocks", "uniform", "dc_q",
        "sum_level", "sum_pos_level")
  }

  /** Deterministic MP3 stream synthesis from document bytes — leading
    * junk (high bit masked off, so it can never fake a frame sync),
    * 3–8 MPEG-1 Layer III frames whose bitrate/padding/mode fields
    * derive from the bytes (even-length docs emit CBR, odd VBR), and a
    * sub-header trailing remainder. The synthesis arithmetic is the
    * oracle's prediction surface — every census column is recomputed
    * in SQL from the same bytes. */
  private[graft] def synthMp3(bytes: Array[Byte]): Array[Byte] = {
    import graft.multimodal.Mp3
    val nb = bytes.length
    val nf = 3 + nb % 6
    val srIdx = nb % 3
    val hz = Mp3.HzByIndex(srIdx)
    val cbr = nb % 2 == 0
    val out = new java.io.ByteArrayOutputStream()
    var j = 0
    while (j < nb % 7) { // leading junk, sync-proof (< 0x80)
      out.write(bytes(j % nb) & 0x7F); j += 1
    }
    var i = 0
    while (i < nf) {
      val brIdx =
        if (cbr) 1 + nb % 14
        else 1 + ((bytes(i % nb) & 0xFF) + i) % 14
      val pad = (bytes((i * 3 + 1) % nb) & 0xFF) % 2
      val mode = (bytes((i * 5 + 2) % nb) & 0xFF) % 4
      val len = Mp3.frameLen(Mp3.KbpsByIndex(brIdx), hz, pad == 1)
      out.write(0xFF); out.write(0xFB) // sync + MPEG-1 + Layer III
      out.write((brIdx << 4) | (srIdx << 2) | (pad << 1))
      out.write(mode << 6)
      var k = 4
      while (k < len) { out.write(bytes((i + k) % nb) & 0x7F); k += 1 }
      i += 1
    }
    j = 0
    while (j < nb % 4) { out.write(bytes(j % nb) & 0x7F); j += 1 }
    out.toByteArray
  }

  /** Deterministic ISO-BMFF (mp4) stream synthesis from document
    * bytes — ftyp + moov(mvhd + n traks(tkhd)) + free + mdat, with the
    * mvhd version, trak count, mdat largesize use, and every declared
    * duration/timescale derived from the byte count. The synthesis
    * arithmetic is the oracle's prediction surface; the walker
    * ([[graft.multimodal.Mp4]]) re-derives every census column from
    * the emitted box tree alone. */
  private[graft] def synthMp4(bytes: Array[Byte]): Array[Byte] = {
    val nb = bytes.length
    val ts = 1000L * (1 + nb % 4)
    val dur = 512L + (nb.toLong * 7) % 4096
    val nt = 1 + nb % 3
    val mp = 8 + nb % 50
    val lg = nb % 5 == 0
    val fl = nb % 9
    val mv1 = nb % 2 == 1
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xFFFFFFFFL) }
    def tag(s: String): Unit = { var i = 0; while (i < 4) { out.write(s.charAt(i).toInt); i += 1 } }
    def zeros(n: Int): Unit = { var i = 0; while (i < n) { out.write(0); i += 1 } }
    u32(16); tag("ftyp"); tag("isom"); u32(nb % 100)
    val mvhdSize = if (mv1) 120 else 108
    u32(8 + mvhdSize + nt * 100); tag("moov")
    u32(mvhdSize); tag("mvhd")
    if (mv1) { out.write(1); zeros(3); u64(0); u64(0); u32(ts); u64(dur) }
    else { zeros(4); u32(0); u32(0); u32(ts); u32(dur) }
    zeros(80) // rate, volume, reserved, matrix, pre_defined, next_track_ID
    var t = 0
    while (t < nt) {
      u32(100); tag("trak"); u32(92); tag("tkhd"); zeros(84); t += 1
    }
    u32(8L + fl); tag("free")
    var j = 0
    while (j < fl) { out.write(bytes(j % nb) & 0x7F); j += 1 }
    if (lg) { u32(1); tag("mdat"); u64(16L + mp) }
    else { u32(8L + mp); tag("mdat") }
    j = 0
    while (j < mp) { out.write(bytes((j * 3 + 1) % nb) & 0x7F); j += 1 }
    out.toByteArray
  }

  /** MP4 BOX-STRUCTURE CENSUS — retires the aac/mp4 `decodeStub`
    * scope, the LAST declared codec fallback: each document's bytes
    * become a synthesized ISO-BMFF box tree ([[synthMp4]]) and the
    * distributed pass walks it back through the independent
    * [[graft.multimodal.Mp4]] structure parser (ISO/IEC 14496-12 §4.2
    * size/largesize stepping, container recursion, §8.2.2 mvhd v0/v1).
    * The DuckDB oracle predicts every census column — box/track
    * counts, tree depth, timescale/duration (+ integer-floor ms),
    * media-vs-free byte split, largesize use, total size — from the
    * byte count with the same integer arithmetic (the multimodal_jpeg
    * /mp3 discipline: builder and walker are independent code paths).
    *
    * Plan: one narrow batched mapPartitions — blobs never shuffle,
    * only the 12-column census leaves the task. */
  val multimodalMp4: Q = Q(
    "multimodal_mp4",
    """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |p AS (SELECT doc_id, nb,
      |    1000 * (1 + nb % 4) AS ts, 512 + (nb * 7) % 4096 AS dur,
      |    1 + nb % 3 AS nt, 8 + nb % 50 AS mp, (nb % 5 = 0) AS lg,
      |    nb % 9 AS fl, (nb % 2 = 1) AS mv1 FROM d)
      |SELECT doc_id, CAST(5 + 2 * nt AS INT) AS n_boxes,
      |  CAST(4 AS INT) AS n_top, CAST(3 AS INT) AS max_depth,
      |  CAST(nt AS INT) AS n_traks, CAST(ts AS BIGINT) AS timescale,
      |  CAST(dur AS BIGINT) AS duration,
      |  CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
      |  CAST(mp AS BIGINT) AS mdat_bytes, CAST(fl AS BIGINT) AS free_bytes,
      |  lg AS uses_largesize,
      |  CAST(16 + 8 + (CASE WHEN mv1 THEN 120 ELSE 108 END) + nt * 100
      |       + 8 + fl + (CASE WHEN lg THEN 16 ELSE 8 END) + mp
      |       AS BIGINT) AS total_bytes
      |FROM p ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Mp4
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val c = Mp4.census(synthMp4(bytes)).getOrElse(
            sys.error(s"mp4 census rejected the box tree for doc $id"))
          (id, c.nBoxes, c.nTop, c.maxDepth, c.nTraks, c.timescale,
            c.duration, c.durationMs, c.mdatBytes, c.freeBytes,
            c.usesLargesize, c.totalBytes)
        }
      }
      .toDF("doc_id", "n_boxes", "n_top", "max_depth", "n_traks",
        "timescale", "duration", "duration_ms", "mdat_bytes",
        "free_bytes", "uses_largesize", "total_bytes")
  }

  /** PROGRESSIVE JPEG round trip: the same constant-8×8-block gray
    * image as [[multimodalJpeg]] is JDK-encoded as a PROGRESSIVE stream
    * (libjpeg's 6-scan gray script: spectral selection + successive
    * approximation in both DC and AC, EOB runs) and decoded back
    * through [[graft.multimodal.Jpeg]], the one decoder for baseline
    * and progressive frames. Its sequential and progressive scan
    * decoders fill the same coefficient raster, which one assembler
    * turns into pixels; because successive approximation is lossless
    * once all scans complete, the progressive stream's pixels must be
    * BIT-IDENTICAL to the baseline encode's — the row REQUIREs it
    * against a per-row baseline encode+decode (`bit_equal`), so the
    * flag compares the two scan decoders over the shared assembler.
    * The exact-tier oracle predicts the decoded levels with the same
    * integer arithmetic as `multimodal_jpeg`.
    * `n_scans` locks the encoder's scan script the way `dc_q` locks
    * its quant table: a JDK behavior change fails loudly.
    *
    * Plan: one narrow batched mapPartitions — blobs never shuffle,
    * only the 8-column census leaves the task. */
  val multimodalJpegProg: Q = Q(
    "multimodal_jpeg_prog",
    s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS nb
       |  FROM documents WHERE octet_length(encode(text)) > 0),
       |dim AS (SELECT doc_id, hx, nb,
       |    4 + nb % 5 AS bw, 4 + nb % 3 AS bh FROM d),
       |blk AS (SELECT doc_id, bw, bh, bs.i AS i,
       |    CAST('0x' || substr(hx, 2 * (bs.i % nb) + 1, 2) AS INT) AS v
       |  FROM dim JOIN range(0, 48) bs(i) ON bs.i < bw * bh),
       |lvl AS (SELECT doc_id, bw, bh, i,
       |    CASE WHEN v >= 128 THEN
       |      LEAST((((8 * (v - 128) + $JpegDcQ // 2) // $JpegDcQ
       |              * $JpegDcQ + 4) // 8) + 128, 255)
       |    ELSE
       |      GREATEST(128 - (((8 * (128 - v) + $JpegDcQ // 2)
       |                       // $JpegDcQ * $JpegDcQ + 3) // 8), 0)
       |    END AS lvl
       |  FROM blk)
       |SELECT doc_id, CAST(8 * bw AS INT) AS w, CAST(8 * bh AS INT) AS h,
       |  CAST(bw * bh AS BIGINT) AS n_blocks,
       |  CAST($JpegDcQ AS INT) AS dc_q,
       |  CAST(6 AS INT) AS n_scans,
       |  true AS bit_equal,
       |  CAST(sum(lvl) AS BIGINT) AS sum_level
       |FROM lvl GROUP BY 1, 2, 3, 4
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Jpeg
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (bw, bh, prog) = synthJpegProg(bytes)
          val dec = Jpeg.decode(prog).getOrElse(
            sys.error(s"progressive decode failed for doc $id"))
          require(dec.progressive,
            s"JDK writer stopped emitting SOF2 for doc $id")
          require(dec.dcQuant == JpegDcQ && dec.nComp == 1 &&
            dec.width == bw * 8 && dec.height == bh * 8,
            s"JDK encoder drifted: Q=${dec.dcQuant} dims=" +
              s"${dec.width}x${dec.height} for doc $id")
          // scan-script lock: count SOS markers (byte stuffing
          // guarantees FF DA never occurs inside entropy data)
          var nScans = 0
          var p = 0
          while (p + 1 < prog.length) {
            if ((prog(p) & 0xFF) == 0xFF &&
                (prog(p + 1) & 0xFF) == 0xDA) nScans += 1
            p += 1
          }
          // the successive-approximation chain is lossless once all
          // scans land: progressive pixels ≡ baseline pixels, bit-equal
          val base = Jpeg.decode(synthJpeg(bytes)._3).getOrElse(
            sys.error(s"baseline decode failed for doc $id"))
          val bitEqual = java.util.Arrays.equals(dec.pixels, base.pixels)
          require(bitEqual, s"progressive != baseline pixels for doc $id")
          var sumLevel = 0L
          var by = 0
          while (by < bh) {
            var bx = 0
            while (bx < bw) {
              sumLevel +=
                (dec.pixels((by * 8) * dec.width + bx * 8) & 0xFF).toLong
              bx += 1
            }
            by += 1
          }
          (id, bw * 8, bh * 8, (bw * bh).toLong, JpegDcQ, nScans,
            bitEqual, sumLevel)
        }
      }
      .toDF("doc_id", "w", "h", "n_blocks", "dc_q", "n_scans",
        "bit_equal", "sum_level")
  }

  private val mp3KbpsValues = graft.multimodal.Mp3.KbpsByIndex.zipWithIndex
    .collect { case (k, i) if i >= 1 => s"($i, $k)" }.mkString(", ")

  /** MP3 HEADER CENSUS — retires the compressed-audio `decodeStub`
    * (VERDICT r10 task 4): each document's bytes become a synthesized
    * MPEG-1 Layer III stream (junk + frame chain + remainder), and the
    * distributed pass walks it back through the independent
    * [[graft.multimodal.Mp3]] bit-stream parser (ISO/IEC 11172-3
    * header syntax + §2.4.3.1 frame-length stepping, frame-sync
    * resync over the junk). The DuckDB oracle predicts every census
    * column — frame count, sample rate, bitrate min/max/distinct,
    * CBR/VBR verdict, padding count, audio-vs-junk byte split, sample
    * count — from the raw bytes with the same integer arithmetic, the
    * multimodal_jpeg discipline: builder and walker are independent
    * code paths and the oracle checks the walker from first
    * principles.
    *
    * Plan: one narrow batched mapPartitions — blobs never shuffle,
    * only the 11-column census leaves the task. */
  val multimodalMp3: Q = Q(
    "multimodal_mp3",
    s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS nb
       |  FROM documents WHERE octet_length(encode(text)) > 0),
       |p AS (SELECT doc_id, hx, nb, 3 + nb % 6 AS nf, nb % 3 AS sridx,
       |    (nb % 2 = 0) AS cbrs FROM d),
       |fr AS (SELECT doc_id, nb, nf, sridx, t.i AS i,
       |    CASE WHEN cbrs THEN 1 + nb % 14
       |         ELSE 1 + (CAST('0x' || substr(hx, 2 * (t.i % nb) + 1, 2)
       |                        AS INT) + t.i) % 14 END AS bridx,
       |    CAST('0x' || substr(hx, 2 * ((t.i * 3 + 1) % nb) + 1, 2)
       |         AS INT) % 2 AS pad
       |  FROM p JOIN range(0, 9) t(i) ON t.i < nf),
       |fl AS (SELECT fr.doc_id, fr.nb, fr.nf, fr.sridx, fr.bridx,
       |    fr.pad, kb.kbps,
       |    (144000 * kb.kbps)
       |      // (CASE fr.sridx WHEN 0 THEN 44100 WHEN 1 THEN 48000
       |         ELSE 32000 END) + fr.pad AS flen
       |  FROM fr JOIN (VALUES $mp3KbpsValues) kb(idx, kbps)
       |    ON kb.idx = fr.bridx)
       |SELECT doc_id, CAST(max(nf) AS INT) AS n_frames,
       |  CAST(CASE max(sridx) WHEN 0 THEN 44100 WHEN 1 THEN 48000
       |       ELSE 32000 END AS INT) AS sample_rate,
       |  CAST(min(kbps) AS INT) AS min_kbps,
       |  CAST(max(kbps) AS INT) AS max_kbps,
       |  CAST(count(DISTINCT bridx) AS INT) AS n_bitrates,
       |  (count(DISTINCT bridx) = 1) AS is_cbr,
       |  CAST(sum(pad) AS BIGINT) AS n_padded,
       |  CAST(sum(flen) AS BIGINT) AS audio_bytes,
       |  CAST(max(nb) % 7 + max(nb) % 4 AS BIGINT) AS junk_bytes,
       |  CAST(1152 * max(nf) AS BIGINT) AS samples
       |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.multimodal.Mp3
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val c = Mp3.census(synthMp3(bytes)).getOrElse(
            sys.error(s"mp3 census found no frames for doc $id"))
          (id, c.nFrames, c.sampleRateHz, c.minKbps, c.maxKbps,
            c.nBitrates, c.isCbr, c.nPadded, c.audioBytes, c.junkBytes,
            c.samples)
        }
      }
      .toDF("doc_id", "n_frames", "sample_rate", "min_kbps", "max_kbps",
        "n_bitrates", "is_cbr", "n_padded", "audio_bytes", "junk_bytes",
        "samples")
  }

  val all: Seq[Q] = Seq(multimodalMeta, multimodalFeatures, multimodalDhash,
    multimodalWav, multimodalWavFrames, multimodalWavVad,
    multimodalDhashDedup, multimodalThumbnail, multimodalByteEntropy,
    multimodalWhash, multimodalWavPitch, multimodalTileVariance,
    multimodalWavSnr, multimodalLetterbox, multimodalWavClipping,
    multimodalJpeg, multimodalJpegProg, multimodalMp3, multimodalMp4)
}
