package graft.multimodal

/** Hand-written JPEG decoder (ITU-T T.81 / ISO 10918-1, public spec)
  * for baseline sequential (SOF0) and progressive (SOF2, Annex G)
  * frames. Scope: Huffman entropy coding, 8-bit samples, 1 or 3
  * components with 1×1 sampling factors on every component
  * (grayscale always; color only when 4:4:4); restart markers
  * handled. Other frame types (extended, lossless, arithmetic,
  * hierarchical) return None.
  *
  * One pipeline for both frame types, per G.2: every scan accumulates
  * into a per-component QUANTIZED-coefficient raster (zig-zag index
  * order — successive approximation is defined on quantized values),
  * and only then does [[finalizeImage]] dequantize, IDCT and color
  * convert. A sequential scan is the progressive first-scan pair run
  * over the whole band: DC DPCM at point transform 0, then AC
  * run-length over [1, 63]. The progressive scans implement the full
  * Annex G set, because the JDK writer's progressive script emits all
  * of it: spectral selection (G.1.1.1.1: AC scans are single-component
  * bands [Ss..Se]), successive approximation in BOTH directions (DC
  * first scan at point transform Al with a later one-bit-per-block
  * refinement; AC first scans refined twice), EOB runs (G.1.2.2:
  * EOBn symbols span up to 2^14 blocks), and interleaved DC scans over
  * multi-component frames. A progressive stream whose scans complete
  * therefore reconstructs bit-identically to the baseline encode of
  * the same coefficients.
  *
  * The INDEPENDENT encoder in specs and the `multimodal_jpeg` /
  * `multimodal_jpeg_prog` queries is the JDK's ImageIO JPEG writer
  * (native IJG libjpeg behind `com.sun.imageio.plugins.jpeg`) — their
  * encoder, this decoder, so the round trip crosses two
  * implementations like the BMP/WAV paths. Two-tier verification (JPEG
  * is lossy, so the BMP luma-identity trick doesn't transfer
  * directly):
  *
  *  - EXACT tier (the oracle queries): images built from uniform 8×8
  *    blocks have one nonzero DCT coefficient (DC = 8·(v−128),
  *    computed exactly by any conforming FDCT), so the whole lossy
  *    chain collapses to integer arithmetic — quantize
  *    round-half-away(8·(v−128)/Q), dequantize ·Q, IDCT-descale
  *    (x+4)>>3, level-shift +128, clamp — that a SQL oracle predicts
  *    per block from the source byte and the (generated-oracle
  *    inlined) DC quant value parsed from the stream itself.
  *  - TOLERANCE tier (JpegSpec): arbitrary images decoded by this
  *    decoder vs the JDK's own READER agree within the T.81 Annex A
  *    IDCT mismatch allowance (spec-permitted per-sample variance
  *    between conforming IDCTs).
  *
  * Robustness contract (the [[Mp3]]/[[Mp4]] discipline): corrupt or
  * hostile input degrades to None, never throws, never hangs (every
  * scan walks a bounded MCU count; the bit reader pads with zero bits
  * at segment end), and nothing is allocated from DECLARED sizes
  * beyond a cap of 2^26 samples over all components, checked at the
  * frame header (the Int coefficient raster takes 4 bytes a sample,
  * so up to 256 MB, plus the byte planes the assembler fills).
  *
  * All bit-twiddling below follows the spec text (F.2 and G.2 decode
  * procedures, A.3.3 IDCT, Annex K tables are only on the encoder
  * side), not any existing decoder's source.
  */
object Jpeg {

  /** Decoded image: gray (1 comp) or RGB (3 comps, row-major
    * interleaved), the DC quantization value of component 0 —
    * surfaced because the exact-tier oracle needs it — and whether the
    * frame was progressive (SOF2) rather than baseline (SOF0). */
  final case class JpegImage(width: Int, height: Int, nComp: Int,
                             pixels: Array[Byte], dcQuant: Int,
                             progressive: Boolean)

  /** True for SOI-led streams — the magic sniff, mirroring
    * [[Media.isImageContainer]]'s style. */
  def isJpeg(content: Array[Byte]): Boolean =
    content.length >= 3 && (content(0) & 0xFF) == 0xFF &&
      (content(1) & 0xFF) == 0xD8 && (content(2) & 0xFF) == 0xFF

  // ---- Huffman table: canonical per T.81 C.2 ----------------------
  /** (code lengths histogram BITS[1..16], values HUFFVAL) expanded to
    * flat lookup arrays via the spec's GenerateCodeTable (C.2). */
  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    // mincode/maxcode/valptr per code length, T.81 F.2.2.3 figure F.15
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l)
        k += bits(l)
        maxCode(l) = code - 1
        if (bits(l) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def value(idx: Int): Int = vals(idx) & 0xFF
  }

  /** Entropy-coded-segment bit reader with byte-stuffing removal
    * (0xFF00 → 0xFF) and marker detection, per F.1.2.3. */
  private final class BitReader(buf: Array[Byte], var pos: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    var hitMarker = false

    def align(): Unit = { bitBuf = 0; bitCnt = 0 }

    private def fill(): Unit = {
      if (pos >= buf.length) { hitMarker = true; return }
      val b = buf(pos) & 0xFF
      if (b == 0xFF) {
        if (pos + 1 < buf.length && (buf(pos + 1) & 0xFF) == 0x00) {
          pos += 2
          bitBuf = (bitBuf << 8) | 0xFF
          bitCnt += 8
        } else { hitMarker = true } // a real marker terminates the ECS
      } else {
        pos += 1
        bitBuf = (bitBuf << 8) | b
        bitCnt += 8
      }
    }

    def bit(): Int = {
      if (bitCnt == 0) fill()
      if (hitMarker) return 0 // spec: pad with zero bits at segment end
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }

    def bitsN(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    /** DECODE procedure, F.2.2.3: walk code lengths 1..16. */
    def huffDecode(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.value(h.valPtr(l) + code - h.minCode(l))
        code = (code << 1) | bit()
        l += 1
      }
      -1 // corrupt stream
    }

    /** EXTEND (F.2.2.1): map magnitude-category bits to signed value. */
    def receiveExtend(s: Int): Int = {
      if (s == 0) return 0
      val v = bitsN(s)
      if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    }
  }

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT per A.3.3 — NOT a clone of any fast-IDCT factorization.
    * DC-ONLY blocks (the exact tier's entire population) take a pure
    * integer path, (dc·Q + 4) >> 3, the descale-round every conforming
    * IDCT agrees on — bit-exact, no floating point in the value chain.
    * General blocks use the direct double-precision cosine basis with
    * one final round; against the JDK's own reader this sits well
    * inside the T.81 Annex A per-sample conformance window (JpegSpec
    * asserts ≤2). */
  private def idct8x8(coef: Array[Int], out: Array[Int]): Unit = {
    var dcOnly = true
    var i = 1
    while (i < 64 && dcOnly) { if (coef(i) != 0) dcOnly = false; i += 1 }
    if (dcOnly) {
      val p0 = ((coef(0) + 4) >> 3) + 128
      val p = if (p0 < 0) 0 else if (p0 > 255) 255 else p0
      java.util.Arrays.fill(out, p)
      return
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val c = coef(u * 8 + v)
            if (c != 0) acc += Basis(u)(y) * Basis(v)(x) * c
            v += 1
          }
          u += 1
        }
        // +128 level shift and clamp per A.3.1/A.3.5
        val p = Math.floor(acc + 0.5).toInt + 128
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
  }

  /** basis(u)(x) = c(u)·cos((2x+1)uπ/16)/2 — the product
    * Basis(u)(y)·Basis(v)(x) carries the spec's 1/4·c(u)c(v)
    * normalization, so Σ basis·basis·coef IS the reconstructed sample
    * (pre level-shift) with no further descale. */
  private val Basis: Array[Array[Double]] = Array.tabulate(8, 8) {
    (u, x) =>
      val cu = if (u == 0) 1.0 / Math.sqrt(2.0) else 1.0
      cu * Math.cos((2 * x + 1) * u * Math.PI / 16.0) / 2.0
  }

  /** Decode a baseline or progressive JPEG. None for non-JPEG magic,
    * other frame types, bit depths ≠ 8, unsupported sampling, or a
    * corrupt stream. Grayscale decodes to 1 byte/pixel; YCbCr (3
    * comps, 4:4:4) to interleaved RGB via the JFIF full-range
    * matrix. */
  def decode(content: Array[Byte]): Option[JpegImage] = {
    if (!isJpeg(content)) return None
    try decodeInner(content)
    catch { case _: Exception => None }
  }

  private def decodeInner(buf: Array[Byte]): Option[JpegImage] = {
    // one quant table slot per destination id, 0..3
    val quant = Array.ofDim[Int](4, 64)
    val dcTab = new Array[Huff](4)
    val acTab = new Array[Huff](4)
    var width = 0; var height = 0
    var nComp = 0
    // per component: id, quant slot
    var compQ: Array[Int] = null
    var compId: Array[Int] = null
    var restartInterval = 0
    var frame = 0 // SOF marker parsed: 0xC0 sequential, 0xC2 progressive
    // per component: quantized coefficients, zig-zag index order,
    // block-major — allocated at the SOF once dimensions pass the cap
    var coefs: Array[Array[Int]] = null
    var blocksX = 0; var blocksY = 0
    var anyScan = false

    def u16(p: Int): Int = ((buf(p) & 0xFF) << 8) | (buf(p + 1) & 0xFF)
    def image = finalizeImage(coefs, quant, compQ, width, height, nComp,
      blocksX, blocksY, progressive = frame == 0xC2)

    var pos = 2 // past SOI
    var done = false
    while (!done && pos + 2 <= buf.length) {
      if ((buf(pos) & 0xFF) != 0xFF) return None
      val marker = buf(pos + 1) & 0xFF
      if (marker == 0xD9) { done = true } // EOI: finalize below
      else if (marker == 0xD8 || marker == 0x01 ||
               (marker >= 0xD0 && marker <= 0xD7)) {
        pos += 2 // stray SOI, TEM, RSTn: standalone markers
      } else {
        if (pos + 4 > buf.length) return None
        val len = u16(pos + 2)
        val seg = pos + 4
        if (seg + len - 2 > buf.length) return None
        marker match {
          case 0xDB => // DQT, natural-order storage
            var p = seg
            while (p < seg + len - 2) {
              val pq = (buf(p) >> 4) & 0xF
              val tq = buf(p) & 0xF
              if (pq != 0) return None // 16-bit tables: 12-bit frames only
              var i = 0
              while (i < 64) {
                quant(tq)(ZigZag(i)) = buf(p + 1 + i) & 0xFF
                i += 1
              }
              p += 65
            }
          case 0xC4 => // DHT — progressive streams redefine slots
            var p = seg // between scans; later tables shadow earlier
            while (p < seg + len - 2) {
              val tc = (buf(p) >> 4) & 0xF
              val th = buf(p) & 0xF
              val bits = new Array[Int](17)
              var total = 0
              var l = 1
              while (l <= 16) {
                bits(l) = buf(p + l) & 0xFF; total += bits(l); l += 1
              }
              val vals = java.util.Arrays.copyOfRange(
                buf, p + 17, p + 17 + total)
              val h = new Huff(bits, vals)
              if (tc == 0) dcTab(th) = h else acTab(th) = h
              p += 17 + total
            }
          case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive, Huffman
            if (frame != 0 && frame != marker) return None // mixed frames
            frame = marker
            if (buf(seg) != 8) return None // precision
            height = u16(seg + 1); width = u16(seg + 3)
            nComp = buf(seg + 5) & 0xFF
            if (nComp != 1 && nComp != 3) return None
            compId = new Array[Int](nComp)
            compQ = new Array[Int](nComp)
            var ci = 0
            while (ci < nComp) {
              val p = seg + 6 + 3 * ci
              compId(ci) = buf(p) & 0xFF
              // 1×1 factors on every component: one 8×8 block per
              // component per MCU — the layout the scan walk implements
              if ((buf(p + 1) & 0xFF) != 0x11) return None
              compQ(ci) = buf(p + 2) & 0xFF
              ci += 1
            }
            blocksX = (width + 7) / 8
            blocksY = (height + 7) / 8
            // The SOF dimensions are untrusted input: 65535×65535×3
            // would allocate ~48 GB of coefficients before a single
            // entropy bit is read, and an OutOfMemoryError is an Error
            // the decode() catch cannot convert to None (ADVICE r10).
            // Cap the frame at 2^26 samples over all components — far
            // above any corpus blob this engine synthesizes — and reject
            // oversized declared dimensions as a corrupt stream.
            val planeBytes = blocksX.toLong * 8L * blocksY.toLong * 8L
            if (planeBytes <= 0L || planeBytes * nComp > (1L << 26))
              return None
            coefs = Array.ofDim[Int](nComp, blocksX * blocksY * 64)
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return None // extended, lossless, hierarchical, arithmetic
          case 0xDD => restartInterval = u16(seg)
          case 0xDA =>
            if (coefs == null) return None
            val sequential = frame == 0xC0
            val ns = buf(seg) & 0xFF
            // a sequential frame is one scan interleaving every component
            if (ns < 1 || ns > nComp || (sequential && ns != nComp))
              return None
            val scanComp = Array.range(0, ns)
            val scanDc = new Array[Int](ns)
            val scanAc = new Array[Int](ns)
            var k = 0
            while (k < ns) {
              val cs = buf(seg + 1 + 2 * k) & 0xFF
              val ci = compId.indexOf(cs)
              if (ci < 0) return None
              // sequential blocks interleave in frame component order
              val slot = if (sequential) ci else k
              scanComp(slot) = ci
              scanDc(slot) = (buf(seg + 2 + 2 * k) >> 4) & 0xF
              scanAc(slot) = buf(seg + 2 + 2 * k) & 0xF
              k += 1
            }
            // T.81 fixes a sequential scan's band at [0, 63] with no point
            // transform; only a progressive scan header carries them
            val band = seg + 1 + 2 * ns
            val (ss, se, ah, al) =
              if (sequential) (0, 63, 0, 0)
              else (buf(band) & 0xFF, buf(band + 1) & 0xFF,
                    (buf(band + 2) >> 4) & 0xF, buf(band + 2) & 0xF)
            if (!sequential &&
                ((if (ss == 0) se != 0 // DC scans are [0,0]
                  else ns != 1 || se < ss || se > 63) || // G.1.1.1.1
                 al > 13 || ah > 13)) return None
            val r = new BitReader(buf, seg + len - 2)
            if (!decodeOneScan(buf, r, coefs, blocksX, blocksY, scanComp,
                  scanDc, scanAc, dcTab, acTab, ss, se, ah, al,
                  restartInterval)) return None
            // a sequential frame's one scan is the whole image: no EOI
            // or later marker is needed after it
            if (sequential) return image
            // the marker terminating the scan: first FF followed by a
            // real (non-stuffing, non-restart) marker at or after the
            // reader
            var p = r.pos
            while (p + 1 < buf.length &&
                   !((buf(p) & 0xFF) == 0xFF && {
                     val m = buf(p + 1) & 0xFF
                     m != 0x00 && !(m >= 0xD0 && m <= 0xD7)
                   })) p += 1
            if (p + 1 >= buf.length) return None
            anyScan = true
            pos = p
          case _ => () // APPn/COM/DNL: skip
        }
        if (marker != 0xDA) pos += 2 + len
      }
    }
    if (!anyScan) return None
    image
  }

  /** Decode one scan's entropy-coded segment into the coefficient
    * rasters. A block in a scan whose band starts at 0 takes the DC
    * step, and one whose band ends past 0 the AC step, so a sequential
    * scan ([0, 63], no point transform) runs both per block. False on
    * a corrupt stream. */
  private def decodeOneScan(buf: Array[Byte], r: BitReader,
                            coefs: Array[Array[Int]],
                            blocksX: Int, blocksY: Int,
                            scanComp: Array[Int], scanDc: Array[Int],
                            scanAc: Array[Int],
                            dcTab: Array[Huff], acTab: Array[Huff],
                            ss: Int, se: Int, ah: Int, al: Int,
                            restartInterval: Int): Boolean = {
    val ns = scanComp.length
    val pred = new Array[Int](ns)
    var eobrun = 0
    val nUnits = blocksX * blocksY // 1×1 factors: same raster per comp
    var unit = 0
    while (unit < nUnits) {
      if (restartInterval > 0 && unit > 0 &&
          unit % restartInterval == 0) {
        // resync: align to the RSTn marker and reset predictors
        r.align(); r.hitMarker = false
        var p = r.pos
        while (p + 1 < buf.length &&
               !((buf(p) & 0xFF) == 0xFF &&
                 (buf(p + 1) & 0xFF) >= 0xD0 &&
                 (buf(p + 1) & 0xFF) <= 0xD7)) p += 1
        if (p + 1 >= buf.length) return false
        r.pos = p + 2
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }
      // interleaved (DC or sequential): one block per comp per MCU;
      // an AC band is single-component
      var c = 0
      while (c < ns) {
        val cf = coefs(scanComp(c))
        val base = unit * 64
        if (ss == 0) {
          if (ah == 0) { // first DC scan: DPCM at point transform al
            val dh = dcTab(scanDc(c))
            if (dh == null) return false
            val t = r.huffDecode(dh)
            if (t < 0 || t > 15) return false
            pred(c) += r.receiveExtend(t)
            cf(base) = pred(c) << al
          } else { // refinement: one raw bit per block (G.1.2.1)
            if (r.bit() == 1) cf(base) |= 1 << al
          }
        }
        if (se > 0) {
          val ac = acTab(scanAc(c))
          if (ac == null) return false
          val from = math.max(ss, 1)
          if (ah == 0) {
            // first AC scan (F.2.2.2, G.1.2.2): runs of zeros + EOB runs
            if (eobrun > 0) eobrun -= 1
            else {
              var k = from
              var eob = false
              while (k <= se && !eob) {
                val rs = r.huffDecode(ac)
                if (rs < 0) return false
                val run = rs >> 4; val s = rs & 0xF
                if (s == 0) {
                  if (run == 15) k += 16 // ZRL
                  else {
                    // EOBn runs exist only in AC-band scans (Ss > 0);
                    // a sequential scan ends the block here
                    if (ss > 0) {
                      eobrun = (1 << run) - 1
                      if (run > 0) eobrun += r.bitsN(run)
                    }
                    eob = true
                  }
                } else {
                  k += run
                  if (k > se) return false
                  cf(base + k) = r.receiveExtend(s) << al
                  k += 1
                }
              }
            }
          } else {
            // AC refinement (G.1.2.3): correction bits on nonzero
            // history, new ±1<<al coefficients on zero history
            def correct(idx: Int): Unit = {
              val v = cf(idx)
              if (v != 0 && r.bit() == 1) {
                // add one successive-approximation bit toward the sign,
                // only if this bit of the magnitude is still clear
                // (hostile-stream guard; conforming streams always are)
                if (v > 0) { if ((v & (1 << al)) == 0) cf(idx) = v + (1 << al) }
                else if ((-v & (1 << al)) == 0) cf(idx) = v - (1 << al)
              }
            }
            if (eobrun > 0) {
              eobrun -= 1
              var k = from
              while (k <= se) { correct(base + k); k += 1 }
            } else {
              var k = from
              while (k <= se) {
                val rs = r.huffDecode(ac)
                if (rs < 0) return false
                var run = rs >> 4; val s = rs & 0xF
                var newval = 0
                if (s == 0) {
                  if (run != 15) { // EOBn: finish this block with
                    eobrun = (1 << run) - 1 // corrections only
                    if (run > 0) eobrun += r.bitsN(run)
                    while (k <= se) { correct(base + k); k += 1 }
                  }
                  // run == 15: ZRL — skip 16 zero-history positions
                } else {
                  if (s != 1) return false // refinement sends ±1 only
                  newval = if (r.bit() == 1) 1 << al else -(1 << al)
                }
                if (k <= se) {
                  // advance over `run` zero-history positions,
                  // consuming correction bits on nonzero history
                  var placed = false
                  while (k <= se && !placed) {
                    if (cf(base + k) != 0) correct(base + k)
                    else if (run == 0) {
                      if (newval != 0) { cf(base + k) = newval }
                      placed = true
                    } else run -= 1
                    k += 1
                  }
                  if (newval != 0 && !placed) return false // ran off band
                }
              }
            }
          }
        }
        c += 1
      }
      unit += 1
    }
    true
  }

  /** Dequantize + IDCT + crop + color convert the accumulated
    * coefficient rasters — the one assembler for both frame types. */
  private def finalizeImage(coefs: Array[Array[Int]],
                            quant: Array[Array[Int]], compQ: Array[Int],
                            width: Int, height: Int, nComp: Int,
                            blocksX: Int, blocksY: Int,
                            progressive: Boolean): Option[JpegImage] = {
    val planes = Array.ofDim[Byte](nComp, blocksX * 8 * blocksY * 8)
    val natural = new Array[Int](64)
    val block = new Array[Int](64)
    val stride = blocksX * 8
    var ci = 0
    while (ci < nComp) {
      val q = quant(compQ(ci))
      val cf = coefs(ci)
      val plane = planes(ci)
      var b = 0
      val nBlocks = blocksX * blocksY
      while (b < nBlocks) {
        var k = 0
        while (k < 64) {
          natural(ZigZag(k)) = cf(b * 64 + k) * q(ZigZag(k))
          k += 1
        }
        idct8x8(natural, block)
        // place the 8×8 block into the component plane
        val by = b / blocksX; val bx = b % blocksX
        var y = 0
        while (y < 8) {
          val base = (by * 8 + y) * stride + bx * 8
          var x = 0
          while (x < 8) {
            plane(base + x) = block(y * 8 + x).toByte
            x += 1
          }
          y += 1
        }
        b += 1
      }
      ci += 1
    }
    val dcQ = quant(compQ(0))(0)
    if (nComp == 1) {
      // crop the padded MCU raster to the declared dimensions
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * stride, out, y * width, width)
        y += 1
      }
      Some(JpegImage(width, height, 1, out, dcQ, progressive))
    } else {
      val out = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val i = y * stride + x
          val yy = planes(0)(i) & 0xFF
          val cb = (planes(1)(i) & 0xFF) - 128
          val cr = (planes(2)(i) & 0xFF) - 128
          // JFIF full-range conversion, integer-rounded
          def clamp(v: Int): Byte =
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          val o = (y * width + x) * 3
          out(o) = clamp(yy + ((91881 * cr + 32768) >> 16))
          out(o + 1) = clamp(yy - ((22554 * cb + 46802 * cr + 32768) >> 16))
          out(o + 2) = clamp(yy + ((116130 * cb + 32768) >> 16))
          x += 1
        }
        y += 1
      }
      Some(JpegImage(width, height, 3, out, dcQ, progressive))
    }
  }
}
