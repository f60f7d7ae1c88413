package graft.codec

/**
 * Deterministic in-repo image codecs for the crawl payload
 * (BASELINE.json input_hint: image bytes must satisfy a decoded-pixel
 * invariant — bitwise equality for lossless, PSNR >= 40 dB for lossy).
 *
 * Two formats over 8-bit grayscale pixels:
 *  - "rawg8": header + raw pixels, lossless (bitwise invariant).
 *  - "qdct":  8x8 block DCT, uniform quantization (step 6), int16
 *    coefficients. All floating-point runs in fixed evaluation order on
 *    strict JVM FP semantics, so encode/decode is bit-deterministic
 *    across JVMs — no ImageIO variance (SURVEY.md §7 "what's hard").
 *
 * The reference stores payload bytes opaquely in S3
 * (`crawler/crawler_node.py:246-284`); the codecs exist so the graft's
 * PSNR/phash invariants are testable without external image libraries.
 */
object ImageCodec {

  val FmtRaw = "rawg8"
  val FmtQdct = "qdct"
  private val QStep = 6.0

  // ---- container: [magic(2) | w(4) | h(4) | payload] big-endian ----

  private def header(magic: Int, w: Int, h: Int, payloadLen: Int): Array[Byte] = {
    val out = new Array[Byte](10 + payloadLen)
    out(0) = ((magic >> 8) & 0xff).toByte
    out(1) = (magic & 0xff).toByte
    writeInt(out, 2, w); writeInt(out, 6, h)
    out
  }
  private def writeInt(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >> 24).toByte; a(off + 1) = (v >> 16).toByte
    a(off + 2) = (v >> 8).toByte; a(off + 3) = v.toByte
  }
  private def readInt(a: Array[Byte], off: Int): Int =
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) | ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

  def width(bytes: Array[Byte]): Int = readInt(bytes, 2)
  def height(bytes: Array[Byte]): Int = readInt(bytes, 6)
  /** 'QV' = current variable-length coefficient stream; 'QD' = the
    * legacy fixed-2-byte-short stream (still decoded — a store written
    * by the older encoder must not silently mis-decode as varints). */
  def format(bytes: Array[Byte]): String =
    if (bytes.length < 2) "unknown"
    else if (bytes(0) == 'G' && bytes(1) == '8') FmtRaw
    else if (bytes(0) == 'Q' && (bytes(1) == 'V' || bytes(1) == 'D')) FmtQdct
    else "unknown"

  // ---- rawg8 (lossless) ----

  def encodeRaw(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h)
    val out = header('G' << 8 | '8', w, h, pixels.length)
    System.arraycopy(pixels, 0, out, 10, pixels.length)
    out
  }

  // ---- qdct (lossy, PSNR >= 40 dB by construction) ----

  /** Per-thread scratch for the block transforms and the encoder's
    * variable-length output buffer. The fetch hot path runs
    * encode/decode once per page; per-call arrays (40 KB coefficients +
    * 61 KB oversized stream buffer per 160x128 page) add up to ~13 GB
    * of young-gen churn per 100k-page crawl leg — allocation-rate
    * memory traffic that throttles multi-core scaling while single-core
    * timings look fine. Only the returned payload is freshly allocated
    * (exact-size copy); all intermediates are thread-local. */
  private final class Scratch {
    val block = new Array[Double](64)
    val tmp = new Array[Double](64)
    val freq = new Array[Double](64)
    val grid32 = new Array[Double](32 * 32)
    val rows32 = new Array[Double](32 * 8)
    var buf: Array[Byte] = new Array[Byte](1 << 16)
    def bufAtLeast(n: Int): Array[Byte] = {
      if (buf.length < n) buf = new Array[Byte](n)
      buf
    }
    var px: Array[Byte] = new Array[Byte](1 << 15)
    def pxAtLeast(n: Int): Array[Byte] = {
      if (px.length < n) px = new Array[Byte](n)
      px
    }
  }
  private val scratchTL = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  def encodeQdct(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h)
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    val s = scratchTL.get()
    val block = s.block
    val tmp = s.tmp
    val d = s.freq
    // variable-length coefficient stream, written per block as it is
    // quantized (no intermediate coefficient array): quantized
    // coefficients are almost all tiny (gradient + low-amplitude noise
    // / QStep), so one signed byte covers [-127, 127]; 0x80 escapes to
    // a 2-byte short. ~1 byte/px typical vs 2 for fixed shorts —
    // halves lossy payload bytes through parquet/shuffle/disk.
    val buf = s.bufAtLeast(10 + bw * bh * 64 * 3)
    buf(0) = 'Q'.toByte; buf(1) = 'V'.toByte
    writeInt(buf, 2, w); writeInt(buf, 6, h)
    var p = 10
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        var i = 0
        while (i < 64) {
          val x = bx * 8 + i % 8
          val y = by * 8 + i / 8
          // edge padding: clamp to last row/col (deterministic)
          val px = math.min(x, w - 1)
          val py = math.min(y, h - 1)
          block(i) = (pixels(py * w + px) & 0xff).toDouble - 128.0
          i += 1
        }
        dct8x8Into(block, tmp, d)
        var j = 0
        while (j < 64) {
          val c = math.round(d(j) / QStep).toShort
          if (c >= -127 && c <= 127) { buf(p) = c.toByte; p += 1 }
          else { buf(p) = 0x80.toByte; buf(p + 1) = (c >> 8).toByte; buf(p + 2) = c.toByte; p += 3 }
          j += 1
        }
        bx += 1
      }
      by += 1
    }
    java.util.Arrays.copyOf(buf, p)
  }

  /** Decode either format to (pixels, w, h). */
  def decode(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    val w = width(bytes); val h = height(bytes)
    decodeTo(bytes, new Array[Byte](w * h))
  }

  /** Decode into a thread-local pixel buffer. The returned array is only
    * valid until the next `decodeTL` call on the same thread — the crawl
    * verify stage consumes it (PSNR + phash) within the same row, so the
    * per-row w*h pixel allocation (≈20 KB/page, i.e. ~2 GB of young-gen
    * churn per 100k-page leg) never happens on the hot path. */
  def decodeTL(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    val w = width(bytes); val h = height(bytes)
    decodeTo(bytes, scratchTL.get().pxAtLeast(w * h))
  }

  private def decodeTo(bytes: Array[Byte], px: Array[Byte]): (Array[Byte], Int, Int) = {
    val w = width(bytes); val h = height(bytes)
    format(bytes) match {
      case FmtRaw =>
        System.arraycopy(bytes, 10, px, 0, w * h)
        (px, w, h)
      case FmtQdct =>
        val bw = (w + 7) / 8
        val bh = (h + 7) / 8
        val s = scratchTL.get()
        val block = s.block
        val tmp = s.tmp
        val sp = s.freq
        // 'QV': variable-length coefficient stream; 'QD' (legacy):
        // fixed 2-byte big-endian shorts
        val varlen = bytes(1) == 'V'.toByte
        var p = 10
        var by = 0
        while (by < bh) {
          var bx = 0
          while (bx < bw) {
            var j = 0
            while (j < 64) {
              val c =
                if (!varlen) {
                  val v = ((bytes(p) << 8) | (bytes(p + 1) & 0xff)).toShort
                  p += 2; v
                } else {
                  val b = bytes(p)
                  if (b == 0x80.toByte) {
                    val v = ((bytes(p + 1) << 8) | (bytes(p + 2) & 0xff)).toShort
                    p += 3; v
                  } else { p += 1; b.toShort }
                }
              block(j) = c * QStep
              j += 1
            }
            idct8x8Into(block, tmp, sp)
            var i = 0
            while (i < 64) {
              val x = bx * 8 + i % 8
              val y = by * 8 + i / 8
              if (x < w && y < h) {
                val v = math.round(sp(i) + 128.0)
                px(y * w + x) = math.max(0L, math.min(255L, v)).toByte
              }
              i += 1
            }
            bx += 1
          }
          by += 1
        }
        (px, w, h)
      case other => throw new IllegalArgumentException(s"unknown image format: $other")
    }
  }

  /** Average-pool resize to (tw, th) — integer sums with half-up
    * rounding, so results are bit-deterministic. Cells are the same
    * source-rectangle mapping phash64 uses for its 32x32 grid. */
  def resizePool(pixels: Array[Byte], w: Int, h: Int, tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th)
    var gy = 0
    while (gy < th) {
      var gx = 0
      while (gx < tw) {
        val x0 = gx * w / tw; val x1 = math.max((gx + 1) * w / tw, x0 + 1)
        val y0 = gy * h / th; val y1 = math.max((gy + 1) * h / th, y0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            if (x < w && y < h) { sum += (pixels(y * w + x) & 0xff); n += 1 }
            x += 1
          }
          y += 1
        }
        out(gy * tw + gx) = if (n == 0) 0 else ((sum + n / 2) / n).toByte
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** PSNR in dB between two same-size pixel arrays; infinity if equal. */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length)
    psnr(a, b, a.length)
  }

  /** PSNR over the first `n` pixels — for thread-local buffers that may
    * be sized larger than the image they currently hold. */
  def psnr(a: Array[Byte], b: Array[Byte], n: Int): Double = {
    var se = 0.0
    var i = 0
    while (i < n) {
      val d = ((a(i) & 0xff) - (b(i) & 0xff)).toDouble
      se += d * d
      i += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * n / se)
  }

  /** 64-bit perceptual hash: average-pool to 32x32, 8x8 DCT low band,
    * bit i = coefficient above the band median (DC excluded). */
  def phash64(pixels: Array[Byte], w: Int, h: Int): Long = {
    val s = scratchTL.get()
    // average-pool to 32x32 with integer sums (deterministic)
    val g = s.grid32
    var gy = 0
    while (gy < 32) {
      var gx = 0
      while (gx < 32) {
        val x0 = gx * w / 32; val x1 = math.max((gx + 1) * w / 32, x0 + 1)
        val y0 = gy * h / 32; val y1 = math.max((gy + 1) * h / 32, y0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            if (x < w && y < h) { sum += (pixels(y * w + x) & 0xff); n += 1 }
            x += 1
          }
          y += 1
        }
        g(gy * 32 + gx) = if (n == 0) 0.0 else sum.toDouble / n
        gx += 1
      }
      gy += 1
    }
    // 2D DCT-II over the 32x32 grid; take the 8x8 low-frequency corner.
    // Separable: rows then columns — 32x cheaper than the naive quad loop,
    // same fixed evaluation order (deterministic).
    val rows = s.rows32 // rows(y*8+u) = sum_x g(y,x) cos32(x,u)
    var y = 0
    while (y < 32) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 32) { s += g(y * 32 + x) * Cos32(x * 8 + u); x += 1 }
        rows(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val low = s.freq // free between codec calls; phash owns it here
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 32) { s += rows(yy * 8 + u) * Cos32(yy * 8 + v); yy += 1 }
        low(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val ac = low.drop(1)
    val sorted = ac.sorted
    val median = (sorted(31) + sorted(32)) / 2.0
    var bits = 0L
    var i = 0
    while (i < 63) {
      if (ac(i) > median) bits |= (1L << i)
      i += 1
    }
    bits
  }

  // ---- 8x8 DCT-II / DCT-III (naive, fixed order => deterministic) ----

  // phash DCT basis: cos((2x+1) u pi / 64) for x in [0,32), u in [0,8)
  private val Cos32: Array[Double] = {
    val t = new Array[Double](32 * 8)
    var x = 0
    while (x < 32) {
      var u = 0
      while (u < 8) { t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 64.0); u += 1 }
      x += 1
    }
    t
  }

  private val CosTable: Array[Double] = {
    val t = new Array[Double](8 * 8)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) { t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0); u += 1 }
      x += 1
    }
    t
  }
  // α(0)=1/√2 precomputed once — the old per-coefficient alpha() call
  // recomputed sqrt inside the innermost loop
  private val Alpha: Array[Double] = {
    val a = Array.fill(8)(1.0); a(0) = 1.0 / math.sqrt(2.0); a
  }

  /**
   * Separable 8x8 DCT-II into a caller-provided buffer. Two 8-wide
   * passes (rows then columns) instead of the naive quadruple loop —
   * 4x fewer multiply-adds — and zero allocation (tmp/out are reused
   * across the per-image block loop; per-block garbage was ~350 KB per
   * page, i.e. young-GC memory traffic that throttled multi-core
   * scaling). Fixed evaluation order ⇒ still bit-deterministic.
   */
  private def dct8x8Into(sp: Array[Double], tmp: Array[Double], out: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += sp(y * 8 + x) * CosTable(x * 8 + u); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * CosTable(yy * 8 + v); yy += 1 }
        out(v * 8 + u) = 0.25 * Alpha(u) * Alpha(v) * s
        u += 1
      }
      v += 1
    }
  }

  /** Separable 8x8 DCT-III (inverse) into a caller-provided buffer. */
  private def idct8x8Into(fq: Array[Double], tmp: Array[Double], out: Array[Double]): Unit = {
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Alpha(u) * fq(v * 8 + u) * CosTable(x * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += Alpha(vv) * tmp(vv * 8 + x) * CosTable(y * 8 + vv); vv += 1 }
        out(y * 8 + x) = 0.25 * s
        x += 1
      }
      y += 1
    }
  }
}
