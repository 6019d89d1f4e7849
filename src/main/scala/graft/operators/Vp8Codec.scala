package graft.operators

/** Lossy VP8 intra (keyframe) decoder — the codec inside lossy WebP
  * (`VP8 ` chunks), per RFC 6386 (the published VP8 Data Format and
  * Decoding Guide; all constants in [[Vp8Tables]] are the spec's
  * defaults). Still WebP images are ALWAYS a single VP8 keyframe, so
  * an intra-only decoder covers the format completely; interframe
  * tooling (motion vectors, reference buffers) is out of scope and
  * fails loudly.
  *
  * Scope: full keyframe bitstream — bool (arithmetic) decoder,
  * segment/filter/quantizer headers, per-MB intra modes (16×16
  * DC/V/H/TM and per-subblock B_PRED with all ten 4×4 modes),
  * default-or-updated coefficient probabilities, multi-partition
  * token streams, token trees with the six extra-bit categories,
  * dequantization, inverse WHT + DCT, edge-convention-exact intra
  * prediction, and the full normal + simple loop filters. Output is
  * the spec-exact YUV 4:2:0 reconstruction; RGB conversion is
  * point-sampled BT.601 (documented — upsampling is outside RFC 6386).
  *
  * Validation: WebpLossySpec pins this decoder's Y/U/V planes
  * byte-for-byte against the REAL system libwebp (`WebPDecodeYUV`,
  * scripts/vp8_probe.py) on both a real libwebp-encoded file
  * (CPython's python.webp) and our own [[encodeLossy]] fixtures.
  *
  * Scale shape: row-local decode over binary cells (one image per
  * row), no joins or shuffles — identical to the other codecs
  * (JPEG/PNG/GIF/VP8L) in this package.
  */
object Vp8Codec {

  import Vp8Tables._

  final case class Yuv(width: Int, height: Int,
      y: Array[Byte], u: Array[Byte], v: Array[Byte])

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // ------------------------------------------------------------------
  // Bool (arithmetic) decoder — RFC 6386 §7.3, value/range/bit_count.
  // Reads past the partition end yield zero bytes (the spec's
  // convention for the final bits).
  // ------------------------------------------------------------------
  private[operators] final class BoolDec(buf: Array[Byte], start: Int, end: Int) {
    private var range = 255
    private var value = 0
    private var bitCount = 0
    private var pos = start
    value = (nextByte() << 8) | nextByte()

    private def nextByte(): Int = {
      val b = if (pos < end) buf(pos) & 0xff else 0
      pos += 1
      b
    }

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }

    def flag(): Int = bool(128)

    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** flag-gated signed literal: header deltas are coded as
      * (has-value, magnitude, sign). */
    def maybeSigned(n: Int): Int =
      if (flag() == 0) 0
      else {
        val v = literal(n)
        if (flag() == 1) -v else v
      }

    /** Generic tree decode (RFC 6386 §8.2): leaves are `-value`. */
    def tree(t: Array[Int], probs: Array[Int], pOff: Int): Int = {
      var i = t(0 + bool(probs(pOff)))
      while (i > 0) i = t(i + bool(probs(pOff + (i >> 1))))
      -i
    }
  }

  // ------------------------------------------------------------------
  // Trees (RFC 6386 §11.2, §13.2) — leaves as negated mode ids.
  // ------------------------------------------------------------------
  // Y modes: DC=0 V=1 H=2 TM=3 B_PRED=4
  private val KfYModeTree = Array(-4, 2, 4, 6, -0, -1, -2, -3)
  private val KfYModeProb = Array(145, 156, 163, 128)
  // UV modes: DC=0 V=1 H=2 TM=3
  private val UvModeTree = Array(-0, 2, -1, 4, -2, -3)
  private val KfUvModeProb = Array(142, 114, 183)
  // B modes (RFC order): DC=0 TM=1 VE=2 HE=3 LD=4 RD=5 VR=6 VL=7 HD=8 HU=9
  // codes: DC=0 TM=10 VE=110 HE=11100 RD=111010 VR=111011 LD=11110
  //        VL=111110 HD=1111110 HU=1111111
  private val BModeTree = Array(
    -0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -5, -6, -4, 14, -7, 16, -8, -9)
  // The extracted KfBModeProbs rows are laid out in LIBWEBP's internal
  // B-mode enum (RD=4 VR=5 LD=6 VL=7); contexts here are RFC-numbered,
  // so re-index the table into RFC order once at load.
  private val RfcFromLw = Array(0, 1, 2, 3, 6, 4, 5, 7, 8, 9) // rfc → lw id
  private val BModeProbs: Array[Int] = {
    val out = new Array[Int](900)
    var a = 0
    while (a < 10) {
      var l = 0
      while (l < 10) {
        val src = (RfcFromLw(a) * 10 + RfcFromLw(l)) * 9
        System.arraycopy(KfBModeProbs, src, out, (a * 10 + l) * 9, 9)
        l += 1
      }
      a += 1
    }
    out
  }
  // segment id: 2-level tree over 3 probs
  private val SegTree = Array(2, 4, -0, -1, -2, -3)

  // token ids 0..4 = literal 0..4; 5..10 = cat1..cat6; 11 = EOB
  private val TokenTree = Array(
    -11, 2, -0, 4, -1, 6, 8, 12, -2, 10, -3, -4, 14, 16,
    -5, -6, 18, 20, -7, -8, -9, -10)
  private val CatBase = Array(5, 7, 11, 19, 35, 67)
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159),
    Array(165, 145),
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  private def clampQ(q: Int): Int = math.max(0, math.min(127, q))
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Per-frame dequantization factors (RFC 6386 §9.6, §14.1). */
  private final case class Dequant(y1dc: Int, y1ac: Int, y2dc: Int,
      y2ac: Int, uvdc: Int, uvac: Int)

  // ------------------------------------------------------------------
  // Header state
  // ------------------------------------------------------------------
  private final class FrameHeader {
    var width = 0
    var height = 0
    var segmentEnabled = false
    var segmentUpdateMap = false
    var segAbsDelta = false
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    var filterSimple = false
    var filterLevel = 0
    var sharpness = 0
    var lfDeltaEnabled = false
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    var qIndex = 0
    var yDcDelta = 0
    var y2DcDelta = 0
    var y2AcDelta = 0
    var uvDcDelta = 0
    var uvAcDelta = 0
    var skipEnabled = false
    var skipProb = 0
    // coefficient probs, flat [4][8][3][11] (copy of defaults + updates)
    val coeffProbs: Array[Int] = CoeffProbs.clone()
  }

  private def dequantFor(h: FrameHeader, segment: Int): Dequant = {
    val base =
      if (!h.segmentEnabled) h.qIndex
      else if (h.segAbsDelta) h.segQuant(segment)
      else h.qIndex + h.segQuant(segment)
    val q = clampQ(base)
    val y2ac0 = AcQLookup(clampQ(q + h.y2AcDelta)) * 155 / 100
    Dequant(
      y1dc = DcQLookup(clampQ(q + h.yDcDelta)),
      y1ac = AcQLookup(q),
      y2dc = DcQLookup(clampQ(q + h.y2DcDelta)) * 2,
      y2ac = if (y2ac0 < 8) 8 else y2ac0,
      uvdc = math.min(DcQLookup(clampQ(q + h.uvDcDelta)), 132),
      uvac = AcQLookup(clampQ(q + h.uvAcDelta)))
  }

  // ------------------------------------------------------------------
  // Inverse transforms — RFC 6386 §14.3 (exact integer arithmetic;
  // products through Long: coeff × 35468 exceeds Int range).
  // ------------------------------------------------------------------
  private def mulC1(v: Int): Int = ((v.toLong * 20091L) >> 16).toInt // cos(π/8)√2 − 1
  private def mulC2(v: Int): Int = ((v.toLong * 35468L) >> 16).toInt // sin(π/8)√2

  /** 4×4 inverse DCT; adds to `dst` (plane) at (ox, oy), clamped. */
  private def idct4x4Add(c: Array[Int], dst: Array[Byte], stride: Int,
      ox: Int, oy: Int): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = c(i) + c(8 + i)
      val b1 = c(i) - c(8 + i)
      val t1 = mulC2(c(4 + i)) - (c(12 + i) + mulC1(c(12 + i)))
      val d1 = (c(4 + i) + mulC1(c(4 + i))) + mulC2(c(12 + i))
      tmp(i) = a1 + d1
      tmp(12 + i) = a1 - d1
      tmp(4 + i) = b1 + t1
      tmp(8 + i) = b1 - t1
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 2)
      val b1 = tmp(o) - tmp(o + 2)
      val t1 = mulC2(tmp(o + 1)) - (tmp(o + 3) + mulC1(tmp(o + 3)))
      val d1 = (tmp(o + 1) + mulC1(tmp(o + 1))) + mulC2(tmp(o + 3))
      val base = (oy + i) * stride + ox
      dst(base) = clamp255((dst(base) & 0xff) + ((a1 + d1 + 4) >> 3)).toByte
      dst(base + 3) = clamp255((dst(base + 3) & 0xff) + ((a1 - d1 + 4) >> 3)).toByte
      dst(base + 1) = clamp255((dst(base + 1) & 0xff) + ((b1 + t1 + 4) >> 3)).toByte
      dst(base + 2) = clamp255((dst(base + 2) & 0xff) + ((b1 - t1 + 4) >> 3)).toByte
      i += 1
    }
  }

  /** DC-only fast path: every output pixel gets (dc + 4) >> 3. */
  private def idctDcAdd(dc: Int, dst: Array[Byte], stride: Int,
      ox: Int, oy: Int): Unit = {
    val d = (dc + 4) >> 3
    var y = 0
    while (y < 4) {
      val base = (oy + y) * stride + ox
      var x = 0
      while (x < 4) {
        dst(base + x) = clamp255((dst(base + x) & 0xff) + d).toByte
        x += 1
      }
      y += 1
    }
  }

  /** Inverse WHT: the Y2 block's 16 outputs become the 16 luma
    * subblock DC coefficients. */
  private def iwht4x4(c: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = c(i) + c(12 + i)
      val b1 = c(4 + i) + c(8 + i)
      val c1 = c(4 + i) - c(8 + i)
      val d1 = c(i) - c(12 + i)
      tmp(i) = a1 + b1
      tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1
      tmp(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 3)
      val b1 = tmp(o + 1) + tmp(o + 2)
      val c1 = tmp(o + 1) - tmp(o + 2)
      val d1 = tmp(o) - tmp(o + 3)
      out(o) = (a1 + b1 + 3) >> 3
      out(o + 1) = (c1 + d1 + 3) >> 3
      out(o + 2) = (a1 - b1 + 3) >> 3
      out(o + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // Coefficient (token) decoding — RFC 6386 §13.
  // ------------------------------------------------------------------
  /** Decode one 4×4 block's coefficients into `out` (natural order,
    * dequantized). Returns the count of decoded positions (0 = empty).
    * `tpe`: 0 = luma-without-DC, 1 = Y2, 2 = chroma, 3 = luma-with-DC.
    * `ctx0`: above-nz + left-nz (0..2). */
  private def decodeCoeffs(bd: BoolDec, probs: Array[Int], tpe: Int,
      ctx0: Int, first: Int, dqDc: Int, dqAc: Int, out: Array[Int]): Int = {
    var n = first
    var ctx = ctx0
    var lastNonzeroPlus1 = first
    var allowEob = true
    while (n < 16) {
      val band = CoeffBands(n)
      val pOff = ((tpe * 8) + band) * 33 + ctx * 11
      if (allowEob && bd.bool(probs(pOff)) == 0) return lastNonzeroPlus1
      if (bd.bool(probs(pOff + 1)) == 0) {
        // token ZERO — next token reuses band at n+1 with ctx 0 and
        // may not be EOB
        ctx = 0
        allowEob = false
        n += 1
      } else {
        var v = 0
        if (bd.bool(probs(pOff + 2)) == 0) v = 1
        else {
          if (bd.bool(probs(pOff + 3)) == 0) {
            if (bd.bool(probs(pOff + 4)) == 0) v = 2
            else v = if (bd.bool(probs(pOff + 5)) == 0) 3 else 4
          } else {
            val cat =
              if (bd.bool(probs(pOff + 6)) == 0) {
                if (bd.bool(probs(pOff + 7)) == 0) 0 else 1
              } else {
                if (bd.bool(probs(pOff + 8)) == 0) {
                  if (bd.bool(probs(pOff + 9)) == 0) 2 else 3
                } else {
                  if (bd.bool(probs(pOff + 10)) == 0) 4 else 5
                }
              }
            val cp = CatProbs(cat)
            var extra = 0
            var i = 0
            while (i < cp.length) {
              extra = (extra << 1) | bd.bool(cp(i))
              i += 1
            }
            v = CatBase(cat) + extra
          }
        }
        val neg = bd.flag() == 1
        val signed = if (neg) -v else v
        val dq = if (n == 0) dqDc else dqAc
        out(Zigzag(n)) = signed * dq
        lastNonzeroPlus1 = n + 1
        ctx = if (v == 1) 1 else 2
        allowEob = true
        n += 1
      }
    }
    lastNonzeroPlus1
  }

  // ------------------------------------------------------------------
  // Intra prediction — RFC 6386 §12. Edge conventions: above row
  // outside the frame = 127 (including the corner on row 0); left
  // column outside = 129 (including the corner on column 0 for rows
  // > 0); otherwise reconstructed neighbor pixels.
  // ------------------------------------------------------------------
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1

  /** Whole-block DC/V/H/TM prediction into plane at (ox, oy), size n
    * (16 luma / 8 chroma). */
  private def predBlock(mode: Int, p: Array[Byte], stride: Int,
      ox: Int, oy: Int, n: Int, hasAbove: Boolean, hasLeft: Boolean): Unit = {
    def above(x: Int): Int =
      if (hasAbove) p((oy - 1) * stride + ox + x) & 0xff else 127
    def left(y: Int): Int =
      if (hasLeft) p((oy + y) * stride + ox - 1) & 0xff else 129
    def corner: Int =
      if (!hasAbove) 127
      else if (!hasLeft) 129
      else p((oy - 1) * stride + ox - 1) & 0xff
    mode match {
      case 0 => // DC
        var dc = 0
        if (hasAbove && hasLeft) {
          var i = 0
          while (i < n) { dc += above(i) + left(i); i += 1 }
          dc = (dc + n) >> (if (n == 16) 5 else 4)
        } else if (hasAbove) {
          var i = 0
          while (i < n) { dc += above(i); i += 1 }
          dc = (dc + n / 2) >> (if (n == 16) 4 else 3)
        } else if (hasLeft) {
          var i = 0
          while (i < n) { dc += left(i); i += 1 }
          dc = (dc + n / 2) >> (if (n == 16) 4 else 3)
        } else dc = 128
        var y = 0
        while (y < n) {
          java.util.Arrays.fill(p, (oy + y) * stride + ox,
            (oy + y) * stride + ox + n, dc.toByte)
          y += 1
        }
      case 1 => // V
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) { p((oy + y) * stride + ox + x) = above(x).toByte; x += 1 }
          y += 1
        }
      case 2 => // H
        var y = 0
        while (y < n) {
          java.util.Arrays.fill(p, (oy + y) * stride + ox,
            (oy + y) * stride + ox + n, left(y).toByte)
          y += 1
        }
      case 3 => // TM
        val c = corner
        var y = 0
        while (y < n) {
          val l = left(y)
          var x = 0
          while (x < n) {
            p((oy + y) * stride + ox + x) = clamp255(l + above(x) - c).toByte
            x += 1
          }
          y += 1
        }
      case m => fail(s"bad whole-block intra mode $m")
    }
  }

  /** 4×4 B-mode prediction (§12.3) into plane at (ox, oy) given edge
    * pixels: A(0..7) above + above-right, L(0..3) left, P corner. */
  private def predB(mode: Int, p: Array[Byte], stride: Int, ox: Int, oy: Int,
      a: Array[Int], l: Array[Int], c: Int): Unit = {
    def set(x: Int, y: Int, v: Int): Unit =
      p((oy + y) * stride + ox + x) = v.toByte
    mode match {
      case 0 => // B_DC
        var s = 4
        var i = 0
        while (i < 4) { s += a(i) + l(i); i += 1 }
        val dc = s >> 3
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, dc); x += 1 }; y += 1 }
      case 1 => // B_TM
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { set(x, y, clamp255(l(y) + a(x) - c)); x += 1 }
          y += 1
        }
      case 2 => // B_VE (filtered vertical)
        val o = Array(avg3(c, a(0), a(1)), avg3(a(0), a(1), a(2)),
          avg3(a(1), a(2), a(3)), avg3(a(2), a(3), a(4)))
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, o(x)); x += 1 }; y += 1 }
      case 3 => // B_HE (filtered horizontal)
        val o = Array(avg3(c, l(0), l(1)), avg3(l(0), l(1), l(2)),
          avg3(l(1), l(2), l(3)), avg3(l(2), l(3), l(3)))
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, o(y)); x += 1 }; y += 1 }
      case 4 => // B_LD (down-left)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val i = x + y
            set(x, y,
              if (i < 6) avg3(a(i), a(i + 1), a(i + 2))
              else avg3(a(6), a(7), a(7)))
            x += 1
          }
          y += 1
        }
      case 5 => // B_RD (down-right)
        // edge vector: l(3) l(2) l(1) l(0) c a(0) a(1) a(2) a(3)
        val e = Array(l(3), l(2), l(1), l(0), c, a(0), a(1), a(2), a(3))
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val i = x - y + 4
            set(x, y, avg3(e(i - 1), e(i), e(i + 1)))
            x += 1
          }
          y += 1
        }
      case 6 => // B_VR (vertical-right)
        val e = Array(l(3), l(2), l(1), l(0), c, a(0), a(1), a(2), a(3))
        set(0, 3, avg3(e(1), e(2), e(3)))
        set(0, 2, avg3(e(2), e(3), e(4)))
        set(0, 1, avg3(e(3), e(4), e(5))); set(1, 3, avg3(e(3), e(4), e(5)))
        set(0, 0, avg2(e(4), e(5))); set(1, 2, avg2(e(4), e(5)))
        set(1, 1, avg3(e(4), e(5), e(6))); set(2, 3, avg3(e(4), e(5), e(6)))
        set(1, 0, avg2(e(5), e(6))); set(2, 2, avg2(e(5), e(6)))
        set(2, 1, avg3(e(5), e(6), e(7))); set(3, 3, avg3(e(5), e(6), e(7)))
        set(2, 0, avg2(e(6), e(7))); set(3, 2, avg2(e(6), e(7)))
        set(3, 1, avg3(e(6), e(7), e(8)))
        set(3, 0, avg2(e(7), e(8)))
      case 7 => // B_VL (vertical-left)
        set(0, 0, avg2(a(0), a(1)))
        set(0, 1, avg3(a(0), a(1), a(2)))
        set(0, 2, avg2(a(1), a(2))); set(1, 0, avg2(a(1), a(2)))
        set(0, 3, avg3(a(1), a(2), a(3))); set(1, 1, avg3(a(1), a(2), a(3)))
        set(1, 2, avg2(a(2), a(3))); set(2, 0, avg2(a(2), a(3)))
        set(1, 3, avg3(a(2), a(3), a(4))); set(2, 1, avg3(a(2), a(3), a(4)))
        set(2, 2, avg2(a(3), a(4))); set(3, 0, avg2(a(3), a(4)))
        set(2, 3, avg3(a(3), a(4), a(5))); set(3, 1, avg3(a(3), a(4), a(5)))
        set(3, 2, avg3(a(4), a(5), a(6)))
        set(3, 3, avg3(a(5), a(6), a(7)))
      case 8 => // B_HD (horizontal-down)
        val e = Array(l(3), l(2), l(1), l(0), c, a(0), a(1), a(2))
        set(0, 3, avg2(e(0), e(1)))
        set(1, 3, avg3(e(0), e(1), e(2)))
        set(0, 2, avg2(e(1), e(2))); set(2, 3, avg2(e(1), e(2)))
        set(1, 2, avg3(e(1), e(2), e(3))); set(3, 3, avg3(e(1), e(2), e(3)))
        set(0, 1, avg2(e(2), e(3))); set(2, 2, avg2(e(2), e(3)))
        set(1, 1, avg3(e(2), e(3), e(4))); set(3, 2, avg3(e(2), e(3), e(4)))
        set(0, 0, avg2(e(3), e(4))); set(2, 1, avg2(e(3), e(4)))
        set(1, 0, avg3(e(3), e(4), e(5))); set(3, 1, avg3(e(3), e(4), e(5)))
        set(2, 0, avg3(e(4), e(5), e(6)))
        set(3, 0, avg3(e(5), e(6), e(7)))
      case 9 => // B_HU (horizontal-up)
        set(0, 0, avg2(l(0), l(1)))
        set(1, 0, avg3(l(0), l(1), l(2)))
        set(2, 0, avg2(l(1), l(2))); set(0, 1, avg2(l(1), l(2)))
        set(3, 0, avg3(l(1), l(2), l(3))); set(1, 1, avg3(l(1), l(2), l(3)))
        set(2, 1, avg2(l(2), l(3))); set(0, 2, avg2(l(2), l(3)))
        set(3, 1, avg3(l(2), l(3), l(3))); set(1, 2, avg3(l(2), l(3), l(3)))
        set(2, 2, l(3)); set(3, 2, l(3))
        set(0, 3, l(3)); set(1, 3, l(3)); set(2, 3, l(3)); set(3, 3, l(3))
      case m => fail(s"bad B intra mode $m")
    }
  }

  // ------------------------------------------------------------------
  // Loop filter — RFC 6386 §15. Works on unsigned plane bytes via the
  // signed (x − 128) domain with signed-char clamping.
  // ------------------------------------------------------------------
  private def sClamp(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** One filtered segment: pixels at p(base + i*step) for i in -4..3
    * (p3 p2 p1 p0 | q0 q1 q2 q3). */
  private final class Seg(p: Array[Byte], base: Int, step: Int) {
    def g(i: Int): Int = (p(base + i * step) & 0xff) - 128
    def s(i: Int, v: Int): Unit = p(base + i * step) = (v + 128).toByte
  }

  private def filterMask(s: Seg, interior: Int, edge: Int): Boolean =
    (math.abs(s.g(-1) - s.g(0)) * 2 + math.abs(s.g(-2) - s.g(1)) / 2) <= edge &&
      math.abs(s.g(-4) - s.g(-3)) <= interior &&
      math.abs(s.g(-3) - s.g(-2)) <= interior &&
      math.abs(s.g(-2) - s.g(-1)) <= interior &&
      math.abs(s.g(3) - s.g(2)) <= interior &&
      math.abs(s.g(2) - s.g(1)) <= interior &&
      math.abs(s.g(1) - s.g(0)) <= interior

  private def hev(s: Seg, thresh: Int): Boolean =
    math.abs(s.g(-2) - s.g(-1)) > thresh || math.abs(s.g(1) - s.g(0)) > thresh

  /** common adjust (§15.2): filters p0/q0, returns the F value. */
  private def commonAdjust(s: Seg, useOuter: Boolean): Int = {
    val p1 = s.g(-2); val p0 = s.g(-1); val q0 = s.g(0); val q1 = s.g(1)
    val a = sClamp((if (useOuter) sClamp(p1 - q1) else 0) + 3 * (q0 - p0))
    val f = sClamp(a + 4) >> 3
    val e = sClamp(a + 3) >> 3
    s.s(0, sClamp(q0 - f))
    s.s(-1, sClamp(p0 + e))
    f
  }

  private def subblockFilter(s: Seg, hevT: Int, interior: Int, edge: Int): Unit =
    if (filterMask(s, interior, edge)) {
      val h = hev(s, hevT)
      val f = commonAdjust(s, h)
      if (!h) {
        val a = (f + 1) >> 1
        s.s(1, sClamp(s.g(1) - a))
        s.s(-2, sClamp(s.g(-2) + a))
      }
    }

  private def mbFilter(s: Seg, hevT: Int, interior: Int, edge: Int): Unit =
    if (filterMask(s, interior, edge)) {
      if (!hev(s, hevT)) {
        val w = sClamp(sClamp(s.g(-2) - s.g(1)) + 3 * (s.g(0) - s.g(-1)))
        var a = sClamp((27 * w + 63) >> 7)
        s.s(0, sClamp(s.g(0) - a))
        s.s(-1, sClamp(s.g(-1) + a))
        a = sClamp((18 * w + 63) >> 7)
        s.s(1, sClamp(s.g(1) - a))
        s.s(-2, sClamp(s.g(-2) + a))
        a = sClamp((9 * w + 63) >> 7)
        s.s(2, sClamp(s.g(2) - a))
        s.s(-3, sClamp(s.g(-3) + a))
      } else commonAdjust(s, useOuter = true)
    }

  /** simple-filter segment (§15.4): p0/q0 only, simpler mask. */
  private def simpleSegment(s: Seg, edge: Int): Unit =
    if (math.abs(s.g(-1) - s.g(0)) * 2 + math.abs(s.g(-2) - s.g(1)) / 2 <= edge) {
      commonAdjust(s, useOuter = true)
      ()
    }

  // ------------------------------------------------------------------
  // Per-MB state from the mode parse
  // ------------------------------------------------------------------
  private final class MbInfo {
    var segment = 0
    var skip = false
    var yMode = 0            // 0..3 whole-block, 4 = B_PRED
    var uvMode = 0
    val bModes = new Array[Int](16)
    var hasCoeffs = false    // any nonzero coefficient (incl. Y2)
    var filterLevel = 0
  }

  /** Decode the `VP8 ` payload at bytes[off, off+sz) to YUV 4:2:0. */
  def decodeToYuv(bytes: Array[Byte], off: Int, sz: Int): Yuv = {
    require(sz >= 10, s"VP8 payload too short ($sz bytes)")
    val tag = Bytes.le24(bytes, off)
    val keyframe = (tag & 1) == 0
    require(keyframe, "interframe VP8 (no sync code): still WebP is keyframe-only")
    val part0Len = tag >> 5
    require((bytes(off + 3) & 0xff) == 0x9d && (bytes(off + 4) & 0xff) == 0x01 &&
      (bytes(off + 5) & 0xff) == 0x2a, "bad VP8 keyframe sync code")
    val w = Bytes.le16(bytes, off + 6) & 0x3fff
    val h = Bytes.le16(bytes, off + 8) & 0x3fff
    require(w > 0 && h > 0, s"bad VP8 dims ${w}x$h")
    // allocation bound: corrupt 14-bit dims can demand a 268M-pixel
    // frame — a crawl-pipeline decoder must refuse, not OOM (the VP8L
    // decoder draws the same line)
    require(w.toLong * h <= (1L << 24),
      s"VP8 frame ${w}x$h exceeds the ${1 << 24}-pixel decode bound")
    val part0Start = off + 10
    require(part0Start + part0Len <= off + sz,
      s"first partition overruns payload ($part0Len bytes)")
    val bd = new BoolDec(bytes, part0Start, part0Start + part0Len)
    val hdr = new FrameHeader
    hdr.width = w
    hdr.height = h

    // ---- frame header (§9.2-9.11) ----
    bd.flag() // color space (0 in valid streams)
    bd.flag() // clamping type
    hdr.segmentEnabled = bd.flag() == 1
    if (hdr.segmentEnabled) {
      hdr.segmentUpdateMap = bd.flag() == 1
      val updateData = bd.flag() == 1
      if (updateData) {
        hdr.segAbsDelta = bd.flag() == 1
        var i = 0
        while (i < 4) { hdr.segQuant(i) = bd.maybeSigned(7); i += 1 }
        i = 0
        while (i < 4) { hdr.segFilter(i) = bd.maybeSigned(6); i += 1 }
      }
      if (hdr.segmentUpdateMap) {
        var i = 0
        while (i < 3) {
          hdr.segTreeProbs(i) = if (bd.flag() == 1) bd.literal(8) else 255
          i += 1
        }
      }
    }
    hdr.filterSimple = bd.flag() == 1
    hdr.filterLevel = bd.literal(6)
    hdr.sharpness = bd.literal(3)
    hdr.lfDeltaEnabled = bd.flag() == 1
    if (hdr.lfDeltaEnabled && bd.flag() == 1) {
      var i = 0
      while (i < 4) {
        if (bd.flag() == 1) hdr.refLfDelta(i) = {
          val v = bd.literal(6); if (bd.flag() == 1) -v else v
        }
        i += 1
      }
      i = 0
      while (i < 4) {
        if (bd.flag() == 1) hdr.modeLfDelta(i) = {
          val v = bd.literal(6); if (bd.flag() == 1) -v else v
        }
        i += 1
      }
    }
    val nParts = 1 << bd.literal(2)
    hdr.qIndex = bd.literal(7)
    hdr.yDcDelta = bd.maybeSigned(4)
    hdr.y2DcDelta = bd.maybeSigned(4)
    hdr.y2AcDelta = bd.maybeSigned(4)
    hdr.uvDcDelta = bd.maybeSigned(4)
    hdr.uvAcDelta = bd.maybeSigned(4)
    bd.flag() // refresh entropy probs (keyframe: state is not kept anyway)
    // coefficient probability updates
    var t = 0
    while (t < 1056) {
      if (bd.bool(CoeffUpdateProbs(t)) == 1) hdr.coeffProbs(t) = bd.literal(8)
      t += 1
    }
    hdr.skipEnabled = bd.flag() == 1
    if (hdr.skipEnabled) hdr.skipProb = bd.literal(8)

    // ---- token partitions ----
    val partEnd = part0Start + part0Len
    val sizesAt = partEnd
    val firstData = sizesAt + 3 * (nParts - 1)
    require(firstData <= off + sz, "truncated partition size table")
    val partBounds = new Array[(Int, Int)](nParts)
    var cur = firstData
    var pi = 0
    while (pi < nParts) {
      val len =
        if (pi == nParts - 1) off + sz - cur
        else Bytes.le24(bytes, sizesAt + 3 * pi)
      require(len >= 0 && cur + len <= off + sz, s"token partition $pi overruns")
      partBounds(pi) = (cur, cur + len)
      cur += len
      pi += 1
    }
    val tokenBd = partBounds.map { case (s, e) => new BoolDec(bytes, s, e) }

    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4

    // ---- parse all MB modes from partition 0 (§11) ----
    val mbs = Array.fill(mbW * mbH)(new MbInfo)
    // B-mode contexts: above per column (4 entries each), left per MB
    val aboveB = Array.fill(mbW * 4)(0)
    var mbY = 0
    while (mbY < mbH) {
      val leftB = new Array[Int](4)
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        if (hdr.segmentEnabled && hdr.segmentUpdateMap)
          mb.segment = bd.tree(SegTree, hdr.segTreeProbs, 0)
        if (hdr.skipEnabled) mb.skip = bd.bool(hdr.skipProb) == 1
        mb.yMode = bd.tree(KfYModeTree, KfYModeProb, 0)
        if (mb.yMode == 4) { // B_PRED: 16 coded sub-modes
          var i = 0
          while (i < 16) {
            val bx = i & 3
            val by = i >> 2
            val above = if (by == 0) aboveB(mbX * 4 + bx) else mb.bModes(i - 4)
            val left = if (bx == 0) leftB(by) else mb.bModes(i - 1)
            val pOff = (above * 10 + left) * 9
            mb.bModes(i) = bd.tree(BModeTree, BModeProbs, pOff)
            i += 1
          }
        } else {
          // implied sub-modes for context: DC→B_DC, V→B_VE, H→B_HE, TM→B_TM
          val implied = mb.yMode match {
            case 0 => 0; case 1 => 2; case 2 => 3; case 3 => 1
            case m => fail(s"bad y mode $m")
          }
          java.util.Arrays.fill(mb.bModes, implied)
        }
        var i = 0
        while (i < 4) {
          aboveB(mbX * 4 + i) = mb.bModes(12 + i)
          leftB(i) = mb.bModes(i * 4 + 3)
          i += 1
        }
        mb.uvMode = bd.tree(UvModeTree, KfUvModeProb, 0)
        // per-MB loop filter level (§9.4)
        var lvl =
          if (!hdr.segmentEnabled) hdr.filterLevel
          else if (hdr.segAbsDelta) hdr.segFilter(mb.segment)
          else hdr.filterLevel + hdr.segFilter(mb.segment)
        if (hdr.lfDeltaEnabled) {
          lvl += hdr.refLfDelta(0) // keyframe: always the INTRA ref
          if (mb.yMode == 4) lvl += hdr.modeLfDelta(0) // B_PRED mode delta
        }
        mb.filterLevel = math.max(0, math.min(63, lvl))
        mbX += 1
      }
      mbY += 1
    }

    // ---- residuals + reconstruction ----
    val yStride = mbW * 16
    val cStride = mbW * 8
    val yPlane = new Array[Byte](yStride * mbH * 16)
    val uPlane = new Array[Byte](cStride * mbH * 8)
    val vPlane = new Array[Byte](cStride * mbH * 8)

    // nonzero contexts: above per MB column, left per MB row
    // layout per MB: y(16 in 4x4 grid) via 4 per column/row, u(2), v(2), y2(1)
    val aboveNzY = new Array[Int](mbW * 4)
    val aboveNzU = new Array[Int](mbW * 2)
    val aboveNzV = new Array[Int](mbW * 2)
    val aboveNzY2 = new Array[Int](mbW)
    val coeffs = new Array[Int](16)
    val whtOut = new Array[Int](16)

    mbY = 0
    while (mbY < mbH) {
      val td = tokenBd(mbY % nParts)
      val leftNzY = new Array[Int](4)
      val leftNzU = new Array[Int](2)
      val leftNzV = new Array[Int](2)
      var leftNzY2 = 0
      var mbX = 0
      while (mbX < mbW) {
        val mb = mbs(mbY * mbW + mbX)
        val dq = dequantFor(hdr, mb.segment)
        val hasY2 = mb.yMode != 4
        val yOff = mbX * 16
        val yTop = mbY * 16
        val cOff = mbX * 8
        val cTop = mbY * 8

        // ---- decode coefficients (or skip) ----
        val blockCoeffs = new Array[Array[Int]](25) // 0..15 y, 16..19 u, 20..23 v, 24 y2
        val blockN = new Array[Int](25)
        if (!mb.skip) {
          var anyNz = false
          if (hasY2) {
            java.util.Arrays.fill(coeffs, 0)
            val ctx = aboveNzY2(mbX) + leftNzY2
            val n = decodeCoeffs(td, hdr.coeffProbs, 1, ctx, 0,
              dq.y2dc, dq.y2ac, coeffs)
            blockCoeffs(24) = coeffs.clone()
            blockN(24) = n
            val nz = if (n > 0) 1 else 0
            aboveNzY2(mbX) = nz
            leftNzY2 = nz
            if (nz == 1) anyNz = true
          }
          val yType = if (hasY2) 0 else 3
          val firstY = if (hasY2) 1 else 0
          var i = 0
          while (i < 16) {
            val bx = i & 3
            val by = i >> 2
            java.util.Arrays.fill(coeffs, 0)
            val ctx = aboveNzY(mbX * 4 + bx) + leftNzY(by)
            val n = decodeCoeffs(td, hdr.coeffProbs, yType, ctx, firstY,
              dq.y1dc, dq.y1ac, coeffs)
            blockCoeffs(i) = coeffs.clone()
            blockN(i) = n
            val nz = if (n > firstY) 1 else 0
            aboveNzY(mbX * 4 + bx) = nz
            leftNzY(by) = nz
            if (nz == 1) anyNz = true
            i += 1
          }
          i = 0
          while (i < 8) {
            val isU = i < 4
            val j = i & 3
            val bx = j & 1
            val by = j >> 1
            java.util.Arrays.fill(coeffs, 0)
            val ctx =
              if (isU) aboveNzU(mbX * 2 + bx) + leftNzU(by)
              else aboveNzV(mbX * 2 + bx) + leftNzV(by)
            val n = decodeCoeffs(td, hdr.coeffProbs, 2, ctx, 0,
              dq.uvdc, dq.uvac, coeffs)
            blockCoeffs(16 + i) = coeffs.clone()
            blockN(16 + i) = n
            val nz = if (n > 0) 1 else 0
            if (isU) { aboveNzU(mbX * 2 + bx) = nz; leftNzU(by) = nz }
            else { aboveNzV(mbX * 2 + bx) = nz; leftNzV(by) = nz }
            if (nz == 1) anyNz = true
            i += 1
          }
          mb.hasCoeffs = anyNz
        } else {
          // skipped MB: zero the contexts; the Y2 context only when
          // this MB actually has a Y2 block (B_PRED MBs leave it)
          var i = 0
          while (i < 4) { aboveNzY(mbX * 4 + i) = 0; leftNzY(i) = 0; i += 1 }
          i = 0
          while (i < 2) {
            aboveNzU(mbX * 2 + i) = 0; leftNzU(i) = 0
            aboveNzV(mbX * 2 + i) = 0; leftNzV(i) = 0
            i += 1
          }
          if (hasY2) { aboveNzY2(mbX) = 0; leftNzY2 = 0 }
          mb.hasCoeffs = false
        }

        // ---- reconstruct luma ----
        val hasAbove = mbY > 0
        val hasLeft = mbX > 0
        if (hasY2) {
          predBlock(mb.yMode, yPlane, yStride, yOff, yTop, 16, hasAbove, hasLeft)
          // inverse WHT scatters DCs into the subblocks
          if (!mb.skip && blockCoeffs(24) != null) {
            iwht4x4(blockCoeffs(24), whtOut)
          } else java.util.Arrays.fill(whtOut, 0)
          var i = 0
          while (i < 16) {
            val bx = (i & 3) * 4
            val by = (i >> 2) * 4
            val c = if (!mb.skip) blockCoeffs(i) else null
            val dc = whtOut(i)
            if (c == null || blockN(i) <= 1) {
              if (dc != 0) idctDcAdd(dc, yPlane, yStride, yOff + bx, yTop + by)
            } else {
              c(0) = dc
              idct4x4Add(c, yPlane, yStride, yOff + bx, yTop + by)
            }
            i += 1
          }
        } else {
          // B_PRED: per-subblock predict + add, raster order
          val tr = new Array[Int](4) // MB-level top-right pixels
          var k = 0
          while (k < 4) {
            tr(k) =
              if (!hasAbove) 127
              else if (mbX == mbW - 1) yPlane((yTop - 1) * yStride + yOff + 15) & 0xff
              else yPlane((yTop - 1) * yStride + yOff + 16 + k) & 0xff
            k += 1
          }
          var i = 0
          while (i < 16) {
            val bx = (i & 3) * 4
            val by = (i >> 2) * 4
            val px = yOff + bx
            val py = yTop + by
            val a = new Array[Int](8)
            val l = new Array[Int](4)
            var j = 0
            while (j < 4) {
              a(j) = if (by == 0 && !hasAbove) 127
              else yPlane((py - 1) * yStride + px + j) & 0xff
              j += 1
            }
            // above-right: col 3 uses the MB top-right; interior uses
            // the reconstructed block above-right; top row uses the
            // above MB row (+4)
            j = 0
            while (j < 4) {
              a(4 + j) =
                if ((i & 3) == 3) tr(j)
                else if (by == 0 && !hasAbove) 127
                else yPlane((py - 1) * yStride + px + 4 + j) & 0xff
              j += 1
            }
            j = 0
            while (j < 4) {
              l(j) = if (bx == 0 && !hasLeft) 129
              else yPlane((py + j) * yStride + px - 1) & 0xff
              j += 1
            }
            val corner =
              if (by == 0 && !hasAbove) 127
              else if (bx == 0 && !hasLeft) 129
              else yPlane((py - 1) * yStride + px - 1) & 0xff
            predB(mb.bModes(i), yPlane, yStride, px, py, a, l, corner)
            if (!mb.skip && blockCoeffs(i) != null && blockN(i) > 0) {
              if (blockN(i) <= 1)
                idctDcAdd(blockCoeffs(i)(0), yPlane, yStride, px, py)
              else idct4x4Add(blockCoeffs(i), yPlane, yStride, px, py)
            }
            i += 1
          }
        }

        // ---- reconstruct chroma ----
        predBlock(mb.uvMode, uPlane, cStride, cOff, cTop, 8, hasAbove, hasLeft)
        predBlock(mb.uvMode, vPlane, cStride, cOff, cTop, 8, hasAbove, hasLeft)
        if (!mb.skip) {
          var i = 0
          while (i < 8) {
            val plane = if (i < 4) uPlane else vPlane
            val j = i & 3
            val bx = (j & 1) * 4
            val by = (j >> 1) * 4
            val c = blockCoeffs(16 + i)
            if (c != null && blockN(16 + i) > 0) {
              if (blockN(16 + i) <= 1)
                idctDcAdd(c(0), plane, cStride, cOff + bx, cTop + by)
              else idct4x4Add(c, plane, cStride, cOff + bx, cTop + by)
            }
            i += 1
          }
        }
        mbX += 1
      }
      mbY += 1
    }

    // ---- loop filter (§15) ----
    if (hdr.filterLevel > 0) {
      mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          val mb = mbs(mbY * mbW + mbX)
          val lvl = mb.filterLevel
          if (lvl > 0) {
            var interior = lvl
            if (hdr.sharpness > 0) {
              interior >>= (if (hdr.sharpness > 4) 2 else 1)
              if (interior > 9 - hdr.sharpness) interior = 9 - hdr.sharpness
            }
            if (interior < 1) interior = 1
            val mbEdge = (lvl + 2) * 2 + interior
            val subEdge = lvl * 2 + interior
            val hevT = if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
            val inner = mb.hasCoeffs || mb.yMode == 4
            val yOff = mbX * 16
            val yTop = mbY * 16
            val cOff = mbX * 8
            val cTop = mbY * 8
            if (hdr.filterSimple) {
              // luma only
              if (mbX > 0) {
                var r = 0
                while (r < 16) {
                  simpleSegment(new Seg(yPlane, (yTop + r) * yStride + yOff, 1), mbEdge)
                  r += 1
                }
              }
              if (inner) {
                var c = 4
                while (c < 16) {
                  var r = 0
                  while (r < 16) {
                    simpleSegment(new Seg(yPlane, (yTop + r) * yStride + yOff + c, 1), subEdge)
                    r += 1
                  }
                  c += 4
                }
              }
              if (mbY > 0) {
                var c = 0
                while (c < 16) {
                  simpleSegment(new Seg(yPlane, yTop * yStride + yOff + c, yStride), mbEdge)
                  c += 1
                }
              }
              if (inner) {
                var rr = 4
                while (rr < 16) {
                  var c = 0
                  while (c < 16) {
                    simpleSegment(new Seg(yPlane, (yTop + rr) * yStride + yOff + c, yStride), subEdge)
                    c += 1
                  }
                  rr += 4
                }
              }
            } else {
              // normal filter: luma + chroma
              if (mbX > 0) {
                var r = 0
                while (r < 16) {
                  mbFilter(new Seg(yPlane, (yTop + r) * yStride + yOff, 1), hevT, interior, mbEdge)
                  r += 1
                }
                r = 0
                while (r < 8) {
                  mbFilter(new Seg(uPlane, (cTop + r) * cStride + cOff, 1), hevT, interior, mbEdge)
                  mbFilter(new Seg(vPlane, (cTop + r) * cStride + cOff, 1), hevT, interior, mbEdge)
                  r += 1
                }
              }
              if (inner) {
                var c = 4
                while (c < 16) {
                  var r = 0
                  while (r < 16) {
                    subblockFilter(new Seg(yPlane, (yTop + r) * yStride + yOff + c, 1), hevT, interior, subEdge)
                    r += 1
                  }
                  c += 4
                }
                var r = 0
                while (r < 8) {
                  subblockFilter(new Seg(uPlane, (cTop + r) * cStride + cOff + 4, 1), hevT, interior, subEdge)
                  subblockFilter(new Seg(vPlane, (cTop + r) * cStride + cOff + 4, 1), hevT, interior, subEdge)
                  r += 1
                }
              }
              if (mbY > 0) {
                var c = 0
                while (c < 16) {
                  mbFilter(new Seg(yPlane, yTop * yStride + yOff + c, yStride), hevT, interior, mbEdge)
                  c += 1
                }
                c = 0
                while (c < 8) {
                  mbFilter(new Seg(uPlane, cTop * cStride + cOff + c, cStride), hevT, interior, mbEdge)
                  mbFilter(new Seg(vPlane, cTop * cStride + cOff + c, cStride), hevT, interior, mbEdge)
                  c += 1
                }
              }
              if (inner) {
                var rr = 4
                while (rr < 16) {
                  var c = 0
                  while (c < 16) {
                    subblockFilter(new Seg(yPlane, (yTop + rr) * yStride + yOff + c, yStride), hevT, interior, subEdge)
                    c += 1
                  }
                  rr += 4
                }
                var c = 0
                while (c < 8) {
                  subblockFilter(new Seg(uPlane, (cTop + 4) * cStride + cOff + c, cStride), hevT, interior, subEdge)
                  subblockFilter(new Seg(vPlane, (cTop + 4) * cStride + cOff + c, cStride), hevT, interior, subEdge)
                  c += 1
                }
              }
            }
          }
          mbX += 1
        }
        mbY += 1
      }
    }

    // ---- crop to frame dims ----
    val cw = (w + 1) >> 1
    val ch = (h + 1) >> 1
    val yOut = new Array[Byte](w * h)
    val uOut = new Array[Byte](cw * ch)
    val vOut = new Array[Byte](cw * ch)
    var r = 0
    while (r < h) {
      System.arraycopy(yPlane, r * yStride, yOut, r * w, w)
      r += 1
    }
    r = 0
    while (r < ch) {
      System.arraycopy(uPlane, r * cStride, uOut, r * cw, cw)
      System.arraycopy(vPlane, r * cStride, vOut, r * cw, cw)
      r += 1
    }
    Yuv(w, h, yOut, uOut, vOut)
  }

  // ------------------------------------------------------------------
  // Bool (arithmetic) encoder — RFC 6386 §8.3 — for fixture streams.
  // ------------------------------------------------------------------
  private[operators] final class BoolEnc {
    private val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var range = 255
    private var bottom = 0L // 32-bit window in a Long so carries are visible
    private var bitCount = 24

    private def carry(): Unit = {
      var q = out.length - 1
      while (q >= 0 && out(q) == 0xff.toByte) { out(q) = 0; q -= 1 }
      require(q >= 0, "carry out of empty buffer")
      out(q) = (out(q) + 1).toByte
    }

    def bool(prob: Int, v: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (v != 0) { bottom += split; range -= split }
      else range = split
      if (bottom > 0xffffffffL) { bottom &= 0xffffffffL; carry() }
      while (range < 128) {
        range <<= 1
        if ((bottom & 0x80000000L) != 0) carry()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out += ((bottom >> 24) & 0xff).toByte
          bottom &= 0xffffffL
          bitCount = 8
        }
      }
    }

    def literal(n: Int, v: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, (v >> i) & 1); i -= 1 }
    }

    def finish(): Array[Byte] = {
      var c = bitCount
      var v = bottom
      if ((v & (1L << (32 - c))) != 0) carry() // final carry propagation
      v = (v << (c & 7)) & 0xffffffffL
      c >>= 3
      while (c > 0) { v = (v << 8) & 0xffffffffL; c -= 1 }
      c = 4
      while (c > 0) {
        out += ((v >> 24) & 0xff).toByte
        v = (v << 8) & 0xffffffffL
        c -= 1
      }
      out.toArray
    }
  }

  // ------------------------------------------------------------------
  // Fixture encoder: a spec-conformant single-MB-row keyframe whose
  // reconstruction is CLOSED FORM — per-MB flat luma levels driven by
  // one Y2 DC coefficient each (chroma stays flat 128), so the gates'
  // DuckDB oracles replay the decoded pixels arithmetically. All
  // default probability tables are used verbatim (no updates), which
  // makes every fixture ALSO a cross-check of [[Vp8Tables]]: the spec
  // pins that the REAL libwebp decodes these streams to the same
  // planes (scripts/vp8_probe.py hashes).
  // ------------------------------------------------------------------

  /** The per-MB Y2 DC coefficient of fixture `id`: magnitude 1..4
    * (direct tokens), alternating sign. */
  private def fixtureCoeff(id: Long, i: Int): Int = {
    val mag = (((id + 3L * i) % 4L + 4L) % 4L + 1L).toInt
    val sgn = if (((id + i) % 2L + 2L) % 2L == 0L) 1 else -1
    mag * sgn
  }

  /** Closed-form flat luma level of each MB of fixture `id` (the
    * DC-pred chain: L₀ = 128 + Δ₀, Lᵢ = clamp(Lᵢ₋₁ + Δᵢ) with
    * Δ = ((c·y2dcQ + 3) >> 3 + 4) >> 3). */
  def lossyLevels(id: Long, nMb: Int, q: Int = 100): Array[Int] = {
    val y2dcQ = DcQLookup(clampQ(q)) * 2
    var pred = 128
    Array.tabulate(nMb) { i =>
      val v = fixtureCoeff(id, i) * y2dcQ
      val wht = (v + 3) >> 3
      pred = clamp255(pred + ((wht + 4) >> 3))
      pred
    }
  }

  /** Write one small token (|v| in 1..4) then EOB into a block's
    * token stream; returns nothing but mirrors the decoder's context
    * arithmetic exactly. */
  private def putSmallAndEob(be: BoolEnc, probs: Array[Int], tpe: Int,
      ctx0: Int, first: Int, v: Int): Unit = {
    val mag = math.abs(v)
    require(mag >= 1 && mag <= 4, s"fixture token out of range: $v")
    var pOff = ((tpe * 8) + CoeffBands(first)) * 33 + ctx0 * 11
    be.bool(probs(pOff), 1)     // not EOB
    be.bool(probs(pOff + 1), 1) // not zero
    if (mag == 1) be.bool(probs(pOff + 2), 0)
    else {
      be.bool(probs(pOff + 2), 1)
      be.bool(probs(pOff + 3), 0)
      if (mag == 2) be.bool(probs(pOff + 4), 0)
      else { be.bool(probs(pOff + 4), 1); be.bool(probs(pOff + 5), mag - 3) }
    }
    be.bool(128, if (v < 0) 1 else 0) // sign
    val ctx1 = if (mag == 1) 1 else 2
    pOff = ((tpe * 8) + CoeffBands(first + 1)) * 33 + ctx1 * 11
    be.bool(probs(pOff), 0) // EOB
  }

  private def putEmpty(be: BoolEnc, probs: Array[Int], tpe: Int,
      ctx0: Int, first: Int): Unit = {
    val pOff = ((tpe * 8) + CoeffBands(first)) * 33 + ctx0 * 11
    be.bool(probs(pOff), 0) // EOB at the first position
  }

  /** Encode the fixture keyframe: `w` a multiple of 16, `h` = 16 (one
    * MB row — the closed-form chain is 1-D), quantizer index `q`,
    * loop-filter level (0 keeps the closed form exact; nonzero levels
    * never fire anyway because flat MBs have no interior gradients,
    * but 0 is the documented contract). Returns the raw VP8 payload. */
  def encodeLossy(id: Long, w: Int, h: Int, q: Int = 100,
      filterLevel: Int = 0): Array[Byte] = {
    require(w >= 16 && w % 16 == 0 && h == 16,
      s"fixture encoder supports one MB row (w%%16==0, h==16), got ${w}x$h")
    require(q >= 0 && q <= 127, s"quantizer index out of range: $q")
    val nMb = w / 16
    val probs = CoeffProbs

    // partition 0: header + modes
    val be = new BoolEnc
    be.bool(128, 0) // color space
    be.bool(128, 0) // clamping
    be.bool(128, 0) // segmentation off
    be.bool(128, 0) // filter type: normal
    be.literal(6, filterLevel)
    be.literal(3, 0) // sharpness
    be.bool(128, 0) // lf deltas off
    be.literal(2, 0) // one token partition
    be.literal(7, q)
    var i = 0
    while (i < 5) { be.bool(128, 0); i += 1 } // five quantizer deltas: absent
    be.bool(128, 1) // refresh entropy probs
    i = 0
    while (i < 1056) { be.bool(CoeffUpdateProbs(i), 0); i += 1 }
    be.bool(128, 0) // mb_no_coeff_skip off
    i = 0
    while (i < nMb) {
      // ymode DC_PRED = "100" on the kf tree; uv DC_PRED = "0"
      be.bool(KfYModeProb(0), 1)
      be.bool(KfYModeProb(1), 0)
      be.bool(KfYModeProb(2), 0)
      be.bool(KfUvModeProb(0), 0)
      i += 1
    }
    val part0 = be.finish()

    // token partition: per MB, Y2 carries one DC token; every luma
    // and chroma block is empty. Context mirror: Y2 nz propagates
    // left-to-right; luma/chroma nz stay 0.
    val te = new BoolEnc
    var leftNzY2 = 0
    i = 0
    while (i < nMb) {
      val c = fixtureCoeff(id, i)
      putSmallAndEob(te, probs, 1, leftNzY2 /* above starts 0 */, 0, c)
      leftNzY2 = 1
      var b = 0
      while (b < 16) { putEmpty(te, probs, 0, 0, 1); b += 1 }
      b = 0
      while (b < 8) { putEmpty(te, probs, 2, 0, 0); b += 1 }
      i += 1
    }
    val tokens = te.finish()

    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val tag = (0 /*keyframe*/) | (0 << 1) | (1 << 4) | (part0.length << 5)
    out += (tag & 0xff).toByte
    out += ((tag >> 8) & 0xff).toByte
    out += ((tag >> 16) & 0xff).toByte
    out += 0x9d.toByte; out += 0x01.toByte; out += 0x2a.toByte
    out += (w & 0xff).toByte; out += ((w >> 8) & 0x3f).toByte
    out += (h & 0xff).toByte; out += ((h >> 8) & 0x3f).toByte
    out ++= part0
    out ++= tokens
    out.toArray
  }

  /** BT.601 full-range YUV→RGB (point-sampled chroma — upsampling is
    * outside RFC 6386; this choice is pinned in the gates' oracles).
    * Returns a 3-channel RGB raster. */
  def decode(bytes: Array[Byte], off: Int, sz: Int): PngCodec.Raster = {
    val yuv = decodeToYuv(bytes, off, sz)
    val w = yuv.width
    val h = yuv.height
    val cw = (w + 1) >> 1
    val out = new Array[Byte](w * h * 3)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val yv = yuv.y(yy * w + xx) & 0xff
        val uv = yuv.u((yy >> 1) * cw + (xx >> 1)) & 0xff
        val vv = yuv.v((yy >> 1) * cw + (xx >> 1)) & 0xff
        // fixed-point BT.601: r = y + 1.402 (v-128), etc. (×1024)
        val c = yv * 1024
        val d = uv - 128
        val e = vv - 128
        val rr = clamp255((c + 1436 * e + 512) >> 10)
        val gg = clamp255((c - 352 * d - 731 * e + 512) >> 10)
        val bb = clamp255((c + 1815 * d + 512) >> 10)
        val base = (yy * w + xx) * 3
        out(base) = rr.toByte
        out(base + 1) = gg.toByte
        out(base + 2) = bb.toByte
        xx += 1
      }
      yy += 1
    }
    PngCodec.Raster(w, h, 3, out)
  }
}
