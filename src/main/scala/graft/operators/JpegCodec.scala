package graft.operators

/** JPEG codec over the PUBLIC ITU-T T.81 byte layout — implemented the
  * same way as [[PngCodec]]: pure byte math, no imaging library.
  *
  * DECODE covers the real-world Huffman classes: baseline/extended
  * sequential DCT (SOF0/SOF1) AND progressive DCT (SOF2 — spectral
  * selection and successive approximation per T.81 Annex G), 8-bit
  * precision, 1 (grayscale) or 3 (YCbCr) components, sampling factors
  * 1-2 per axis (4:4:4, 4:2:2, 4:2:0), multiple DQT/DHT segments,
  * restart intervals (DRI/RSTn), FF00 byte de-stuffing, APPn/COM skip.
  * What remains — arithmetic coding, 12-bit, lossless, hierarchical —
  * fails loudly rather than decode wrong pixels (a vanishing sliver of
  * web JPEGs: arithmetic coding was patent-fenced for the format's
  * formative decades). Huffman tables are read from the file's own
  * DHT segments (canonical code reconstruction per T.81 Annex C), so
  * decoding never assumes the "typical" Annex K tables.
  *
  * ENCODE writes baseline 4:4:4 or 4:2:0 with the T.81 Annex K typical
  * Huffman tables and caller-supplied quantization (default: all-ones
  * tables — "near-lossless", the DCT round-trip error only), suitable
  * both as a real sink and as the deterministic test-payload
  * generator. The spec's own round-trip tolerance and a cross-check
  * against the JDK's independent ImageIO JPEG codec (an external
  * oracle, used in tests only) pin correctness.
  *
  * Determinism: the DCT basis is computed once and rounded to 1e-12
  * (below any pixel-rounding threshold, above libm last-ulp variance),
  * so encode and decode are bit-stable across JVMs and platforms.
  *
  * Scale notes: like the BMP/PNG kernels this is a ROW-LOCAL payload
  * transform — used under `mapPartitions`, payloads never shuffle.
  */
object JpegCodec {

  import PngCodec.Raster

  /** Zig-zag index order (T.81 Figure 5): ZigZag(k) = natural index of
    * the k-th coefficient in zig-zag order. */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)·u·π/16) rounded to 1e-12 — the shared DCT basis. */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    math.rint(math.cos((2 * x + 1) * u * math.Pi / 16) * 1e12) / 1e12
  }
  private val InvSqrt2 = math.rint(1e12 / math.sqrt(2.0)) / 1e12

  // ---- canonical Huffman (T.81 Annex C: counts per length 1..16 +
  // symbols in code order) ------------------------------------------------

  private final class JHuff(val counts: Array[Int], val symbols: Array[Int]) {
    require(counts.length == 16, "DHT counts must cover lengths 1..16")
    require(counts.sum == symbols.length, "DHT symbol count mismatch")
    // firstCode(len), maxCode(len) (inclusive; -1 = no codes), firstIndex(len)
    val firstCode: Array[Int] = new Array[Int](17)
    val maxCode: Array[Int] = Array.fill(17)(-1)
    val firstIndex: Array[Int] = new Array[Int](17)
    locally {
      var code = 0
      var idx = 0
      var len = 1
      while (len <= 16) {
        firstCode(len) = code
        firstIndex(len) = idx
        if (counts(len - 1) > 0) {
          maxCode(len) = code + counts(len - 1) - 1
          code += counts(len - 1)
          idx += counts(len - 1)
        }
        code <<= 1
        len += 1
      }
    }
    /** code for each symbol (encode side): (code, length). */
    lazy val codeOf: Map[Int, (Int, Int)] = {
      var m = Map.empty[Int, (Int, Int)]
      var idx = 0
      for (len <- 1 to 16; _ <- 0 until counts(len - 1)) {
        m += symbols(idx) -> ((firstCode(len) + (idx - firstIndex(len)), len))
        idx += 1
      }
      m
    }
  }

  // ---- entropy-coded segment bit reader (MSB-first, FF00 de-stuffed) ----

  private final class EntropyReader(data: Array[Byte], var pos: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    def readBit(): Int = {
      if (bitCnt == 0) {
        require(pos < data.length, "truncated entropy-coded segment")
        var b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length, "truncated after 0xFF in entropy stream")
          val m = data(pos) & 0xff
          require(m == 0x00,
            f"unexpected marker 0xFF$m%02X inside an entropy-coded segment")
          pos += 1 // stuffed zero: the data byte really is 0xFF
        }
        bitBuf = b
        bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decode(h: JHuff): Int = {
      var code = 0
      var len = 1
      while (len <= 16) {
        code = (code << 1) | readBit()
        if (h.maxCode(len) >= 0 && code <= h.maxCode(len) && code >= h.firstCode(len))
          return h.symbols(h.firstIndex(len) + (code - h.firstCode(len)))
        len += 1
      }
      throw new IllegalArgumentException("invalid Huffman code in JPEG entropy stream")
    }
    /** Byte-align and consume the expected RSTn marker (T.81 §B.2.1.2).
      * Up to two non-marker bytes may sit before it: the 1-padded tail
      * of the previous interval, plus the stuffed 0x00 that padding
      * produces when the padded byte itself comes out 0xFF. */
    def restart(): Unit = {
      bitCnt = 0
      var skipped = 0
      while (skipped <= 2 &&
        !(pos + 1 < data.length && (data(pos) & 0xff) == 0xff &&
          ((data(pos + 1) & 0xff) & 0xf8) == 0xd0)) {
        pos += 1
        skipped += 1
      }
      require(skipped <= 2, "expected RSTn restart marker")
      pos += 2
    }
  }

  /** DC/AC difference magnitude decode (T.81 F.2.2.1 EXTEND). */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  // ---- inverse DCT ------------------------------------------------------

  /** 2-D 8×8 inverse DCT (separable, double precision) of a NATURAL-
    * order dequantized block into `out(y*8+x)` BEFORE level shift. */
  private def idct(blk: Array[Double], out: Array[Double]): Unit = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows: over u for each x
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) InvSqrt2 else 1.0
          s += cu * blk(y * 8 + u) * Cos(u)(x)
          u += 1
        }
        tmp(y * 8 + x) = s
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) { // cols: over v for each y
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) InvSqrt2 else 1.0
          s += cv * tmp(v * 8 + x) * Cos(v)(yy)
          v += 1
        }
        out(yy * 8 + x) = s / 4.0
        yy += 1
      }
      x += 1
    }
  }

  /** Forward 8×8 DCT of a level-shifted block (encode side). */
  private def fdct(in: Array[Double], out: Array[Double]): Unit = {
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) { // rows: over x for each u
      var y = 0
      while (y < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += in(y * 8 + x) * Cos(u)(x); x += 1 }
        tmp(y * 8 + u) = s
        y += 1
      }
      u += 1
    }
    var v = 0
    while (v < 8) {
      var uu = 0
      while (uu < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) { s += tmp(y * 8 + uu) * Cos(v)(y); y += 1 }
        val cu = if (uu == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        out(v * 8 + uu) = cu * cv * s / 4.0
        uu += 1
      }
      v += 1
    }
  }

  private def clamp(v: Double): Int = {
    val r = math.rint(v).toInt
    if (r < 0) 0 else if (r > 255) 255 else r
  }

  // ---- decoder ----------------------------------------------------------

  private case class Component(id: Int, h: Int, v: Int, tq: Int)

  /** Parse (width, height) from the SOF0/1 header without decoding —
    * feeds [[Multimodal.parseDims]]. Returns null for non-JPEG. */
  def parseDimsJpeg(bytes: Array[Byte]): (Int, Int) = {
    if (bytes == null || bytes.length < 4 ||
      (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return null
    var off = 2
    while (off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) return null
      val marker = bytes(off + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) { off += 2 }
      else if (marker == 0xd9) return null
      else {
        val len = Bytes.be16(bytes, off + 2)
        if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (off + 9 > bytes.length) return null
          val h = Bytes.be16(bytes, off + 5)
          val w = Bytes.be16(bytes, off + 7)
          return (w, h)
        }
        off += 2 + len
      }
    }
    null
  }

  /** EXIF orientation (tag 0x0112) from the APP1 segment's embedded
    * TIFF structure — the ~100-line parse that feeds orientation
    * canonicalization: marker walk to APP1 "Exif\0\0", TIFF header
    * (II/MM byte order, magic 42, IFD0 offset), IFD0 entry scan for
    * the SHORT orientation value 1..8 (TIFF 6.0 §2 / EXIF 2.3 §4.6.4
    * — public specs). Returns 1 (the identity orientation) when the
    * tag, the APP1 segment, or the whole EXIF block is absent or
    * malformed: orientation is ancillary metadata, and a camera file
    * with a corrupt EXIF should still hash in stored orientation
    * rather than kill the task — unlike pixel-payload corruption,
    * which fails decode loudly. */
  def exifOrientation(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 4 ||
      (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return 1
    var off = 2
    while (off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) return 1
      val m = bytes(off + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { off += 2 }
      else if (m == 0xd9 || m == 0xda) return 1 // EOI / SOS: no APP1 ahead
      else {
        val len = Bytes.be16(bytes, off + 2)
        if (len < 2 || off + 2 + len > bytes.length) return 1
        if (m == 0xe1 && len >= 2 + 6 + 8 &&
          bytes(off + 4) == 'E' && bytes(off + 5) == 'x' &&
          bytes(off + 6) == 'i' && bytes(off + 7) == 'f' &&
          bytes(off + 8) == 0 && bytes(off + 9) == 0) {
          val base = off + 10
          val end = off + 2 + len
          val bigEndian =
            if (base + 2 <= end && bytes(base) == 'I' && bytes(base + 1) == 'I') false
            else if (base + 2 <= end && bytes(base) == 'M' && bytes(base + 1) == 'M') true
            else return 1
          // every read below stays inside the segment: len ≥ 16 covers
          // the TIFF header, and the IFD and entry bounds are checked
          if (Bytes.u16(bytes, base + 2, bigEndian) != 42) return 1
          val ifd0 = Bytes.u32(bytes, base + 4, bigEndian)
          if (base + ifd0 + 2 > end) return 1
          val ifdOff = base + ifd0.toInt
          val n = Bytes.u16(bytes, ifdOff, bigEndian)
          var i = 0
          while (i < n) {
            val e = ifdOff + 2 + i * 12
            if (e + 12 > end) return 1
            if (Bytes.u16(bytes, e, bigEndian) == 0x0112 &&
              Bytes.u16(bytes, e + 2, bigEndian) == 3 && Bytes.u32(bytes, e + 4, bigEndian) == 1L) {
              val v = Bytes.u16(bytes, e + 8, bigEndian) // SHORT value inline, first 2 bytes
              return if (v >= 1 && v <= 8) v else 1
            }
            i += 1
          }
          return 1 // well-formed EXIF, no orientation tag
        }
        off += 2 + len
      }
    }
    1
  }

  /** Insert an APP1/EXIF segment carrying ONLY the orientation tag
    * immediately after SOI — the metadata-write side of
    * [[exifOrientation]] (minimal single-IFD little-endian TIFF). The
    * entropy stream is untouched. */
  def withExifOrientation(jpeg: Array[Byte], orientation: Int): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation must be 1..8, got $orientation")
    require(jpeg != null && jpeg.length >= 2 &&
      (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8, "not a JPEG payload")
    val tiff = Array[Byte](
      'I', 'I', 42, 0, 8, 0, 0, 0, // little-endian, magic, IFD0 at 8
      1, 0, // one entry
      0x12, 0x01, 3, 0, 1, 0, 0, 0, // tag 0x0112, SHORT, count 1
      orientation.toByte, 0, 0, 0, // value
      0, 0, 0, 0) // no next IFD
    val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
    val segLen = 2 + payload.length
    val out = new Array[Byte](jpeg.length + 4 + payload.length)
    out(0) = 0xff.toByte; out(1) = 0xd8.toByte
    out(2) = 0xff.toByte; out(3) = 0xe1.toByte
    out(4) = ((segLen >> 8) & 0xff).toByte
    out(5) = (segLen & 0xff).toByte
    System.arraycopy(payload, 0, out, 6, payload.length)
    System.arraycopy(jpeg, 2, out, 6 + payload.length, jpeg.length - 2)
    out
  }

  /** Full decode → RGB [[Raster]] (grayscale replicated to three
    * channels): baseline/extended sequential (SOF0/SOF1) AND
    * progressive (SOF2 — spectral selection + successive approximation,
    * T.81 Annex G). Malformed or genuinely unsupported inputs
    * (arithmetic coding, 12-bit, lossless, hierarchical) fail loudly
    * rather than decode wrong pixels. Every sized segment is
    * bounds-checked against the payload, so a truncated file fails
    * with a require, never an ArrayIndexOutOfBounds. */
  def decode(bytes: Array[Byte]): Raster = {
    require(bytes != null && bytes.length > 4 &&
      (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "not a JPEG payload")
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JHuff](4)
    val acTabs = new Array[JHuff](4)
    var comps: Array[Component] = null
    // progressive state: per-component coefficient accumulators in
    // zig-zag order, MCU-padded block grids, actual block dims
    var progressive = false
    var sawScan = false
    var coefs: Array[Array[Int]] = null
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var compBW: Array[Int] = null
    var compBH: Array[Int] = null
    var mcusX = 0
    var mcusY = 0
    var w = 0
    var h = 0
    var dri = 0
    var off = 2
    /** End offset of the sized segment at `o`, checked against the
      * payload — the marker walk never reads past a declared length. */
    def segEnd(o: Int): Int = {
      val end = o + 2 + Bytes.be16(bytes, o + 2)
      require(end <= bytes.length, "truncated JPEG segment")
      end
    }

    while (true) {
      require(off + 2 <= bytes.length, "truncated JPEG (no SOS/EOI)")
      require((bytes(off) & 0xff) == 0xff, f"expected marker at $off")
      val marker = bytes(off + 1) & 0xff
      marker match {
        case 0xd9 => // EOI: for progressive, all scans are in — rebuild
          if (progressive && sawScan)
            return reconstructProgressive(w, h, comps, coefs, blocksW, blocksH, quant)
          throw new IllegalArgumentException("EOI before image data")
        case 0xc0 | 0xc1 | 0xc2 => // sequential Huffman SOFs + progressive
          val end = segEnd(off)
          val seg = off + 4
          require(seg + 6 <= end, "truncated SOF header")
          require((bytes(seg) & 0xff) == 8, "only 8-bit precision supported")
          h = Bytes.be16(bytes, seg + 1); w = Bytes.be16(bytes, seg + 3)
          require(w >= 1 && h >= 1, "SOF dimensions must be positive (DNL not supported)")
          // Long-math pixel cap: a crafted 0xFFFF x 0xFFFF header would
          // otherwise wrap the plane/coefficient allocation sizes
          // (65535^2*... overflows Int) into NegativeArraySize or
          // zero-length arrays — the decode contract is a require,
          // never an ArrayIndexOutOfBounds or an executor-killing
          // multi-GB allocation from a tiny payload.
          require(w.toLong * h <= 64L * 1024 * 1024,
            s"implausible SOF dimensions ${w}x$h")
          val n = bytes(seg + 5) & 0xff
          require(n == 1 || n == 3, s"unsupported component count $n")
          require(seg + 6 + 3 * n <= end, "truncated SOF component specs")
          comps = Array.tabulate(n) { i =>
            val o = seg + 6 + 3 * i
            val hv = bytes(o + 1) & 0xff
            val c = Component(bytes(o) & 0xff, hv >> 4, hv & 15, bytes(o + 2) & 0xff)
            // T.81 bounds — corrupt specs must require, never index OOB
            require(c.h >= 1 && c.h <= 4 && c.v >= 1 && c.v <= 4,
              s"bad sampling factors ${c.h}x${c.v}")
            require(c.tq <= 3, s"quant table id ${c.tq} out of range")
            c
          }
          comps.foreach { c =>
            require(c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2,
              s"unsupported sampling ${c.h}x${c.v} (1-2 only)")
          }
          progressive = marker == 0xc2
          if (progressive) {
            val hmax = comps.map(_.h).max
            val vmax = comps.map(_.v).max
            mcusX = (w + 8 * hmax - 1) / (8 * hmax)
            mcusY = (h + 8 * vmax - 1) / (8 * vmax)
            blocksW = comps.map(c => mcusX * c.h)
            blocksH = comps.map(c => mcusY * c.v)
            // non-interleaved scans cover the component's ACTUAL block
            // grid (T.81 A.2.2), not the MCU-padded one
            compBW = comps.map(c => ((w * c.h + hmax - 1) / hmax + 7) / 8)
            compBH = comps.map(c => ((h * c.v + vmax - 1) / vmax + 7) / 8)
            coefs = comps.indices.map(i =>
              new Array[Int](blocksW(i) * blocksH(i) * 64)).toArray
          }
          off = end
        case m if m >= 0xc3 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc =>
          throw new IllegalArgumentException(f"unsupported SOF marker 0xFF$m%02X")
        case 0xc4 => // DHT — possibly several tables in one segment
          val end = segEnd(off)
          var o = off + 4
          while (o < end) {
            require(o + 17 <= end, "truncated DHT")
            val tcth = bytes(o) & 0xff
            require((tcth >> 4) <= 1 && (tcth & 15) <= 3,
              f"bad DHT class/id byte 0x$tcth%02X")
            val counts = Array.tabulate(16)(i => bytes(o + 1 + i) & 0xff)
            val nsym = counts.sum
            require(o + 17 + nsym <= end, "truncated DHT symbols")
            val syms = Array.tabulate(nsym)(i => bytes(o + 17 + i) & 0xff)
            val tab = new JHuff(counts, syms)
            if ((tcth >> 4) == 0) dcTabs(tcth & 15) = tab else acTabs(tcth & 15) = tab
            o += 17 + nsym
          }
          off = end
        case 0xdb => // DQT — possibly several tables
          val end = segEnd(off)
          var o = off + 4
          while (o < end) {
            require(o + 1 <= end, "truncated DQT")
            val pqtq = bytes(o) & 0xff
            val pq = pqtq >> 4
            require(pq == 0 || pq == 1, "bad DQT precision")
            require((pqtq & 15) <= 3, s"quant table id ${pqtq & 15} out of range")
            require(o + 1 + (if (pq == 0) 64 else 128) <= end, "truncated DQT table")
            val q = new Array[Int](64)
            var k = 0
            while (k < 64) {
              q(k) = if (pq == 0) bytes(o + 1 + k) & 0xff
                     else Bytes.be16(bytes, o + 1 + 2 * k)
              k += 1
            }
            quant(pqtq & 15) = q
            o += 1 + (if (pq == 0) 64 else 128)
          }
          off = end
        case 0xdd =>
          val end = segEnd(off)
          require(end >= off + 6, "truncated DRI")
          dri = Bytes.be16(bytes, off + 4)
          off = end
        case 0xda => // SOS
          require(comps != null, "SOS before SOF")
          val end = segEnd(off)
          val seg = off + 4
          require(seg + 1 <= end, "truncated SOS")
          val ns = bytes(seg) & 0xff
          require(seg + 1 + 2 * ns + 3 <= end, "truncated SOS header")
          val scanTabs = Array.tabulate(ns) { i =>
            val cid = bytes(seg + 1 + 2 * i) & 0xff
            val tdta = bytes(seg + 2 + 2 * i) & 0xff
            val ci = comps.indexWhere(_.id == cid)
            require(ci >= 0, s"scan references unknown component $cid")
            require((tdta >> 4) <= 3 && (tdta & 15) <= 3,
              f"bad SOS table ids 0x$tdta%02X")
            (ci, tdta >> 4, tdta & 15)
          }
          val dataStart = seg + 1 + 2 * ns + 3
          if (!progressive) {
            // single-scan sequential: decode and return directly
            require(ns == comps.length,
              "partial scans not supported (baseline single scan only)")
            return decodeScan(bytes, dataStart, w, h, comps, scanTabs,
              quant, dcTabs, acTabs, dri)
          }
          val ss = bytes(seg + 1 + 2 * ns) & 0xff
          val se = bytes(seg + 1 + 2 * ns + 1) & 0xff
          val ahal = bytes(seg + 1 + 2 * ns + 2) & 0xff
          sawScan = true
          off = decodeProgressiveScan(bytes, dataStart, comps, scanTabs,
            ss, se, ahal >> 4, ahal & 15, dri, mcusX, mcusY,
            coefs, blocksW, compBW, compBH, dcTabs, acTabs)
        case m if m >= 0xd0 && m <= 0xd7 => off += 2
        case 0x01 => off += 2
        case _ => off = segEnd(off) // APPn, COM, anything else with a length
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def decodeScan(
      bytes: Array[Byte], dataStart: Int, w: Int, h: Int,
      comps: Array[Component], scanTabs: Array[(Int, Int, Int)],
      quant: Array[Array[Int]], dcTabs: Array[JHuff], acTabs: Array[JHuff],
      dri: Int): Raster = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i => new Array[Int](planeW(i) * planeH(i))).toArray
    val preds = new Array[Int](comps.length)
    val rdr = new EntropyReader(bytes, dataStart)
    val blk = new Array[Double](64)
    val px = new Array[Double](64)
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          rdr.restart()
          java.util.Arrays.fill(preds, 0)
        }
        scanTabs.foreach { case (ci, td, ta) =>
          val c = comps(ci)
          val qt = quant(c.tq)
          require(qt != null, s"missing quant table ${c.tq}")
          val dcT = dcTabs(td); val acT = acTabs(ta)
          require(dcT != null && acT != null, "missing Huffman table")
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              java.util.Arrays.fill(blk, 0.0)
              val t = rdr.decode(dcT)
              preds(ci) += extend(rdr.receive(t), t)
              blk(0) = preds(ci).toDouble * qt(0)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = rdr.decode(acT)
                val r = rs >> 4
                val s = rs & 15
                if (s == 0) {
                  if (r == 15) k += 16 else eob = true
                } else {
                  k += r
                  require(k < 64, "AC run overflows the block")
                  blk(ZigZag(k)) = extend(rdr.receive(s), s).toDouble * qt(k)
                  k += 1
                }
              }
              idct(blk, px)
              val ox = (mx * c.h + bx) * 8
              val oy = (my * c.v + by) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  planes(ci)((oy + yy) * planeW(ci) + ox + xx) = clamp(px(yy * 8 + xx) + 128.0)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    assembleRgb(w, h, comps, planes, planeW)
  }

  /** Upsample component planes (nearest) and convert YCbCr→RGB (or
    * replicate the single gray plane) — shared by the sequential and
    * progressive reconstruction paths. */
  private def assembleRgb(
      w: Int, h: Int, comps: Array[Component],
      planes: Array[Array[Int]], planeW: Array[Int]): Raster = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 3
        if (comps.length == 1) {
          val g = planes(0)(y * planeW(0) + x).toByte
          out(d) = g; out(d + 1) = g; out(d + 2) = g
        } else {
          def sample(i: Int): Int = {
            val c = comps(i)
            planes(i)((y * c.v / vmax) * planeW(i) + (x * c.h / hmax))
          }
          val yv = sample(0).toDouble
          val cb = sample(1).toDouble - 128.0
          val cr = sample(2).toDouble - 128.0
          out(d) = clamp(yv + 1.402 * cr).toByte
          out(d + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr).toByte
          out(d + 2) = clamp(yv + 1.772 * cb).toByte
        }
        x += 1
      }
      y += 1
    }
    Raster(w, h, 3, out)
  }

  /** One progressive scan (T.81 Annex G / G.2): the spectral band
    * [ss, se] of the scan's components at successive-approximation bit
    * position `ah`→`al`, accumulated into the per-component zig-zag
    * coefficient arrays. Returns the offset of the next marker.
    *
    * Structure per the spec: DC scans (ss = 0) may interleave several
    * components in MCU order (or walk a single component's actual
    * block grid); AC scans are always single-component and
    * non-interleaved, with EOB-run codes spanning blocks. First scans
    * (ah = 0) establish coefficient bits above `al`; refinement scans
    * (ah = al + 1) append one bit per coefficient. */
  private def decodeProgressiveScan(
      bytes: Array[Byte], dataStart: Int,
      comps: Array[Component], scanTabs: Array[(Int, Int, Int)],
      ss: Int, se: Int, ah: Int, al: Int, dri: Int,
      mcusX: Int, mcusY: Int,
      coefs: Array[Array[Int]], blocksW: Array[Int],
      compBW: Array[Int], compBH: Array[Int],
      dcTabs: Array[JHuff], acTabs: Array[JHuff]): Int = {
    require(ss >= 0 && se <= 63 && ss <= se, s"bad spectral band $ss..$se")
    require(ss > 0 || se == 0, "DC scan must have Se = 0")
    require(al >= 0 && al <= 13 && (ah == 0 || ah == al + 1),
      s"bad successive approximation $ah -> $al")
    val rdr = new EntropyReader(bytes, dataStart)
    val preds = new Array[Int](comps.length)
    var eobrun = 0
    var unit = 0 // restart counter: MCUs when interleaved, blocks otherwise
    def maybeRestart(): Unit =
      if (dri > 0 && unit > 0 && unit % dri == 0) {
        rdr.restart()
        eobrun = 0
        java.util.Arrays.fill(preds, 0)
      }
    if (ss == 0) {
      // ---- DC scan ----
      def dcUnit(ci: Int, td: Int, bi: Int): Unit =
        if (ah == 0) {
          val dcT = dcTabs(td)
          require(dcT != null, "missing DC Huffman table")
          val t = rdr.decode(dcT)
          preds(ci) += extend(rdr.receive(t), t)
          coefs(ci)(bi) = preds(ci) << al
        } else if (rdr.readBit() == 1) coefs(ci)(bi) |= (1 << al)
      if (scanTabs.length > 1) {
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            maybeRestart()
            scanTabs.foreach { case (ci, td, _) =>
              val c = comps(ci)
              var by = 0
              while (by < c.v) {
                var bx = 0
                while (bx < c.h) {
                  dcUnit(ci, td, ((my * c.v + by) * blocksW(ci) + mx * c.h + bx) * 64)
                  bx += 1
                }
                by += 1
              }
            }
            unit += 1
            mx += 1
          }
          my += 1
        }
      } else {
        val (ci, td, _) = scanTabs(0)
        var by = 0
        while (by < compBH(ci)) {
          var bx = 0
          while (bx < compBW(ci)) {
            maybeRestart()
            dcUnit(ci, td, (by * blocksW(ci) + bx) * 64)
            unit += 1
            bx += 1
          }
          by += 1
        }
      }
    } else {
      // ---- AC scan ----
      require(scanTabs.length == 1, "progressive AC scan must be single-component")
      val (ci, _, ta) = scanTabs(0)
      val acT = acTabs(ta)
      require(acT != null, "missing AC Huffman table")
      val coef = coefs(ci)
      val p1 = 1 << al
      var by = 0
      while (by < compBH(ci)) {
        var bx = 0
        while (bx < compBW(ci)) {
          maybeRestart()
          val bi = (by * blocksW(ci) + bx) * 64
          if (ah == 0) {
            // first scan for this band (G.1.2.2): runs, EOB runs, ZRL
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              while (k <= se) {
                val rs = rdr.decode(acT)
                val r = rs >> 4
                val s = rs & 15
                if (s == 0) {
                  if (r != 15) {
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += rdr.receive(r)
                    k = se + 1
                  } else k += 16 // ZRL
                } else {
                  k += r
                  require(k <= se, "AC run overflows the spectral band")
                  coef(bi + k) = extend(rdr.receive(s), s) << al
                  k += 1
                }
              }
            }
          } else {
            // refinement (G.1.2.3): one correction bit per already-
            // nonzero coefficient passed; new ±1-magnitude coefficients
            // placed after their zero-history run
            var k = ss
            if (eobrun == 0) {
              var brk = false
              while (k <= se && !brk) {
                val rs = rdr.decode(acT)
                var r = rs >> 4
                val s = rs & 15
                var newval = 0
                if (s == 0) {
                  if (r != 15) {
                    eobrun = 1 << r
                    if (r > 0) eobrun += rdr.receive(r)
                    brk = true
                  }
                  // r == 15: pass 16 zero-history coefficients below
                } else {
                  require(s == 1, "AC refinement magnitude must be 1")
                  newval = if (rdr.readBit() == 1) p1 else -p1
                }
                if (!brk) {
                  var placed = false
                  while (k <= se && !placed) {
                    val idx = bi + k
                    if (coef(idx) != 0) {
                      if (rdr.readBit() == 1 && (coef(idx) & p1) == 0)
                        coef(idx) += (if (coef(idx) >= 0) p1 else -p1)
                    } else if (r == 0) {
                      if (s != 0) coef(idx) = newval
                      placed = true
                    } else r -= 1
                    k += 1
                  }
                }
              }
            }
            if (eobrun > 0) {
              // inside an EOB run: only correction bits for already-
              // nonzero coefficients of the remaining band
              while (k <= se) {
                val idx = bi + k
                if (coef(idx) != 0) {
                  if (rdr.readBit() == 1 && (coef(idx) & p1) == 0)
                    coef(idx) += (if (coef(idx) >= 0) p1 else -p1)
                }
                k += 1
              }
              eobrun -= 1
            }
          }
          unit += 1
          bx += 1
        }
        by += 1
      }
    }
    // scan data ends here: discard pad bits, find the next marker
    var p = rdr.pos
    while (p + 1 < bytes.length &&
      !((bytes(p) & 0xff) == 0xff && (bytes(p + 1) & 0xff) != 0x00)) p += 1
    require(p + 1 < bytes.length, "truncated JPEG after progressive scan")
    p
  }

  /** Dequantize + IDCT the accumulated progressive coefficients and
    * assemble the RGB raster — runs once, at EOI. */
  private def reconstructProgressive(
      w: Int, h: Int, comps: Array[Component],
      coefs: Array[Array[Int]], blocksW: Array[Int], blocksH: Array[Int],
      quant: Array[Array[Int]]): Raster = {
    val planeW = comps.indices.map(i => blocksW(i) * 8).toArray
    val planes = comps.indices.map(i =>
      new Array[Int](blocksW(i) * blocksH(i) * 64)).toArray
    val blk = new Array[Double](64)
    val px = new Array[Double](64)
    var ci = 0
    while (ci < comps.length) {
      val qt = quant(comps(ci).tq)
      require(qt != null, s"missing quant table ${comps(ci).tq}")
      val coef = coefs(ci)
      var by = 0
      while (by < blocksH(ci)) {
        var bx = 0
        while (bx < blocksW(ci)) {
          val bi = (by * blocksW(ci) + bx) * 64
          var k = 0
          while (k < 64) { blk(ZigZag(k)) = coef(bi + k).toDouble * qt(k); k += 1 }
          idct(blk, px)
          val ox = bx * 8
          val oy = by * 8
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(ci)((oy + yy) * planeW(ci) + ox + xx) = clamp(px(yy * 8 + xx) + 128.0)
              xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    assembleRgb(w, h, comps, planes, planeW)
  }

  // ---- encoder ----------------------------------------------------------

  // T.81 Annex K "typical" Huffman tables (public spec data). Internal
  // consistency is asserted by JHuff's constructor; external validity
  // is pinned in tests by the JDK ImageIO cross-decode.
  private val DcLumCounts = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumSyms = (0 to 11).toArray
  private val DcChrCounts = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrSyms = (0 to 11).toArray
  private val AcLumCounts = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumSyms: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val AcChrCounts = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChrSyms: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  private lazy val DcLum = new JHuff(DcLumCounts, DcLumSyms)
  private lazy val DcChr = new JHuff(DcChrCounts, DcChrSyms)
  private lazy val AcLum = new JHuff(AcLumCounts, AcLumSyms)
  private lazy val AcChr = new JHuff(AcChrCounts, AcChrSyms)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (cnt > 0) { // pad with 1-bits (T.81 F.1.2.3)
      buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
      out.write(buf)
      if (buf == 0xff) out.write(0x00)
      buf = 0; cnt = 0
    }
  }

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  /** Encode one quantized NATURAL-order block; returns the new DC
    * predictor. */
  private def encodeBlock(
      bw: BitWriter, q: Array[Int], pred: Int, dc: JHuff, ac: JHuff): Int = {
    val diff = q(0) - pred
    val t = category(diff)
    val (c, l) = dc.codeOf(t)
    bw.put(c, l)
    if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
    var k = 1
    var run = 0
    while (k < 64) {
      val v = q(ZigZag(k))
      if (v == 0) run += 1
      else {
        while (run > 15) { val (zc, zl) = ac.codeOf(0xf0); bw.put(zc, zl); run -= 16 }
        val s = category(v)
        val (cc, cl) = ac.codeOf((run << 4) | s)
        bw.put(cc, cl)
        bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = ac.codeOf(0x00); bw.put(ec, el) } // EOB
    q(0)
  }

  /** Baseline JPEG encode of an RGB [[Raster]]: `subsample = 1` writes
    * 4:4:4, `= 2` writes 4:2:0 (box-averaged chroma). `quantLuma` /
    * `quantChroma` are NATURAL-order 64-entry tables; the all-ones
    * default is "near-lossless" (DCT rounding only — the config the
    * round-trip tests bound). */
  def encode(img: Raster, subsample: Int = 1,
      quantLuma: Array[Int] = Array.fill(64)(1),
      quantChroma: Array[Int] = Array.fill(64)(1),
      restartInterval: Int = 0): Array[Byte] = {
    require(img.channels == 3, "encode expects an RGB raster")
    // SOF dimension fields are 16-bit: larger rasters would silently
    // truncate to the low bytes and emit a wrong-dimensioned JPEG
    require(img.width >= 1 && img.width <= 65535 && img.height >= 1 && img.height <= 65535,
      s"JPEG dimensions must be 1..65535, got ${img.width}x${img.height}")
    require(subsample == 1 || subsample == 2, s"subsample must be 1 or 2, got $subsample")
    require(restartInterval >= 0 && restartInterval <= 65535,
      s"restartInterval must be a 16-bit count of MCUs, got $restartInterval")
    require(quantLuma.length == 64 && quantChroma.length == 64, "quant tables must have 64 entries")
    require(quantLuma.forall(q => q >= 1 && q <= 255) && quantChroma.forall(q => q >= 1 && q <= 255),
      "8-bit quant values only")
    val w = img.width; val h = img.height
    // color transform into full-resolution planes
    val yP = new Array[Double](w * h)
    val cbP = new Array[Double](w * h)
    val crP = new Array[Double](w * h)
    var i = 0
    while (i < w * h) {
      val r = img.pixels(3 * i) & 0xff
      val g = img.pixels(3 * i + 1) & 0xff
      val b = img.pixels(3 * i + 2) & 0xff
      yP(i) = 0.299 * r + 0.587 * g + 0.114 * b
      cbP(i) = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
      crP(i) = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
      i += 1
    }
    // chroma downsample (box average) when 4:2:0
    val cw = (w + subsample - 1) / subsample
    val ch = (h + subsample - 1) / subsample
    def down(src: Array[Double]): Array[Double] =
      if (subsample == 1) src
      else Array.tabulate(cw * ch) { j =>
        val cx = j % cw; val cy = j / cw
        var s = 0.0; var n = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val x = cx * 2 + dx; val y = cy * 2 + dy
            if (x < w && y < h) { s += src(y * w + x); n += 1 }
            dx += 1
          }
          dy += 1
        }
        s / n
      }
    val cbD = down(cbP); val crD = down(crP)

    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, body: Array[Int]): Unit = {
      marker(m)
      val len = body.length + 2
      out.write(len >> 8); out.write(len & 0xff)
      body.foreach(out.write)
    }
    marker(0xd8) // SOI
    seg(0xe0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0
    seg(0xdb, 0 +: ZigZag.map(quantLuma)) // DQT 0 (zig-zag order on the wire)
    seg(0xdb, 1 +: ZigZag.map(quantChroma)) // DQT 1
    val hv = if (subsample == 2) 0x22 else 0x11
    seg(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
      1, hv, 0, 2, 0x11, 1, 3, 0x11, 1))
    def dht(tcth: Int, counts: Array[Int], syms: Array[Int]): Unit =
      seg(0xc4, tcth +: (counts ++ syms))
    dht(0x00, DcLumCounts, DcLumSyms)
    dht(0x10, AcLumCounts, AcLumSyms)
    dht(0x01, DcChrCounts, DcChrSyms)
    dht(0x11, AcChrCounts, AcChrSyms)
    if (restartInterval > 0)
      seg(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    seg(0xda, Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))

    val bw = new BitWriter(out)
    val mcusX = (w + 8 * subsample - 1) / (8 * subsample)
    val mcusY = (h + 8 * subsample - 1) / (8 * subsample)
    val raw = new Array[Double](64)
    val freq = new Array[Double](64)
    val qblk = new Array[Int](64)
    var predY = 0; var predCb = 0; var predCr = 0

    def block(plane: Array[Double], pw: Int, ph: Int, bx: Int, by: Int,
        qt: Array[Int], pred: Int, dc: JHuff, ac: JHuff): Int = {
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val sx = math.min(bx * 8 + x, pw - 1)
          val sy = math.min(by * 8 + y, ph - 1) // edge replicate pad
          raw(y * 8 + x) = plane(sy * pw + sx) - 128.0
          x += 1
        }
        y += 1
      }
      fdct(raw, freq)
      var k = 0
      while (k < 64) { qblk(k) = math.rint(freq(k) / qt(k)).toInt; k += 1 }
      encodeBlock(bw, qblk, pred, dc, ac)
    }

    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          // byte-align (1-padded), emit RSTn (n cycles 0..7), reset DC
          // predictors — T.81 B.2.1.2
          bw.flush()
          marker(0xd0 + ((mcu / restartInterval - 1) & 7))
          predY = 0; predCb = 0; predCr = 0
        }
        var by = 0
        while (by < subsample) {
          var bx = 0
          while (bx < subsample) {
            predY = block(yP, w, h, mx * subsample + bx, my * subsample + by,
              quantLuma, predY, DcLum, AcLum)
            bx += 1
          }
          by += 1
        }
        predCb = block(cbD, cw, ch, mx, my, quantChroma, predCb, DcChr, AcChr)
        predCr = block(crD, cw, ch, mx, my, quantChroma, predCr, DcChr, AcChr)
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Decode → nearest-neighbor resample → re-encode: the REAL JPEG
    * resize path. Re-encode is 4:4:4 with the near-lossless tables —
    * resize is for feature pipelines, not byte-size parity. */
  def resizeJpeg(bytes: Array[Byte], scalePercent: Int): Array[Byte] =
    encode(PngCodec.resize(decode(bytes), scalePercent))

  /** DC-coefficient entropy write (category + magnitude bits). */
  private def putDc(bw: BitWriter, diff: Int, dc: JHuff): Unit = {
    val t = category(diff)
    val (c, l) = dc.codeOf(t)
    bw.put(c, l)
    if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
  }

  /** PROGRESSIVE JPEG encode (SOF2), spectral-selection script: one
    * interleaved DC scan (Ss=0, Se=0) followed by one full-band AC scan
    * per component (Ss=1, Se=63), all at Ah=Al=0 — the minimal legal
    * progression (T.81 Annex G), no successive approximation. The
    * quantized coefficients are identical to [[encode]]'s, so decoding
    * the two byte streams yields identical pixels (pinned in tests);
    * only the entropy organization differs. Block-ending EOBs are
    * written as EOB0 (an EOB run of one block), so every code word the
    * stream uses is decodable by any conformant progressive decoder.
    *
    * Exists so Spark-side pipelines (and the driver's oracle gates) can
    * manufacture real progressive payloads without any imaging
    * library; decode-side coverage of successive approximation comes
    * from the ImageIO cross-oracle in tests. */
  def encodeProgressive(img: Raster, subsample: Int = 1,
      quantLuma: Array[Int] = Array.fill(64)(1),
      quantChroma: Array[Int] = Array.fill(64)(1)): Array[Byte] = {
    require(img.channels == 3, "encodeProgressive expects an RGB raster")
    require(img.width >= 1 && img.width <= 65535 && img.height >= 1 && img.height <= 65535,
      s"JPEG dimensions must be 1..65535, got ${img.width}x${img.height}")
    require(subsample == 1 || subsample == 2, s"subsample must be 1 or 2, got $subsample")
    require(quantLuma.length == 64 && quantChroma.length == 64, "quant tables must have 64 entries")
    require(quantLuma.forall(q => q >= 1 && q <= 255) && quantChroma.forall(q => q >= 1 && q <= 255),
      "8-bit quant values only")
    val w = img.width; val h = img.height
    // color transform + chroma downsample, exactly as encode()
    val yP = new Array[Double](w * h)
    val cbP = new Array[Double](w * h)
    val crP = new Array[Double](w * h)
    var i = 0
    while (i < w * h) {
      val r = img.pixels(3 * i) & 0xff
      val g = img.pixels(3 * i + 1) & 0xff
      val b = img.pixels(3 * i + 2) & 0xff
      yP(i) = 0.299 * r + 0.587 * g + 0.114 * b
      cbP(i) = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
      crP(i) = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
      i += 1
    }
    val cw = (w + subsample - 1) / subsample
    val ch = (h + subsample - 1) / subsample
    def down(src: Array[Double]): Array[Double] =
      if (subsample == 1) src
      else Array.tabulate(cw * ch) { j =>
        val cx = j % cw; val cy = j / cw
        var s = 0.0; var n = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val x = cx * 2 + dx; val y = cy * 2 + dy
            if (x < w && y < h) { s += src(y * w + x); n += 1 }
            dx += 1
          }
          dy += 1
        }
        s / n
      }
    val cbD = down(cbP); val crD = down(crP)

    // quantize EVERY MCU-padded block up front, zig-zag order (the DC
    // scan is interleaved and covers the padded grid; AC scans cover
    // the component's actual blocks only — padding blocks keep AC = 0,
    // which is what the edge-replicated content rounds to anyway)
    val mcusX = (w + 8 * subsample - 1) / (8 * subsample)
    val mcusY = (h + 8 * subsample - 1) / (8 * subsample)
    val compHV = Array((subsample, subsample), (1, 1), (1, 1))
    val planesIn = Array(yP, cbD, crD)
    val planeDims = Array((w, h), (cw, ch), (cw, ch))
    val quants = Array(quantLuma, quantChroma, quantChroma)
    val blocksW = compHV.map(hv => mcusX * hv._1)
    val blocksH = compHV.map(hv => mcusY * hv._2)
    val compBW = planeDims.map(d => (d._1 + 7) / 8)
    val compBH = planeDims.map(d => (d._2 + 7) / 8)
    val raw = new Array[Double](64)
    val freq = new Array[Double](64)
    val coefs = Array.tabulate(3) { ci =>
      val (pw, ph) = planeDims(ci)
      val plane = planesIn(ci)
      val qt = quants(ci)
      val coef = new Array[Int](blocksW(ci) * blocksH(ci) * 64)
      var by = 0
      while (by < blocksH(ci)) {
        var bx = 0
        while (bx < blocksW(ci)) {
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val sx = math.min(bx * 8 + x, pw - 1)
              val sy = math.min(by * 8 + y, ph - 1) // edge replicate pad
              raw(y * 8 + x) = plane(sy * pw + sx) - 128.0
              x += 1
            }
            y += 1
          }
          fdct(raw, freq)
          val bi = (by * blocksW(ci) + bx) * 64
          var k = 0
          while (k < 64) {
            // wire order is zig-zag; qt is natural-order like encode()
            coef(bi + k) = math.rint(freq(ZigZag(k)) / qt(ZigZag(k))).toInt
            k += 1
          }
          bx += 1
        }
        by += 1
      }
      coef
    }

    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, body: Array[Int]): Unit = {
      marker(m)
      val len = body.length + 2
      out.write(len >> 8); out.write(len & 0xff)
      body.foreach(out.write)
    }
    marker(0xd8)
    seg(0xe0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    seg(0xdb, 0 +: ZigZag.map(quantLuma))
    seg(0xdb, 1 +: ZigZag.map(quantChroma))
    val hv = if (subsample == 2) 0x22 else 0x11
    seg(0xc2, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
      1, hv, 0, 2, 0x11, 1, 3, 0x11, 1))
    def dht(tcth: Int, counts: Array[Int], syms: Array[Int]): Unit =
      seg(0xc4, tcth +: (counts ++ syms))
    dht(0x00, DcLumCounts, DcLumSyms)
    dht(0x10, AcLumCounts, AcLumSyms)
    dht(0x01, DcChrCounts, DcChrSyms)
    dht(0x11, AcChrCounts, AcChrSyms)

    // scan 1: interleaved DC, all components, band 0..0, Ah=Al=0
    seg(0xda, Array(3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0))
    locally {
      val bw = new BitWriter(out)
      val preds = new Array[Int](3)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var ci = 0
          while (ci < 3) {
            val (chh, cvv) = compHV(ci)
            val dcT = if (ci == 0) DcLum else DcChr
            var by = 0
            while (by < cvv) {
              var bx = 0
              while (bx < chh) {
                val bi = ((my * cvv + by) * blocksW(ci) + mx * chh + bx) * 64
                val v = coefs(ci)(bi)
                putDc(bw, v - preds(ci), dcT)
                preds(ci) = v
                bx += 1
              }
              by += 1
            }
            ci += 1
          }
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }
    // scans 2..4: per-component AC, band 1..63, Ah=Al=0, non-interleaved
    var ci = 0
    while (ci < 3) {
      val acT = if (ci == 0) AcLum else AcChr
      seg(0xda, Array(1, ci + 1, if (ci == 0) 0x00 else 0x01, 1, 63, 0))
      val bw = new BitWriter(out)
      val coef = coefs(ci)
      var by = 0
      while (by < compBH(ci)) {
        var bx = 0
        while (bx < compBW(ci)) {
          val bi = (by * blocksW(ci) + bx) * 64
          var k = 1
          var run = 0
          while (k < 64) {
            val v = coef(bi + k)
            if (v == 0) run += 1
            else {
              while (run > 15) { val (zc, zl) = acT.codeOf(0xf0); bw.put(zc, zl); run -= 16 }
              val s = category(v)
              val (cc, cl) = acT.codeOf((run << 4) | s)
              bw.put(cc, cl)
              bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
              run = 0
            }
            k += 1
          }
          if (run > 0) { val (ec, el) = acT.codeOf(0x00); bw.put(ec, el) } // EOB0
          bx += 1
        }
        by += 1
      }
      bw.flush()
      ci += 1
    }
    marker(0xd9)
    out.toByteArray
  }
}
