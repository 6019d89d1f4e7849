package graft.operators

import scala.collection.mutable.ArrayBuffer

/** WebP-lossless (VP8L) decoder + a spec-conformant encoder, from the
  * PUBLIC "WebP Lossless Bitstream Specification" and the WebP
  * Container Specification (RIFF layout, VP8X/ALPH chunks) — the
  * fifth image format of the multimodal tier (the GIF/PNG precedent:
  * decode everything ourselves, generate deterministic fixtures with
  * our own encoder, and cross-check against a REAL third-party stream
  * where one exists).
  *
  * Decoder scope (the lossless format, complete):
  *  - RIFF walk: `VP8L` chunk, `VP8X` extended header, `ALPH` alpha
  *    chunk (compression method 1 = headless VP8L stream);
  *  - LSB-first bitstream; canonical prefix codes (simple 1/2-symbol
  *    and full code-length-coded, incl. the 16/17/18 repeat codes and
  *    the optional max_symbol cap);
  *  - meta prefix codes (entropy image), color cache, LZ77 backward
  *    references with the 120-entry 2D distance map;
  *  - all four transforms, inverse-applied in reverse read order:
  *    predictor (14 modes, edge rules, the top-right wraparound),
  *    color transform (signed 3.5 fixed-point deltas), subtract-green,
  *    color indexing (incl. sub-8-bit packed widths).
  *  Lossy `VP8 ` payloads decode through [[Vp8Codec]] (the full
  *  RFC 6386 intra keyframe decoder, pixel-exact vs libwebp), with
  *  the ALPH alpha plane composed in.
  *
  * Encoder scope (fixture generation, each path spec-conformant so the
  * decoder is exercised on format-true input): literal pixels under
  * flat 8-bit prefix codes, optional subtract-green, a color-indexing
  * (palette) mode with packed sub-8-bit widths, a single-block
  * predictor mode, and a single-block color-transform mode.
  */
object WebpCodec {

  // ---------------------------------------------------------------
  // RIFF container
  // ---------------------------------------------------------------

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(Array(b(off), b(off + 1), b(off + 2), b(off + 3)), "US-ASCII")

  def isWebp(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 &&
      fourcc(bytes, 0) == "RIFF" && fourcc(bytes, 8) == "WEBP"

  /** All (fourcc, payloadOffset, payloadSize) chunks of a WebP file. */
  private[graft] def chunks(bytes: Array[Byte]): Seq[(String, Int, Int)] = {
    require(isWebp(bytes), "not a WebP (RIFF/WEBP) payload")
    val out = ArrayBuffer.empty[(String, Int, Int)]
    var off = 12
    while (off + 8 <= bytes.length) {
      val cc = fourcc(bytes, off)
      val sz = Bytes.le32(bytes, off + 4)
      // bound check in Long: sz near Int.MaxValue overflows an Int sum
      require(sz >= 0 && off + 8L + sz <= bytes.length,
        s"truncated WebP chunk '$cc' at $off")
      out += ((cc, off + 8, sz))
      off += 8 + sz + (sz & 1) // chunks pad to even size
    }
    out.toSeq
  }

  /** Container metadata: format of the image payload, canvas
    * dimensions, alpha/animation flags, chunk inventory, and the
    * animation census (frame count / total duration / loop count —
    * the fields a curation filter reads; 0 for still images). */
  final case class WebpMeta(format: String, width: Int, height: Int,
      hasAlpha: Boolean, hasAnim: Boolean, chunkList: Seq[String],
      nFrames: Int = 0, durationMs: Long = 0L, loopCount: Int = 0)

  def parseMeta(bytes: Array[Byte]): WebpMeta = {
    val cs = chunks(bytes)
    val names = cs.map(_._1)
    var w = 0; var h = 0
    var alpha = names.contains("ALPH")
    var anim = false
    var format = "unknown"
    var nFrames = 0
    var durMs = 0L
    var loop = 0
    cs.foreach {
      case ("VP8X", off, sz) if sz >= 10 =>
        val flags = bytes(off) & 0xff
        alpha ||= (flags & 0x10) != 0
        anim ||= (flags & 0x02) != 0
        w = 1 + Bytes.le24(bytes, off + 4)
        h = 1 + Bytes.le24(bytes, off + 7)
      case ("VP8L", off, sz) if sz >= 5 =>
        format = "vp8l"
        require((bytes(off) & 0xff) == 0x2f, "bad VP8L signature byte")
        val bits = Bytes.le32(bytes, off + 1)
        if (w == 0) { w = (bits & 0x3fff) + 1; h = ((bits >>> 14) & 0x3fff) + 1 }
        alpha ||= ((bits >>> 28) & 1) == 1
      case ("VP8 ", off, sz) if sz >= 10 =>
        format = "vp8"
        // lossy keyframe: 3-byte frame tag, 0x9d012a sync, 14-bit dims
        require((bytes(off + 3) & 0xff) == 0x9d &&
          (bytes(off + 4) & 0xff) == 0x01 && (bytes(off + 5) & 0xff) == 0x2a,
          "bad VP8 keyframe sync code")
        if (w == 0) {
          w = Bytes.le16(bytes, off + 6) & 0x3fff
          h = Bytes.le16(bytes, off + 8) & 0x3fff
        }
      case ("ANIM", off, sz) if sz >= 6 =>
        // 4 bytes BGRA background + LE16 loop count (container spec)
        loop = Bytes.le16(bytes, off + 4)
      case ("ANMF", off, sz) if sz >= 16 =>
        if (format == "unknown") format = "anim"
        nFrames += 1
        durMs += Bytes.le24(bytes, off + 12)
      case _ => ()
    }
    WebpMeta(format, w, h, alpha, anim, names, nFrames, durMs, loop)
  }

  /** Decode frame `idx` (0-based) of an animated WebP: the ANMF
    * chunk's embedded VP8L (lossless) or VP8 (lossy keyframe)
    * payload. */
  def decodeAnimFrame(bytes: Array[Byte], idx: Int): PngCodec.Raster = {
    val anmf = chunks(bytes).filter(_._1 == "ANMF")
    require(idx >= 0 && idx < anmf.length,
      s"frame $idx out of range (have ${anmf.length})")
    val (_, off, sz) = anmf(idx)
    // frame payload: 16-byte ANMF header, then embedded chunks
    var p = off + 16
    val end = off + sz
    while (p + 8 <= end) {
      val cc = fourcc(bytes, p)
      val csz = Bytes.le32(bytes, p + 4)
      // mirror chunks(): a corrupt negative/oversized inner size must
      // fail loudly, not hang the walk or index out of bounds
      require(csz >= 0 && p + 8L + csz <= end,
        s"truncated ANMF sub-chunk '$cc' at $p")
      if (cc == "VP8L") return decodeVp8l(bytes, p + 8, csz)
      if (cc == "VP8 ") return Vp8Codec.decode(bytes, p + 8, csz)
      p += 8 + csz + (csz & 1)
    }
    throw new IllegalArgumentException(s"frame $idx has no VP8L/VP8 payload")
  }

  private def putLe24(out: ArrayBuffer[Byte], v: Int): Unit = {
    out += (v & 0xff).toByte
    out += ((v >>> 8) & 0xff).toByte
    out += ((v >>> 16) & 0xff).toByte
  }

  /** Encode an ANIMATED lossless WebP: VP8X (anim flag) + ANIM + one
    * ANMF per frame, frame f's pixels = [[grayGradient]](id + f) via
    * the cycling encode-path variants — every frame of one file can
    * exercise a different VP8L path. */
  def encodeAnimated(id: Long, w: Int, h: Int, nFrames: Int,
      frameDurMs: Int, loopCount: Int): Array[Byte] = {
    require(nFrames >= 1 && frameDurMs >= 0 && loopCount >= 0,
      s"bad animation spec: $nFrames frames, $frameDurMs ms, loop $loopCount")
    val body = ArrayBuffer.empty[Byte]
    def putChunk(cc: String, payload: ArrayBuffer[Byte]): Unit = {
      cc.getBytes("US-ASCII").foreach(body += _)
      val sz = payload.length
      body += (sz & 0xff).toByte
      body += ((sz >>> 8) & 0xff).toByte
      body += ((sz >>> 16) & 0xff).toByte
      body += ((sz >>> 24) & 0xff).toByte
      body ++= payload
      if ((sz & 1) == 1) body += 0
    }
    // VP8X: flags (alpha 0x10 | anim 0x02), 3 reserved, 24-bit dims-1
    val vp8x = ArrayBuffer[Byte](0x12.toByte, 0, 0, 0)
    putLe24(vp8x, w - 1); putLe24(vp8x, h - 1)
    putChunk("VP8X", vp8x)
    val animP = ArrayBuffer[Byte](0, 0, 0, 0xff.toByte) // BGRA background
    animP += (loopCount & 0xff).toByte
    animP += ((loopCount >>> 8) & 0xff).toByte
    putChunk("ANIM", animP)
    for (f <- 0 until nFrames) {
      val frameRiff = encodeGradientVariant(id + f, w, h)
      val (_, voff, vsz) = chunks(frameRiff).find(_._1 == "VP8L").get
      val anmf = ArrayBuffer.empty[Byte]
      putLe24(anmf, 0); putLe24(anmf, 0)       // x/2, y/2
      putLe24(anmf, w - 1); putLe24(anmf, h - 1)
      putLe24(anmf, frameDurMs)
      anmf += 0                                 // flags: blend, keep
      "VP8L".getBytes("US-ASCII").foreach(anmf += _)
      anmf += (vsz & 0xff).toByte
      anmf += ((vsz >>> 8) & 0xff).toByte
      anmf += ((vsz >>> 16) & 0xff).toByte
      anmf += ((vsz >>> 24) & 0xff).toByte
      for (i <- 0 until vsz) anmf += frameRiff(voff + i)
      if ((vsz & 1) == 1) anmf += 0
      putChunk("ANMF", anmf)
    }
    val out = new Array[Byte](12 + body.length)
    "RIFF".getBytes("US-ASCII").copyToArray(out, 0)
    val riffSz = 4 + body.length
    out(4) = (riffSz & 0xff).toByte
    out(5) = ((riffSz >>> 8) & 0xff).toByte
    out(6) = ((riffSz >>> 16) & 0xff).toByte
    out(7) = ((riffSz >>> 24) & 0xff).toByte
    "WEBP".getBytes("US-ASCII").copyToArray(out, 8)
    body.copyToArray(out, 12)
    out
  }

  /** Decode-side raster cap (64M pixels ≈ 256 MB ARGB): corrupted
    * headers must throw, never OOM an executor. */
  val MaxPixels: Long = 1L << 26

  // ---------------------------------------------------------------
  // Canonical prefix codes
  // ---------------------------------------------------------------

  private val MaxCodeLen = 15

  /** Canonical prefix decoder over code lengths (DEFLATE construction:
    * shorter codes first, ties by symbol index; codewords read MSB
    * first). A single-symbol code decodes with zero bits. */
  private final class PrefixCode(lengths: Array[Int]) {
    private val blCount = new Array[Int](MaxCodeLen + 1)
    lengths.foreach(l => if (l > 0) blCount(l) += 1)
    private val total = blCount.sum
    require(total > 0, "empty prefix code")
    private val single = if (total == 1) lengths.indexWhere(_ > 0) else -1
    // symbols sorted by (length, symbol)
    private val syms = new Array[Int](total)
    locally {
      val offs = new Array[Int](MaxCodeLen + 2)
      for (l <- 1 to MaxCodeLen) offs(l + 1) = offs(l) + blCount(l)
      val fill = offs.clone()
      for (s <- lengths.indices; l = lengths(s) if l > 0) {
        syms(fill(l)) = s
        fill(l) += 1
      }
      if (single < 0) {
        // completeness check (Kraft sum == 1) — an over/under-full
        // code is a corrupt stream, fail loudly
        var kraft = 0L
        for (l <- 1 to MaxCodeLen) kraft += blCount(l).toLong << (MaxCodeLen - l)
        require(kraft == (1L << MaxCodeLen),
          s"prefix code is not complete (kraft=$kraft)")
      }
    }
    def decode(br: LsbBitReader): Int = {
      if (single >= 0) return single
      var code = 0
      var first = 0
      var index = 0
      var len = 1
      while (len <= MaxCodeLen) {
        code |= br.bit()
        val count = blCount(len)
        if (code - first < count) return syms(index + code - first)
        index += count
        first = (first + count) << 1
        code <<= 1
        len += 1
      }
      throw new IllegalArgumentException("prefix decode ran past max length")
    }
    /** (codeword, length) per symbol — the encode side. */
    def codewords: Array[(Int, Int)] = {
      val next = new Array[Int](MaxCodeLen + 1)
      var code = 0
      for (l <- 1 to MaxCodeLen) { code = (code + blCount(l - 1)) << 1; next(l) = code }
      val out = new Array[(Int, Int)](lengths.length)
      // canonical: by (length, symbol) — syms is already in that order
      val cursor = next.clone()
      syms.foreach { s =>
        val l = lengths(s)
        out(s) = (cursor(l), l)
        cursor(l) += 1
      }
      out
    }
  }

  /** kCodeLengthCodeOrder (spec). */
  private val ClcOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Read one prefix code (simple or code-length-coded). */
  private def readPrefixCode(alphabetSize: Int, br: LsbBitReader): PrefixCode = {
    if (br.bit() == 1) {
      // simple: 1 or 2 symbols
      val nSym = br.bit() + 1
      val firstIs8 = br.bit() == 1
      val s0 = if (firstIs8) br.bits(8) else br.bits(1)
      // 8-bit simple symbols can name up to 255 — a corrupt stream may
      // exceed a small alphabet (distance = 40); refuse, don't index
      require(s0 < alphabetSize,
        s"simple-code symbol $s0 outside alphabet $alphabetSize")
      val lengths = new Array[Int](alphabetSize)
      if (nSym == 1) lengths(s0) = 1 // single-symbol: decoded with 0 bits
      else {
        val s1 = br.bits(8)
        require(s1 < alphabetSize,
          s"simple-code symbol $s1 outside alphabet $alphabetSize")
        lengths(s0) = 1
        lengths(s1) = 1
      }
      new PrefixCode(lengths)
    } else {
      val numClc = 4 + br.bits(4)
      val clcLens = new Array[Int](19)
      for (i <- 0 until numClc) clcLens(ClcOrder(i)) = br.bits(3)
      val clc = new PrefixCode(clcLens)
      // optional cap on coded symbols
      val maxSymbol =
        if (br.bit() == 1) {
          val nbits = 2 + 2 * br.bits(3)
          2 + br.bits(nbits)
        } else alphabetSize
      val lengths = new Array[Int](alphabetSize)
      var symbol = 0
      var prevLen = 8
      var budget = maxSymbol
      while (symbol < alphabetSize && budget > 0) {
        budget -= 1
        val cl = clc.decode(br)
        if (cl < 16) {
          lengths(symbol) = cl
          symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (rep, len) = cl match {
            case 16 => (3 + br.bits(2), prevLen)
            case 17 => (3 + br.bits(3), 0)
            case 18 => (11 + br.bits(7), 0)
          }
          require(symbol + rep <= alphabetSize,
            s"code-length repeat overruns alphabet ($symbol + $rep > $alphabetSize)")
          for (_ <- 0 until rep) { lengths(symbol) = len; symbol += 1 }
        }
      }
      new PrefixCode(lengths)
    }
  }

  /** One prefix-code group: green+length+cache, red, blue, alpha,
    * distance. */
  private def readCodeGroup(br: LsbBitReader, cacheBits: Int): Array[PrefixCode] = {
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    Array(
      readPrefixCode(256 + 24 + cacheSize, br),
      readPrefixCode(256, br),
      readPrefixCode(256, br),
      readPrefixCode(256, br),
      readPrefixCode(40, br))
  }

  // ---------------------------------------------------------------
  // LZ77 helpers
  // ---------------------------------------------------------------

  private def copyLength(prefixCode: Int, br: LsbBitReader): Int = {
    if (prefixCode < 4) prefixCode + 1
    else {
      val extra = (prefixCode - 2) >> 1
      val offset = (2 + (prefixCode & 1)) << extra
      offset + br.bits(extra) + 1
    }
  }

  /** The 120-entry 2D neighbor map (spec): candidates (dx in −8..7,
    * dy ≥ 0, above-or-left) ordered by squared distance, ties by
    * larger dy then larger dx — the first 120. The first five entries
    * pin the construction: (0,1),(1,0),(1,1),(−1,1),(0,2). */
  private[graft] val DistanceMap: Array[(Int, Int)] = {
    val cand = for {
      dy <- 0 to 15
      dx <- -8 to 7
      if dy > 0 || dx > 0
    } yield (dx, dy)
    cand.sortBy { case (dx, dy) => (dx * dx + dy * dy, -dy, -dx) }
      .take(120).toArray
  }

  private def planeCodeToDistance(xsize: Int, planeCode: Int): Int = {
    if (planeCode > 120) planeCode - 120
    else {
      val (dx, dy) = DistanceMap(planeCode - 1)
      math.max(1, dy * xsize + dx)
    }
  }

  private def cacheHash(argb: Int, cacheBits: Int): Int =
    ((0x1e35a7bd * argb) >>> (32 - cacheBits))

  // ---------------------------------------------------------------
  // Transforms
  // ---------------------------------------------------------------

  private def divCeil(a: Int, b: Int): Int = (a + b - 1) / b

  /** Per-channel byte-wise add (mod 256). */
  private def addPix(a: Int, b: Int): Int = {
    val aa = ((a >>> 24) + (b >>> 24)) & 0xff
    val rr = (((a >>> 16) & 0xff) + ((b >>> 16) & 0xff)) & 0xff
    val gg = (((a >>> 8) & 0xff) + ((b >>> 8) & 0xff)) & 0xff
    val bb = ((a & 0xff) + (b & 0xff)) & 0xff
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  private def avg2(a: Int, b: Int): Int = {
    val aa = (((a >>> 24) & 0xff) + ((b >>> 24) & 0xff)) / 2
    val rr = (((a >>> 16) & 0xff) + ((b >>> 16) & 0xff)) / 2
    val gg = (((a >>> 8) & 0xff) + ((b >>> 8) & 0xff)) / 2
    val bb = ((a & 0xff) + (b & 0xff)) / 2
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def select(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xff
    val pa = ch(l, 24) + ch(t, 24) - ch(tl, 24)
    val pr = ch(l, 16) + ch(t, 16) - ch(tl, 16)
    val pg = ch(l, 8) + ch(t, 8) - ch(tl, 8)
    val pb = ch(l, 0) + ch(t, 0) - ch(tl, 0)
    val pL = math.abs(pa - ch(l, 24)) + math.abs(pr - ch(l, 16)) +
      math.abs(pg - ch(l, 8)) + math.abs(pb - ch(l, 0))
    val pT = math.abs(pa - ch(t, 24)) + math.abs(pr - ch(t, 16)) +
      math.abs(pg - ch(t, 8)) + math.abs(pb - ch(t, 0))
    if (pL < pT) l else t
  }

  private def clampAddSubtractFull(a: Int, b: Int, c: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xff
    def one(s: Int) = clamp255(ch(a, s) + ch(b, s) - ch(c, s))
    (one(24) << 24) | (one(16) << 16) | (one(8) << 8) | one(0)
  }

  private def clampAddSubtractHalf(ave: Int, c: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xff
    def one(s: Int) = { val a = ch(ave, s); clamp255(a + (a - ch(c, s)) / 2) }
    (one(24) << 24) | (one(16) << 16) | (one(8) << 8) | one(0)
  }

  /** Predictor value for (x, y) given the already-reconstructed image.
    * Edge rules: (0,0) → opaque black, row 0 → L, column 0 → T; the
    * top-right of the last column wraps to the current row's first
    * pixel (the spec's contiguous-array addressing). */
  private def predict(mode: Int, pix: Array[Int], x: Int, y: Int, w: Int): Int = {
    if (x == 0 && y == 0) return 0xff000000
    if (y == 0) return pix(x - 1)            // L
    if (x == 0) return pix((y - 1) * w)      // T
    val l = pix(y * w + x - 1)
    val t = pix((y - 1) * w + x)
    val tl = pix((y - 1) * w + x - 1)
    val tr = if (x + 1 < w) pix((y - 1) * w + x + 1) else pix(y * w)
    mode match {
      case 0 => 0xff000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => avg2(avg2(l, tr), t)
      case 6 => avg2(l, tl)
      case 7 => avg2(l, t)
      case 8 => avg2(tl, t)
      case 9 => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => select(l, t, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case 13 => clampAddSubtractHalf(avg2(l, t), tl)
      case other => throw new IllegalArgumentException(
        s"bad predictor mode $other")
    }
  }

  /** Signed 3.5 fixed-point color-transform delta: both the transform
    * coefficient and the channel value are interpreted as SIGNED
    * 8-bit. */
  private[graft] def ctDelta(t: Int, c: Int): Int =
    ((t.toByte.toInt * c.toByte.toInt) >> 5)

  // a read transform: (type, width at read time, payload)
  private final case class Xform(tpe: Int, w: Int, bits: Int,
      data: Array[Int], palSize: Int)

  // ---------------------------------------------------------------
  // Decoder
  // ---------------------------------------------------------------

  /** Decode a full WebP file: lossless (VP8L) or lossy (VP8 keyframe
    * via [[Vp8Codec]], composed with the ALPH alpha plane when
    * present). Returns a 4-channel RGBA raster either way. */
  def decode(bytes: Array[Byte]): PngCodec.Raster = {
    val cs = chunks(bytes)
    cs.find(_._1 == "VP8L") match {
      case Some((_, off, sz)) => decodeVp8l(bytes, off, sz)
      case None =>
        cs.find(_._1 == "VP8 ") match {
          case Some((_, off, sz)) => lossyRgba(bytes, cs, off, sz)
          case None => throw new IllegalArgumentException(
            "no VP8L or VP8 chunk in WebP payload")
        }
    }
  }

  /** Lossy still frame: VP8 RGB + optional ALPH alpha → RGBA. */
  private def lossyRgba(bytes: Array[Byte], cs: Seq[(String, Int, Int)],
      off: Int, sz: Int): PngCodec.Raster = {
    val rgb = Vp8Codec.decode(bytes, off, sz)
    val n = rgb.width * rgb.height
    val alpha = cs.find(_._1 == "ALPH").map { case (_, aoff, asz) =>
      decodeAlpha(bytes, aoff, asz, rgb.width, rgb.height)
    }
    val px = new Array[Byte](n * 4)
    var i = 0
    while (i < n) {
      px(i * 4) = rgb.pixels(i * 3)
      px(i * 4 + 1) = rgb.pixels(i * 3 + 1)
      px(i * 4 + 2) = rgb.pixels(i * 3 + 2)
      px(i * 4 + 3) = alpha.map(a => a(i).toByte).getOrElse(0xff.toByte)
      i += 1
    }
    PngCodec.Raster(rgb.width, rgb.height, 4, px)
  }

  /** Decode a VP8L chunk payload (signature byte + 14/14-bit dims). */
  private[operators] def decodeVp8l(bytes: Array[Byte], off: Int,
      sz: Int): PngCodec.Raster = {
    require(sz >= 5 && (bytes(off) & 0xff) == 0x2f, "bad VP8L signature")
    val br = new LsbBitReader(bytes, off + 1, off + sz, "VP8L bitstream")
    val w = br.bits(14) + 1
    val h = br.bits(14) + 1
    br.bits(1) // alpha hint
    val version = br.bits(3)
    require(version == 0, s"unsupported VP8L version $version")
    // allocation bound: a corrupted header's 14-bit dims can demand a
    // 268M-pixel raster — a crawl-pipeline decoder must refuse, not OOM
    require(w.toLong * h <= MaxPixels,
      s"VP8L raster ${w}x$h exceeds the $MaxPixels-pixel decode bound")
    val argb = decodeImageStream(w, h, level0 = true, br)
    rasterOf(w, h, argb)
  }

  /** Decode an ALPH chunk body (compression method 1 = headless VP8L
    * stream whose GREEN channel is the alpha plane). Returns the w×h
    * alpha plane. Filtering methods are inverse-applied. */
  def decodeAlpha(bytes: Array[Byte], off: Int, sz: Int, w: Int,
      h: Int): Array[Int] = {
    require(sz >= 1, "empty ALPH chunk")
    val head = bytes(off) & 0xff
    val method = head & 3
    val filter = (head >> 2) & 3
    require(method == 1,
      s"ALPH compression method $method unsupported (only 1 = lossless)")
    require(w >= 1 && h >= 1 && w.toLong * h <= MaxPixels,
      s"ALPH plane ${w}x$h out of decode bounds")
    val br = new LsbBitReader(bytes, off + 1, off + sz, "VP8L bitstream")
    val argb = decodeImageStream(w, h, level0 = true, br)
    val a = argb.map(p => (p >>> 8) & 0xff)
    // inverse alpha filters (container spec): 1 = horizontal, 2 =
    // vertical, 3 = gradient — like PNG's sub/up/paeth-lite
    if (filter != 0) {
      for (y <- 0 until h; x <- 0 until w) {
        val i = y * w + x
        val left = if (x > 0) a(i - 1) else if (y > 0) a(i - w) else 0
        val top = if (y > 0) a(i - w) else left
        val tl = if (x > 0 && y > 0) a(i - w - 1) else left
        val p = filter match {
          case 1 => left
          case 2 => top
          case 3 => clamp255(left + top - tl)
        }
        a(i) = (a(i) + p) & 0xff
      }
    }
    a
  }

  /** The recursive VP8L image stream: transforms (level 0 only), color
    * cache, meta prefix codes (level 0 only), prefix-code groups, LZ77
    * pixel data, then inverse transforms in reverse read order. */
  private def decodeImageStream(w0: Int, h: Int, level0: Boolean,
      br: LsbBitReader): Array[Int] = {
    var w = w0
    val xforms = ArrayBuffer.empty[Xform]
    if (level0) {
      val seen = scala.collection.mutable.Set.empty[Int]
      while (br.bit() == 1) {
        val t = br.bits(2)
        require(!seen.contains(t), s"transform $t appears twice")
        seen += t
        t match {
          case 0 | 1 =>
            val sizeBits = br.bits(3) + 2
            val bw = divCeil(w, 1 << sizeBits)
            val bh = divCeil(h, 1 << sizeBits)
            val sub = decodeImageStream(bw, bh, level0 = false, br)
            xforms += Xform(t, w, sizeBits, sub, 0)
          case 2 =>
            xforms += Xform(2, w, 0, null, 0)
          case 3 =>
            val size = br.bits(8) + 1
            val pal = decodeImageStream(size, 1, level0 = false, br)
            for (i <- 1 until size) pal(i) = addPix(pal(i), pal(i - 1))
            val widthBits =
              if (size <= 2) 3 else if (size <= 4) 2 else if (size <= 16) 1 else 0
            xforms += Xform(3, w, widthBits, pal, size)
            if (widthBits > 0) w = divCeil(w, 1 << widthBits)
        }
      }
    }
    val cacheBits = if (br.bit() == 1) br.bits(4) else 0
    require(cacheBits >= 0 && cacheBits <= 11, s"bad color-cache bits $cacheBits")
    var meta: Array[Int] = null
    var metaW = 0
    var metaBits = 0
    var nGroups = 1
    if (level0 && br.bit() == 1) {
      metaBits = br.bits(3) + 2
      metaW = divCeil(w, 1 << metaBits)
      val mh = divCeil(h, 1 << metaBits)
      meta = decodeImageStream(metaW, mh, level0 = false, br)
      nGroups = meta.iterator.map(p => (p >>> 8) & 0xffff).max + 1
    }
    val groups = Array.fill(nGroups)(readCodeGroup(br, cacheBits))
    val cache = if (cacheBits > 0) new Array[Int](1 << cacheBits) else null

    val n = w * h
    val pix = new Array[Int](n)
    var pos = 0
    while (pos < n) {
      val x = pos % w
      val y = pos / w
      val g =
        if (meta == null) groups(0)
        else {
          val mp = meta((y >> metaBits) * metaW + (x >> metaBits))
          groups((mp >>> 8) & 0xffff)
        }
      val s = g(0).decode(br)
      if (s < 256) {
        val red = g(1).decode(br)
        val blue = g(2).decode(br)
        val alpha = g(3).decode(br)
        val p = (alpha << 24) | (red << 16) | (s << 8) | blue
        pix(pos) = p
        if (cache != null) cache(cacheHash(p, cacheBits)) = p
        pos += 1
      } else if (s < 256 + 24) {
        val len = copyLength(s - 256, br)
        val distPrefix = g(4).decode(br)
        val distCode = copyLength(distPrefix, br)
        val dist = planeCodeToDistance(w, distCode)
        require(dist <= pos && pos + len <= n,
          s"LZ77 copy out of range (pos=$pos dist=$dist len=$len)")
        var i = 0
        while (i < len) {
          val p = pix(pos - dist)
          pix(pos) = p
          if (cache != null) cache(cacheHash(p, cacheBits)) = p
          pos += 1
          i += 1
        }
      } else {
        require(cache != null, "color-cache symbol without a cache")
        pix(pos) = cache(s - 256 - 24)
        pos += 1
      }
    }

    // inverse transforms, reverse read order
    var img = pix
    var curW = w
    xforms.reverseIterator.foreach { xf =>
      xf.tpe match {
        case 0 => // predictor
          val bw = divCeil(xf.w, 1 << xf.bits)
          for (yy <- 0 until h; xx <- 0 until xf.w) {
            val mode = (xf.data((yy >> xf.bits) * bw + (xx >> xf.bits)) >>> 8) & 0xff
            val pred = predict(mode, img, xx, yy, xf.w)
            img(yy * xf.w + xx) = addPix(img(yy * xf.w + xx), pred)
          }
          curW = xf.w
        case 1 => // color transform
          val bw = divCeil(xf.w, 1 << xf.bits)
          for (yy <- 0 until h; xx <- 0 until xf.w) {
            val cte = xf.data((yy >> xf.bits) * bw + (xx >> xf.bits))
            val g2r = cte & 0xff
            val g2b = (cte >>> 8) & 0xff
            val r2b = (cte >>> 16) & 0xff
            val p = img(yy * xf.w + xx)
            val green = (p >>> 8) & 0xff
            var red = (p >>> 16) & 0xff
            var blue = p & 0xff
            red = (red + ctDelta(g2r, green)) & 0xff
            blue = (blue + ctDelta(g2b, green)) & 0xff
            blue = (blue + ctDelta(r2b, red)) & 0xff
            img(yy * xf.w + xx) = (p & 0xff000000) | (red << 16) |
              (green << 8) | blue
          }
          curW = xf.w
        case 2 => // subtract green
          for (i <- img.indices) {
            val p = img(i)
            val green = (p >>> 8) & 0xff
            val red = (((p >>> 16) & 0xff) + green) & 0xff
            val blue = ((p & 0xff) + green) & 0xff
            img(i) = (p & 0xff000000) | (red << 16) | (green << 8) | blue
          }
        case 3 => // color indexing (incl. packed widths)
          val out = new Array[Int](xf.w * h)
          val bpp = 8 >> xf.bits
          val perByte = 1 << xf.bits
          for (yy <- 0 until h; xx <- 0 until xf.w) {
            val packed = img(yy * curW + (xx >> xf.bits))
            val green = (packed >>> 8) & 0xff
            val idx =
              if (xf.bits == 0) green
              else (green >> (bpp * (xx & (perByte - 1)))) & ((1 << bpp) - 1)
            out(yy * xf.w + xx) = if (idx < xf.palSize) xf.data(idx) else 0
          }
          img = out
          curW = xf.w
      }
    }
    img
  }

  private def rasterOf(w: Int, h: Int, argb: Array[Int]): PngCodec.Raster = {
    val px = new Array[Byte](w * h * 4)
    var i = 0
    while (i < argb.length) {
      val p = argb(i)
      px(i * 4) = ((p >>> 16) & 0xff).toByte
      px(i * 4 + 1) = ((p >>> 8) & 0xff).toByte
      px(i * 4 + 2) = (p & 0xff).toByte
      px(i * 4 + 3) = ((p >>> 24) & 0xff).toByte
      i += 1
    }
    PngCodec.Raster(w, h, 4, px)
  }

  // ---------------------------------------------------------------
  // Encoder (fixture generation — spec-conformant streams)
  // ---------------------------------------------------------------

  /** Write a full ("normal") prefix code where the first `used`
    * symbols all have 8-bit lengths and the rest are absent. The
    * code-length code uses symbols {8 (len 1), 16 (len 2), 18
    * (len 2)} — complete by Kraft. Canonical codewords: 8 → "0",
    * 16 → "10", 18 → "11". */
  private def writeFlat8Code(bw: LsbBitWriter, alphabetSize: Int): Unit = {
    bw.putBits(0, 1) // not simple
    bw.putBits(8, 4) // num_code_lengths = 4 + 8 = 12 (covers 17,18,0..5,16,6,7,8)
    // 3-bit clc lengths in ClcOrder: 17→0, 18→2, 0..5→0, 16→2, 6→0, 7→0, 8→1
    val clcLens = Array(0, 2, 0, 0, 0, 0, 0, 0, 2, 0, 0, 1)
    clcLens.foreach(l => bw.putBits(l, 3))
    bw.putBits(0, 1) // no max_symbol cap
    // emit 256 lengths of 8: one literal, then repeat-16 runs (3..6)
    bw.putBits(0, 1) // clc code for symbol 8 = "0"
    var rem = 255
    while (rem > 0) {
      var r = math.min(6, rem)
      if (rem - r > 0 && rem - r < 3) r = rem - 3
      bw.putCode(2, 2) // clc code for 16 = "10"
      bw.putBits(r - 3, 2)
      rem -= r
    }
    // trailing zeros up to the alphabet size via repeat-18 (11..138)
    var zeros = alphabetSize - 256
    while (zeros > 0) {
      var z = math.min(138, zeros)
      if (zeros - z > 0 && zeros - z < 11) z = zeros - 11
      bw.putCode(3, 2) // clc code for 18 = "11"
      bw.putBits(z - 11, 7)
      zeros -= z
    }
  }

  /** Simple 1-symbol code (decodes with zero bits). */
  private def writeSimple1(bw: LsbBitWriter, symbol: Int): Unit = {
    bw.putBits(1, 1)              // simple
    bw.putBits(0, 1)              // 1 symbol
    if (symbol < 2) { bw.putBits(0, 1); bw.putBits(symbol, 1) }
    else { bw.putBits(1, 1); bw.putBits(symbol, 8) }
  }

  /** The 5 prefix codes of a literal-only group: flat 8-bit G/R/B,
    * constant-alpha simple code, never-used distance code. */
  private def writeLiteralGroup(bw: LsbBitWriter, alphaConst: Int): Unit = {
    writeFlat8Code(bw, 256 + 24) // green (no cache)
    writeFlat8Code(bw, 256)      // red
    writeFlat8Code(bw, 256)      // blue
    writeSimple1(bw, alphaConst) // alpha
    writeSimple1(bw, 0)          // distance (never consulted)
  }

  /** 8-bit flat-code literal: canonical codeword of symbol s is s
    * itself (all lengths equal), written MSB first. */
  private def put8(bw: LsbBitWriter, s: Int): Unit = bw.putCode(s, 8)

  private def riffWrap(vp8l: Array[Byte]): Array[Byte] =
    riffWrapAs("VP8L", vp8l)

  private def riffWrapAs(cc: String, payload: Array[Byte]): Array[Byte] = {
    val padded = payload.length + (payload.length & 1)
    val out = new Array[Byte](12 + 8 + padded)
    def put4(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(out, off)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >>> 8) & 0xff).toByte
      out(off + 2) = ((v >>> 16) & 0xff).toByte
      out(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    put4(0, "RIFF"); putLe32(4, 4 + 8 + padded); put4(8, "WEBP")
    put4(12, cc); putLe32(16, payload.length)
    payload.copyToArray(out, 20)
    out
  }

  /** A LOSSY fixture file: [[Vp8Codec.encodeLossy]]'s closed-form
    * keyframe in a RIFF container — the lossy sibling of [[encode]].
    * Decoded flat per-MB luma levels = [[Vp8Codec.lossyLevels]]. */
  def encodeLossyWebp(id: Long, w: Int, h: Int, q: Int = 100): Array[Byte] =
    riffWrapAs("VP8 ", Vp8Codec.encodeLossy(id, w, h, q))

  private def vp8lHeader(bw: LsbBitWriter, w: Int, h: Int): Unit = {
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384,
      s"VP8L dims out of range: ${w}x$h")
    bw.putBits(0x2f, 8)
    bw.putBits(w - 1, 14)
    bw.putBits(h - 1, 14)
    bw.putBits(1, 1) // alpha hint
    bw.putBits(0, 3)
  }

  private def argbOf(r: PngCodec.Raster): Array[Int] = {
    require(r.channels == 4 || r.channels == 3,
      s"need RGB(A) raster, got ${r.channels} channels")
    val n = r.width * r.height
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val o = i * r.channels
      val a = if (r.channels == 4) r.pixels(o + 3) & 0xff else 0xff
      out(i) = (a << 24) | ((r.pixels(o) & 0xff) << 16) |
        ((r.pixels(o + 1) & 0xff) << 8) | (r.pixels(o + 2) & 0xff)
      i += 1
    }
    out
  }

  /** Encode a raster as lossless WebP: literal pixels under flat
    * prefix codes, optionally behind the subtract-green transform.
    * Requires constant alpha (the fixture shape; full alpha planes
    * would just swap the simple alpha code for a flat one). */
  def encode(img: PngCodec.Raster, subtractGreen: Boolean = false): Array[Byte] = {
    val argb = argbOf(img)
    val alpha = (argb(0) >>> 24) & 0xff
    require(argb.forall(p => ((p >>> 24) & 0xff) == alpha),
      "fixture encoder requires constant alpha")
    val bw = new LsbBitWriter
    vp8lHeader(bw, img.width, img.height)
    if (subtractGreen) { bw.putBits(1, 1); bw.putBits(2, 2) }
    bw.putBits(0, 1) // no more transforms
    bw.putBits(0, 1) // no color cache
    bw.putBits(0, 1) // no meta prefix codes
    writeLiteralGroup(bw, alpha)
    argb.foreach { p =>
      val green = (p >>> 8) & 0xff
      var red = (p >>> 16) & 0xff
      var blue = p & 0xff
      if (subtractGreen) {
        red = (red - green) & 0xff
        blue = (blue - green) & 0xff
      }
      put8(bw, green); put8(bw, red); put8(bw, blue) // alpha: 0 bits
    }
    riffWrap(bw.result())
  }

  /** Encode an indexed image through the color-indexing transform
    * (packed sub-8-bit widths for palettes ≤ 16). `indexAt(x, y)` must
    * return values < palette.length; palette entries are ARGB. */
  def encodeIndexed(w: Int, h: Int, palette: Array[Int],
      indexAt: (Int, Int) => Int): Array[Byte] = {
    val size = palette.length
    require(size >= 1 && size <= 256, s"palette size $size out of range")
    val bw = new LsbBitWriter
    vp8lHeader(bw, w, h)
    bw.putBits(1, 1); bw.putBits(3, 2) // color-indexing transform
    bw.putBits(size - 1, 8)
    // palette as a delta-coded 1×size literal image (its own stream):
    // entry 0 is stored RAW (the decoder's cumulative add starts from
    // it), so the alpha column is 0xff then zeros — a flat alpha code
    require(palette.forall(p => ((p >>> 24) & 0xff) == 0xff),
      "fixture encoder requires an opaque palette")
    bw.putBits(0, 1)               // no color cache
    writeFlat8Code(bw, 256 + 24)   // green
    writeFlat8Code(bw, 256)        // red
    writeFlat8Code(bw, 256)        // blue
    writeFlat8Code(bw, 256)        // alpha
    writeSimple1(bw, 0)            // distance
    var prev = 0
    palette.foreach { p =>
      val d = subPix(p, prev)
      prev = p
      put8(bw, (d >>> 8) & 0xff); put8(bw, (d >>> 16) & 0xff)
      put8(bw, d & 0xff); put8(bw, (d >>> 24) & 0xff)
    }
    // main image at the packed width
    val widthBits =
      if (size <= 2) 3 else if (size <= 4) 2 else if (size <= 16) 1 else 0
    val packedW = if (widthBits > 0) divCeil(w, 1 << widthBits) else w
    val bpp = 8 >> widthBits
    val perByte = 1 << widthBits
    bw.putBits(0, 1) // no more transforms
    bw.putBits(0, 1) // no color cache
    bw.putBits(0, 1) // no meta prefix codes
    writeLiteralGroup(bw, 0xff)
    for (y <- 0 until h; px <- 0 until packedW) {
      var green = 0
      var k = 0
      while (k < perByte) {
        val x = px * perByte + k
        if (x < w) {
          val idx = indexAt(x, y)
          require(idx >= 0 && idx < size, s"index $idx out of palette range")
          green |= idx << (bpp * k)
        }
        k += 1
      }
      put8(bw, green); put8(bw, 0); put8(bw, 0)
    }
    riffWrap(bw.result())
  }

  private def subPix(a: Int, b: Int): Int = {
    val aa = ((a >>> 24) - (b >>> 24)) & 0xff
    val rr = (((a >>> 16) & 0xff) - ((b >>> 16) & 0xff)) & 0xff
    val gg = (((a >>> 8) & 0xff) - ((b >>> 8) & 0xff)) & 0xff
    val bb = ((a & 0xff) - (b & 0xff)) & 0xff
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  /** Encode behind a single-block PREDICTOR transform (all blocks use
    * `mode`; edge rules as in the spec). Exercises the predictor
    * inverse on format-true input. */
  def encodePredicted(img: PngCodec.Raster, mode: Int): Array[Byte] = {
    require(mode >= 0 && mode <= 13, s"predictor mode $mode out of range")
    val argb = argbOf(img)
    val w = img.width; val h = img.height
    val bw = new LsbBitWriter
    vp8lHeader(bw, w, h)
    bw.putBits(1, 1); bw.putBits(0, 2) // predictor transform
    val sizeBits = 9                 // one 512×512 block covers any fixture
    bw.putBits(sizeBits - 2, 3)
    // 1×1 subimage holding the mode in GREEN: all-simple codes — a
    // 1-symbol simple code decodes with ZERO bits, so the subimage's
    // single pixel costs nothing beyond the code headers
    bw.putBits(0, 1)                 // no color cache (subimage)
    writeSimple1(bw, mode)           // green
    writeSimple1(bw, 0)              // red
    writeSimple1(bw, 0)              // blue
    writeSimple1(bw, 0xff)           // alpha
    writeSimple1(bw, 0)              // distance
    bw.putBits(0, 1) // no more transforms — continues the LEVEL-0 stream
    bw.putBits(0, 1) // no color cache
    bw.putBits(0, 1) // no meta prefix codes
    // residuals can be any byte; alpha residual is 0 for constant alpha
    // only when mode keeps alpha (true for all modes with constant-
    // alpha input except mode 0's first pixels — so use a flat alpha
    // code to stay general)
    writeFlat8Code(bw, 256 + 24)
    writeFlat8Code(bw, 256)
    writeFlat8Code(bw, 256)
    writeFlat8Code(bw, 256)
    writeSimple1(bw, 0)
    // reconstruct-and-subtract: residual = pixel − predict(recon);
    // predict() itself applies the (0,0)/row-0/column-0 edge rules
    val recon = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val pred = predict(mode, recon, x, y, w)
      val p = argb(y * w + x)
      recon(y * w + x) = p
      val d = subPix(p, pred)
      put8(bw, (d >>> 8) & 0xff)
      put8(bw, (d >>> 16) & 0xff)
      put8(bw, d & 0xff)
      put8(bw, (d >>> 24) & 0xff)
    }
    riffWrap(bw.result())
  }

  /** Deterministic gray gradient: v(x,y) = (id + 7x + 13y) mod 256 in
    * all three channels — the fixture formula an external oracle can
    * replay in closed form (the GIF gate's pattern). */
  def grayGradient(id: Long, w: Int, h: Int): PngCodec.Raster = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((id + 7L * x + 13L * y) % 256).toInt
        val o = (y * w + x) * 3
        px(o) = v.toByte; px(o + 1) = v.toByte; px(o + 2) = v.toByte
        x += 1
      }
      y += 1
    }
    PngCodec.Raster(w, h, 3, px)
  }

  /** The gray gradient through one of FIVE spec-conformant encode
    * paths cycled by id — plain literals, subtract-green, a predictor
    * mode, a color transform, and a 256-entry palette — all decoding
    * to the SAME pixels, so one oracle formula exercises every decode
    * path. */
  def encodeGradientVariant(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = grayGradient(id, w, h)
    (id % 5) match {
      case 0 => encode(img)
      case 1 => encode(img, subtractGreen = true)
      case 2 => encodePredicted(img, mode = (1 + (id / 5) % 13).toInt)
      case 3 => encodeColorTransformed(img, g2r = 23, g2b = 0xef, r2b = 41)
      case _ =>
        val pal = Array.tabulate(256)(i => 0xff000000 | (i << 16) | (i << 8) | i)
        encodeIndexed(w, h, pal, (x, y) => ((id + 7L * x + 13L * y) % 256).toInt)
    }
  }

  /** Encode behind a single-block COLOR transform with the given
    * coefficients (signed 8-bit each). */
  def encodeColorTransformed(img: PngCodec.Raster, g2r: Int, g2b: Int,
      r2b: Int): Array[Byte] = {
    val argb = argbOf(img)
    val w = img.width; val h = img.height
    val alpha = (argb(0) >>> 24) & 0xff
    require(argb.forall(p => ((p >>> 24) & 0xff) == alpha),
      "fixture encoder requires constant alpha")
    val bw = new LsbBitWriter
    vp8lHeader(bw, w, h)
    bw.putBits(1, 1); bw.putBits(1, 2) // color transform
    bw.putBits(9 - 2, 3)             // one big block
    bw.putBits(0, 1)                 // subimage: no cache
    writeSimple1(bw, g2b & 0xff)     // green  = green_to_blue
    writeSimple1(bw, r2b & 0xff)     // red    = red_to_blue
    writeSimple1(bw, g2r & 0xff)     // blue   = green_to_red
    writeSimple1(bw, 0xff)           // alpha
    writeSimple1(bw, 0)              // distance
    bw.putBits(0, 1) // no more transforms
    bw.putBits(0, 1) // no color cache
    bw.putBits(0, 1) // no meta prefix codes
    writeLiteralGroup(bw, alpha)
    argb.foreach { p =>
      val green = (p >>> 8) & 0xff
      val red = (p >>> 16) & 0xff
      val blue = p & 0xff
      val encRed = (red - ctDelta(g2r, green)) & 0xff
      val encBlue = (blue - ctDelta(g2b, green) - ctDelta(r2b, red)) & 0xff
      put8(bw, green); put8(bw, encRed); put8(bw, encBlue)
    }
    riffWrap(bw.result())
  }
}
