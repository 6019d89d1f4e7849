package graft.operators

import java.util.zip.CRC32

/** Minimal PNG codec over PUBLIC byte layouts — the W3C PNG spec
  * (chunk framing, IHDR/IDAT/IEND, the five scanline filters).
  *
  * No imaging library and no JDK zlib binding: chunk framing and all
  * five scanline filters are byte math here; the IDAT zlib stream is
  * read by [[Gzip.zlibInflate]], capped at the raster size the header
  * implies (the decompression-bomb guard), and written by
  * [[Gzip.zlibDeflate]] around STORED or best-of-three deflate. JPEG
  * decodes through the equally hand-written [[JpegCodec]] (baseline +
  * progressive T.81); [[Multimodal.resizeStub]] remains only as the
  * generic opaque-payload fallback for containers with no pixel
  * decoder (e.g. MP4 frames).
  *
  * Supported pixel formats (rounds 8–9 — the icon/logo and
  * photography/archive classes that previously hashed to null and
  * ESCAPED image dedup): every legal IHDR combination except 16-bit
  * palette (which the spec itself forbids) — truecolor (color type 2)
  * and truecolor-alpha (6) at 8/16-bit; grayscale (0) at
  * 1/2/4/8/16-bit; indexed/palette (3) at 1/2/4/8-bit; gray-alpha (4)
  * at 8/16-bit; each in both non-interlaced and Adam7-interlaced form
  * (spec §8.2: seven independently-filtered reduced images). tRNS
  * transparency decodes to RGBA in all three legal homes: palette
  * entries (type 3) and the color-key forms on gray (0) and truecolor
  * (2), with the key compared at FULL sample precision before any
  * 16→8 downscale. 16-bit samples downscale by high byte (libpng's
  * strip-16 convention; ImageIO raster >> 8 is the cross-oracle).
  */
object PngCodec {

  /** Decoded raster: tightly-packed rows, `channels` bytes per pixel
    * (3 = RGB, 4 = RGBA), no filter bytes. */
  final case class Raster(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  private val Sig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >>> 24) & 0xff).toByte
    b(off + 1) = ((v >>> 16) & 0xff).toByte
    b(off + 2) = ((v >>> 8) & 0xff).toByte
    b(off + 3) = (v & 0xff).toByte
  }

  /** Paeth predictor (PNG spec §6.6): the neighbor closest to
    * left + up − upleft, ties resolved left, up, upleft. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Adam7 pass grid (spec §8.2): (x0, y0, dx, dy) per pass. A
    * non-interlaced image is the single pass (0, 0, 1, 1). */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Parse and fully decode a PNG: chunk walk, zlib inflate, per-pass
    * unfilter, sample unpack (sub-byte depths MSB-first, §7.2),
    * palette/gray channel expansion. Ancillary chunks are skipped;
    * malformed or unsupported inputs fail loudly. */
  def decode(bytes: Array[Byte]): Raster = {
    require(bytes != null && bytes.length > 8 &&
      java.util.Arrays.equals(bytes, 0, 8, Sig, 0, 8), "not a PNG payload")
    var off = 8
    var w = 0
    var h = 0
    var colorType = -1
    var bitDepth = 0
    var interlace = 0
    var plte: Array[Byte] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && off + 8 <= bytes.length) {
      val len = Bytes.be32(bytes, off)
      require(len >= 0 && off.toLong + 12L + len <= bytes.length,
        s"truncated chunk at offset $off")
      val typ = new String(bytes, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      typ match {
        case "IHDR" =>
          w = Bytes.be32(bytes, off + 8)
          h = Bytes.be32(bytes, off + 12)
          bitDepth = bytes(off + 16) & 0xff
          colorType = bytes(off + 17) & 0xff
          interlace = bytes(off + 20) & 0xff
          require(Set(0, 2, 3, 4, 6).contains(colorType),
            s"unsupported color type $colorType")
          // §11.2.2 legal depth sets — complete: only combinations the
          // spec itself forbids are rejected (16-bit palette, sub-byte
          // multi-channel)
          val okDepth = colorType match {
            case 0 => Set(1, 2, 4, 8, 16)
            case 3 => Set(1, 2, 4, 8)
            case _ => Set(8, 16)
          }
          require(okDepth.contains(bitDepth),
            s"illegal bit depth $bitDepth for color type $colorType")
          require(interlace == 0 || interlace == 1,
            s"bad interlace method $interlace")
          // Long-math pixel cap (the GIF/JPEG guard): IHDR dims are
          // full 32-bit, so row/raster sizes on a crafted header would
          // wrap Int into a NegativeArraySizeException the
          // null-mapping catch in aHashAny does not cover, or demand a
          // multi-GB buffer from a tiny payload
          require(w > 0 && h > 0 && w.toLong * h <= 64L * 1024 * 1024,
            s"implausible IHDR dimensions ${w}x$h")
        case "PLTE" =>
          require(len % 3 == 0 && len <= 256 * 3, s"bad PLTE length $len")
          plte = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
        case "tRNS" =>
          // legal homes (§11.3.2): palette entries (3), gray color key
          // (0, one 2-byte sample), truecolor color key (2, three
          // 2-byte samples); types 4/6 carry a real alpha channel and
          // may not have tRNS
          colorType match {
            case 3 => ()
            case 0 => require(len == 2, s"bad gray tRNS length $len")
            case 2 => require(len == 6, s"bad truecolor tRNS length $len")
            case t => throw new IllegalArgumentException(
              s"tRNS not legal for color type $t")
          }
          trns = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
        case "IDAT" => idat.write(bytes, off + 8, len)
        case "IEND" => done = true
        case _ => ()
      }
      off += 12 + len
    }
    require(w > 0 && h > 0 && colorType >= 0, "missing or empty IHDR")
    if (colorType == 3) {
      require(plte != null, "palette PNG missing PLTE chunk")
      require(trns == null || trns.length <= plte.length / 3,
        "tRNS longer than the palette")
    }
    val spp = colorType match { case 0 | 3 => 1; case 4 => 2; case 2 => 3; case 6 => 4 }
    val bitsPP = bitDepth * spp
    val bpp = math.max(1, bitsPP / 8) // filter "left" byte distance (§9.2)
    val ch = colorType match {
      case 0 | 2 | 3 => if (trns != null) 4 else 3
      case _ => 4
    }
    // gray sample scaling to 8-bit: v * 255 / (2^d − 1) — exact for
    // d ≤ 8 (maxV divides 255); 16-bit takes the high byte instead
    val maxV = (1 << math.min(bitDepth, 8)) - 1
    // full-precision color keys (compare BEFORE downscaling — two
    // 16-bit samples that share a high byte must not both key out)
    val grayKey =
      if (colorType == 0 && trns != null) Bytes.be16(trns, 0)
      else -1
    // truecolor key: three big-endian 2-byte samples in the tRNS payload
    def s16t(o: Int): Int = Bytes.be16(trns, o)
    val passes =
      if (interlace == 0) Array((0, 0, 1, 1)) else Adam7
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, dx, dy) = p
      (if (w > x0) (w - x0 + dx - 1) / dx else 0,
        if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    def rowBytes(wp: Int): Int = (wp * bitsPP + 7) / 8
    val expected = passes.map { p =>
      val (wp, hp) = passDims(p)
      if (wp == 0 || hp == 0) 0 else hp * (1 + rowBytes(wp))
    }.sum
    val raw = Gzip.zlibInflate(idat.toByteArray, expected)
    require(raw.length == expected, s"decompressed ${raw.length} bytes, expected $expected")
    val out = new Array[Byte](w * h * ch)
    var rawOff = 0
    passes.foreach { case p @ (x0, y0, dx, dy) =>
      val (wp, hp) = passDims(p)
      if (wp > 0 && hp > 0) {
        val rb = rowBytes(wp)
        // unfilter this pass's reduced image in place (each pass is an
        // independent image: row 0 has no "up" neighbor — §8.2)
        val sub = new Array[Byte](hp * rb)
        var y = 0
        while (y < hp) {
          val ft = raw(rawOff + y * (rb + 1)) & 0xff
          val src = rawOff + y * (rb + 1) + 1
          val dst = y * rb
          var x = 0
          while (x < rb) {
            val fx = raw(src + x) & 0xff
            val a = if (x >= bpp) sub(dst + x - bpp) & 0xff else 0
            val b = if (y > 0) sub(dst - rb + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) sub(dst - rb + x - bpp) & 0xff else 0
            val rec = ft match {
              case 0 => fx
              case 1 => fx + a
              case 2 => fx + b
              case 3 => fx + ((a + b) >> 1)
              case 4 => fx + paeth(a, b, c)
              case other =>
                throw new IllegalArgumentException(s"bad filter type $other at row $y")
            }
            sub(dst + x) = (rec & 0xff).toByte
            x += 1
          }
          y += 1
        }
        rawOff += hp * (1 + rb)
        // unpack samples and place each pixel at its full-image position
        var j = 0
        while (j < hp) {
          val row = j * rb
          var i = 0
          while (i < wp) {
            val d = ((y0 + j * dy) * w + (x0 + i * dx)) * ch
            // 16-bit: big-endian sample pairs; emit the HIGH byte
            // (strip-16), key-compare at full precision
            def s16(o: Int): Int = Bytes.be16(sub, o)
            colorType match {
              case 2 if bitDepth == 16 =>
                val s = row + i * 6
                out(d) = sub(s); out(d + 1) = sub(s + 2); out(d + 2) = sub(s + 4)
                if (ch == 4) {
                  val keyed = s16(s) == s16t(0) && s16(s + 2) == s16t(2) &&
                    s16(s + 4) == s16t(4)
                  out(d + 3) = if (keyed) 0x00 else 0xff.toByte
                }
              case 2 =>
                val s = row + i * 3
                out(d) = sub(s); out(d + 1) = sub(s + 1); out(d + 2) = sub(s + 2)
                if (ch == 4) {
                  // 8-bit samples sit in the LOW byte of each 2-byte key
                  val keyed = (sub(s) & 0xff) == (trns(1) & 0xff) &&
                    (sub(s + 1) & 0xff) == (trns(3) & 0xff) &&
                    (sub(s + 2) & 0xff) == (trns(5) & 0xff)
                  out(d + 3) = if (keyed) 0x00 else 0xff.toByte
                }
              case 6 if bitDepth == 16 =>
                val s = row + i * 8
                out(d) = sub(s); out(d + 1) = sub(s + 2)
                out(d + 2) = sub(s + 4); out(d + 3) = sub(s + 6)
              case 6 =>
                val s = row + i * 4
                out(d) = sub(s); out(d + 1) = sub(s + 1)
                out(d + 2) = sub(s + 2); out(d + 3) = sub(s + 3)
              case 4 if bitDepth == 16 =>
                val s = row + i * 4
                out(d) = sub(s); out(d + 1) = sub(s); out(d + 2) = sub(s)
                out(d + 3) = sub(s + 2)
              case 4 =>
                val s = row + i * 2
                out(d) = sub(s); out(d + 1) = sub(s); out(d + 2) = sub(s)
                out(d + 3) = sub(s + 1)
              case 0 if bitDepth == 16 =>
                val s = row + i * 2
                val g = sub(s)
                out(d) = g; out(d + 1) = g; out(d + 2) = g
                if (ch == 4)
                  out(d + 3) = if (s16(s) == grayKey) 0x00 else 0xff.toByte
              case _ => // 0 or 3 at ≤ 8-bit: one sample, possibly sub-byte (MSB-first)
                val v =
                  if (bitDepth == 8) sub(row + i) & 0xff
                  else {
                    val bit = i * bitDepth
                    (sub(row + (bit >> 3)) & 0xff) >> (8 - bitDepth - (bit & 7)) & maxV
                  }
                if (colorType == 0) {
                  val g = (v * 255 / maxV).toByte
                  out(d) = g; out(d + 1) = g; out(d + 2) = g
                  if (ch == 4)
                    out(d + 3) = if (v == grayKey) 0x00 else 0xff.toByte
                } else {
                  require(v * 3 + 2 < plte.length, s"palette index $v out of range")
                  out(d) = plte(v * 3); out(d + 1) = plte(v * 3 + 1)
                  out(d + 2) = plte(v * 3 + 2)
                  if (ch == 4)
                    out(d + 3) = if (v < trns.length) trns(v) else 0xff.toByte
                }
            }
            i += 1
          }
          j += 1
        }
      }
    }
    Raster(w, h, ch, out)
  }

  private def writeChunk(out: Array[Byte], off: Int, typ: String, data: Array[Byte]): Int = {
    putBe32(out, off, data.length)
    var i = 0
    while (i < 4) { out(off + 4 + i) = typ.charAt(i).toByte; i += 1 }
    System.arraycopy(data, 0, out, off + 8, data.length)
    val crc = new CRC32()
    crc.update(out, off + 4, 4 + data.length)
    putBe32(out, off + 8 + data.length, crc.getValue.toInt)
    off + 12 + data.length
  }

  /** Prefix each tightly-packed row of `rows` (row length `rowBytes`)
    * with a filter-0 byte — the serialized scanline layout. */
  private def filter0Rows(rows: Array[Byte], height: Int, rowBytes: Int): Array[Byte] = {
    val raw = new Array[Byte](height * (rowBytes + 1))
    var y = 0
    while (y < height) {
      raw(y * (rowBytes + 1)) = 0
      System.arraycopy(rows, y * rowBytes, raw, y * (rowBytes + 1) + 1, rowBytes)
      y += 1
    }
    raw
  }

  /** Serialize a [[Raster]] as a spec-valid PNG. The zlib stream uses
    * STORED deflate blocks (RFC 1951 §3.2.4), so the output is
    * deterministic byte-for-byte and the file size is a closed form
    * of the dims — `63 + raw + 5·⌈raw/65535⌉` with
    * `raw = height·(1 + width·channels)` — which the SQL oracle
    * recomputes. Rows are written filter-0 (decode accepts all five). */
  def encode(img: Raster): Array[Byte] = {
    require(img.width > 0 && img.height > 0, s"bad dims ${img.width}x${img.height}")
    require(img.channels == 3 || img.channels == 4, s"bad channels ${img.channels}")
    require(img.pixels.length == img.width * img.height * img.channels, "pixel size mismatch")
    val rows = filter0Rows(img.pixels, img.height, img.width * img.channels)
    framePng(img, Gzip.zlibDeflate(rows, Gzip.deflateStored))
  }

  private def framePng(img: Raster, z: Array[Byte]): Array[Byte] = {
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, img.width)
    putBe32(ihdr, 4, img.height)
    ihdr(8) = 8
    ihdr(9) = if (img.channels == 3) 2 else 6
    val out = new Array[Byte](8 + 25 + (12 + z.length) + 12)
    System.arraycopy(Sig, 0, out, 0, 8)
    var o = writeChunk(out, 8, "IHDR", ihdr)
    o = writeChunk(out, o, "IDAT", z)
    o = writeChunk(out, o, "IEND", Array.emptyByteArray)
    assert(o == out.length, s"size bookkeeping off: $o != ${out.length}")
    out
  }

  /** Serialize with REAL compression: per-row adaptive filter selection
    * (the libpng minimum-sum-of-absolute-signed-residuals heuristic over
    * filters 0–4) and the repo's full RFC 1951 compressor
    * ([[Gzip.deflateBest]]: best of stored / fixed / dynamic-Huffman
    * blocks) inside RFC 1950 zlib framing. [[encode]] stays stored so
    * its closed-form size remains SQL-oracle-computable; this is the
    * writer a 100 TB image sink would actually use. Deterministic. */
  def encodeCompressed(img: Raster): Array[Byte] = {
    require(img.width > 0 && img.height > 0, s"bad dims ${img.width}x${img.height}")
    require(img.channels == 3 || img.channels == 4, s"bad channels ${img.channels}")
    require(img.pixels.length == img.width * img.height * img.channels, "pixel size mismatch")
    val ch = img.channels
    val stride = img.width * ch
    val raw = new Array[Byte](img.height * (stride + 1))
    val filtered = new Array[Byte](stride) // scratch for the candidate row
    val best = new Array[Byte](stride)
    var y = 0
    while (y < img.height) {
      val rowOff = y * stride
      var bestScore = Long.MaxValue
      var bestF = 0
      var f = 0
      while (f <= 4) {
        var score = 0L
        var i = 0
        while (i < stride && score < bestScore) {
          val cur = img.pixels(rowOff + i) & 0xff
          val left = if (i >= ch) img.pixels(rowOff + i - ch) & 0xff else 0
          val up = if (y > 0) img.pixels(rowOff - stride + i) & 0xff else 0
          val ul = if (y > 0 && i >= ch) img.pixels(rowOff - stride + i - ch) & 0xff else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case _ => // Paeth (§6.6 of the PNG spec)
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
          }
          val r = (cur - pred) & 0xff
          filtered(i) = r.toByte
          score += math.abs((r << 24) >> 24) // signed-byte magnitude
          i += 1
        }
        if (score < bestScore) {
          bestScore = score; bestF = f
          System.arraycopy(filtered, 0, best, 0, stride)
        }
        f += 1
      }
      raw(y * (stride + 1)) = bestF.toByte
      System.arraycopy(best, 0, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    framePng(img, Gzip.zlibDeflate(raw, Gzip.deflateBest))
  }

  /** Serialize an INDEXED (color type 3) PNG: 8-bit indices, filter-0
    * rows, STORED deflate, optional tRNS alpha per palette entry — the
    * icon-class payload generator for gates and tests. Deterministic
    * byte-for-byte. */
  def encodeIndexed(width: Int, height: Int, palette: Array[Byte],
      indices: Array[Byte], trns: Array[Byte] = null): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(palette.length % 3 == 0 && palette.length >= 3 &&
      palette.length <= 256 * 3, s"bad palette length ${palette.length}")
    require(indices.length == width * height, "index size mismatch")
    val n = palette.length / 3
    indices.foreach(i => require((i & 0xff) < n, s"index ${i & 0xff} out of palette"))
    require(trns == null || trns.length <= n, "tRNS longer than the palette")
    val z = Gzip.zlibDeflate(filter0Rows(indices, height, width), Gzip.deflateStored)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width)
    putBe32(ihdr, 4, height)
    ihdr(8) = 8
    ihdr(9) = 3
    val trnsLen = if (trns == null) 0 else 12 + trns.length
    val out = new Array[Byte](8 + 25 + (12 + palette.length) + trnsLen + (12 + z.length) + 12)
    System.arraycopy(Sig, 0, out, 0, 8)
    var o = writeChunk(out, 8, "IHDR", ihdr)
    o = writeChunk(out, o, "PLTE", palette)
    if (trns != null) o = writeChunk(out, o, "tRNS", trns)
    o = writeChunk(out, o, "IDAT", z)
    o = writeChunk(out, o, "IEND", Array.emptyByteArray)
    assert(o == out.length, s"size bookkeeping off: $o != ${out.length}")
    out
  }

  /** Serialize an 8-bit GRAYSCALE (color type 0) PNG, filter-0 rows,
    * STORED deflate. Deterministic byte-for-byte. */
  def encodeGray(width: Int, height: Int, samples: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(samples.length == width * height, "sample size mismatch")
    val z = Gzip.zlibDeflate(filter0Rows(samples, height, width), Gzip.deflateStored)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width)
    putBe32(ihdr, 4, height)
    ihdr(8) = 8
    ihdr(9) = 0
    val out = new Array[Byte](8 + 25 + (12 + z.length) + 12)
    System.arraycopy(Sig, 0, out, 0, 8)
    var o = writeChunk(out, 8, "IHDR", ihdr)
    o = writeChunk(out, o, "IDAT", z)
    o = writeChunk(out, o, "IEND", Array.emptyByteArray)
    assert(o == out.length, s"size bookkeeping off: $o != ${out.length}")
    out
  }

  /** Serialize a 16-bit GRAYSCALE (color type 0, depth 16) PNG —
    * big-endian sample pairs, filter-0 rows, STORED deflate, optional
    * color-key tRNS (one 2-byte sample; pixels equal to it at FULL
    * precision decode transparent). The photography/archive-class
    * payload generator for gates and tests. Deterministic
    * byte-for-byte. */
  def encodeGray16(width: Int, height: Int, samples: Array[Int],
      colorKey: Int = -1): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(samples.length == width * height, "sample size mismatch")
    val rows = new Array[Byte](width * height * 2)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      require(v >= 0 && v <= 0xffff, s"sample $v out of 16-bit range")
      rows(i * 2) = ((v >> 8) & 0xff).toByte
      rows(i * 2 + 1) = (v & 0xff).toByte
      i += 1
    }
    val z = Gzip.zlibDeflate(filter0Rows(rows, height, width * 2), Gzip.deflateStored)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width)
    putBe32(ihdr, 4, height)
    ihdr(8) = 16
    ihdr(9) = 0
    val trnsLen = if (colorKey < 0) 0 else 12 + 2
    val out = new Array[Byte](8 + 25 + trnsLen + (12 + z.length) + 12)
    System.arraycopy(Sig, 0, out, 0, 8)
    var o = writeChunk(out, 8, "IHDR", ihdr)
    if (colorKey >= 0) {
      require(colorKey <= 0xffff, s"color key $colorKey out of 16-bit range")
      o = writeChunk(out, o, "tRNS",
        Array(((colorKey >> 8) & 0xff).toByte, (colorKey & 0xff).toByte))
    }
    o = writeChunk(out, o, "IDAT", z)
    o = writeChunk(out, o, "IEND", Array.emptyByteArray)
    assert(o == out.length, s"size bookkeeping off: $o != ${out.length}")
    out
  }

  /** Nearest-neighbor resample — the same floor index math as
    * [[Multimodal.resizeBmp24]], channel-count agnostic. */
  def resize(img: Raster, scalePercent: Int): Raster = {
    require(scalePercent > 0, s"scalePercent must be positive, got $scalePercent")
    val nw = math.max(1, img.width * scalePercent / 100)
    val nh = math.max(1, img.height * scalePercent / 100)
    val ch = img.channels
    val out = new Array[Byte](nw * nh * ch)
    var y = 0
    while (y < nh) {
      val sy = y * img.height / nh
      var x = 0
      while (x < nw) {
        val s = (sy * img.width + x * img.width / nw) * ch
        val d = (y * nw + x) * ch
        var k = 0
        while (k < ch) { out(d + k) = img.pixels(s + k); k += 1 }
        x += 1
      }
      y += 1
    }
    Raster(nw, nh, ch, out)
  }

  /** Decode → nearest-neighbor resample → re-encode: the REAL PNG
    * resize path (real inflate, real unfilter, real pixel math). */
  def resizePng(bytes: Array[Byte], scalePercent: Int): Array[Byte] =
    encode(resize(decode(bytes), scalePercent))

  /** Deterministic RGB gradient raster — the same per-pixel formulas as
    * [[Multimodal.encodeBmp]] (which stores them B,G,R) — so gate/test
    * payloads are reproducible everywhere. */
  def gradient(id: Long, width: Int, height: Int): Raster = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val px = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val d = (y * width + x) * 3
        px(d) = ((x * 7 + y * 3) & 0xff).toByte // R
        px(d + 1) = ((x ^ y) & 0xff).toByte // G
        px(d + 2) = ((x + y + id) & 0xff).toByte // B
        x += 1
      }
      y += 1
    }
    Raster(width, height, 3, px)
  }
}
