package graft.operators

/** Baseline TIFF 6.0 strip DECODE — un-fences the pixel path
  * [[TiffMeta]] kept metadata-only, making TIFF the seventh format in
  * the cross-container image hash space (BMP, PNG, JPEG, GIF, WebP
  * lossless+lossy, TIFF). Scope is the baseline-TIFF core every
  * grayscale/RGB scanner file uses: 8-bit samples, chunky planar
  * config, strip layout (any RowsPerStrip), Compression 1 (none) and
  * 32773 (PackBits, the Apple RLE Appendix G specifies), Photometric
  * 1 (BlackIsZero gray, widened to RGB) and 2 (RGB), both byte
  * orders. LZW/JPEG-in-TIFF/16-bit stay loudly fenced — the
  * [[WavCodec]] policy: never mis-read samples.
  *
  * Everything is row-local payload work; the independent oracle is
  * the JDK's own ImageIO TIFF plugin (cross-checked in TiffCodecSpec
  * on every variant), plus the gates' closed-form gradient replay.
  */
object TiffCodec {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** PackBits (TIFF 6.0 Appendix G) decode of exactly `expect` bytes. */
  def packBitsDecode(b: Array[Byte], off: Int, len: Int,
      expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var i = off
    val end = off + len
    var o = 0
    while (o < expect) {
      if (i >= end) fail("PackBits stream exhausted before strip filled")
      val n = b(i); i += 1
      if (n >= 0) { // literal run of n+1 bytes
        val cnt = n + 1
        if (i + cnt > end || o + cnt > expect) fail("PackBits literal overruns")
        System.arraycopy(b, i, out, o, cnt)
        i += cnt; o += cnt
      } else if (n != -128) { // repeat next byte 1-n times; -128 is a noop
        val cnt = 1 - n
        if (i >= end || o + cnt > expect) fail("PackBits run overruns")
        java.util.Arrays.fill(out, o, o + cnt, b(i))
        i += 1; o += cnt
      }
    }
    out
  }

  /** PackBits encode (runs ≥3 become repeat packets; literals chunked
    * at 128) — roundtrips with [[packBitsDecode]] and with ImageIO's
    * independent decoder. */
  def packBitsEncode(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < row.length) {
      var run = 1
      while (i + run < row.length && row(i + run) == row(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(1 - run) // -(run-1)
        out.write(row(i))
        i += run
      } else {
        var lit = i + run
        var litRun = 1
        while (lit < row.length && litRun < 3 && (lit - i) < 128) {
          litRun = 1
          while (lit + litRun < row.length && row(lit + litRun) == row(lit) && litRun < 128)
            litRun += 1
          if (litRun < 3) lit += litRun
        }
        val cnt = math.min(lit - i, 128)
        out.write(cnt - 1)
        out.write(row, i, cnt)
        i += cnt
      }
    }
    out.toByteArray
  }

  /** Decode a baseline TIFF into a visual-order RGB raster (gray
    * widened to r=g=b). */
  def decode(bytes: Array[Byte]): PngCodec.Raster = {
    if (!TiffMeta.isTiff(bytes)) fail("not a TIFF payload")
    val be = bytes(0) == 'M'
    val ifd = Bytes.u32(bytes, 4, be)
    if (ifd < 8 || ifd + 2 > bytes.length) fail(s"bad IFD0 offset $ifd")
    val n = Bytes.u16(bytes, ifd.toInt, be)
    if (n <= 0 || ifd + 2 + n * 12L + 4 > bytes.length) fail("IFD0 overruns payload")
    var w = 0
    var h = 0
    var bps = 1
    var spp = 1
    var compression = 1
    var photometric = -1
    var planar = 1
    var rowsPerStrip = Int.MaxValue
    var stripOffsets: Array[Long] = null
    var stripCounts: Array[Long] = null
    for (i <- 0 until n) {
      val e = ifd.toInt + 2 + i * 12
      val tag = Bytes.u16(bytes, e, be)
      val typ = Bytes.u16(bytes, e + 2, be)
      val count = Bytes.u32(bytes, e + 4, be)
      def one: Int = typ match {
        case 3 => Bytes.u16(bytes, e + 8, be)
        case 4 => Bytes.u32(bytes, e + 8, be).toInt
        case other => fail(s"unsupported type $other for tag 0x${tag.toHexString}")
      }
      def longArray: Array[Long] = {
        if (count <= 0 || count > (1 << 20)) fail(s"bad tag count $count")
        val width = if (typ == 3) 2 else if (typ == 4) 4 else fail(s"bad array type $typ")
        val c = count.toInt
        if (c.toLong * width <= 4) {
          Array.tabulate(c)(k =>
            if (typ == 3) Bytes.u16(bytes, e + 8 + 2 * k, be).toLong
            else Bytes.u32(bytes, e + 8 + 4 * k, be))
        } else {
          val off = Bytes.u32(bytes, e + 8, be)
          if (off < 0 || off + c.toLong * width > bytes.length)
            fail(s"tag 0x${tag.toHexString} array overruns payload")
          Array.tabulate(c)(k =>
            if (typ == 3) Bytes.u16(bytes, off.toInt + 2 * k, be).toLong
            else Bytes.u32(bytes, off.toInt + 4 * k, be))
        }
      }
      tag match {
        case 0x0100 => w = one
        case 0x0101 => h = one
        case 0x0102 => bps = longArray.head.toInt
        case 0x0103 => compression = one
        case 0x0106 => photometric = one
        case 0x0111 => stripOffsets = longArray
        case 0x0115 => spp = one
        case 0x0116 => rowsPerStrip = one
        case 0x0117 => stripCounts = longArray
        case 0x011C => planar = one
        case _ => ()
      }
    }
    if (w <= 0 || h <= 0) fail("missing ImageWidth/ImageLength")
    if (w.toLong * h > (1L << 24)) fail(s"TIFF too large: ${w}x$h")
    if (bps != 8) fail(s"only 8-bit samples supported, got $bps")
    if (planar != 1) fail(s"only chunky planar config supported, got $planar")
    if (compression != 1 && compression != 32773)
      fail(s"only uncompressed (1) and PackBits (32773) supported, got $compression")
    photometric match {
      case 1 => if (spp != 1) fail(s"gray TIFF with $spp samples/pixel")
      case 2 => if (spp != 3) fail(s"RGB TIFF with $spp samples/pixel")
      case other => fail(s"unsupported photometric interpretation $other")
    }
    if (stripOffsets == null || stripCounts == null)
      fail("missing StripOffsets/StripByteCounts")
    if (stripOffsets.length != stripCounts.length)
      fail("StripOffsets/StripByteCounts length mismatch")
    if (rowsPerStrip <= 0) fail(s"bad RowsPerStrip $rowsPerStrip")
    val rps = math.min(rowsPerStrip.toLong, h.toLong).toInt
    val expectStrips = (h + rps - 1) / rps
    if (stripOffsets.length != expectStrips)
      fail(s"expected $expectStrips strips, got ${stripOffsets.length}")
    val rowBytes = w * spp
    val out = new Array[Byte](w * h * 3)
    var strip = 0
    while (strip < expectStrips) {
      val rows = math.min(rps, h - strip * rps)
      val expect = rows * rowBytes
      val off = stripOffsets(strip)
      val cnt = stripCounts(strip)
      if (off < 0 || cnt < 0 || off + cnt > bytes.length)
        fail(s"strip $strip overruns payload")
      val raw =
        if (compression == 1) {
          if (cnt != expect) fail(s"strip $strip: $cnt bytes, expected $expect")
          java.util.Arrays.copyOfRange(bytes, off.toInt, (off + cnt).toInt)
        } else packBitsDecode(bytes, off.toInt, cnt.toInt, expect)
      var r = 0
      while (r < rows) {
        val y = strip * rps + r
        var x = 0
        while (x < w) {
          val d = (y * w + x) * 3
          if (spp == 3) {
            out(d) = raw(r * rowBytes + x * 3)
            out(d + 1) = raw(r * rowBytes + x * 3 + 1)
            out(d + 2) = raw(r * rowBytes + x * 3 + 2)
          } else {
            val v = raw(r * rowBytes + x)
            out(d) = v; out(d + 1) = v; out(d + 2) = v
          }
          x += 1
        }
        r += 1
      }
      strip += 1
    }
    PngCodec.Raster(w, h, 3, out)
  }

  /** Encode the deterministic gradient as a REAL baseline TIFF:
    * gray or RGB, raw or PackBits strips, either byte order, small
    * RowsPerStrip (4) so multi-strip assembly stays hot. Layout:
    * header, strip data, value arrays, IFD last (the pointer chase the
    * spec allows and real writers use). */
  def encodeGradient(id: Long, w: Int, h: Int, packBits: Boolean,
      bigEndian: Boolean, gray: Boolean): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 4096 && h <= 4096, s"bad dims ${w}x$h")
    val spp = if (gray) 1 else 3
    val g = PngCodec.gradient(id, w, h)
    val rps = 4
    val nStrips = (h + rps - 1) / rps
    val rowBytes = w * spp
    val strips = (0 until nStrips).map { s =>
      val rows = math.min(rps, h - s * rps)
      val raw = new Array[Byte](rows * rowBytes)
      for (r <- 0 until rows; x <- 0 until w) {
        val y = s * rps + r
        if (gray) raw(r * rowBytes + x) = g.pixels((y * w + x) * 3 + 2) // the B formula
        else {
          raw(r * rowBytes + x * 3) = g.pixels((y * w + x) * 3)
          raw(r * rowBytes + x * 3 + 1) = g.pixels((y * w + x) * 3 + 1)
          raw(r * rowBytes + x * 3 + 2) = g.pixels((y * w + x) * 3 + 2)
        }
      }
      if (packBits) packBitsEncode(raw) else raw
    }
    val out = new java.io.ByteArrayOutputStream()
    val be = bigEndian
    def w16(v: Int): Unit =
      if (be) { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit =
      if (be) { out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt) }
      else { out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
        out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt) }
    // header; IFD offset patched below
    if (be) { out.write('M'); out.write('M'); out.write(0); out.write(42) }
    else { out.write('I'); out.write('I'); out.write(42); out.write(0) }
    w32(0) // placeholder
    val stripOffsets = new Array[Long](nStrips)
    for (s <- 0 until nStrips) {
      stripOffsets(s) = out.size().toLong
      out.write(strips(s))
    }
    if (out.size() % 2 == 1) out.write(0) // word-align the arrays
    // value arrays (only when count*width > 4)
    val bpsArrayOff = if (spp == 3) { val o = out.size(); w16(8); w16(8); w16(8); o } else -1
    val soArrayOff = if (nStrips > 1) {
      val o = out.size(); stripOffsets.foreach(w32); o
    } else -1
    val scArrayOff = if (nStrips > 2) { // SHORT counts: 2 bytes each, >4 bytes when >2
      val o = out.size(); strips.foreach(s => w16(s.length)); o
    } else -1
    val ifdOff = out.size()
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    // (tag, type, count, value) — value is inline or an offset
    entries += ((0x0100, 3, 1L, w.toLong))
    entries += ((0x0101, 3, 1L, h.toLong))
    entries += ((0x0102, 3, spp.toLong, if (spp == 3) bpsArrayOff.toLong else 8L))
    entries += ((0x0103, 3, 1L, if (packBits) 32773L else 1L))
    entries += ((0x0106, 3, 1L, if (gray) 1L else 2L))
    entries += ((0x0111, 4, nStrips.toLong,
      if (nStrips > 1) soArrayOff.toLong else stripOffsets(0)))
    entries += ((0x0115, 3, 1L, spp.toLong))
    entries += ((0x0116, 3, 1L, rps.toLong))
    entries += ((0x0117, 3, nStrips.toLong,
      if (nStrips > 2) scArrayOff.toLong
      else if (nStrips == 2) {
        // two SHORTs inline: first in the low half per byte order
        if (be) (strips(0).length.toLong << 16) | strips(1).length
        else (strips(1).length.toLong << 16) | strips(0).length
      } else strips(0).length.toLong))
    entries += ((0x011C, 3, 1L, 1L))
    w16(entries.length)
    for ((tag, typ, count, value) <- entries.sortBy(_._1)) {
      w16(tag); w16(typ); w32(count)
      if (typ == 3 && count == 1) { w16(value.toInt); w16(0) }
      else w32(value)
    }
    w32(0) // next IFD
    val bytesOut = out.toByteArray
    // patch the header IFD pointer
    if (be) {
      bytesOut(4) = ((ifdOff >> 24) & 0xff).toByte
      bytesOut(5) = ((ifdOff >> 16) & 0xff).toByte
      bytesOut(6) = ((ifdOff >> 8) & 0xff).toByte
      bytesOut(7) = (ifdOff & 0xff).toByte
    } else {
      bytesOut(4) = (ifdOff & 0xff).toByte
      bytesOut(5) = ((ifdOff >> 8) & 0xff).toByte
      bytesOut(6) = ((ifdOff >> 16) & 0xff).toByte
      bytesOut(7) = ((ifdOff >> 24) & 0xff).toByte
    }
    bytesOut
  }
}
