package graft.operators

/** ICO (favicon) container decode — the icon format every web crawl
  * sees on /favicon.ico. Public byte layout (the classic Windows
  * ICONDIR structure + the two entry payload kinds): a 6-byte header
  * (reserved 0, type 1, count), 16-byte directory entries (width/
  * height with 0 meaning 256, bpp, payload size + offset), and per
  * entry either a PNG (magic-sniffed → [[PngCodec]]) or a headerless
  * DIB: BITMAPINFOHEADER with DOUBLED height covering the bottom-up
  * XOR image plus a 1-bit AND transparency mask (rows padded to 32
  * bits). 24bpp applies the AND mask as alpha; 32bpp carries its own
  * alpha channel (mask ignored, the modern convention). Other depths
  * and compressed DIBs fail loudly.
  *
  * Row-local payload work like every codec here; decoded entries join
  * the shared image hash space (aHash/pHash dispatch), so favicon
  * dedup rides the same machinery as every other image.
  */
object IcoCodec {

  final case class IcoEntry(width: Int, height: Int, bpp: Int,
      size: Int, offset: Int, png: Boolean)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** True iff the payload leads with an ICONDIR icon header. */
  def isIco(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 6 && Bytes.le16(bytes, 0) == 0 &&
      Bytes.le16(bytes, 2) == 1 && Bytes.le16(bytes, 4) >= 1

  /** Parse the directory. Entry dims come from the directory bytes
    * (0 → 256); the `png` flag sniffs each payload's magic. */
  def parse(bytes: Array[Byte]): Seq[IcoEntry] = {
    if (!isIco(bytes)) fail("not an ICO payload")
    val n = Bytes.le16(bytes, 4)
    if (n > 64) fail(s"implausible ICO entry count $n")
    if (6 + 16L * n > bytes.length) fail("ICO directory overruns payload")
    (0 until n).map { i =>
      val e = 6 + 16 * i
      val w0 = bytes(e) & 0xff
      val h0 = bytes(e + 1) & 0xff
      val bpp = Bytes.le16(bytes, e + 6)
      val size = Bytes.le32u(bytes, e + 8)
      val off = Bytes.le32u(bytes, e + 12)
      if (size < 8 || off < 6 || off + size > bytes.length)
        fail(s"ICO entry $i payload overruns ([$off, ${off + size}))")
      val png = size >= 8 && (bytes(off.toInt) & 0xff) == 0x89 &&
        bytes(off.toInt + 1) == 'P'
      IcoEntry(if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0,
        bpp, size.toInt, off.toInt, png)
    }
  }

  /** Decode entry `idx` to an RGBA raster. */
  def decodeEntry(bytes: Array[Byte], idx: Int): PngCodec.Raster = {
    val entries = parse(bytes)
    if (idx < 0 || idx >= entries.length)
      fail(s"ICO entry $idx out of range (${entries.length} entries)")
    val e = entries(idx)
    if (e.png) {
      val r = PngCodec.decode(
        java.util.Arrays.copyOfRange(bytes, e.offset, e.offset + e.size))
      return r
    }
    // headerless DIB: BITMAPINFOHEADER at the payload start
    val o = e.offset
    if (e.size < 40) fail(s"ICO entry $idx DIB header truncated")
    val biSize = Bytes.le32u(bytes, o)
    if (biSize != 40) fail(s"unsupported DIB header size $biSize")
    val w = Bytes.le32u(bytes, o + 4).toInt
    val h2 = Bytes.le32u(bytes, o + 8).toInt
    val bpp = Bytes.le16(bytes, o + 14)
    val compression = Bytes.le32u(bytes, o + 16)
    if (compression != 0) fail(s"compressed ICO DIB (biCompression $compression)")
    if (bpp != 24 && bpp != 32) fail(s"only 24/32bpp ICO DIBs supported, got $bpp")
    if (w <= 0 || h2 <= 0 || h2 % 2 != 0)
      fail(s"bad ICO DIB dims ${w}x$h2 (height must be doubled)")
    val h = h2 / 2
    if (w != e.width || h != e.height)
      fail(s"ICO entry $idx DIB dims ${w}x$h disagree with directory ${e.width}x${e.height}")
    val xorStride = ((w * bpp / 8) + 3) / 4 * 4
    val andStride = ((w + 31) / 32) * 4
    val xorOff = o + 40
    val andOff = xorOff + xorStride * h
    if (andOff + andStride.toLong * h > o + e.size)
      fail(s"ICO entry $idx pixel data overruns its payload")
    val out = new Array[Byte](w * h * 4)
    var vy = 0
    while (vy < h) {
      val sy = h - 1 - vy // bottom-up
      var x = 0
      while (x < w) {
        val s = xorOff + sy * xorStride + x * (bpp / 8)
        val d = (vy * w + x) * 4
        out(d) = bytes(s + 2) // stored B,G,R(,A)
        out(d + 1) = bytes(s + 1)
        out(d + 2) = bytes(s)
        if (bpp == 32) out(d + 3) = bytes(s + 3)
        else {
          val maskByte = bytes(andOff + sy * andStride + (x >> 3)) & 0xff
          val transparent = (maskByte >> (7 - (x & 7)) & 1) == 1
          out(d + 3) = if (transparent) 0 else 0xff.toByte
        }
        x += 1
      }
      vy += 1
    }
    PngCodec.Raster(w, h, 4, out)
  }

  /** Decode the LARGEST entry (max area, ties to the first) — the
    * representative image a pipeline hashes a favicon by. */
  def decodeLargest(bytes: Array[Byte]): PngCodec.Raster = {
    val entries = parse(bytes)
    val idx = entries.indices.maxBy(i =>
      (entries(i).width.toLong * entries(i).height, -i))
    decodeEntry(bytes, idx)
  }

  /** Encode the deterministic gradient as a two-entry ICO: a 24bpp
    * DIB entry (gradient at w×h, AND mask all-opaque) and a PNG entry
    * at half size — both real payload kinds in one file. */
  def encodeGradient(id: Long, w: Int, h: Int): Array[Byte] = {
    require(w >= 2 && h >= 2 && w <= 256 && h <= 256, s"bad dims ${w}x$h")
    val g = PngCodec.gradient(id, w, h)
    val xorStride = ((w * 3) + 3) / 4 * 4
    val andStride = ((w + 31) / 32) * 4
    val dib = new Array[Byte](40 + (xorStride + andStride) * h)
    def w32(off: Int, v: Long): Unit = {
      dib(off) = (v & 0xff).toByte; dib(off + 1) = ((v >> 8) & 0xff).toByte
      dib(off + 2) = ((v >> 16) & 0xff).toByte; dib(off + 3) = ((v >> 24) & 0xff).toByte
    }
    w32(0, 40); w32(4, w.toLong); w32(8, 2L * h)
    dib(12) = 1 // planes
    dib(14) = 24 // bpp
    w32(20, (xorStride + andStride).toLong * h) // biSizeImage
    for (vy <- 0 until h; x <- 0 until w) {
      val sy = h - 1 - vy
      val s = 40 + sy * xorStride + x * 3
      val p = (vy * w + x) * 3
      dib(s) = g.pixels(p + 2); dib(s + 1) = g.pixels(p + 1); dib(s + 2) = g.pixels(p)
    }
    // AND mask stays all-zero = fully opaque
    val pngEntry = PngCodec.encode(PngCodec.gradient(id, w / 2, h / 2))
    val out = new java.io.ByteArrayOutputStream()
    def o16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def o32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }
    o16(0); o16(1); o16(2) // ICONDIR, two entries
    val off1 = 6 + 32
    out.write(if (w == 256) 0 else w); out.write(if (h == 256) 0 else h)
    out.write(0); out.write(0); o16(1); o16(24); o32(dib.length.toLong); o32(off1.toLong)
    val off2 = off1 + dib.length
    out.write(w / 2); out.write(h / 2)
    out.write(0); out.write(0); o16(1); o16(32); o32(pngEntry.length.toLong); o32(off2.toLong)
    out.write(dib); out.write(pngEntry)
    out.toByteArray
  }
}
