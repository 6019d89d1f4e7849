package graft.operators

/** QOI ("Quite OK Image") codec — decode AND encode of the complete
  * public one-page spec (qoiformat.org, "Specification Version 1.0"):
  * 14-byte header (`qoif`, big-endian w/h, channels 3|4, colorspace),
  * the six chunk ops (RGB, RGBA, INDEX into the 64-slot
  * `(3r+5g+7b+11a) % 64` running array, DIFF with 2-bit biased channel
  * deltas, LUMA with the 6-bit green delta + 4-bit red/blue
  * green-relative deltas, RUN of 1..62), wrapping byte arithmetic, and
  * the 7×0x00 + 0x01 end marker. Ninth image-format family in the
  * engine's shared aHash/pHash space.
  *
  * Correctness strategy (no second QOI implementation ships in this
  * environment): the encoder mirrors the reference encoder's op
  * preference order, the decoder inverts ANY conformant stream, and
  * the spec pins (a) hand-assembled byte-level vectors for every op,
  * (b) exact decode∘encode == identity on adversarial rasters, and
  * (c) cross-FORMAT raster equality — the same pixels pushed through
  * the ImageIO-cross-checked PNG path must decode identically.
  *
  * Decoded rasters are top-down row-major interleaved bytes — the same
  * layout every other decoder here produces — so the shared hash space
  * and resize paths apply unchanged. Row-local, no state outside one
  * payload: decode parallelizes per image at any corpus scale.
  *
  * Reference scope: lithops-dataframe has no binary-payload handling at
  * all (`io.py:13-88` reads CSV text); this is extension surface for
  * multimodal training-data curation.
  */
object QoiCodec {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"QOI: $msg")

  def isQoi(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 14 &&
      bytes(0) == 'q' && bytes(1) == 'o' && bytes(2) == 'i' && bytes(3) == 'f'

  /** (width, height) without decoding pixels; null if not QOI. */
  def parseDimsQoi(bytes: Array[Byte]): (Int, Int) =
    if (!isQoi(bytes)) null else (Bytes.be32(bytes, 4), Bytes.be32(bytes, 8))

  /** Running-index slot (spec: (r*3 + g*5 + b*7 + a*11) % 64). */
  @inline private def slot(r: Int, g: Int, b: Int, a: Int): Int =
    (r * 3 + g * 5 + b * 7 + a * 11) & 63

  /** Decode a QOI payload to a raster (channels as declared in the
    * header; 3 = RGB, 4 = RGBA). Fails loudly on truncation, bad
    * header fields, pixel overflow, or a missing end marker. */
  def decode(bytes: Array[Byte]): PngCodec.Raster = {
    if (!isQoi(bytes)) fail("bad magic")
    val w = Bytes.be32(bytes, 4)
    val h = Bytes.be32(bytes, 8)
    val ch = bytes(12) & 0xff
    val cs = bytes(13) & 0xff
    if (w <= 0 || h <= 0) fail(s"bad dimensions ${w}x$h")
    if (ch != 3 && ch != 4) fail(s"bad channels $ch")
    if (cs != 0 && cs != 1) fail(s"bad colorspace $cs")
    val nPix = w.toLong * h
    if (nPix > Int.MaxValue / 4) fail("image too large")
    val out = new Array[Byte](nPix.toInt * ch)
    val index = new Array[Int](64) // packed rgba
    var r = 0; var g = 0; var b = 0; var a = 255
    var p = 14
    var px = 0
    val end = bytes.length - 8 // last 8 bytes are the end marker
    if (end < 14) fail("truncated stream (no room for end marker)")
    while (px < nPix) {
      if (p >= end) fail("truncated pixel stream")
      val tag = bytes(p) & 0xff
      p += 1
      if (tag == 0xfe) { // QOI_OP_RGB
        if (p + 3 > end) fail("truncated RGB op")
        r = bytes(p) & 0xff; g = bytes(p + 1) & 0xff; b = bytes(p + 2) & 0xff
        p += 3
      } else if (tag == 0xff) { // QOI_OP_RGBA
        if (p + 4 > end) fail("truncated RGBA op")
        r = bytes(p) & 0xff; g = bytes(p + 1) & 0xff
        b = bytes(p + 2) & 0xff; a = bytes(p + 3) & 0xff
        p += 4
      } else (tag >>> 6) match {
        case 0 => // QOI_OP_INDEX
          val v = index(tag & 63)
          r = (v >>> 24) & 0xff; g = (v >>> 16) & 0xff
          b = (v >>> 8) & 0xff; a = v & 0xff
        case 1 => // QOI_OP_DIFF (biased 2, wrapping)
          r = (r + ((tag >>> 4) & 3) - 2) & 0xff
          g = (g + ((tag >>> 2) & 3) - 2) & 0xff
          b = (b + (tag & 3) - 2) & 0xff
        case 2 => // QOI_OP_LUMA (dg biased 32; dr/db relative, biased 8)
          if (p >= end) fail("truncated LUMA op")
          val dg = (tag & 63) - 32
          val rb = bytes(p) & 0xff
          p += 1
          r = (r + dg + ((rb >>> 4) & 15) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (rb & 15) - 8) & 0xff
        case _ => // QOI_OP_RUN (bias -1; 62 max — 0xfe/0xff are RGB/RGBA)
          val run = (tag & 63) + 1
          if (px + run > nPix) fail("run overflows pixel count")
          var k = 0
          while (k < run - 1) { // last repeat falls through to the shared emit
            val o = (px + k) * ch
            out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = b.toByte
            if (ch == 4) out(o + 3) = a.toByte
            k += 1
          }
          px += run - 1
      }
      val o = px * ch
      out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = b.toByte
      if (ch == 4) out(o + 3) = a.toByte
      index(slot(r, g, b, a)) = (r << 24) | (g << 16) | (b << 8) | a
      px += 1
    }
    // end marker: seven 0x00 then 0x01
    if (p + 8 != bytes.length) fail(s"trailing bytes after pixel stream (${bytes.length - p - 8})")
    var k = 0
    while (k < 7) { if (bytes(p + k) != 0) fail("bad end marker"); k += 1 }
    if (bytes(p + 7) != 1) fail("bad end marker terminator")
    PngCodec.Raster(w, h, ch, out)
  }

  /** Encode a raster as QOI, mirroring the reference encoder's op
    * preference (run → index → diff → luma → rgb/rgba). Deterministic:
    * equal rasters encode to equal bytes. */
  def encode(raster: PngCodec.Raster, colorspace: Int = 0): Array[Byte] = {
    val ch = raster.channels
    require(ch == 3 || ch == 4, s"QOI encodes 3- or 4-channel rasters, got $ch")
    require(raster.width > 0 && raster.height > 0, "empty raster")
    require(colorspace == 0 || colorspace == 1, s"bad colorspace $colorspace")
    val nPix = raster.width * raster.height
    require(raster.pixels.length == nPix * ch, "raster byte length mismatch")
    val out = new java.io.ByteArrayOutputStream(14 + nPix + 8)
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    def w32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    w32(raster.width); w32(raster.height)
    out.write(ch); out.write(colorspace)
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0; var pa = 255
    var run = 0
    var px = 0
    while (px < nPix) {
      val o = px * ch
      val r = raster.pixels(o) & 0xff
      val g = raster.pixels(o + 1) & 0xff
      val b = raster.pixels(o + 2) & 0xff
      val a = if (ch == 4) raster.pixels(o + 3) & 0xff else 255
      if (r == pr && g == pg && b == pb && a == pa) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val s = slot(r, g, b, a)
        val packed = (r << 24) | (g << 16) | (b << 8) | a
        if (index(s) == packed) out.write(s) // QOI_OP_INDEX
        else {
          index(s) = packed
          if (a == pa) {
            // wrapping signed byte deltas (spec: differences wrap)
            val dr = ((r - pr) << 24) >> 24
            val dg = ((g - pg) << 24) >> 24
            val db = ((b - pb) << 24) >> 24
            if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
              out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            else {
              val drg = ((dr - dg) << 24) >> 24
              val dbg = ((db - dg) << 24) >> 24
              if (dg >= -32 && dg <= 31 && drg >= -8 && drg <= 7 && dbg >= -8 && dbg <= 7) {
                out.write(0x80 | (dg + 32)); out.write(((drg + 8) << 4) | (dbg + 8))
              } else {
                out.write(0xfe); out.write(r); out.write(g); out.write(b)
              }
            }
          } else {
            out.write(0xff); out.write(r); out.write(g); out.write(b); out.write(a)
          }
        }
        pr = r; pg = g; pb = b; pa = a
      }
      px += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var k = 0
    while (k < 7) { out.write(0); k += 1 }
    out.write(1)
    out.toByteArray
  }

  /** Deterministic gradient fixture in the same family as the other
    * codecs' `encodeGradient` helpers: per-id RGB(A) raster whose pixel
    * formula an oracle can replay. */
  def encodeGradient(id: Long, w: Int, h: Int, alpha: Boolean): Array[Byte] = {
    val ch = if (alpha) 4 else 3
    val px = new Array[Byte](w * h * ch)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * ch
        px(o) = ((x * 7 + id) % 256).toInt.toByte
        px(o + 1) = ((y * 11 + id * 3) % 256).toInt.toByte
        px(o + 2) = ((x + y + id * 5) % 256).toInt.toByte
        if (alpha) px(o + 3) = (255 - ((x * y + id) % 128)).toInt.toByte
        x += 1
      }
      y += 1
    }
    encode(PngCodec.Raster(w, h, ch, px))
  }
}
