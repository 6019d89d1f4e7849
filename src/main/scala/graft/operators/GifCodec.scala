package graft.operators

/** Minimal GIF (87a/89a) codec over the PUBLIC byte layout — the
  * fourth and last of the big web image formats after BMP, PNG and
  * JPEG (reference: multimodal decode intent, core.py:9-778; format:
  * the CompuServe GIF89a specification, 1990). Pure byte math, no
  * image library.
  *
  * Decode (first frame): logical-screen descriptor, global/local color
  * tables, full variable-width LZW (9→12-bit code growth, clear codes,
  * deferred clear, end-of-information), 4-pass interlace, frames
  * blitted onto a background-filled canvas at their (left, top)
  * offset. Animation beyond the first frame and transparency
  * compositing are out of scope for the curation contract — features
  * and perceptual hashes want the first frame's pixel colors, not an
  * animation player; later frames are simply not read.
  *
  * Encode: a deterministic 256-gray indexed gradient (pixel index =
  * `(id + x·7 + y·13) mod 256`) written with literal-code LZW — a
  * clear code re-emitted every 250 literals keeps the decoder's
  * dictionary under 2⁹, so the 9-bit code width never grows. That is
  * a spec-valid stream any GIF reader decodes (the JpegCodecSpec-style
  * ImageIO cross-oracle proves it), with a closed-form byte size unit
  * tests replay.
  */
object GifCodec {

  /** True iff the payload starts with a GIF87a/GIF89a signature. */
  def isGif(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 13 &&
      bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'

  /** Logical-screen (width, height) from the header, or null. */
  def parseDimsGif(bytes: Array[Byte]): (Int, Int) =
    if (!isGif(bytes)) null else (Bytes.le16(bytes, 6), Bytes.le16(bytes, 8))

  /** Curation-grade container metadata without decoding pixels — the
    * [[Mp4Meta]] analog for GIF: logical dims, frame count, animation
    * flag and total duration (sum of the Graphic Control Extension
    * delay fields, 10 ms units; 0 for plain static images). Walks
    * every block with the same bounds discipline as [[decode]] but
    * SKIPS the LZW payloads, so a thousand-frame animation costs a
    * header scan, not a decode. */
  final case class GifMeta(
      width: Int, height: Int, nFrames: Int, animated: Boolean,
      durationMs: Long)

  def parseMeta(bytes: Array[Byte]): GifMeta = {
    require(isGif(bytes), "not a GIF payload")
    val w = Bytes.le16(bytes, 6)
    val h = Bytes.le16(bytes, 8)
    val packed = bytes(10) & 0xff
    var off = 13
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 7) + 1))
      require(off + n <= bytes.length, "truncated global color table")
      off += n
    }
    var frames = 0
    var durationMs = 0L
    var done = false
    while (!done && off < bytes.length) {
      (bytes(off) & 0xff) match {
        case 0x3b => done = true
        case 0x21 =>
          require(off + 2 < bytes.length, "truncated extension")
          val label = bytes(off + 1) & 0xff
          off += 2
          var first = true
          while ({
            require(off < bytes.length, "truncated extension sub-block")
            val len = bytes(off) & 0xff
            require(off + 1 + len <= bytes.length, "truncated extension sub-block")
            // Graphic Control Extension: bytes 1-2 of the first (4-byte)
            // sub-block are the frame delay in 1/100 s, little-endian
            if (first && label == 0xf9 && len >= 4)
              durationMs += Bytes.le16(bytes, off + 2) * 10L
            first = false
            off += 1 + len
            len != 0
          }) ()
        case 0x2c =>
          require(off + 10 <= bytes.length, "truncated image descriptor")
          val ip = bytes(off + 9) & 0xff
          off += 10
          if ((ip & 0x80) != 0) {
            val n = 3 * (1 << ((ip & 7) + 1))
            require(off + n <= bytes.length, "truncated local color table")
            off += n
          }
          require(off < bytes.length, "missing LZW minimum code size")
          off += 1
          while ({
            require(off < bytes.length, "truncated image data")
            val len = bytes(off) & 0xff
            require(off + 1 + len <= bytes.length, "truncated image data sub-block")
            off += 1 + len
            len != 0
          }) ()
          frames += 1
        case other =>
          throw new IllegalArgumentException(f"unknown GIF block 0x$other%02x")
      }
    }
    require(frames > 0, "GIF contains no image frame")
    GifMeta(w, h, frames, frames > 1, durationMs)
  }

  /** Sanity cap on decoded pixel count: 64M pixels (a 192 MB canvas)
    * is generous for any real image, and the Long-math check makes a
    * crafted 0xFFFF×0xFFFF header fail the require instead of
    * overflowing `w*h*3` into a NegativeArraySizeException (which
    * [[Multimodal.aHashAny]]'s null-mapping catch does not cover) or
    * an executor-killing allocation. */
  private val MaxPixels = 64L * 1024 * 1024

  /** Decode the FIRST image frame onto the logical screen as a 24bpp
    * [[PngCodec.Raster]]. Malformed, truncated or LZW-corrupt payloads
    * fail loudly ([[IllegalArgumentException]]). */
  def decode(bytes: Array[Byte]): PngCodec.Raster = decodeFrame(bytes, 0)

  /** Decode animation frame `frame` (0-based) AS DISPLAYED: frames
    * 0..frame−1 composite onto the logical screen first, each honoring
    * its Graphic Control Extension — transparent-index pixels leave
    * the canvas visible, disposal 2 restores the frame rect to the
    * background color, disposal 3 restores the pre-frame canvas
    * (GIF89a spec §23; the round-7 first-frame decode skipped the GCE
    * entirely, which is correct only for frame 0 of GCE-less files).
    * This is the near-dup path for animations whose first frame is a
    * blank splash: [[parseMeta]] (header walk, cheap) picks a content
    * frame, this decodes it on demand at cost ∝ frame. Requesting a
    * frame past the animation's end fails loudly with the frame
    * count. */
  def decodeFrame(bytes: Array[Byte], frame: Int): PngCodec.Raster = {
    require(frame >= 0, s"frame must be non-negative, got $frame")
    require(isGif(bytes), "not a GIF payload")
    val w = Bytes.le16(bytes, 6)
    val h = Bytes.le16(bytes, 8)
    require(w > 0 && h > 0, s"bad logical screen ${w}x$h")
    require(w.toLong * h <= MaxPixels, s"implausible logical screen ${w}x$h")
    val packed = bytes(10) & 0xff
    val bgIdx = bytes(11) & 0xff
    var off = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 7) + 1))
      require(off + n <= bytes.length, "truncated global color table")
      gct = java.util.Arrays.copyOfRange(bytes, off, off + n)
      off += n
    }
    val hasBg = gct != null && bgIdx * 3 + 2 < gct.length
    val px = new Array[Byte](w * h * 3)
    def fillBg(x0: Int, y0: Int, fw: Int, fh: Int): Unit = {
      var y = y0
      while (y < y0 + fh) {
        var x = x0
        while (x < x0 + fw) {
          val o = (y * w + x) * 3
          if (hasBg) {
            px(o) = gct(bgIdx * 3); px(o + 1) = gct(bgIdx * 3 + 1)
            px(o + 2) = gct(bgIdx * 3 + 2)
          } else { px(o) = 0; px(o + 1) = 0; px(o + 2) = 0 }
          x += 1
        }
        y += 1
      }
    }
    // canvas = background color (or black when no table defines it)
    if (hasBg) fillBg(0, 0, w, h)
    var k = 0 // frames composited so far
    var disposal = 0
    var transparent = -1
    while (off < bytes.length) {
      (bytes(off) & 0xff) match {
        case 0x3b => // trailer
          throw new IllegalArgumentException(
            if (k == 0) "GIF contains no image frame"
            else s"GIF has only $k frames, requested frame $frame")
        case 0x21 => // extension: label + length-prefixed sub-blocks
          require(off + 2 < bytes.length, "truncated extension")
          val label = bytes(off + 1) & 0xff
          val gce = label == 0xf9
          off += 2
          var first = true
          while ({
            require(off < bytes.length, "truncated extension sub-block")
            val len = bytes(off) & 0xff
            require(off + 1 + len <= bytes.length, "truncated extension sub-block")
            if (gce && first && len >= 4) {
              val flags = bytes(off + 1) & 0xff
              disposal = (flags >> 2) & 7
              transparent = if ((flags & 1) != 0) bytes(off + 4) & 0xff else -1
            }
            first = false
            off += 1 + len
            len != 0
          }) ()
        case 0x2c =>
          // the 10-byte descriptor must fit BEFORE any field read — a
          // truncated payload in a mixed crawl corpus must fail the
          // require, not throw ArrayIndexOutOfBounds mid-read
          require(off + 10 <= bytes.length, "truncated image descriptor")
          val left = Bytes.le16(bytes, off + 1)
          val top = Bytes.le16(bytes, off + 3)
          val iw = Bytes.le16(bytes, off + 5)
          val ih = Bytes.le16(bytes, off + 7)
          val ip = bytes(off + 9) & 0xff
          require(iw > 0 && ih > 0 && left + iw <= w && top + ih <= h,
            s"frame ${iw}x$ih@($left,$top) outside ${w}x$h screen")
          off += 10
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 3 * (1 << ((ip & 7) + 1))
            require(off + n <= bytes.length, "truncated local color table")
            pal = java.util.Arrays.copyOfRange(bytes, off, off + n)
            off += n
          }
          require(pal != null, "frame has no color table")
          val interlaced = (ip & 0x40) != 0
          require(off < bytes.length, "missing LZW minimum code size")
          val minCode = bytes(off) & 0xff
          require(minCode >= 2 && minCode <= 8, s"bad LZW min code size $minCode")
          off += 1
          // concatenate the data sub-blocks
          val buf = new java.io.ByteArrayOutputStream()
          while ({
            require(off < bytes.length, "truncated image data")
            val len = bytes(off) & 0xff
            require(off + 1 + len <= bytes.length, "truncated image data sub-block")
            buf.write(bytes, off + 1, len)
            off += 1 + len
            len != 0
          }) ()
          val indices = lzwDecode(buf.toByteArray, minCode, iw * ih)
          // disposal 3 needs the pre-frame canvas back afterwards
          val snapshot =
            if (k < frame && disposal == 3) px.clone() else null
          // blit (de-interlacing row order if flagged); transparent
          // pixels leave the composited canvas visible
          val rowOrder = interlaceOrder(ih, interlaced)
          var r = 0
          while (r < ih) {
            val y = top + rowOrder(r)
            var x = 0
            while (x < iw) {
              val idx = indices(r * iw + x) & 0xff
              if (idx != transparent) {
                require(idx * 3 + 2 < pal.length, s"palette index $idx out of range")
                val o = ((y * w) + left + x) * 3
                px(o) = pal(idx * 3); px(o + 1) = pal(idx * 3 + 1)
                px(o + 2) = pal(idx * 3 + 2)
              }
              x += 1
            }
            r += 1
          }
          if (k == frame) return PngCodec.Raster(w, h, 3, px)
          // dispose before the next frame composites
          disposal match {
            case 2 => fillBg(left, top, iw, ih)
            case 3 => System.arraycopy(snapshot, 0, px, 0, px.length)
            case _ => () // 0/1: leave in place
          }
          disposal = 0
          transparent = -1
          k += 1
        case other =>
          throw new IllegalArgumentException(f"unknown GIF block 0x$other%02x")
      }
    }
    throw new IllegalArgumentException("GIF ended without trailer or frame")
  }

  /** GIF-variant LZW decode: codes packed LSB-first, width starts at
    * `minCode + 1` and grows to 12 bits as the dictionary fills, clear
    * code resets it. Emits exactly `nPixels` palette indices (streams
    * with trailing garbage after the pixel budget are tolerated — real
    * encoders pad the last code word). */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPixels: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val out = new Array[Byte](nPixels)
    var emitted = 0
    // dictionary: prefix link + final suffix byte per code
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = end + 1
    var codeSize = minCode + 1
    var prev = -1
    var acc = 0L
    var nBits = 0
    var pos = 0
    val stack = new Array[Byte](4096)
    def emitCode(code: Int): Unit = {
      var sp = 0
      var c = code
      while (c >= clear) { // walk the chain down to its root literal
        require(sp < stack.length && c < next, s"corrupt LZW code $c")
        stack(sp) = suffix(c); sp += 1
        c = prefix(c)
      }
      require(c < clear, s"corrupt LZW literal $c")
      if (emitted < nPixels) { out(emitted) = c.toByte; emitted += 1 }
      while (sp > 0 && emitted < nPixels) {
        sp -= 1; out(emitted) = stack(sp); emitted += 1
      }
    }
    def firstByteOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    while (emitted < nPixels) {
      while (nBits < codeSize) {
        require(pos < data.length, "LZW data exhausted before pixel budget")
        acc |= (data(pos) & 0xffL) << nBits
        nBits += 8
        pos += 1
      }
      val code = (acc & ((1 << codeSize) - 1)).toInt
      acc >>>= codeSize
      nBits -= codeSize
      if (code == clear) {
        next = end + 1; codeSize = minCode + 1; prev = -1
      } else if (code == end) {
        require(emitted == nPixels,
          s"LZW ended at $emitted of $nPixels pixels")
      } else if (prev < 0) {
        require(code < clear, s"first code after clear must be literal, got $code")
        emitCode(code)
        prev = code
      } else {
        require(code < next || code == next && next < 4096, s"LZW code $code out of range")
        if (code < next) {
          emitCode(code)
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = firstByteOf(code).toByte
            next += 1
          }
        } else { // the KwKwK case: code == next
          prefix(next) = prev; suffix(next) = firstByteOf(prev).toByte
          next += 1
          emitCode(code)
        }
        if (next >= (1 << codeSize) && codeSize < 12) codeSize += 1
        prev = code
      }
    }
    out
  }

  /** How many literals per group the gradient encoder emits between
    * clear codes: keeps the decoder's dictionary under 2⁹ so the code
    * width stays 9 bits (258 + 249 new entries < 511). */
  private val GroupSize = 250

  /** The spec's 4-pass interlace row permutation — ONE definition,
    * shared by the decoder's de-interlace and the encoder's storage
    * order (a diverging copy would silently break round-trip
    * identity). Identity when `interlaced` is false. */
  private def interlaceOrder(h: Int, interlaced: Boolean): Array[Int] =
    if (!interlaced) Array.tabulate(h)(identity)
    else {
      val order = new Array[Int](h)
      var k = 0
      for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
           y <- start until h by step) { order(k) = y; k += 1 }
      order
    }

  /** Byte size of one frame section's entropy payload: literal codes +
    * clears + end, 9 bits each, plus the sub-block length prefixes —
    * the shared term of both closed-form size contracts. The decode
    * pixel cap is mirrored here BEFORE `w*h` is formed: header()
    * permits dims to 65535², whose product wraps Int and would turn
    * the closed-form sizes (and the output-stream hint) into negative
    * garbage instead of a loud failure. */
  private def frameDataBytes(w: Int, h: Int): (Int, Int) = {
    require(w > 0 && h > 0 && w.toLong * h <= MaxPixels,
      s"implausible encode dimensions ${w}x$h")
    val n = w * h
    val codes = n + (n + GroupSize - 1) / GroupSize + 1 // literals + clears + end
    val dataBytes = (9 * codes + 7) / 8
    (dataBytes, (dataBytes + 254) / 255)
  }

  /** Closed-form byte size of [[encodeGradient]] output — the oracle
    * contract, mirroring WAV/BMP. */
  def gradientByteSize(w: Int, h: Int): Int = {
    val (dataBytes, subBlocks) = frameDataBytes(w, h)
    6 + 7 + 768 + 10 + 1 + dataBytes + subBlocks + 1 + 1
  }

  /** Shared writer: a 256-entry global palette + one full-screen frame
    * of 8-bit indices in literal-code LZW (fixed 9-bit width, clear
    * every [[GroupSize]] literals — see object doc). Byte size is
    * [[gradientByteSize]] regardless of content. */
  /** One full-screen frame section: descriptor + LZW min code +
    * literal-code data sub-blocks + terminator. */
  private def frameSection(out: java.io.ByteArrayOutputStream,
      indexAt: (Int, Int) => Int, w: Int, h: Int, interlaced: Boolean): Unit = {
    out.write(0x2c) // image descriptor at (0,0), full screen
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(if (interlaced) 0x40 else 0x00)
    out.write(8) // LZW minimum code size
    // 9-bit codes, LSB-first; clear every GroupSize literals
    val data = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nBits = 0
    def putCode(c: Int): Unit = {
      acc |= (c.toLong & 0x1ff) << nBits
      nBits += 9
      while (nBits >= 8) {
        data.write((acc & 0xff).toInt); acc >>>= 8; nBits -= 8
      }
    }
    val rowOrder = interlaceOrder(h, interlaced)
    var emitted = 0
    var r = 0
    while (r < h) {
      val y = rowOrder(r)
      var x = 0
      while (x < w) {
        if (emitted % GroupSize == 0) putCode(256) // clear
        putCode(indexAt(x, y) & 0xff)
        emitted += 1
        x += 1
      }
      r += 1
    }
    putCode(257) // end of information
    if (nBits > 0) data.write((acc & 0xff).toInt)
    val d = data.toByteArray
    var offD = 0
    while (offD < d.length) {
      val len = math.min(255, d.length - offD)
      out.write(len)
      out.write(d, offD, len)
      offD += len
    }
    out.write(0) // block terminator
  }

  private def header(out: java.io.ByteArrayOutputStream,
      pal768: Array[Byte], w: Int, h: Int): Unit = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"bad dims ${w}x$h")
    require(w.toLong * h <= MaxPixels, s"implausible encode dimensions ${w}x$h")
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0xf7) // GCT present, 256 entries, 8-bit color resolution
    out.write(0)    // background index
    out.write(0)    // square pixels
    out.write(pal768, 0, 768)
  }

  private def writeGif(pal768: Array[Byte], indexAt: (Int, Int) => Int,
      w: Int, h: Int, interlaced: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(gradientByteSize(w, h))
    header(out, pal768, w, h)
    frameSection(out, indexAt, w, h, interlaced)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  private def grayPal: Array[Byte] = {
    val pal = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      pal(i * 3) = i.toByte; pal(i * 3 + 1) = i.toByte; pal(i * 3 + 2) = i.toByte
      i += 1
    }
    pal
  }

  /** Closed-form byte size of [[encodeAnimated]] output. */
  def animatedByteSize(w: Int, h: Int, nFrames: Int): Int = {
    val (dataBytes, subBlocks) = frameDataBytes(w, h)
    val frame = 8 + 10 + 1 + dataBytes + subBlocks + 1 // GCE + descriptor..terminator
    6 + 7 + 768 + nFrames * frame + 1
  }

  /** Deterministic animated GIF89a: `nFrames` full-screen gray
    * gradient frames (frame k uses seed `id + k`), each preceded by a
    * Graphic Control Extension carrying `delayCs` (1/100 s). The
    * metadata contract [[parseMeta]] replays: nFrames frames,
    * animated, duration = nFrames · delayCs · 10 ms. `blankFirst`
    * writes frame 0 as a SOLID index-0 (black) splash instead — the
    * web-animation shape whose first frame carries no fingerprint
    * signal ([[decodeFrame]]'s reason to exist); the literal encoding
    * makes the byte-size closed form identical either way. */
  def encodeAnimated(id: Long, w: Int, h: Int, nFrames: Int,
      delayCs: Int, blankFirst: Boolean = false): Array[Byte] = {
    require(nFrames >= 1 && delayCs >= 0 && delayCs <= 0xffff,
      s"bad animation $nFrames frames delay $delayCs")
    val out = new java.io.ByteArrayOutputStream(animatedByteSize(w, h, nFrames))
    header(out, grayPal, w, h)
    var k = 0
    while (k < nFrames) {
      // Graphic Control Extension: introducer, label, block size 4,
      // flags 0, delay LE16, no transparency, terminator
      out.write(0x21); out.write(0xf9); out.write(4); out.write(0)
      out.write(delayCs & 0xff); out.write(delayCs >> 8)
      out.write(0); out.write(0)
      val seed = id + k
      val at: (Int, Int) => Int =
        if (blankFirst && k == 0) (_, _) => 0
        else (x, y) => ((seed + x * 7L + y * 13L) % 256).toInt
      frameSection(out, at, w, h, interlaced = false)
      k += 1
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Deterministic 256-gray indexed GIF89a: pixel index
    * `(id + x·7 + y·13) mod 256`. `interlaced` stores rows in the
    * 4-pass order with the flag set, exercising the decoder's
    * de-interlace path on byte-identical visual content. */
  def encodeGradient(id: Long, w: Int, h: Int,
      interlaced: Boolean = false): Array[Byte] =
    writeGif(grayPal, (x, y) => ((id + x * 7L + y * 13L) % 256).toInt,
      w, h, interlaced)

  /** Serialize an arbitrary ≤256-color raster as an indexed GIF89a
    * (palette built from the distinct colors in first-seen order,
    * padded to 256 entries; alpha ignored). More than 256 distinct
    * colors fails loudly — GIF is indexed color by definition; richer
    * rasters belong in PNG. */
  def encodeIndexed(img: PngCodec.Raster): Array[Byte] = {
    val ch = img.channels
    require(ch >= 3, s"need RGB(A) raster, got $ch channels")
    val colorToIdx = new java.util.HashMap[Integer, Integer]()
    val pal = new Array[Byte](768)
    val n = img.width * img.height
    val idx = new Array[Byte](n)
    var used = 0
    var i = 0
    while (i < n) {
      val o = i * ch
      val c = ((img.pixels(o) & 0xff) << 16) | ((img.pixels(o + 1) & 0xff) << 8) |
        (img.pixels(o + 2) & 0xff)
      var id = colorToIdx.get(c)
      if (id == null) {
        require(used < 256,
          "more than 256 distinct colors — GIF is indexed color; encode as PNG instead")
        pal(used * 3) = img.pixels(o); pal(used * 3 + 1) = img.pixels(o + 1)
        pal(used * 3 + 2) = img.pixels(o + 2)
        id = Integer.valueOf(used)
        colorToIdx.put(c, id)
        used += 1
      }
      idx(i) = id.intValue.toByte
      i += 1
    }
    writeGif(pal, (x, y) => idx(y * img.width + x) & 0xff,
      img.width, img.height, interlaced = false)
  }

  /** Decode → nearest-neighbor resample → re-encode: the REAL GIF
    * resize path. Always succeeds on valid GIF input — NN sampling
    * only selects existing palette colors, so the resized raster never
    * exceeds 256 distinct colors. */
  def resizeGif(bytes: Array[Byte], scalePercent: Int): Array[Byte] =
    encodeIndexed(PngCodec.resize(decode(bytes), scalePercent))
}
