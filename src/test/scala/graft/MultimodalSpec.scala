package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "hello world", "en"),
    (2L, "bonjour", "fr"),
    (3L, "", "en")).toDF("doc_id", "text", "lang")

  test("withMediaColumn builds the binary + metadata schema") {
    val m = Multimodal.withMediaColumn(docs, "doc_id", "text", Seq("lang"))
    assert(m.schema("data").dataType == BinaryType)
    assert(m.schema("meta").dataType.isInstanceOf[StructType])
    assert(m.count() == 3)
  }

  test("parseDims reads golden BMP header bytes (hand-written, little-endian)") {
    // 54-byte header for a 3x2 bitmap, written out field by field from
    // the public BITMAPINFOHEADER layout — pins offsets + endianness
    // independently of the encoder.
    val golden: Array[Byte] = (Array(
      0x42, 0x4d,             // "BM"
      0x4e, 0x00, 0x00, 0x00, // file size 78 = 54 + 12*2
      0x00, 0x00, 0x00, 0x00,
      0x36, 0x00, 0x00, 0x00, // pixel offset 54
      0x28, 0x00, 0x00, 0x00, // header size 40
      0x03, 0x00, 0x00, 0x00, // width 3
      0x02, 0x00, 0x00, 0x00, // height 2
      0x01, 0x00, 0x18, 0x00) ++ Array.fill(26)(0)).map(_.toByte)
    assert(Multimodal.parseDims(golden) == (("bmp", 3, 2)))
  }

  test("parseDims reads golden PNG IHDR bytes (big-endian)") {
    val golden: Array[Byte] = (Array(
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d,                         // IHDR length 13
      0x49, 0x48, 0x44, 0x52,                         // "IHDR"
      0x00, 0x00, 0x01, 0x00,                         // width 256
      0x00, 0x00, 0x00, 0x78)).map(_.toByte)          // height 120
    assert(Multimodal.parseDims(golden) == (("png", 256, 120)))
    assert(Multimodal.parseDims("not an image".getBytes) == (("unknown", 0, 0)))
    assert(Multimodal.parseDims(null) == (("unknown", 0, 0)))
  }

  test("encodeBmp → parseDims round-trips real bytes at spec size") {
    val bytes = Multimodal.encodeBmp(7L, width = 5, height = 3)
    // rowSize(5) = 16 (3*5=15 padded to 4-byte boundary)
    assert(bytes.length == 54 + 16 * 3)
    assert(Multimodal.parseDims(bytes) == (("bmp", 5, 3)))
  }

  test("encodeBmpFrame + extractFeatures: distributed encode/parse round-trip") {
    val dims = Seq((1L, 3, 2), (2L, 64, 48), (3L, 1, 1)).toDF("id", "w", "h")
    val media = Multimodal.encodeBmpFrame(dims, "id", "w", "h")
    val f = Multimodal.extractFeatures(media).collect().map(x => x.mediaId -> x).toMap
    assert(f(1L).format == "bmp" && f(1L).width == 3 && f(1L).height == 2)
    assert(f(2L).width == 64 && f(2L).height == 48)
    assert(f(2L).byteLen == 54L + Multimodal.bmpRowSize(64) * 48)
    assert(f(3L).width == 1 && f(3L).height == 1)
  }

  test("extractFeatures is partition-invariant") {
    val dims = Seq((1L, 3, 2), (2L, 10, 4), (3L, 2, 2)).toDF("id", "w", "h")
    def feats(n: Int) = Multimodal.extractFeatures(
      Multimodal.encodeBmpFrame(dims.repartition(n), "id", "w", "h"))
      .collect().sortBy(_.mediaId).toSeq
    assert(feats(1) == feats(3))
  }

  test("resizeStub shrinks payloads proportionally, row-locally") {
    import graft.operators.Multimodal
    val media = Multimodal.withMediaColumn(
      Seq((1L, "abcdefghij"), (2L, "xy")).toDF("id", "payload"), "id", "payload", Nil)
    val out = Multimodal.resizeStub(media, 50)
      .select(col("media_id"), length(col("data")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 5 && out(2L) == 1)
  }

  test("resizeBmp24: 50% of a 4x4 keeps exactly the even-indexed source pixels") {
    val src = Multimodal.encodeBmp(7L, 4, 4)
    val out = Multimodal.resizeBmp24(src, 50)
    val (fmt, w, h) = Multimodal.parseDims(out)
    assert((fmt, w, h) == ("bmp", 2, 2))
    assert(out.length == 54 + Multimodal.bmpRowSize(2) * 2)
    // nearest-neighbor with nw=w/2: dst(x,y) = src(2x,2y); strides pad to 4
    val srcStride = Multimodal.bmpRowSize(4)
    val dstStride = Multimodal.bmpRowSize(2)
    for (y <- 0 until 2; x <- 0 until 2; c <- 0 until 3) {
      val d = out(54 + y * dstStride + x * 3 + c)
      val s = src(54 + (2 * y) * srcStride + (2 * x) * 3 + c)
      assert(d == s, s"pixel ($x,$y) channel $c")
    }
  }

  test("resizeBmp24: dims floor to at least 1; upscale also works") {
    val tiny = Multimodal.resizeBmp24(Multimodal.encodeBmp(1L, 3, 5), 10)
    assert(Multimodal.parseDims(tiny) == (("bmp", 1, 1)))
    val up = Multimodal.resizeBmp24(Multimodal.encodeBmp(1L, 2, 2), 200)
    assert(Multimodal.parseDims(up) == (("bmp", 4, 4)))
    // non-BMP payloads are rejected loudly, not resized wrongly
    val e = intercept[IllegalArgumentException] {
      Multimodal.resizeBmp24("notabmp".getBytes, 50)
    }
    assert(e.getMessage.contains("BMP"))
  }

  test("resizeBmpFrame resizes payloads row-locally across partitions") {
    val dims = Seq((1L, 8, 6), (2L, 31, 17), (3L, 1, 1)).toDF("id", "w", "h")
    val media = Multimodal.encodeBmpFrame(dims, "id", "w", "h").repartition(3)
    val got = Multimodal.extractFeatures(Multimodal.resizeBmpFrame(media, 50))
      .collect().map(f => f.mediaId -> ((f.width, f.height, f.byteLen))).toMap
    assert(got(1L) == ((4, 3, 54 + Multimodal.bmpRowSize(4) * 3)))
    assert(got(2L) == ((15, 8, 54 + Multimodal.bmpRowSize(15) * 8)))
    assert(got(3L) == ((1, 1, 54 + Multimodal.bmpRowSize(1) * 1)))
  }

  // ---- PNG codec: real decode / unfilter / resample ------------------

  test("PNG golden round-trip: encode → decode is pixel-exact") {
    val img = graft.operators.PngCodec.gradient(7L, 8, 5)
    val bytes = graft.operators.PngCodec.encode(img)
    // container header parses like any PNG
    assert(Multimodal.parseDims(bytes) == (("png", 8, 5)))
    // closed-form stored-deflate size: 63 + raw + 5*ceil(raw/65535)
    val raw = 5 * (1 + 8 * 3)
    assert(bytes.length == 63 + raw + 5)
    val back = graft.operators.PngCodec.decode(bytes)
    assert(back.width == 8 && back.height == 5 && back.channels == 3)
    assert(back.pixels.sameElements(img.pixels))
  }

  test("PNG decode rejects implausible IHDR dims before allocation math can overflow") {
    // crafted IHDR claiming 100000x100000: h*(stride+1) wraps Int into
    // NegativeArraySize (uncatchable by aHashAny's null-mapping arm)
    val good = graft.operators.PngCodec.encode(graft.operators.PngCodec.gradient(1L, 4, 4))
    val crafted = good.clone()
    def be32(off: Int, v: Int): Unit = {
      crafted(off) = (v >>> 24).toByte; crafted(off + 1) = (v >>> 16).toByte
      crafted(off + 2) = (v >>> 8).toByte; crafted(off + 3) = v.toByte
    }
    be32(16, 100000); be32(20, 100000) // IHDR width, height
    assert(intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode(crafted)
    }.getMessage.contains("implausible"))
    assert(Multimodal.aHashAny(crafted) == null)
  }

  test("PNG resize 50% keeps exactly the even-indexed source pixels (mirrors the BMP golden)") {
    val img = graft.operators.PngCodec.gradient(3L, 4, 4)
    val resized = graft.operators.PngCodec.decode(
      graft.operators.PngCodec.resizePng(graft.operators.PngCodec.encode(img), 50))
    assert(resized.width == 2 && resized.height == 2)
    for (y <- 0 until 2; x <- 0 until 2; k <- 0 until 3)
      assert(resized.pixels((y * 2 + x) * 3 + k) ==
        img.pixels(((y * 2) * 4 + x * 2) * 3 + k),
        s"pixel ($x,$y) channel $k")
  }

  /** Hand-build a PNG with caller-supplied FILTERED scanline bytes and
    * a Deflater-compressed IDAT — exercises the compressed-block
    * inflate path and filters the encoder never writes. */
  private def buildPng(w: Int, h: Int, colorType: Int, filtered: Array[Byte]): Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + data.length)
      def be(off: Int, v: Int): Unit = {
        out(off) = ((v >>> 24) & 0xff).toByte; out(off + 1) = ((v >>> 16) & 0xff).toByte
        out(off + 2) = ((v >>> 8) & 0xff).toByte; out(off + 3) = (v & 0xff).toByte
      }
      be(0, data.length)
      typ.zipWithIndex.foreach { case (c, i) => out(4 + i) = c.toByte }
      System.arraycopy(data, 0, out, 8, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(out, 4, 4 + data.length)
      be(8 + data.length, crc.getValue.toInt)
      out
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = 0; ihdr(1) = 0; ihdr(2) = 0; ihdr(3) = w.toByte
    ihdr(4) = 0; ihdr(5) = 0; ihdr(6) = 0; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = colorType.toByte
    val d = new java.util.zip.Deflater()
    d.setInput(filtered); d.finish()
    val zbuf = new Array[Byte](filtered.length + 64)
    val zlen = d.deflate(zbuf); d.end()
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.take(zlen)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  test("PNG unfilter handles Sub/Up/Average/Paeth rows from a compressed stream") {
    // 3x4 RGB raster with arbitrary pixels; rows filtered 1,2,3,4 —
    // apply each filter forward here, decode must invert them exactly.
    val w = 3; val h = 4; val ch = 3; val stride = w * ch
    val px = Array.tabulate(h * stride)(i => ((i * 37 + 11) & 0xff).toByte)
    def p(y: Int, x: Int): Int = if (x < 0 || y < 0) 0 else px(y * stride + x) & 0xff
    def paeth(a: Int, b: Int, c: Int): Int = {
      val q = a + b - c
      val (pa, pb, pc) = (math.abs(q - a), math.abs(q - b), math.abs(q - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val filtered = new Array[Byte](h * (stride + 1))
    for (y <- 0 until h) {
      val ft = y + 1 // Sub, Up, Average, Paeth
      filtered(y * (stride + 1)) = ft.toByte
      for (x <- 0 until stride) {
        val a = p(y, x - ch); val b = p(y - 1, x); val c = p(y - 1, x - ch)
        val pred = ft match {
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case 4 => paeth(a, b, c)
        }
        filtered(y * (stride + 1) + 1 + x) = ((p(y, x) - pred) & 0xff).toByte
      }
    }
    val back = graft.operators.PngCodec.decode(buildPng(w, h, 2, filtered))
    assert(back.pixels.sameElements(px))
  }

  test("PNG golden: dynamic-Huffman IDAT decodes pixel-exact (mirrors the BMP golden)") {
    // A 64x48 gradient is compressible enough that zlib level 9 emits a
    // dynamic-Huffman (BTYPE 10) block — asserted below so this golden
    // honestly exercises the §3.2.7 path, not stored/fixed.
    val img = graft.operators.PngCodec.gradient(11L, 64, 48)
    val stride = 64 * 3
    val filtered = new Array[Byte](48 * (stride + 1))
    for (y <- 0 until 48)
      System.arraycopy(img.pixels, y * stride, filtered, y * (stride + 1) + 1, stride)
    val d = new java.util.zip.Deflater(9)
    d.setInput(filtered); d.finish()
    val zbuf = new Array[Byte](filtered.length + 64)
    val zlen = d.deflate(zbuf); d.end()
    assert(((zbuf(2) >> 1) & 3) == 2, "test premise: first block must be dynamic-Huffman")
    val back = graft.operators.Gzip.zlibInflate(zbuf.take(zlen), filtered.length)
    assert(back.sameElements(filtered))
    // and through the full PNG path: decode of a dynamic-Huffman IDAT
    val png = buildPng(64, 48, 2, filtered)
    val raster = graft.operators.PngCodec.decode(png)
    assert(raster.width == 64 && raster.height == 48)
    assert(raster.pixels.sameElements(img.pixels))
  }

  test("PNG inflate: hand-assembled fixed-Huffman block with an LZ77 back-reference") {
    // "abcabc": literals a,b,c then <length 3, distance 3>, then EOB —
    // assembled bit-by-bit per RFC 1951 §3.2.6 (fixed codes: literals
    // 0-143 are 8-bit 0x30+sym; len sym 257 is 7-bit 0000001; dist sym
    // 2 is 5-bit 00010; EOB is 7-bit 0000000).
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def putLsb(v: Int, n: Int): Unit = for (i <- 0 until n) bits += ((v >> i) & 1)
    def putCode(code: Int, n: Int): Unit = for (i <- (n - 1) to 0 by -1) bits += ((code >> i) & 1)
    putLsb(1, 1) // BFINAL
    putLsb(1, 2) // BTYPE 01 fixed
    for (c <- "abc") putCode(0x30 + c.toInt, 8)
    putCode(1, 7)      // length symbol 257 → length 3
    putCode(2, 5)      // distance symbol 2 → distance 3
    putCode(0, 7)      // end of block
    val payload = bits.grouped(8).map { g =>
      g.zipWithIndex.foldLeft(0) { case (b, (bit, i)) => b | (bit << i) }.toByte
    }.toArray
    val expect = "abcabc".getBytes("US-ASCII")
    val ad = new java.util.zip.Adler32(); ad.update(expect)
    val adBytes = Array.tabulate(4)(i => ((ad.getValue >> (24 - 8 * i)) & 0xff).toByte)
    val z = Array(0x78.toByte, 0x01.toByte) ++ payload ++ adBytes
    assert(graft.operators.Gzip.zlibInflate(z, 6).sameElements(expect))
  }

  test("PNG inflate matches Deflater across levels, sizes and data shapes") {
    // stored (level 0), fixed (tiny inputs), dynamic (large/skewed):
    // every Deflater output must round-trip through our pure inflate.
    val rnd = new scala.util.Random(42)
    val shapes: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      "x".getBytes,
      Array.tabulate(100)(i => (i % 7).toByte),          // tiny, repetitive
      Array.tabulate(5000)(_ => rnd.nextInt(256).toByte), // incompressible
      Array.tabulate(200000)(i => ((i / 100) % 251).toByte), // long runs
      Array.fill(70000)(7.toByte))                        // > one stored block
    for (data <- shapes; level <- Seq(0, 1, 6, 9)) {
      val d = new java.util.zip.Deflater(level)
      d.setInput(data); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end()
      val got = graft.operators.Gzip.zlibInflate(buf.toByteArray, data.length)
      assert(got.sameElements(data), s"level=$level size=${data.length}")
    }
  }

  test("PNG inflate rejects corrupt streams loudly") {
    val data = Array.tabulate(1000)(i => (i % 5).toByte)
    val d = new java.util.zip.Deflater(9)
    d.setInput(data); d.finish()
    val buf = new Array[Byte](2000)
    val n = d.deflate(buf); d.end()
    val z = buf.take(n)
    // bad FCHECK
    val badHdr = z.clone(); badHdr(1) = (badHdr(1) ^ 1).toByte
    intercept[IllegalArgumentException] { graft.operators.Gzip.zlibInflate(badHdr, 1000) }
    // truncated body
    intercept[IllegalArgumentException] { graft.operators.Gzip.zlibInflate(z.take(n / 2), 1000) }
    // flipped Adler trailer
    val badAd = z.clone(); badAd(n - 1) = (badAd(n - 1) ^ 0xff).toByte
    intercept[IllegalArgumentException] { graft.operators.Gzip.zlibInflate(badAd, 1000) }
  }

  test("PNG whose IDAT zlib stream lacks its Adler-32 trailer is rejected") {
    val rows = Array[Byte](0, 10, 20, 30, 0, 40, 50, 60) // 1x2 RGB, filter 0
    val ok = buildPngFull(1, 2, 2, 8, rows)
    assert(graft.operators.PngCodec.decode(ok).pixels.sameElements(
      Array[Byte](10, 20, 30, 40, 50, 60)))
    val e = intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode(buildPngFull(1, 2, 2, 8, rows, zlib = _.dropRight(4)))
    }
    assert(e.getMessage.contains("Adler"))
  }

  test("PNG whose IDAT inflates past its raster size fails during the inflate") {
    // a 1x1 RGB raster is 4 filtered bytes; this IDAT inflates to 1 MiB
    // of zeros from about a kilobyte — the decompression-bomb shape
    val bomb = buildPngFull(1, 1, 2, 8, new Array[Byte](1 << 20))
    assert(bomb.length < 4096)
    val e = intercept[IllegalArgumentException](graft.operators.PngCodec.decode(bomb))
    assert(e.getMessage.contains("deflate output exceeds"))
  }

  test("PNG RGBA (color type 6) round-trips") {
    val px = Array.tabulate(2 * 2 * 4)(i => ((i * 53 + 5) & 0xff).toByte)
    val img = graft.operators.PngCodec.Raster(2, 2, 4, px)
    val back = graft.operators.PngCodec.decode(graft.operators.PngCodec.encode(img))
    assert(back.channels == 4 && back.pixels.sameElements(px))
  }

  test("PNG decode fails loudly on unsupported classes, never wrong pixels") {
    val good = graft.operators.PngCodec.encode(graft.operators.PngCodec.gradient(1L, 3, 3))
    // palette color type (3) decodes since round 8 — but not without PLTE
    val pal = good.clone(); pal(8 + 8 + 9) = 3
    assert(intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode(pal)
    }.getMessage.contains("PLTE"))
    // 16-bit PALETTE is illegal per spec §11.2.2 (16-bit itself decodes
    // since round 9)
    val deep = good.clone(); deep(8 + 8 + 8) = 16; deep(8 + 8 + 9) = 3
    assert(intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode(deep)
    }.getMessage.contains("bit depth"))
    // tRNS on an alpha-bearing type (6) is illegal — fenced, not ignored
    val trnsBad = buildPngFull(1, 1, 6, 8,
      Array[Byte](0, 1, 2, 3, 4), trns = Array[Byte](0, 0))
    assert(intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode(trnsBad)
    }.getMessage.contains("tRNS"))
    // interlace METHODS beyond 0/1 are rejected (Adam7 itself decodes)
    val il = good.clone(); il(8 + 8 + 12) = 2
    assert(intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode(il)
    }.getMessage.contains("interlace method"))
    // not a PNG at all
    assert(intercept[IllegalArgumentException] {
      graft.operators.PngCodec.decode("definitely not png".getBytes)
    }.getMessage.contains("not a PNG"))
  }

  /** Cross-oracle: decode `png` with BOTH the pure-byte codec and
    * javax.imageio (test-only independent oracle), compare every pixel
    * in ARGB space. Returns our raster for further assertions. */
  private def crossOraclePng(png: Array[Byte]): graft.operators.PngCodec.Raster = {
    val ours = graft.operators.PngCodec.decode(png)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(ref != null, "ImageIO could not read the payload")
    assert(ref.getWidth == ours.width && ref.getHeight == ours.height)
    val cm = ref.getColorModel
    // getRGB on a gray image gamma-converts through the linear gray
    // color space — compare RAW samples there (scaled to 8-bit exactly
    // as the codec scales); indexed/RGB images compare in ARGB space.
    val isGray = !cm.isInstanceOf[java.awt.image.IndexColorModel] &&
      cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY
    val is16 = ref.getSampleModel.getSampleSize(0) == 16
    for (y <- 0 until ours.height; x <- 0 until ours.width) {
      val d = (y * ours.width + x) * ours.channels
      val (r, g, b) = (ours.pixels(d) & 0xff, ours.pixels(d + 1) & 0xff, ours.pixels(d + 2) & 0xff)
      val a = if (ours.channels == 4) ours.pixels(d + 3) & 0xff else 255
      if (is16) {
        // 16-bit: compare raw raster samples stripped to the high byte
        // (the codec's libpng strip-16 convention); getRGB would use
        // round(v·255/65535), which differs by 1 ulp at half-scale
        val bands = ref.getRaster.getNumBands
        def s(band: Int): Int = ref.getRaster.getSample(x, y, band) >> 8
        val (rr, rg, rb, ra) =
          if (isGray) (s(0), s(0), s(0), if (bands >= 2) s(1) else 255)
          else (s(0), s(1), s(2), if (bands >= 4) s(3) else 255)
        assert(r == rr && g == rg && b == rb && a == ra,
          s"pixel ($x,$y): imageio16 r=$rr g=$rg b=$rb a=$ra vs ours r=$r g=$g b=$b a=$a")
      } else if (isGray) {
        val ss = ref.getSampleModel.getSampleSize(0)
        val rg = ref.getRaster.getSample(x, y, 0) * 255 / ((1 << ss) - 1)
        val ra = if (cm.hasAlpha) ref.getRaster.getSample(x, y, 1) else 255
        assert(r == rg && g == rg && b == rg && a == ra,
          s"pixel ($x,$y): imageio gray=$rg a=$ra vs ours r=$r g=$g b=$b a=$a")
      } else {
        val argb = ref.getRGB(x, y)
        assert(((argb >> 16) & 0xff) == r && ((argb >> 8) & 0xff) == g &&
          (argb & 0xff) == b && ((argb >>> 24) & 0xff) == a,
          f"pixel ($x,$y): imageio ${argb}%08x vs ours a=$a r=$r g=$g b=$b")
      }
    }
    ours
  }

  /** Hand-build a PNG with full header control (bit depth, color type,
    * interlace flag, PLTE/tRNS) around caller-supplied FILTERED
    * scanline bytes. */
  private def buildPngFull(w: Int, h: Int, colorType: Int, bitDepth: Int,
      filtered: Array[Byte], plte: Array[Byte] = null, trns: Array[Byte] = null,
      interlace: Int = 0,
      zlib: Array[Byte] => Array[Byte] = identity): Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + data.length)
      def be(off: Int, v: Int): Unit = {
        out(off) = ((v >>> 24) & 0xff).toByte; out(off + 1) = ((v >>> 16) & 0xff).toByte
        out(off + 2) = ((v >>> 8) & 0xff).toByte; out(off + 3) = (v & 0xff).toByte
      }
      be(0, data.length)
      typ.zipWithIndex.foreach { case (c, i) => out(4 + i) = c.toByte }
      System.arraycopy(data, 0, out, 8, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(out, 4, 4 + data.length)
      be(8 + data.length, crc.getValue.toInt)
      out
    }
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte
    ihdr(12) = interlace.toByte
    val d = new java.util.zip.Deflater()
    d.setInput(filtered); d.finish()
    val zbuf = new Array[Byte](filtered.length + 64)
    val zlen = d.deflate(zbuf); d.end()
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++
      Option(plte).map(chunk("PLTE", _)).getOrElse(Array.emptyByteArray) ++
      Option(trns).map(chunk("tRNS", _)).getOrElse(Array.emptyByteArray) ++
      chunk("IDAT", zlib(zbuf.take(zlen))) ++ chunk("IEND", Array.emptyByteArray)
  }

  test("PNG palette (type 3) and grayscale (type 0): ImageIO-written files cross-oracle") {
    // indexed: ImageIO writes a real PLTE PNG from TYPE_BYTE_INDEXED
    val idx = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 7; x <- 0 until 9)
      idx.setRGB(x, y, ((x * 31) << 16) | ((y * 41) << 8) | ((x ^ y) * 17))
    val idxOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(idx, "png", idxOut)
    val ours = crossOraclePng(idxOut.toByteArray)
    assert(ours.channels == 3)
    // grayscale: TYPE_BYTE_GRAY → color type 0
    val gray = new java.awt.image.BufferedImage(6, 5,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 5; x <- 0 until 6)
      gray.getRaster.setSample(x, y, 0, (x * 40 + y * 13) & 0xff)
    val gOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray, "png", gOut)
    crossOraclePng(gOut.toByteArray)
  }

  test("PNG Adam7 interlace: ImageIO progressive writes cross-oracle (RGB + palette)") {
    def progressive(img: java.awt.image.BufferedImage): Array[Byte] = {
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val p = wr.getDefaultWriteParam
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      wr.dispose(); ios.close()
      bos.toByteArray
    }
    // odd dims so every Adam7 pass has a ragged edge
    val rgb = new java.awt.image.BufferedImage(13, 11,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 11; x <- 0 until 13)
      rgb.setRGB(x, y, ((x * 19) << 16) | ((y * 23) << 8) | ((x * y) & 0xff))
    val png = progressive(rgb)
    assert((png(8 + 8 + 12) & 0xff) == 1, "writer did not emit Adam7") // IHDR interlace byte
    crossOraclePng(png)
    // tiny image: several passes are EMPTY (no scanlines at all)
    val tiny = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) tiny.setRGB(x, y, (x * 80) << 16 | y * 100)
    val tpng = progressive(tiny)
    assert((tpng(8 + 8 + 12) & 0xff) == 1)
    crossOraclePng(tpng)
    // interlaced indexed: both features at once
    val idx = new java.awt.image.BufferedImage(10, 9,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 9; x <- 0 until 10)
      idx.setRGB(x, y, ((x * 25) << 16) | ((y * 28) << 8))
    val ipng = progressive(idx)
    if ((ipng(8 + 8 + 12) & 0xff) == 1) crossOraclePng(ipng)
  }

  test("PNG sub-byte depths and tRNS: hand-built 4-bit palette, 1-bit gray, gray-alpha") {
    // 4-bit palette, 5 px/row (ragged last nibble), tRNS on 3 of 5 entries
    val plte = Array[Byte](
      10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120, (130 - 256).toByte, (140 - 256).toByte, (150 - 256).toByte)
    val trns = Array[Byte](0, (200 - 256).toByte, (255 - 256).toByte)
    val w = 5; val h = 3
    val rb = (w * 4 + 7) / 8 // 3 bytes per row
    val filtered = new Array[Byte](h * (1 + rb))
    val pix = Array(
      Array(0, 1, 2, 3, 4),
      Array(4, 3, 2, 1, 0),
      Array(2, 2, 0, 4, 1))
    for (y <- 0 until h) {
      filtered(y * (1 + rb)) = 0
      for (x <- 0 until w) {
        val bit = x * 4
        val off = y * (1 + rb) + 1 + (bit >> 3)
        filtered(off) = (filtered(off) | (pix(y)(x) << (4 - (bit & 4)))).toByte
      }
    }
    val png4 = buildPngFull(w, h, 3, 4, filtered, plte, trns)
    val ours4 = crossOraclePng(png4)
    assert(ours4.channels == 4) // tRNS → RGBA
    assert((ours4.pixels(3) & 0xff) == 0 && (ours4.pixels(7) & 0xff) == 200 &&
      (ours4.pixels(15) & 0xff) == 255) // entries beyond tRNS are opaque
    // 1-bit grayscale, 10 px/row (ragged second byte)
    val w1 = 10; val h1 = 4
    val rb1 = (w1 + 7) / 8
    val f1 = new Array[Byte](h1 * (1 + rb1))
    for (y <- 0 until h1) {
      f1(y * (1 + rb1)) = 0
      for (x <- 0 until w1; if ((x * 3 + y) % 2) == 1) {
        val off = y * (1 + rb1) + 1 + (x >> 3)
        f1(off) = (f1(off) | (1 << (7 - (x & 7)))).toByte
      }
    }
    val ours1 = crossOraclePng(buildPngFull(w1, h1, 0, 1, f1))
    assert(ours1.channels == 3 &&
      ours1.pixels.forall(p => (p & 0xff) == 0 || (p & 0xff) == 255))
    // gray-alpha (type 4), 8-bit, filter Sub on row 1 for unfilter coverage
    val wga = 4; val hga = 2
    val ga = Array.tabulate(hga, wga * 2)((y, i) => ((i * 29 + y * 97 + 3) & 0xff))
    val fga = new Array[Byte](hga * (1 + wga * 2))
    fga(0) = 0
    for (i <- 0 until wga * 2) fga(1 + i) = ga(0)(i).toByte
    fga(1 + wga * 2) = 1 // Sub, bpp = 2
    for (i <- 0 until wga * 2) {
      val left = if (i >= 2) ga(1)(i - 2) else 0
      fga(2 + wga * 2 + i) = ((ga(1)(i) - left) & 0xff).toByte
    }
    val oursGa = crossOraclePng(buildPngFull(wga, hga, 4, 8, fga))
    assert(oursGa.channels == 4)
    for (y <- 0 until hga; x <- 0 until wga) {
      val d = (y * wga + x) * 4
      assert((oursGa.pixels(d) & 0xff) == ga(y)(x * 2) &&
        (oursGa.pixels(d + 3) & 0xff) == ga(y)(x * 2 + 1))
    }
  }

  test("PNG 16-bit: gray / truecolor / RGBA / gray-alpha cross-oracle (round-9 fence removal)") {
    // 16-bit gray via ImageIO's own writer (TYPE_USHORT_GRAY → depth-16 type 0)
    val g16 = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 5; x <- 0 until 7)
      g16.getRaster.setSample(x, y, 0, (x * 9973 + y * 25013 + 13) & 0xffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(g16, "png", bos)
    assert(crossOraclePng(bos.toByteArray).channels == 3)

    // helpers: big-endian 16-bit rows + byte-level filter application
    def be16Row(samples: Array[Int]): Array[Byte] = {
      val row = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        row(i * 2) = (samples(i) >> 8).toByte
        row(i * 2 + 1) = (samples(i) & 0xff).toByte
      }
      row
    }
    def filterRows(rows: Array[Array[Byte]], filters: Array[Int], bpp: Int): Array[Byte] = {
      val rb = rows(0).length
      val out = new Array[Byte](rows.length * (1 + rb))
      for (y <- rows.indices) {
        out(y * (1 + rb)) = filters(y).toByte
        for (x <- 0 until rb) {
          val raw = rows(y)(x) & 0xff
          val left = if (x >= bpp) rows(y)(x - bpp) & 0xff else 0
          val up = if (y > 0) rows(y - 1)(x) & 0xff else 0
          val f = filters(y) match {
            case 0 => raw
            case 1 => raw - left
            case 2 => raw - up
            case 3 => raw - ((left + up) >> 1)
          }
          out(y * (1 + rb) + 1 + x) = (f & 0xff).toByte
        }
      }
      out
    }
    // 16-bit truecolor (type 2, bpp 6), filters None/Sub/Up across rows
    val w = 4; val h = 3
    val tc = Array.tabulate(h)(y => Array.tabulate(w * 3)(i => (i * 4099 + y * 31013 + 7) & 0xffff))
    val tcPng = buildPngFull(w, h, 2, 16,
      filterRows(tc.map(be16Row), Array(0, 1, 2), bpp = 6))
    assert(crossOraclePng(tcPng).channels == 3)
    // 16-bit RGBA (type 6, bpp 8) with Average filter
    val rgba = Array.tabulate(h)(y => Array.tabulate(w * 4)(i => (i * 7919 + y * 17041 + 3) & 0xffff))
    val rgbaPng = buildPngFull(w, h, 6, 16,
      filterRows(rgba.map(be16Row), Array(0, 3, 1), bpp = 8))
    assert(crossOraclePng(rgbaPng).channels == 4)
    // 16-bit gray-alpha (type 4, bpp 4)
    val ga = Array.tabulate(h)(y => Array.tabulate(w * 2)(i => (i * 13007 + y * 911 + 5) & 0xffff))
    val gaPng = buildPngFull(w, h, 4, 16,
      filterRows(ga.map(be16Row), Array(0, 2, 1), bpp = 4))
    assert(crossOraclePng(gaPng).channels == 4)
  }

  test("PNG color-key tRNS keys out ONLY exact full-precision matches") {
    // 8-bit truecolor, key (10,20,30): pixel 0 keyed, pixel 1 one-off
    val key8 = Array[Byte](0, 10, 0, 20, 0, 30)
    val px8 = Array[Byte](0 /*filter*/, 10, 20, 30, 10, 20, 31)
    val o8 = graft.operators.PngCodec.decode(
      buildPngFull(2, 1, 2, 8, px8, trns = key8))
    assert(o8.channels == 4)
    assert((o8.pixels(3) & 0xff) == 0, "exact key must be transparent")
    assert((o8.pixels(7) & 0xff) == 255, "near miss must stay opaque")
    // ImageIO cross-check when the JDK reader surfaces the key as alpha
    val ref8 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(buildPngFull(2, 1, 2, 8, px8, trns = key8)))
    if (ref8 != null && ref8.getColorModel.hasAlpha) {
      assert(((ref8.getRGB(0, 0) >>> 24) & 0xff) == 0)
      assert(((ref8.getRGB(1, 0) >>> 24) & 0xff) == 255)
    }

    // 16-bit gray, key 0x1234: 0x1234 keys out, 0x12FF shares the HIGH
    // byte but must stay opaque — the compare-before-downscale pin
    val key16 = Array[Byte](0x12, 0x34)
    val px16 = Array[Byte](0 /*filter*/, 0x12, 0x34, 0x12, 0xff.toByte)
    val o16 = graft.operators.PngCodec.decode(
      buildPngFull(2, 1, 0, 16, px16, trns = key16))
    assert(o16.channels == 4)
    assert((o16.pixels(0) & 0xff) == 0x12 && (o16.pixels(4) & 0xff) == 0x12,
      "both pixels strip to the same 8-bit gray")
    assert((o16.pixels(3) & 0xff) == 0, "exact 16-bit key must be transparent")
    assert((o16.pixels(7) & 0xff) == 255,
      "same-high-byte near miss must stay opaque (full-precision compare)")

    // 4-bit gray, key 5: sub-byte depth color-keying
    val px4 = Array[Byte](0 /*filter*/, 0x5a.toByte) // pixels 5, 10
    val o4 = graft.operators.PngCodec.decode(
      buildPngFull(2, 1, 0, 4, px4, trns = Array[Byte](0, 5)))
    assert(o4.channels == 4)
    assert((o4.pixels(3) & 0xff) == 0 && (o4.pixels(7) & 0xff) == 255)
    assert((o4.pixels(0) & 0xff) == 5 * 17, "4-bit gray scale to 8-bit unchanged")
  }

  test("encodeGray16 → decode round-trips; key transparency is full-precision") {
    val samples = Array(0x1234, 0x12ff, 0xffff, 0x0000, 0x0001, 0x0100)
    val png = graft.operators.PngCodec.encodeGray16(3, 2, samples, colorKey = 0x1234)
    val r = graft.operators.PngCodec.decode(png)
    assert(r.width == 3 && r.height == 2 && r.channels == 4)
    for (p <- samples.indices) {
      val g = r.pixels(p * 4) & 0xff
      assert(g == (samples(p) >> 8), s"pixel $p gray $g != ${samples(p) >> 8}")
      val a = r.pixels(p * 4 + 3) & 0xff
      assert(a == (if (samples(p) == 0x1234) 0 else 255),
        s"pixel $p alpha $a (sample ${samples(p)})")
    }
    // ImageIO agrees on the gray plane (alpha support for gray color
    // keys varies by JDK reader — compared only when surfaced)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(ref != null && ref.getWidth == 3 && ref.getHeight == 2)
    for (p <- samples.indices)
      assert(ref.getRaster.getSample(p % 3, p / 3, 0) >> 8 == (samples(p) >> 8))
  }

  test("PNG 16-bit Adam7: progressive ImageIO write cross-oracles") {
    val img = new java.awt.image.BufferedImage(11, 6,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 6; x <- 0 until 11)
      img.getRaster.setSample(x, y, 0, (x * 5987 + y * 40961 + 123) & 0xffff)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val p = wr.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wr.dispose(); ios.close()
    val png = bos.toByteArray
    assert((png(8 + 8 + 12) & 0xff) == 1, "writer did not emit Adam7")
    assert((png(8 + 8 + 8) & 0xff) == 16, "writer did not keep 16-bit depth")
    crossOraclePng(png)
  }

  test("aHashAny covers 16-bit PNGs, and they hash WITH their 8-bit twins") {
    // expand an 8-bit gray image to 16-bit by v → (v<<8 | v); strip-16
    // recovers v exactly, so the two files must share one aHash
    val w = 9; val h = 8
    val v8 = Array.tabulate(h, w)((y, x) => (x * 29 + y * 31) & 0xff)
    val png8 = graft.operators.PngCodec.encodeGray(w, h,
      v8.flatten.map(_.toByte))
    val rows16 = Array.tabulate(h)(y =>
      Array[Byte](0) ++ v8(y).flatMap(v => Array(v.toByte, v.toByte)))
    val png16 = buildPngFull(w, h, 0, 16, rows16.flatten)
    val h8 = graft.operators.Multimodal.aHashAny(png8)
    val h16 = graft.operators.Multimodal.aHashAny(png16)
    assert(h16 != null, "16-bit PNG must not escape image dedup")
    assert(h8 == h16, "8-bit and 16-bit encodings of one image must collide")
  }

  test("orientRaster: all 8 EXIF orientations invert exactly; 5-8 swap dims") {
    val u = graft.operators.PngCodec.gradient(13L, 7, 4) // non-square, asymmetric
    // T_o applied to T_{o⁻¹}(U) must reproduce U pixel-exact;
    // the only non-self-inverse pair is (6, 8)
    val inv = Map(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 4, 5 -> 5, 6 -> 8, 7 -> 7, 8 -> 6)
    for (o <- 1 to 8) {
      val stored = Multimodal.orientRaster(u, inv(o))
      if (o >= 5) assert(stored.width == 4 && stored.height == 7)
      val back = Multimodal.orientRaster(stored, o)
      assert(back.width == 7 && back.height == 4 &&
        back.pixels.sameElements(u.pixels), s"orientation $o")
    }
    // distinct orientations of an asymmetric image are distinct images
    val rasters = (1 to 8).map(o => Multimodal.orientRaster(u, o))
    assert(rasters.map(_.pixels.toSeq).distinct.size == 8)
    intercept[IllegalArgumentException] { Multimodal.orientRaster(u, 0) }
  }

  test("aHashAny canonicalizes EXIF orientation: a rotated camera shot pairs with its upright copy") {
    for (id <- Seq(1L, 2L, 3L); (w, h) <- Seq((24, 17), (9, 31))) {
      val up = graft.operators.PngCodec.gradient(id, w, h)
      val upright = graft.operators.JpegCodec.encode(up)
      // same visual image, stored rotated 90° CCW, tagged "rotate CW"
      val rotated = graft.operators.JpegCodec.withExifOrientation(
        graft.operators.JpegCodec.encode(Multimodal.orientRaster(up, 8)), 6)
      val hu = Multimodal.aHashAny(upright).longValue
      val hr = Multimodal.aHashAny(rotated).longValue
      val d = java.lang.Long.bitCount(hu ^ hr)
      assert(d <= 6, s"id=$id ${w}x$h: hamming $d")
      // contrast: WITHOUT the tag the stored-space hashes are unrelated
      val untagged = Multimodal.aHashAny(
        graft.operators.JpegCodec.encode(Multimodal.orientRaster(up, 8))).longValue
      assert(java.lang.Long.bitCount(hu ^ untagged) > d,
        s"id=$id ${w}x$h: canonicalization did not help")
    }
  }

  test("aHashAny covers palette and interlaced PNGs (the icon class no longer escapes dedup)") {
    val idx = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 16; x <- 0 until 16)
      idx.setRGB(x, y, if ((x + y) % 2 == 0) 0xffffff else 0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(idx, "png", bos)
    assert(Multimodal.aHashAny(bos.toByteArray) != null)
  }

  test("encodePngFrame + resizePngFrame: distributed real-pixel path across partitions") {
    val dims = Seq((1L, 8, 6), (2L, 31, 17), (3L, 1, 1)).toDF("id", "w", "h")
    val media = Multimodal.encodePngFrame(dims, "id", "w", "h").repartition(3)
    val got = Multimodal.extractFeatures(Multimodal.resizePngFrame(media, 50))
      .collect().map(f => f.mediaId -> ((f.format, f.width, f.height))).toMap
    assert(got(1L) == (("png", 4, 3)))
    assert(got(2L) == (("png", 15, 8)))
    assert(got(3L) == (("png", 1, 1)))
  }

  test("encodeJpegFrame + resizeJpegFrame: distributed real-pixel JPEG path") {
    val dims = Seq((1L, 24, 16), (2L, 37, 9), (3L, 8, 8)).toDF("id", "w", "h")
    val media = Multimodal.encodeJpegFrame(dims, "id", "w", "h").repartition(3)
    val full = Multimodal.extractFeatures(media)
      .collect().map(f => f.mediaId -> ((f.format, f.width, f.height))).toMap
    assert(full(1L) == (("jpeg", 24, 16)))
    assert(full(2L) == (("jpeg", 37, 9)))
    val got = Multimodal.extractFeatures(Multimodal.resizeJpegFrame(media, 50))
      .collect().map(f => f.mediaId -> ((f.format, f.width, f.height))).toMap
    assert(got(1L) == (("jpeg", 12, 8)))
    assert(got(2L) == (("jpeg", 18, 4)))
    assert(got(3L) == (("jpeg", 4, 4)))
    // and the resized payload really decodes (pixels, not just headers)
    val bytes = Multimodal.resizeJpegFrame(media, 50)
      .where(col("media_id") === 1L).collect()(0).getAs[Array[Byte]]("data")
    val r = graft.operators.JpegCodec.decode(bytes)
    assert(r.width == 12 && r.height == 8 && r.channels == 3)
  }

  private def flipRows(r: graft.operators.PngCodec.Raster): graft.operators.PngCodec.Raster = {
    val stride = r.width * r.channels
    val px = new Array[Byte](r.pixels.length)
    for (y <- 0 until r.height)
      System.arraycopy(r.pixels, y * stride, px, (r.height - 1 - y) * stride, stride)
    graft.operators.PngCodec.Raster(r.width, r.height, r.channels, px)
  }

  test("aHashAny: one hash space across BMP / PNG / JPEG of the same image") {
    // encodeBmp and PngCodec.gradient share the same per-pixel
    // formulas, so the BMP bytes and the PNG raster show the SAME
    // visual image — their hashes must be IDENTICAL (both lossless);
    // the JPEG of that raster differs only by quantization noise, so
    // its hash must land within a few hamming bits.
    val (w, h) = (40, 24)
    val id = 5L
    val bmpHash = Multimodal.aHashAny(Multimodal.encodeBmp(id, w, h)).longValue
    // encodeBmp indexes its formulas by STORED (bottom-up) row, so its
    // visual image is the vertical flip of gradient's — flip the raster
    // so all three payloads show the same VISUAL image
    val raster = flipRows(graft.operators.PngCodec.gradient(id, w, h))
    val pngHash = Multimodal.aHashAny(graft.operators.PngCodec.encode(raster)).longValue
    val jpgHash = Multimodal.aHashAny(graft.operators.JpegCodec.encode(raster)).longValue
    assert(bmpHash == pngHash, f"bmp=$bmpHash%016x png=$pngHash%016x")
    val ham = java.lang.Long.bitCount(pngHash ^ jpgHash)
    assert(ham <= 6, s"jpeg drifted $ham bits")
    // a genuinely different image is far away in hamming space
    val other = Multimodal.aHashAny(Multimodal.encodeBmp(id, 17, 31)).longValue
    assert(java.lang.Long.bitCount(pngHash ^ other) > 6)
    assert(Multimodal.aHashAny("not an image".getBytes) == null)
  }

  test("aHashAny: truncated PNG/JPEG payloads hash to null — never a task-killing throw") {
    val raster = graft.operators.PngCodec.gradient(5L, 20, 14)
    val png = graft.operators.PngCodec.encode(raster)
    val jpg = graft.operators.JpegCodec.encode(raster)
    // cut inside the compressed/entropy data (headers with dims intact,
    // body unreadable) — the mixed-corpus contract is null, not a crash.
    // (Trimming only the trailer, e.g. a PNG's IEND, still decodes —
    // that is correct, not a failure, so the cuts go deep.)
    for (frac <- Seq(2, 3)) {
      assert(Multimodal.aHashAny(png.take(png.length / frac)) == null, s"png 1/$frac")
      assert(Multimodal.aHashAny(jpg.take(jpg.length / frac)) == null, s"jpg 1/$frac")
    }
  }

  test("aHashAnyFrame hashes a mixed-format corpus row-locally") {
    import spark.implicits._
    val visual = flipRows(graft.operators.PngCodec.gradient(9L, 20, 12))
    val media = Seq(
      (1L, Multimodal.encodeBmp(9L, 20, 12)),
      (2L, graft.operators.PngCodec.encode(visual)),
      (3L, graft.operators.JpegCodec.encode(visual)),
      (4L, "junk".getBytes)).toDF("media_id", "data").repartition(2)
    val got = Multimodal.aHashAnyFrame(media).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) == got(2L) && got(1L).isDefined)
    assert(got(3L).isDefined)
    assert(java.lang.Long.bitCount(got(1L).get ^ got(3L).get) <= 6)
    assert(got(4L).isEmpty)
  }

  test("sampleFrames explodes one row per stride offset") {
    val m = Multimodal.withMediaColumn(docs.where(col("doc_id") === 1), "doc_id", "text", Seq("lang"))
    // 11 bytes, stride 4 → offsets 0,4,8
    val frames = Multimodal.sampleFrames(m, 4).collect().map(_.getInt(1))
    assert(frames.toSeq == Seq(0, 4, 8))
  }

  test("aHash64 matches an independent replay of the sample/luma/bit math") {
    val (id, w, h) = (5L, 20, 13)
    // reference: recompute from the ENCODER's pixel formula, not the
    // BMP bytes — catches stride/offset mistakes in the hash's reader
    val lum = (0 until 64).map { i =>
      val sx = (i % 8) * w / 8; val sy = (i / 8) * h / 8
      ((sx + sy + id) & 0xff) + ((sx ^ sy) & 0xff) + ((sx * 7 + sy * 3) & 0xff)
    }
    val s = lum.sum
    val want = (0 until 64).foldLeft(0L) { (acc, i) =>
      if (64L * lum(i) > s) acc | (1L << i) else acc
    }
    assert(Multimodal.aHash64(Multimodal.encodeBmp(id, w, h)) == want)
  }

  test("aHash is brightness-shift invariant; content changes flip bits; non-BMP null") {
    val base = Multimodal.aHash64(Multimodal.encodeBmp(0L, 32, 32)).longValue
    // id shifts the B channel uniformly (no mod-256 wrap at these dims):
    // luma and mean move together → identical hash
    val shifted = Multimodal.aHash64(Multimodal.encodeBmp(4L, 32, 32)).longValue
    assert(base == shifted)
    // different dims = genuinely different content → bits differ
    val other = Multimodal.aHash64(Multimodal.encodeBmp(0L, 31, 7)).longValue
    assert(java.lang.Long.bitCount(base ^ other) > 4)
    assert(Multimodal.aHash64("not an image".getBytes) == null)
    assert(Multimodal.aHash64(Array[Byte]('B', 'M')) == null)
  }

  test("aHash64: top-down and bottom-up encodings of the same image hash identically") {
    // flip a bottom-up BMP to top-down: negate the height field and
    // reverse the stored row order — the VISUAL image is unchanged, so
    // the hash must be too (a re-encoded duplicate must not dodge
    // dedup on a header sign bit)
    val bu = Multimodal.encodeBmp(3L, 24, 10)
    val w = 24; val h = 10
    val rowSize = Multimodal.bmpRowSize(w)
    val td = bu.clone()
    val negH = -h
    td(22) = (negH & 0xff).toByte; td(23) = ((negH >> 8) & 0xff).toByte
    td(24) = ((negH >> 16) & 0xff).toByte; td(25) = ((negH >> 24) & 0xff).toByte
    for (y <- 0 until h)
      System.arraycopy(bu, 54 + y * rowSize, td, 54 + (h - 1 - y) * rowSize, rowSize)
    assert(Multimodal.aHash64(bu).longValue == Multimodal.aHash64(td).longValue)
    // and the flip really changed the bytes (premise check)
    assert(!bu.sameElements(td))
  }

  test("aHashFrame: distributed per-row hashing, null passthrough") {
    import spark.implicits._
    val dims = Seq((1L, 20, 13), (2L, 20, 13), (3L, 9, 4)).toDF("id", "w", "h")
    val media = Multimodal.encodeBmpFrame(dims, "id", "w", "h").repartition(2)
    val got = Multimodal.aHashFrame(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == Multimodal.aHash64(Multimodal.encodeBmp(1L, 20, 13)).longValue)
    assert(got(1L) != got(3L))
  }
}
