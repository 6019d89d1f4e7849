package graft.operators

/** DCT perceptual hash (pHash) — the standard image fingerprint for
  * near-duplicate detection at crawl scale, complementing the
  * mean-threshold [[Multimodal.aHash64]]: aHash keys on absolute
  * brightness layout, pHash on low-frequency STRUCTURE, so it survives
  * brightness/contrast shifts and heavier re-encode noise. (Reference
  * scope anchor: `/root/reference/dataframe/core.py` has no media
  * surface — this extends the training-pipeline dedup tier the brief
  * mandates.)
  *
  * Pipeline (classic pHash shape, every step INTEGER-EXACT so an
  * external engine replays the hash bit-for-bit — the DuckDB oracles
  * do):
  *   1. integer Rec.601 grayscale, `(299R + 587G + 114B) / 1000`;
  *   2. 32×32 nearest-neighbor sample, rows in the BMP-compatible
  *      bottom-up order (`g(x,y) = gray(x·w/32, h-1-y·h/32)` of the
  *      visual image — the [[Multimodal.aHashRaster]] convention, one
  *      hash space across containers);
  *   3. separable fixed-point DCT-II with the pinned cosine table
  *      `C(k,n) = round(16384 · cos(π(2n+1)k/64))`, keeping the 8×8
  *      low-frequency block (DC included, the ImageHash convention);
  *   4. threshold every coefficient against the LOWER MEDIAN (sorted
  *      index 31 of the 64) — bit `v·8+u` set iff `D(u,v) > median`.
  *
  * The widest accumulator is `Σ_{x,y} 255·16384·16384 < 2^47` — Long
  * arithmetic is exact, no overflow, no floats anywhere past the
  * table constants.
  *
  * Scale notes: row-local per payload like every codec kernel here;
  * hamming-banded pairing ([[Dedup.hammingPairs]]) applies unchanged —
  * pHash and aHash share the 64-bit hash-space machinery.
  */
object PHash {

  /** Fixed-point scale of the cosine table. */
  val Scale = 16384

  /** Pinned DCT-II cosines, output frequency k ∈ 0..7 × input index
    * n ∈ 0..31. Generated once from libm cos and then treated as
    * algorithm CONSTANTS (the oracle embeds these exact integers
    * rather than re-deriving cos() in another runtime's libm, where a
    * 1-ulp divergence could flip a rounding). */
  val CosTable: Array[Array[Int]] = Array.tabulate(8, 32) { (k, n) =>
    Math.round(Scale * math.cos(math.Pi * (2 * n + 1) * k / 64.0)).toInt
  }

  /** The table as a SQL VALUES body `(k, n, c), …` for oracle CTEs. */
  lazy val cosTableSqlValues: String =
    (for (k <- 0 until 8; n <- 0 until 32)
      yield s"($k, $n, ${CosTable(k)(n)})").mkString(", ")

  /** Integer grayscale of a visual-order RGB(A) raster sampled to
    * 32×32 (nearest, floor). Rows are sampled at the BMP-compatible
    * index (visual `h-1-sy`, the bottom-up stored order) — the same
    * convention as [[Multimodal.aHashRaster]], so the SAME visual
    * image hashes identically whatever container it arrived in. */
  def gray32(r: PngCodec.Raster): Array[Int] = {
    val out = new Array[Int](1024)
    var y = 0
    while (y < 32) {
      val sy = r.height - 1 - y * r.height / 32
      var x = 0
      while (x < 32) {
        val sx = x * r.width / 32
        val off = (sy * r.width + sx) * r.channels
        out(y * 32 + x) = (299 * (r.pixels(off) & 0xff) +
          587 * (r.pixels(off + 1) & 0xff) +
          114 * (r.pixels(off + 2) & 0xff)) / 1000
        x += 1
      }
      y += 1
    }
    out
  }

  /** The 64-bit pHash of a decoded raster. */
  def phashRaster(r: PngCodec.Raster): Long = {
    val g = gray32(r)
    // separable DCT: tmp(u, y) = Σ_x C(u,x)·g(x,y)
    val tmp = Array.ofDim[Long](8, 32)
    var u = 0
    while (u < 8) {
      val cu = CosTable(u)
      var y = 0
      while (y < 32) {
        var s = 0L
        var x = 0
        while (x < 32) { s += cu(x).toLong * g(y * 32 + x); x += 1 }
        tmp(u)(y) = s
        y += 1
      }
      u += 1
    }
    val d = new Array[Long](64)
    var v = 0
    while (v < 8) {
      val cv = CosTable(v)
      var uu = 0
      while (uu < 8) {
        var s = 0L
        var y = 0
        while (y < 32) { s += cv(y) * tmp(uu)(y); y += 1 }
        d(v * 8 + uu) = s
        uu += 1
      }
      v += 1
    }
    val sorted = d.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31) // lower median, pinned
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (d(i) > med) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** 24bpp BMP → visual-order RGB raster (bottom-up or top-down
    * storage both map to the same visual image — the dedup invariant
    * [[Multimodal.aHash64]] pins). */
  def bmpRaster(bytes: Array[Byte]): PngCodec.Raster = {
    val (fmt, w, h) = Multimodal.parseDims(bytes)
    require(fmt == "bmp", s"bmpRaster requires a BMP payload, got '$fmt'")
    val bpp = Bytes.le16(bytes, 28)
    require(bpp == 24, s"bmpRaster requires 24bpp, got $bpp")
    val topDown = Bytes.le32(bytes, 22) < 0
    val dataOff = Bytes.le32(bytes, 10)
    val stride = Multimodal.bmpRowSize(w)
    require(bytes.length >= dataOff + stride.toLong * h, "truncated BMP pixel data")
    val out = new Array[Byte](w * h * 3)
    var vy = 0
    while (vy < h) {
      val sy = if (topDown) vy else h - 1 - vy
      val src = dataOff + sy * stride
      var x = 0
      while (x < w) {
        val s = src + x * 3 // stored B,G,R
        val dd = (vy * w + x) * 3
        out(dd) = bytes(s + 2)
        out(dd + 1) = bytes(s + 1)
        out(dd + 2) = bytes(s)
        x += 1
      }
      vy += 1
    }
    PngCodec.Raster(w, h, 3, out)
  }

  /** Format-dispatching pHash over a mixed image corpus — the
    * [[Multimodal.aHashAny]] dispatch with the DCT hash. Lossless
    * formats of the same visual image hash IDENTICALLY; JPEG lands
    * within a few hamming bits. Null for unknown or undecodable
    * payloads (a truncated file in a crawl corpus must hash to null,
    * not fail the task). */
  def phashAny(bytes: Array[Byte]): java.lang.Long = {
    val (fmt, w, h) = Multimodal.parseDims(bytes)
    if (w <= 0 || h <= 0) return null
    try {
      fmt match {
        case "bmp" => phashRaster(bmpRaster(bytes))
        case "png" => phashRaster(PngCodec.decode(bytes))
        case "jpeg" => phashRaster(Multimodal.orientRaster(
          JpegCodec.decode(bytes), JpegCodec.exifOrientation(bytes)))
        case "gif" => phashRaster(GifCodec.decode(bytes))
        case "webp" => phashRaster(WebpCodec.decode(bytes))
        case "tiff" => phashRaster(TiffCodec.decode(bytes))
        case "ico" => phashRaster(IcoCodec.decodeLargest(bytes))
        case "qoi" => phashRaster(QoiCodec.decode(bytes))
        case _ => null
      }
    } catch {
      case _: IllegalArgumentException | _: IndexOutOfBoundsException => null
    }
  }
}
