package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: media payloads as opaque `binary` columns
  * with typed metadata structs, plus per-partition batch feature
  * extraction.
  *
  * Header decoding is REAL: [[parseDims]] parses width/height from the
  * raw bytes of BMP (BITMAPINFOHEADER, little-endian fields) and PNG
  * (IHDR, big-endian fields) containers — both byte layouts are public
  * spec. Pixel work is REAL for BMP ([[encodeBmp]]/[[resizeBmp24]] —
  * addressable pixel rows, pure byte math), for 8-bit
  * truecolor/RGBA non-interlaced PNG ([[PngCodec]] — chunk + zlib
  * framing, the complete RFC 1951 inflate (stored, fixed- and
  * dynamic-Huffman blocks) and all five scanline filters, all by
  * hand), AND for baseline JPEG ([[JpegCodec]] — T.81 markers,
  * canonical Huffman entropy decode, dequant + IDCT, 4:2:0/4:2:2/4:4:4
  * chroma, grayscale; encode with the Annex K tables — cross-checked
  * in tests against the JDK's independent ImageIO codec). The
  * [[resizeStub]] remains only as the generic fallback for formats
  * with no codec here (video/audio containers); no image format needs
  * it.
  *
  * Scale notes: payload bytes never shuffle (all transforms are
  * row-local `mapPartitions`); metadata-only queries prune the binary
  * column at the parquet scan, so "count images wider than X" reads
  * kilobytes, not the 100 TB of pixels.
  */
object Multimodal {

  /** Decoded-media features: container `format` ("bmp" / "png" /
    * "unknown") and `width`/`height` parsed from the real header
    * bytes by [[parseDims]]. */
  final case class MediaFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      width: Int,
      height: Int)

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Parse (format, width, height) from real container header bytes.
    *
    *  - BMP: magic "BM"; BITMAPINFOHEADER width/height as little-endian
    *    int32 at byte offsets 18 / 22 (height may be negative for
    *    top-down bitmaps — absolute value taken).
    *  - PNG: 8-byte signature; IHDR width/height as big-endian int32 at
    *    offsets 16 / 20.
    *
    * Anything else (or a truncated header) → ("unknown", 0, 0). */
  def parseDims(bytes: Array[Byte]): (String, Int, Int) = {
    if (bytes == null) return ("unknown", 0, 0)
    if (bytes.length >= 26 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)
      return ("bmp", Bytes.le32(bytes, 18), math.abs(Bytes.le32(bytes, 22)))
    if (bytes.length >= 24 && bytes.take(8).sameElements(PngSig))
      return ("png", Bytes.be32(bytes, 16), Bytes.be32(bytes, 20))
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      val wh = JpegCodec.parseDimsJpeg(bytes)
      if (wh != null) return ("jpeg", wh._1, wh._2)
    }
    if (GifCodec.isGif(bytes)) {
      val wh = GifCodec.parseDimsGif(bytes)
      if (wh != null) return ("gif", wh._1, wh._2)
    }
    if (WebpCodec.isWebp(bytes)) {
      try {
        val m = WebpCodec.parseMeta(bytes)
        if (m.width > 0 && m.height > 0) return ("webp", m.width, m.height)
      } catch { case _: IllegalArgumentException => () }
    }
    if (TiffMeta.isTiff(bytes)) {
      try {
        val m = TiffMeta.parse(bytes)
        if (m != null && m.width > 0 && m.height > 0)
          return ("tiff", m.width, m.height)
      } catch { case _: IllegalArgumentException => () }
    }
    if (QoiCodec.isQoi(bytes)) {
      val wh = QoiCodec.parseDimsQoi(bytes)
      if (wh != null && wh._1 > 0 && wh._2 > 0) return ("qoi", wh._1, wh._2)
    }
    if (IcoCodec.isIco(bytes)) {
      try {
        val es = IcoCodec.parse(bytes)
        val big = es.maxBy(e => e.width.toLong * e.height)
        return ("ico", big.width, big.height)
      } catch { case _: IllegalArgumentException => () }
    }
    ("unknown", 0, 0)
  }

  /** BMP row stride: pixel rows pad to a 4-byte boundary (spec). */
  def bmpRowSize(width: Int): Int = ((width * 3 + 3) / 4) * 4

  /** Write the 54-byte BMP+BITMAPINFOHEADER for a 24bpp bottom-up
    * bitmap into `b` (which must already be `54 + rowSize*height`). */
  private def writeBmpHeader(b: Array[Byte], width: Int, height: Int): Unit = {
    val rowSize = bmpRowSize(width)
    def putLe32(off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte
      b(off + 1) = ((v >>> 8) & 0xff).toByte
      b(off + 2) = ((v >>> 16) & 0xff).toByte
      b(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    putLe32(2, 54 + rowSize * height)
    putLe32(10, 54)            // pixel-array offset
    putLe32(14, 40)            // BITMAPINFOHEADER size
    putLe32(18, width)
    putLe32(22, height)
    b(26) = 1                  // planes (LE16)
    b(28) = 24                 // bits per pixel (LE16)
    putLe32(34, rowSize * height)
    putLe32(38, 2835); putLe32(42, 2835) // 72 DPI in px/metre
  }

  /** Serialize a REAL 24-bit BMP (BITMAPINFOHEADER, 54-byte header +
    * bottom-up padded pixel rows). Pixels are a deterministic gradient
    * of the media id so payloads are reproducible; any BMP reader
    * renders the output. */
  def encodeBmp(id: Long, width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = bmpRowSize(width)
    val b = new Array[Byte](54 + rowSize * height)
    writeBmpHeader(b, width, height)
    var y = 0
    while (y < height) {
      val row = 54 + y * rowSize
      var x = 0
      while (x < width) {
        b(row + x * 3) = ((x + y + id) & 0xff).toByte       // B
        b(row + x * 3 + 1) = ((x ^ y) & 0xff).toByte        // G
        b(row + x * 3 + 2) = ((x * 7 + y * 3) & 0xff).toByte // R
        x += 1
      }
      y += 1
    }
    b
  }

  /** Encode one real BMP per row of (id, width, height) — the media
    * INGEST shape: per-partition batch iteration, payload built
    * row-locally, never shuffled. Output: (media_id, data). */
  def encodeBmpFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) => (id, encodeBmp(id, w, h)) })
      .toDF("media_id", "data")
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint of a 24-bit
    * BMP payload — the classic image near-dup signal (the widely
    * documented aHash/dHash/pHash family): 8×8 nearest-neighbor
    * downsample of the pixel grid, integer luma `b+g+r` (0..765 — no
    * channel weighting, no division, so every step is exact integer
    * math an external oracle can replay), bit `i = y*8 + x` set iff
    * `64·luma_i > Σ luma` (strictly brighter than the mean, again
    * division-free). A uniform brightness shift moves every luma and
    * the mean together, so the hash is brightness-shift invariant;
    * near-identical images differ in few bits, so image-corpus dedup
    * is hamming distance — the SimHash 16-bit-chunk banding machinery
    * ([[Dedup.simHashPairs]]'s shape) applies unchanged.
    *
    * Orientation: sampling is in STORED-row space for the common
    * bottom-up encoding, and a top-down (negative-height) payload maps
    * its rows to the equivalent bottom-up index (`h-1-sy`), so the two
    * encodings of the same visual image hash identically — a top-down
    * duplicate of a bottom-up original must not dodge dedup on a
    * header sign bit (pinned in MultimodalSpec).
    *
    * Null for non-BMP or truncated payloads (entropy-coded formats
    * need a real decoder first — same fence as the resize path). */
  def aHash64(bytes: Array[Byte]): java.lang.Long = {
    val (fmt, w, h) = parseDims(bytes)
    if (fmt != "bmp" || w <= 0 || h <= 0) return null
    val topDown = Bytes.le32(bytes, 22) < 0
    val rowSize = bmpRowSize(w)
    if (bytes.length < 54 + rowSize.toLong * h) return null
    val lum = new Array[Int](64)
    var s = 0
    var i = 0
    while (i < 64) {
      val sx = (i % 8) * w / 8
      val syStored = (i / 8) * h / 8
      val sy = if (topDown) h - 1 - syStored else syStored
      val off = 54 + sy * rowSize + sx * 3
      val l = (bytes(off) & 0xff) + (bytes(off + 1) & 0xff) + (bytes(off + 2) & 0xff)
      lum(i) = l
      s += l
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (64L * lum(i) > s) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** [[aHash64]] over a decoded [[PngCodec.Raster]] (visual-order
    * pixels, RGB or RGBA — alpha ignored). Rows are sampled at the
    * BMP-compatible index (visual `h-1-sy`, the bottom-up stored
    * order), so the SAME visual image hashes identically whether it
    * arrived as BMP bytes, PNG bytes or a decoded raster — cross-format
    * image dedup needs one hash space, not three. */
  def aHashRaster(r: PngCodec.Raster): Long = {
    val ch = r.channels
    val lum = new Array[Int](64)
    var s = 0
    var i = 0
    while (i < 64) {
      val sx = (i % 8) * r.width / 8
      val sy = r.height - 1 - (i / 8) * r.height / 8
      val off = (sy * r.width + sx) * ch
      val l = (r.pixels(off) & 0xff) + (r.pixels(off + 1) & 0xff) + (r.pixels(off + 2) & 0xff)
      lum(i) = l
      s += l
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (64L * lum(i) > s) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Apply an EXIF orientation (1..8) to a decoded raster, returning
    * the UPRIGHT image — the transform a viewer performs before
    * display (TIFF 6.0 orientation semantics): 2 mirrors
    * horizontally, 3 rotates 180°, 4 mirrors vertically, 5 transposes,
    * 6 rotates 90° CW, 7 anti-transposes, 8 rotates 90° CCW
    * (orientations 5–8 swap the dimensions). Identity for 1. */
  def orientRaster(r: PngCodec.Raster, orientation: Int): PngCodec.Raster = {
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation must be 1..8, got $orientation")
    if (orientation == 1) return r
    val (w, h, ch) = (r.width, r.height, r.channels)
    val swap = orientation >= 5
    val (nw, nh) = if (swap) (h, w) else (w, h)
    val out = new Array[Byte](nw * nh * ch)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        val (sx, sy) = orientation match {
          case 2 => (w - 1 - x, y)
          case 3 => (w - 1 - x, h - 1 - y)
          case 4 => (x, h - 1 - y)
          case 5 => (y, x)
          case 6 => (y, h - 1 - x)
          case 7 => (w - 1 - y, h - 1 - x)
          case _ => (w - 1 - y, x) // 8
        }
        val s = (sy * w + sx) * ch
        val d = (y * nw + x) * ch
        var k = 0
        while (k < ch) { out(d + k) = r.pixels(s + k); k += 1 }
        x += 1
      }
      y += 1
    }
    PngCodec.Raster(nw, nh, ch, out)
  }

  /** Format-dispatching perceptual hash: BMP payloads take the direct
    * byte path ([[aHash64]]), PNG and baseline JPEG decode through
    * their real codecs into [[aHashRaster]]. BMP and PNG of the same
    * visual image hash IDENTICALLY (both lossless); a JPEG of the same
    * image lands within a few hamming bits (quantization noise) — the
    * banding dedup machinery absorbs that by construction. JPEG
    * payloads are EXIF-orientation-canonicalized first
    * ([[JpegCodec.exifOrientation]] → [[orientRaster]]): a camera
    * photo stored rotated hashes like its upright copy, so the pair no
    * longer dodges near-dup. Null for unknown or undecodable
    * payloads. */
  def aHashAny(bytes: Array[Byte]): java.lang.Long = {
    val (fmt, w, h) = parseDims(bytes)
    if (w <= 0 || h <= 0) return null
    fmt match {
      case "bmp" => aHash64(bytes)
      // IndexOutOfBounds too: a truncated payload in a mixed crawl
      // corpus must hash to null, not fail the whole Spark task
      case "png" =>
        try aHashRaster(PngCodec.decode(bytes))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case "jpeg" =>
        try aHashRaster(
          orientRaster(JpegCodec.decode(bytes), JpegCodec.exifOrientation(bytes)))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case "gif" =>
        try aHashRaster(GifCodec.decode(bytes))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case "webp" =>
        // lossless only; lossy VP8 payloads hash to null (metadata tier)
        try aHashRaster(WebpCodec.decode(bytes))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case "tiff" =>
        try aHashRaster(TiffCodec.decode(bytes))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case "ico" =>
        // favicons hash by their largest entry
        try aHashRaster(IcoCodec.decodeLargest(bytes))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case "qoi" =>
        try aHashRaster(QoiCodec.decode(bytes))
        catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
      case _ => null
    }
  }

  /** EXIF orientation per payload of a (media_id, data) frame —
    * (media_id, orientation), 1 for non-JPEG or tag-less payloads.
    * Row-local metadata extraction. */
  def exifOrientationFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, JpegCodec.exifOrientation(b)) })
      .toDF("media_id", "orientation")
  }

  /** Per-row [[aHash64]] over a (media_id, data) frame — row-local
    * batch iteration like the other payload kernels; the binary column
    * never shuffles. Output: (media_id, ahash nullable). */
  def aHashFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, d) =>
        (id, Option(aHash64(d)).map(_.longValue))
      })
      .toDF("media_id", "ahash")
  }

  /** [[aHashAny]] over a (media_id, data) frame: one hash space for a
    * MIXED-format image corpus (BMP/PNG/JPEG) — the input shape of
    * cross-format image dedup. Row-local; payloads never shuffle. */
  def aHashAnyFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, d) =>
        (id, Option(aHashAny(d)).map(_.longValue))
      })
      .toDF("media_id", "ahash")
  }

  /** [[PHash.phashAny]] over a (media_id, data) frame: the DCT
    * perceptual hash for a MIXED-format image corpus — same shape as
    * [[aHashAnyFrame]], same 64-bit hash space machinery
    * ([[Dedup.hammingPairs]] banding applies unchanged). Row-local;
    * payloads never shuffle. */
  def pHashAnyFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, d) =>
        (id, Option(PHash.phashAny(d)).map(_.longValue))
      })
      .toDF("media_id", "phash")
  }

  /** Exact-integer audio features of a WAV payload — the audio analog
    * of [[MediaFeatures]]: header facts plus integer sample stats
    * (peak |sample|, exact sample sum) an external oracle replays from
    * the generator formula. Non-WAV payloads → format "unknown",
    * zeroed stats. */
  final case class AudioFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      channels: Int,
      sampleRate: Int,
      nFrames: Long,
      durationMs: Long,
      peakAbs: Int,
      sumSamples: Long)

  /** Distributed WAV encode of the deterministic [[WavCodec.signal]]
    * per (id, frames, channels, rate) row — the audio ingest shape;
    * row-local, payloads never shuffle. `codec` picks the encoding:
    * "pcm16" (default), "pcm8" (unsigned 8-bit), "mulaw" (G.711
    * format 7). Output: (media_id, data). */
  def encodeWavFrame(spec: DataFrame, idCol: String, framesCol: String,
      channelsCol: String, rateCol: String,
      codec: String = "pcm16"): DataFrame = {
    val enc: WavCodec.Audio => Array[Byte] = codec match {
      case "pcm16" => WavCodec.encode
      case "pcm8"  => WavCodec.encodePcm8
      case "alaw"  => WavCodec.encodeALaw
      case "mulaw" => WavCodec.encodeMuLaw
      case "adpcm" => a => WavCodec.encodeImaAdpcm(a, samplesPerBlock = 57)
      case other => throw new IllegalArgumentException(
        s"unknown WAV codec '$other' (pcm16 | pcm8 | alaw | mulaw | adpcm)")
    }
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(framesCol).cast("int"),
        col(channelsCol).cast("int"), col(rateCol).cast("int"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, n, ch, rate) =>
        (id, enc(WavCodec.signal(id, n, ch, rate)))
      })
      .toDF("media_id", "data")
  }

  /** Distributed FLAC encode of the deterministic [[WavCodec.signal]]
    * per (id, frames, channels, rate) row — the lossless-compressed
    * leg of [[encodeWavFrame]]. `mode`/`stereo` select the subframe
    * and channel-decorrelation paths ([[FlacCodec.encode]]); every
    * payload carries the MD5 of its source PCM in STREAMINFO, so any
    * downstream decode is round-trip-proven. Row-local. */
  def encodeFlacFrame(spec: DataFrame, idCol: String, framesCol: String,
      channelsCol: String, rateCol: String, mode: String = "fixed",
      stereo: String = "independent", blockSize: Int = 4096): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(framesCol).cast("int"),
        col(channelsCol).cast("int"), col(rateCol).cast("int"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, n, ch, rate) =>
        (id, FlacCodec.encode(WavCodec.signal(id, n, ch, rate),
          blockSize = blockSize, mode = mode, stereo = stereo))
      })
      .toDF("media_id", "data")
  }

  /** Batched audio feature extraction — per-partition iteration like
    * [[extractFeatures]]; real RIFF/fmt/data parsing via
    * [[WavCodec.decode]], real FLAC frame decode via
    * [[FlacCodec.decode]] (Rice/LPC residual decode, CRC + STREAMINFO
    * MD5 verified per stream).
    *
    * CORPUS POLICY (stated loudly): this PCM-feature path covers WAV
    * (PCM16/PCM8/G.711 µ-law/A-law) and FLAC (16-bit subset). Most
    * real-crawl audio is MP3/AAC/OPUS — for those classes this ingest
    * extracts NO sample features; [[extractMp3Meta]] covers the MP3
    * majority class at the METADATA level (duration/bitrate/rate/
    * channel filtering and dedup keys), and pipelines needing PCM
    * features from LOSSY audio must transcode upstream. The split is
    * principled: FLAC decode is exact integer arithmetic the stream's
    * own MD5 signature proves right, while an MP3 MDCT decode could be
    * wrong-sounding yet plausible and silently corrupt features — so
    * lossless formats decode, lossy formats stay metadata-only. */
  def extractAudioFeatures(media: DataFrame): Dataset[AudioFeatures] = {
    implicit val enc = Encoders.product[AudioFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val decoded: (String, WavCodec.Audio) =
          if (bytes == null) null
          else if (WavCodec.isWav(bytes)) ("wav", WavCodec.decode(bytes))
          // FLAC PCM decode is real since FlacCodec landed (every frame
          // CRC-checked + STREAMINFO MD5-verified); only MP3/AAC/OPUS
          // remain metadata-only (psychoacoustic decode stays fenced)
          else if (FlacCodec.isFlac(bytes)) ("flac", FlacCodec.decode(bytes))
          else null
        if (decoded == null)
          AudioFeatures(id, blen, "unknown", 0, 0, 0L, 0L, 0, 0L)
        else {
          val (fmt, a) = decoded
          var peak = 0
          var sum = 0L
          var i = 0
          while (i < a.samples.length) {
            val v = a.samples(i).toInt
            val av = math.abs(v)
            if (av > peak) peak = av
            sum += v
            i += 1
          }
          AudioFeatures(id, blen, fmt, a.channels, a.sampleRate,
            a.frames.toLong, a.durationMs, peak, sum)
        }
      }
    }
  }

  /** Decimate every WAV payload of a (media_id, data) frame by
    * `factor` ([[WavCodec.decimate]] — integer-exact frame keep, rate
    * divides). Row-local; payloads never shuffle. */
  def decimateWavFrame(media: DataFrame, factor: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        (id, WavCodec.encode(WavCodec.decimate(WavCodec.decode(b), factor)))
      })
      .toDF("media_id", "data")
  }

  /** Standardize every WAV payload of a (media_id, data) frame for
    * ASR-style consumption: downmix to mono, then linear-resample to
    * `toRate` ([[WavCodec.downmixMono]], [[WavCodec.resampleLinear]]).
    * Row-local; payloads never shuffle. */
  def standardizeWavFrame(media: DataFrame, toRate: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val a = WavCodec.resampleLinear(WavCodec.downmixMono(WavCodec.decode(b)), toRate)
        (id, WavCodec.encode(a))
      })
      .toDF("media_id", "data")
  }

  /** Video container metadata — what curation filters on without a
    * video codec: duration, presentation dims, track count
    * ([[Mp4Meta]]). Non-MP4 payloads → format "unknown", zeroed. */
  final case class VideoFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      width: Int,
      height: Int,
      nTracks: Int)

  /** Distributed minimal-MP4 encode per (id, durationMs, w, h) row —
    * deterministic skeleton payloads ([[Mp4Meta.encode]]). */
  def encodeMp4Frame(spec: DataFrame, idCol: String, durCol: String,
      wCol: String, hCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(durCol).cast("long"),
        col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, ms, w, h) =>
        (id, Mp4Meta.encode(ms, w, h))
      })
      .toDF("media_id", "data")
  }

  /** Per-payload video CODEC dispatch — container, sample-entry codec
    * and config-record geometry/profile/level/bit-depth for MP4
    * (hvc1/hvcC, av01/av1C) and WebM (CodecID + the AV1 CodecPrivate
    * sequence header): the decision a mixed-crawl curation pass makes
    * BEFORE touching a single sample byte. Unknown containers or
    * codecs come back "unknown"/zeroed; structurally corrupt config
    * records fail loudly (image-codec policy). */
  final case class VideoCodecFeatures(
      mediaId: Long, byteLen: Long, container: String, codec: String,
      width: Int, height: Int, profile: Int, level: Int, bitDepth: Int)

  def extractVideoCodec(media: DataFrame): Dataset[VideoCodecFeatures] = {
    implicit val enc = Encoders.product[VideoCodecFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        def unknown(container: String) =
          VideoCodecFeatures(id, blen, container, "unknown", 0, 0, -1, -1, 0)
        if (bytes == null) unknown("unknown")
        else if (Mp4Meta.isMp4(bytes)) {
          val info = Mp4Meta.videoCodecInfo(bytes)
          if (info == null) unknown("mp4")
          else info.configBox match {
            case Some(("hvcC", cb)) =>
              val rec = HevcMeta.parseHvcC(cb, 0, cb.length)
              val sps = rec.sps
              VideoCodecFeatures(id, blen, "mp4", info.codec,
                sps.map(_.width).getOrElse(0), sps.map(_.height).getOrElse(0),
                rec.profileIdc, rec.levelIdc, rec.bitDepthLuma)
            case Some(("av1C", cb)) =>
              val rec = Av1Meta.parseAv1C(cb, 0, cb.length)
              val sh = rec.sequenceHeader
              VideoCodecFeatures(id, blen, "mp4", info.codec,
                sh.map(_.maxWidth).getOrElse(0), sh.map(_.maxHeight).getOrElse(0),
                rec.profile, rec.levelIdx, rec.bitDepth)
            case _ =>
              VideoCodecFeatures(id, blen, "mp4", info.codec, 0, 0, -1, -1, 0)
          }
        } else if (EbmlMeta.isEbml(bytes)) {
          val (codecId, priv) = WebmVideo.trackCodec(bytes)
          val av1Seq =
            if (codecId == "V_AV1" && priv != null)
              Av1Meta.obus(priv).find(_.obuType == Av1Meta.ObuSequenceHeader)
                .map(o => Av1Meta.parseSequenceHeader(priv, o.offset, o.length))
            else None
          av1Seq match {
            case Some(sh) =>
              VideoCodecFeatures(id, blen, "webm", codecId, sh.maxWidth,
                sh.maxHeight, sh.profile, sh.levelIdx, sh.bitDepth)
            case None =>
              val wm = EbmlMeta.parse(bytes)
              VideoCodecFeatures(id, blen, "webm", codecId,
                if (wm == null) 0 else wm.width,
                if (wm == null) 0 else wm.height, -1, -1, 0)
          }
        } else unknown("unknown")
      }
    }
  }

  /** Batched video-metadata extraction over (media_id, data) — the box
    * walk runs row-locally; payloads never shuffle. */
  def extractVideoMeta(media: DataFrame): Dataset[VideoFeatures] = {
    implicit val enc = Encoders.product[VideoFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else Mp4Meta.parse(bytes)
        if (m == null) VideoFeatures(id, blen, "unknown", 0L, 0, 0, 0)
        else VideoFeatures(id, blen, "mp4", m.durationMs, m.width, m.height, m.nTracks)
      }
    }
  }

  /** Compressed-audio stream metadata — what curation filters on
    * without an audio codec ([[Mp3Meta]]): duration, sample rate,
    * channels, frame count, average bitrate, CBR/VBR. Non-MP3 payloads
    * → format "unknown", zeroed; corrupt MP3 streams fail loudly
    * inside the partition (same policy as the image codecs). */
  final case class AudioStreamFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      sampleRate: Int,
      channels: Int,
      nFrames: Long,
      bitrateKbps: Int,
      vbr: Boolean)

  /** Distributed deterministic-MP3 encode per (id, nFrames,
    * bitrateIdx, srIdx) row ([[Mp3Meta.encode]]). */
  def encodeMp3Frame(spec: DataFrame, idCol: String, framesCol: String,
      bitrateIdxCol: String, srIdxCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(framesCol).cast("int"),
        col(bitrateIdxCol).cast("int"), col(srIdxCol).cast("int"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, n, bi, si) =>
        (id, Mp3Meta.encode(n, bi, si))
      })
      .toDF("media_id", "data")
  }

  /** Batched MP3-metadata extraction over (media_id, data) — the frame
    * walk runs row-locally; payloads never shuffle. */
  def extractMp3Meta(media: DataFrame): Dataset[AudioStreamFeatures] = {
    implicit val enc = Encoders.product[AudioStreamFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else Mp3Meta.parse(bytes)
        if (m == null)
          AudioStreamFeatures(id, blen, "unknown", 0L, 0, 0, 0L, 0, vbr = false)
        else AudioStreamFeatures(id, blen, "mp3", m.durationMs, m.sampleRate,
          m.channels, m.nFrames, m.bitrateKbps, m.vbr)
      }
    }
  }

  /** AAC-in-ADTS stream metadata ([[AacMeta]]): duration, sample rate,
    * channels, frame count, exact average bitrate, AAC profile. Non-ADTS
    * payloads → format "unknown", zeroed; corrupt ADTS streams fail
    * loudly inside the partition (same policy as [[extractMp3Meta]]). */
  final case class AacFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      sampleRate: Int,
      channels: Int,
      nFrames: Long,
      bitrateKbps: Int,
      profile: Int,
      vbr: Boolean)

  /** Distributed deterministic-ADTS encode per (id, nFrames, srIdx,
    * chanCfg, payloadBytes) row ([[AacMeta.encode]]). */
  def encodeAacFrame(spec: DataFrame, idCol: String, framesCol: String,
      srIdxCol: String, chanCfgCol: String, payloadCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(framesCol).cast("int"),
        col(srIdxCol).cast("int"), col(chanCfgCol).cast("int"),
        col(payloadCol).cast("int"))
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions(_.map { case (id, n, si, cc, pb) =>
        (id, AacMeta.encode(n, si, cc, pb))
      })
      .toDF("media_id", "data")
  }

  /** Batched ADTS-metadata extraction over (media_id, data) — the frame
    * walk runs row-locally; payloads never shuffle. */
  def extractAacMeta(media: DataFrame): Dataset[AacFeatures] = {
    implicit val enc = Encoders.product[AacFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else AacMeta.parse(bytes)
        if (m == null)
          AacFeatures(id, blen, "unknown", 0L, 0, 0, 0L, 0, 0, vbr = false)
        else AacFeatures(id, blen, "aac", m.durationMs, m.sampleRate,
          m.channels, m.nFrames, m.bitrateKbps, m.profile, m.vbr)
      }
    }
  }

  /** M4A (audio-in-ISO-BMFF) container metadata
    * ([[Mp4Meta.parseAudio]]): duration, sample rate, channels, codec
    * tag. MP4s WITHOUT an audio track (plain video MP4s) and non-MP4
    * payloads both → format "unknown" — the round-9 gap where M4A was
    * only ever reported video-shaped. */
  final case class M4aFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      sampleRate: Int,
      channels: Int,
      nTracks: Int,
      codec: String)

  /** Distributed minimal-M4A encode per (id, durationMs, sampleRate,
    * channels) row ([[Mp4Meta.encodeM4a]]). */
  def encodeM4aFrame(spec: DataFrame, idCol: String, durCol: String,
      rateCol: String, chCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(durCol).cast("long"),
        col(rateCol).cast("int"), col(chCol).cast("int"))
      .as[(Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, ms, sr, ch) =>
        (id, Mp4Meta.encodeM4a(ms, sr, ch))
      })
      .toDF("media_id", "data")
  }

  /** Batched M4A-metadata extraction over (media_id, data) — the box
    * walk runs row-locally; payloads never shuffle. */
  def extractM4aMeta(media: DataFrame): Dataset[M4aFeatures] = {
    implicit val enc = Encoders.product[M4aFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else Mp4Meta.parseAudio(bytes)
        if (m == null)
          M4aFeatures(id, blen, "unknown", 0L, 0, 0, 0, "")
        else M4aFeatures(id, blen, "m4a", m.durationMs, m.sampleRate,
          m.channels, m.nTracks, m.codec)
      }
    }
  }

  /** TIFF container metadata ([[TiffMeta]] IFD0): dims, bit depth,
    * channels, byte order. Non-TIFF payloads → format "unknown",
    * zeroed. */
  final case class TiffFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      width: Int,
      height: Int,
      bitsPerSample: Int,
      samplesPerPixel: Int,
      bigEndian: Boolean)

  /** Distributed minimal-TIFF encode per (id, w, h, spp) row
    * ([[TiffMeta.encode]], 8-bit samples). */
  def encodeTiffFrame(spec: DataFrame, idCol: String, wCol: String,
      hCol: String, sppCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(wCol).cast("int"),
        col(hCol).cast("int"), col(sppCol).cast("int"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, w, h, spp) =>
        (id, TiffMeta.encode(w, h, bitsPerSample = 8, samplesPerPixel = spp))
      })
      .toDF("media_id", "data")
  }

  /** Batched TIFF-metadata extraction over (media_id, data) — the IFD
    * walk runs row-locally; payloads never shuffle. */
  def extractTiffMeta(media: DataFrame): Dataset[TiffFeatures] = {
    implicit val enc = Encoders.product[TiffFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else TiffMeta.parse(bytes)
        if (m == null) TiffFeatures(id, blen, "unknown", 0, 0, 0, 0, bigEndian = false)
        else TiffFeatures(id, blen, "tiff", m.width, m.height,
          m.bitsPerSample, m.samplesPerPixel, m.bigEndian)
      }
    }
  }

  /** Opus-in-Ogg container metadata ([[OggMeta]]): duration (48 kHz
    * granules − pre-skip), channels, declared input rate, page count.
    * Non-Ogg payloads → format "unknown", zeroed. */
  final case class OpusFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      channels: Int,
      preSkip: Int,
      inputSampleRate: Long,
      nPages: Int)

  /** Distributed minimal Opus-in-Ogg encode per (id, samples, ch,
    * dataBytes) row ([[OggMeta.encode]], pre-skip 312, rate 48 kHz). */
  def encodeOpusFrame(spec: DataFrame, idCol: String, samplesCol: String,
      channelsCol: String, dataBytesCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(samplesCol).cast("long"),
        col(channelsCol).cast("int"), col(dataBytesCol).cast("int"))
      .as[(Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, n, ch, db) =>
        (id, OggMeta.encode(n, ch, preSkip = 312, inputSampleRate = 48000L,
          dataBytes = db))
      })
      .toDF("media_id", "data")
  }

  /** Batched Opus-metadata extraction over (media_id, data) — the page
    * walk runs row-locally; payloads never shuffle. */
  def extractOpusMeta(media: DataFrame): Dataset[OpusFeatures] = {
    implicit val enc = Encoders.product[OpusFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else OggMeta.parse(bytes)
        if (m == null) OpusFeatures(id, blen, "unknown", 0L, 0, 0, 0L, 0)
        else OpusFeatures(id, blen, "opus", m.durationMs, m.channels,
          m.preSkip, m.inputSampleRate, m.nPages)
      }
    }
  }

  /** Codec-dispatched Ogg audio metadata ([[OggMeta.parseAudio]],
    * round 10): format is "opus" or "vorbis" by the first packet's id
    * header; duration uses each codec's granule convention. Non-Ogg
    * payloads → format "unknown", zeroed; Ogg streams of OTHER codecs
    * (Theora…) fail loudly inside the partition. */
  final case class OggAudioFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      channels: Int,
      preSkip: Int,
      sampleRate: Long,
      nPages: Int)

  /** Distributed minimal Vorbis-in-Ogg encode per (id, samples, rate,
    * ch, dataBytes) row ([[OggMeta.encodeVorbis]]). */
  def encodeVorbisFrame(spec: DataFrame, idCol: String, samplesCol: String,
      rateCol: String, channelsCol: String, dataBytesCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(samplesCol).cast("long"),
        col(rateCol).cast("long"), col(channelsCol).cast("int"),
        col(dataBytesCol).cast("int"))
      .as[(Long, Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, n, sr, ch, db) =>
        (id, OggMeta.encodeVorbis(n, ch, sr, dataBytes = db))
      })
      .toDF("media_id", "data")
  }

  /** Batched codec-dispatched Ogg-metadata extraction over
    * (media_id, data) — the page walk runs row-locally; payloads never
    * shuffle. */
  def extractOggAudioMeta(media: DataFrame): Dataset[OggAudioFeatures] = {
    implicit val enc = Encoders.product[OggAudioFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else OggMeta.parseAudio(bytes)
        if (m == null) OggAudioFeatures(id, blen, "unknown", 0L, 0, 0, 0L, 0)
        else OggAudioFeatures(id, blen, m.codec, m.durationMs, m.channels,
          m.preSkip, m.sampleRate, m.nPages)
      }
    }
  }

  /** ONE-CALL audio metadata over every supported container/codec —
    * the dispatcher a mixed crawl ingest actually wants. Probes are
    * mutually disjoint (pinned in specs) and tried in fixed order:
    * WAV → MP3 → ADTS/AAC → FLAC → Ogg (Opus or Vorbis) → BMFF audio
    * (M4A). `sampleRate` is each format's native notion (Opus: the
    * declared input rate; duration still follows the 48 kHz granule
    * rule). Unmatched payloads → "unknown", zeroed — including video
    * MP4s (no 'soun' track ⇒ not audio); structurally corrupt streams
    * of a MATCHED format fail loudly inside the partition. */
  final case class AudioMetaAll(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      sampleRate: Long,
      channels: Int)

  /** Batched all-format audio-metadata extraction over
    * (media_id, data) — every probe and parse is row-local; payloads
    * never shuffle. */
  def extractAudioMeta(media: DataFrame): Dataset[AudioMetaAll] = {
    implicit val enc = Encoders.product[AudioMetaAll]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val b = row.getAs[Array[Byte]](1)
        val blen = if (b == null) 0L else b.length.toLong
        def unknown = AudioMetaAll(id, blen, "unknown", 0L, 0L, 0)
        if (b == null) unknown
        else if (WavCodec.isWav(b)) {
          // header-only walk — no per-sample decode on the metadata path
          val a = WavCodec.meta(b)
          AudioMetaAll(id, blen, "wav", a.durationMs, a.sampleRate.toLong,
            a.channels)
        } else if (Mp3Meta.isMp3(b)) {
          val m = Mp3Meta.parse(b)
          if (m == null) unknown
          else AudioMetaAll(id, blen, "mp3", m.durationMs,
            m.sampleRate.toLong, m.channels)
        } else if (AacMeta.isAdts(b)) {
          val m = AacMeta.parse(b)
          if (m == null) unknown
          else AudioMetaAll(id, blen, "aac", m.durationMs,
            m.sampleRate.toLong, m.channels)
        } else if (FlacMeta.isFlac(b)) {
          val m = FlacMeta.parse(b)
          if (m == null) unknown
          else AudioMetaAll(id, blen, "flac", m.durationMs,
            m.sampleRate.toLong, m.channels)
        } else if (OggMeta.isOgg(b)) {
          val m = OggMeta.parseAudio(b)
          if (m == null) unknown
          else AudioMetaAll(id, blen, m.codec, m.durationMs, m.sampleRate,
            m.channels)
        } else if (Mp4Meta.isMp4(b)) {
          val m = Mp4Meta.parseAudio(b)
          if (m == null) unknown
          else AudioMetaAll(id, blen, "m4a", m.durationMs,
            m.sampleRate.toLong, m.channels)
        } else unknown
      }
    }
  }

  /** WebM/Matroska container metadata ([[EbmlMeta]]): doc type,
    * duration, dims, track counts. Non-EBML payloads → format
    * "unknown", zeroed. */
  final case class WebmFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      width: Int,
      height: Int,
      nTracks: Int,
      nVideoTracks: Int)

  /** Distributed minimal-WebM encode per (id, durationMs, w, h) row
    * ([[EbmlMeta.encode]]). */
  def encodeWebmFrame(spec: DataFrame, idCol: String, durCol: String,
      wCol: String, hCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(durCol).cast("long"),
        col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, ms, w, h) =>
        (id, EbmlMeta.encode(ms, w, h))
      })
      .toDF("media_id", "data")
  }

  /** Batched WebM-metadata extraction over (media_id, data) — the EBML
    * walk runs row-locally; payloads never shuffle. */
  def extractWebmMeta(media: DataFrame): Dataset[WebmFeatures] = {
    implicit val enc = Encoders.product[WebmFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else EbmlMeta.parse(bytes)
        if (m == null) WebmFeatures(id, blen, "unknown", 0L, 0, 0, 0, 0)
        else WebmFeatures(id, blen, m.docType, m.durationMs, m.width,
          m.height, m.nTracks, m.nVideoTracks)
      }
    }
  }

  /** Lossless-audio container metadata ([[FlacMeta]] STREAMINFO):
    * duration, rate, channels, bit depth, total samples. Non-FLAC
    * payloads → format "unknown", zeroed. */
  final case class FlacStreamFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      durationMs: Long,
      sampleRate: Int,
      channels: Int,
      bitsPerSample: Int,
      totalSamples: Long)

  /** Distributed minimal-FLAC encode per (id, totalSamples, rate,
    * channels) row ([[FlacMeta.encode]]). */
  def encodeFlacFrame(spec: DataFrame, idCol: String, samplesCol: String,
      rateCol: String, channelsCol: String): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(samplesCol).cast("long"),
        col(rateCol).cast("int"), col(channelsCol).cast("int"))
      .as[(Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, n, sr, ch) =>
        (id, FlacMeta.encode(n, sr, ch))
      })
      .toDF("media_id", "data")
  }

  /** Batched FLAC-metadata extraction over (media_id, data) — the
    * STREAMINFO walk runs row-locally; payloads never shuffle. */
  def extractFlacMeta(media: DataFrame): Dataset[FlacStreamFeatures] = {
    implicit val enc = Encoders.product[FlacStreamFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m = if (bytes == null) null else FlacMeta.parse(bytes)
        if (m == null)
          FlacStreamFeatures(id, blen, "unknown", 0L, 0, 0, 0, 0L)
        else FlacStreamFeatures(id, blen, "flac", m.durationMs, m.sampleRate,
          m.channels, m.bitsPerSample, m.totalSamples)
      }
    }
  }

  /** GIF container metadata — what animation curation filters on
    * without decoding pixels ([[GifCodec.parseMeta]]): frame count,
    * animated flag, total duration from the GCE delay fields. Non-GIF
    * or malformed payloads → format "unknown", zeroed. */
  final case class GifFeatures(
      mediaId: Long,
      byteLen: Long,
      format: String,
      width: Int,
      height: Int,
      nFrames: Int,
      animated: Boolean,
      durationMs: Long)

  def extractGifMeta(media: DataFrame): Dataset[GifFeatures] = {
    implicit val enc = Encoders.product[GifFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val blen = if (bytes == null) 0L else bytes.length.toLong
        val m =
          if (bytes == null || !GifCodec.isGif(bytes)) null
          else try GifCodec.parseMeta(bytes)
          catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => null }
        if (m == null) GifFeatures(id, blen, "unknown", 0, 0, 0, animated = false, 0L)
        else GifFeatures(id, blen, "gif", m.width, m.height, m.nFrames,
          m.animated, m.durationMs)
      }
    }
  }

  /** Distributed animated-GIF encode of the deterministic per-frame
    * gradients ([[GifCodec.encodeAnimated]]) — row-local, payloads
    * never shuffle. Output: (media_id, data). */
  def encodeAnimatedGifFrame(spec: DataFrame, idCol: String, wCol: String,
      hCol: String, framesCol: String, delayCsCol: String,
      blankFirst: Boolean = false): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec.select(col(idCol).cast("long"), col(wCol).cast("int"),
        col(hCol).cast("int"), col(framesCol).cast("int"), col(delayCsCol).cast("int"))
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions(_.map { case (id, w, h, nf, d) =>
        (id, GifCodec.encodeAnimated(id, w, h, nf, d, blankFirst))
      })
      .toDF("media_id", "data")
  }

  /** Meta-driven animation fingerprinting: the header walk
    * ([[GifCodec.parseMeta]] — never touches LZW payloads) counts
    * frames, then frame 0 AND the middle frame ⌊n/2⌋ decode on demand
    * ([[GifCodec.decodeFrame]], cost ∝ frame index) and hash. An
    * animation whose first frame is a blank splash still fingerprints
    * on its content frames. Output (media_id, n_frames, frame_idx,
    * ahash_first, ahash_mid); nulls for undecodable payloads.
    * Row-local; payloads never shuffle. */
  def gifFrameHashFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        try {
          val m = GifCodec.parseMeta(b)
          val t = m.nFrames / 2
          (id, m.nFrames, t,
            Option(aHashRaster(GifCodec.decodeFrame(b, 0))),
            Option(aHashRaster(GifCodec.decodeFrame(b, t))))
        } catch {
          case _: IllegalArgumentException | _: IndexOutOfBoundsException =>
            (id, 0, 0, None: Option[Long], None: Option[Long])
        }
      })
      .toDF("media_id", "n_frames", "frame_idx", "ahash_first", "ahash_mid")
  }

  /** Attach a media payload column: `data` binary + `meta` struct.
    * Demonstrates the schema contract on any table with a binary-able
    * column. */
  def withMediaColumn(df: DataFrame, idCol: String, payloadCol: String,
      metaCols: Seq[String]): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(payloadCol).cast(BinaryType).as("data"),
      struct(metaCols.map(col): _*).as("meta"))

  /** Batch feature extraction over media rows: per-partition iteration
    * (the Scala analog of a batched pandas UDF — one decoder
    * initialization per partition, amortized across its rows). Input
    * must have columns (media_id: long, data: binary); dimensions come
    * from the REAL header bytes via [[parseDims]]. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.select(col("media_id"), col("data")).mapPartitions { it: Iterator[Row] =>
      // Heavier decoders would be initialized HERE, once per partition.
      it.map { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        val (fmt, w, h) = parseDims(bytes)
        MediaFeatures(
          mediaId = id,
          byteLen = if (bytes == null) 0L else bytes.length.toLong,
          format = fmt,
          width = w,
          height = h)
      }
    }
  }

  /** REAL nearest-neighbor resize of a 24bpp bottom-up BMP payload —
    * pure byte math over the public spec layout, no codec library:
    * parse the header, sample source pixel (x·w/nw, y·h/nh) for every
    * destination pixel, re-pad rows to the 4-byte boundary, write a
    * fresh header. Output dims are `max(1, dim·scalePercent/100)`
    * (integer floor — mirrored exactly by the SQL oracle).
    *
    * Honest boundary: JPEG resize needs a true image codec this
    * environment lacks (PNG has its own real path via [[PngCodec]]);
    * BMP is the format whose pixels ARE addressable
    * bytes, so this is the real thing, not a stub. Top-down
    * (negative-height) and non-24bpp BMPs are rejected loudly. */
  def resizeBmp24(bytes: Array[Byte], scalePercent: Int): Array[Byte] = {
    require(scalePercent > 0, s"scalePercent must be positive, got $scalePercent")
    val (fmt, w, h) = parseDims(bytes)
    require(fmt == "bmp", s"resizeBmp24 requires a BMP payload, got '$fmt'")
    require(Bytes.le32(bytes, 22) > 0, "top-down (negative-height) BMP not supported")
    val bpp = Bytes.le16(bytes, 28)
    require(bpp == 24, s"resizeBmp24 requires 24bpp, got $bpp")
    val srcOff = Bytes.le32(bytes, 10)
    val srcStride = bmpRowSize(w)
    val nw = math.max(1, w * scalePercent / 100)
    val nh = math.max(1, h * scalePercent / 100)
    val dstStride = bmpRowSize(nw)
    val out = new Array[Byte](54 + dstStride * nh)
    writeBmpHeader(out, nw, nh)
    var y = 0
    while (y < nh) {
      val srcRow = srcOff + (y * h / nh) * srcStride
      val dstRow = 54 + y * dstStride
      var x = 0
      while (x < nw) {
        val s = srcRow + (x * w / nw) * 3
        val d = dstRow + x * 3
        out(d) = bytes(s); out(d + 1) = bytes(s + 1); out(d + 2) = bytes(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Resize every BMP payload of a (media_id, data) frame — row-local
    * per-partition batches, payloads never shuffle. */
  def resizeBmpFrame(media: DataFrame, scalePercent: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, resizeBmp24(b, scalePercent)) })
      .toDF("media_id", "data")
  }

  /** Encode one real PNG per (id, width, height) row — spec-valid
    * stored-deflate files carrying the deterministic
    * [[PngCodec.gradient]] pixels; same ingest shape as
    * [[encodeBmpFrame]] (row-local, payloads never shuffle). */
  def encodePngFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        (id, PngCodec.encode(PngCodec.gradient(id, w, h)))
      })
      .toDF("media_id", "data")
  }

  /** Encode one real INDEXED (palette, color type 3) PNG per
    * (id, width, height) row — the icon/logo class that round 8
    * brought inside the decode fence. Deterministic 5-entry palette
    * (entry k: r=(k·37+10)&255, g=(k·59+20)&255, b=(k·83+30)&255),
    * pixel index (x+y+id)%5, tRNS alpha (0, 100) on the first two
    * entries so the decode exercises the RGBA path; same ingest shape
    * as [[encodePngFrame]] (row-local, payloads never shuffle). */
  def encodeIndexedPngFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    val palette = Array.tabulate(15) { i =>
      val k = i / 3
      ((i % 3 match {
        case 0 => k * 37 + 10
        case 1 => k * 59 + 20
        case _ => k * 83 + 30
      }) & 0xff).toByte
    }
    val trns = Array[Byte](0, 100)
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val idxs = Array.tabulate(w * h)(p => (((p % w) + (p / w) + id) % 5).toByte)
        (id, PngCodec.encodeIndexed(w, h, palette, idxs, trns))
      })
      .toDF("media_id", "data")
  }

  /** Encode one real 8-bit GRAYSCALE (color type 0) PNG per
    * (id, width, height) row — deterministic sample (x·7+y·11+id)&255;
    * same ingest shape as [[encodePngFrame]]. */
  def encodeGrayPngFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val px = Array.tabulate(w * h)(p =>
          (((p % w) * 7 + (p / w) * 11 + id) & 0xff).toByte)
        (id, PngCodec.encodeGray(w, h, px))
      })
      .toDF("media_id", "data")
  }

  /** Encode one real 16-BIT grayscale PNG (color type 0, depth 16) per
    * (id, width, height) row — the photography/archive class round 9
    * brought inside the decode fence. Deterministic sample
    * (x·4099 + y·8191 + id·257) mod 65536, with a full-precision
    * color-key tRNS at (id·257) mod 65536 so the (0,0) pixel decodes
    * transparent and the decode exercises compare-before-downscale;
    * same ingest shape as [[encodePngFrame]]. */
  def encodeGray16PngFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val key = ((id * 257L) % 65536L).toInt
        val px = Array.tabulate(w * h) { p =>
          (((p % w) * 4099L + (p / w) * 8191L + id * 257L) % 65536L).toInt
        }
        (id, PngCodec.encodeGray16(w, h, px, key))
      })
      .toDF("media_id", "data")
  }

  /** Decode every PNG payload of a (media_id, data) frame and emit
    * per-image pixel statistics — (media_id, width, height, channels,
    * r_sum, g_sum, b_sum, a_sum; alpha counts 255/pixel for opaque
    * formats). Any full-decode defect shifts a sum, so this is the
    * end-to-end decode verification op. Row-local; payloads never
    * shuffle. */
  def pngStatsFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val r = PngCodec.decode(b)
        var (rs, gs, bs, as0) = (0L, 0L, 0L, 0L)
        var p = 0
        val n = r.width * r.height
        while (p < n) {
          val d = p * r.channels
          rs += r.pixels(d) & 0xff
          gs += r.pixels(d + 1) & 0xff
          bs += r.pixels(d + 2) & 0xff
          as0 += (if (r.channels == 4) r.pixels(d + 3) & 0xff else 255)
          p += 1
        }
        (id, r.width, r.height, r.channels, rs, gs, bs, as0)
      })
      .toDF("media_id", "width", "height", "channels",
        "r_sum", "g_sum", "b_sum", "a_sum")
  }

  /** Encode one real GIF89a per (id, width, height) row — the
    * deterministic indexed-gray [[GifCodec.encodeGradient]]; same
    * ingest shape as [[encodeBmpFrame]] (row-local, payloads never
    * shuffle). Alternating rows are written interlaced when
    * `interlaceEvery > 0` (id %% interlaceEvery == 0), so a mixed
    * corpus exercises both entropy layouts. */
  def encodeGifFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String, interlaceEvery: Int = 0): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val il = interlaceEvery > 0 && id % interlaceEvery == 0
        (id, GifCodec.encodeGradient(id, w, h, interlaced = il))
      })
      .toDF("media_id", "data")
  }

  /** Distributed lossless-WebP (VP8L) encode of the deterministic gray
    * gradient per (id, w, h) row — five spec-conformant encode paths
    * cycled by id (plain / subtract-green / predictor / color
    * transform / palette) that all decode to the SAME pixels, so one
    * oracle formula exercises every decode path. Row-local. */
  def encodeWebpFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        (id, WebpCodec.encodeGradientVariant(id, w, h))
      })
      .toDF("media_id", "data")
  }

  /** Resize every PNG payload of a (media_id, data) frame — the REAL
    * pixel path (inflate → unfilter → resample → re-encode,
    * [[PngCodec.resizePng]]); row-local per-partition batches, payloads
    * never shuffle. */
  def resizePngFrame(media: DataFrame, scalePercent: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, PngCodec.resizePng(b, scalePercent)) })
      .toDF("media_id", "data")
  }

  /** Resize every GIF payload of a (media_id, data) frame — decode,
    * nearest-neighbor resample, re-index, re-encode
    * ([[GifCodec.resizeGif]]). Row-local; payloads never shuffle. */
  def resizeGifFrame(media: DataFrame, scalePercent: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, GifCodec.resizeGif(b, scalePercent)) })
      .toDF("media_id", "data")
  }

  /** Distributed JPEG gradient encode — mirrors [[encodePngFrame]],
    * payload bytes from [[JpegCodec.encode]] (baseline 4:4:4,
    * near-lossless tables). Row-local, deterministic per (id, w, h). */
  def encodeJpegFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        (id, JpegCodec.encode(PngCodec.gradient(id, w, h)))
      })
      .toDF("media_id", "data")
  }

  /** Encode one upright JPEG and one EXIF-rotated twin per
    * (id, width, height) row: the twin stores the SAME visual image
    * rotated 90° CCW in pixel space and carries EXIF orientation 6
    * ("rotate 90° CW to display" — the most common camera tag), so an
    * orientation-canonical hash puts the pair within JPEG quantization
    * noise while a naive stored-space hash sees two unrelated images.
    * Output (media_id, data, data_oriented); row-local. */
  def encodeJpegOrientedPairFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        val up = PngCodec.gradient(id, w, h)
        // stored-with-tag-6 pixels = the inverse transform = tag 8's
        val stored = orientRaster(up, 8)
        (id, JpegCodec.encode(up),
          JpegCodec.withExifOrientation(JpegCodec.encode(stored), 6))
      })
      .toDF("media_id", "data", "data_oriented")
  }

  /** [[encodeJpegFrame]]'s PROGRESSIVE (SOF2) sibling — same gradients,
    * same quantized coefficients, spectral-selection scan script
    * ([[JpegCodec.encodeProgressive]]). Row-local. */
  def encodeJpegProgressiveFrame(dims: DataFrame, idCol: String, wCol: String,
      hCol: String): DataFrame = {
    val spark = dims.sparkSession
    import spark.implicits._
    dims.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        (id, JpegCodec.encodeProgressive(PngCodec.gradient(id, w, h)))
      })
      .toDF("media_id", "data")
  }

  /** Resize every JPEG payload of a (media_id, data) frame — the REAL
    * JPEG path: baseline entropy decode, IDCT, nearest-neighbor
    * resample, re-encode. Row-local; payloads never shuffle. */
  def resizeJpegFrame(media: DataFrame, scalePercent: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, JpegCodec.resizeJpeg(b, scalePercent)) })
      .toDF("media_id", "data")
  }

  /** STUB resize for OPAQUE payloads — the generic fallback for
    * formats this library has NO codec for (video/audio containers,
    * exotic image formats). BMP, PNG and baseline JPEG all have real
    * pixel paths now ([[resizeBmp24]], [[resizePngFrame]],
    * [[resizeJpegFrame]]); nothing in the image tier needs this stub
    * anymore. A row-local projection emitting a smaller payload whose
    * size tracks the scale factor deterministically (`substring`
    * operates on binary natively). A real implementation swaps a codec
    * resize in here and nothing else changes. Payloads never
    * shuffle. */
  def resizeStub(media: DataFrame, scalePercent: Int): DataFrame = {
    require(scalePercent > 0 && scalePercent <= 100)
    // long arithmetic: length * scalePercent overflows Int for payloads
    // over ~Int.MaxValue/scale bytes (a 50 MB blob at 50% would wrap)
    media.withColumn("data",
      col("data").substr(lit(1),
        (length(col("data")).cast("long") * scalePercent / 100).cast("int")))
  }

  /** Deterministic frame-sampling demo over a binary payload: pick every
    * `stride`-th byte offset as a "frame" index (the real operator would
    * seek keyframes). Shows the explode/array plumbing for
    * one-row-per-frame outputs. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    media.select(
      col("media_id"),
      // empty payloads yield no frames (sequence(0,-1) would be a
      // descending range, not empty — guard explicitly)
      explode(
        when(length(col("data")) > 0,
          sequence(lit(0), length(col("data")) - 1, lit(stride)))
          .otherwise(array().cast(ArrayType(IntegerType, containsNull = false))))
        .as("frame_offset"))
  }
  // --- video frame decode (WebM / IVF → VP8 keyframes) ---------------

  /** One decoded video keyframe's features: ordinal over the KEYFRAME
    * subsequence, presentation time, dims, macroblock count, integer
    * mean luma, and the cross-format [[aHashRaster]] fingerprint (the
    * same 64-bit hash space the image tier dedups in — a video's
    * keyframes join image dedup directly). */
  final case class VideoKeyframeFeatures(
      mediaId: Long,
      format: String,
      frameIdx: Int,
      ptsMs: Long,
      width: Int,
      height: Int,
      nMb: Int,
      meanLuma: Int,
      ahash: Long)

  /** Distributed fixture-video encode per (id, nFrames, width) row:
    * `nFrames` closed-form VP8 keyframes ([[Vp8Codec.encodeLossy]],
    * per-frame seed `seed*131 + frame`, `seed` defaulting to the id)
    * at 200 ms cadence, muxed into WebM for even ids and IVF for odd
    * ids (both demux paths stay hot). With `withInterframes` a
    * non-keyframe stub follows each keyframe at +100 ms — fixtures
    * then exercise keyframe-subsequence sampling the way real crawl
    * video does. A `seedCol` shared by several ids makes those ids
    * pixel-identical videos (possibly in DIFFERENT containers — the
    * dedup fixtures). Row-local. */
  def encodeVp8Video(spec: DataFrame, idCol: String, framesCol: String,
      wCol: String, withInterframes: Boolean = false,
      seedCol: String = null): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    val seed = if (seedCol == null) col(idCol) else col(seedCol)
    spec.select(col(idCol).cast("long"), col(framesCol).cast("int"),
        col(wCol).cast("int"), seed.cast("long"))
      .as[(Long, Int, Int, Long)]
      .mapPartitions(_.map { case (id, nf, w, sd) =>
        require(nf >= 1, s"encodeVp8Video: media $id has $nf frames")
        val frames = (0 until nf).flatMap { f =>
          val key = (f * 200L, Vp8Codec.encodeLossy(sd * 131L + f, w, 16))
          if (withInterframes && f < nf - 1)
            Seq(key, (f * 200L + 100L, WebmVideo.interframeStub()))
          else Seq(key)
        }
        val durMs = (nf - 1) * 200L + 200L
        val bytes =
          if (id % 2 == 0) WebmVideo.muxWebm(frames, w, 16, durMs)
          else WebmVideo.muxIvf(frames, w, 16)
        (id, bytes)
      })
      .toDF("media_id", "data")
  }

  /** Decode every `everyNth`-th VP8 keyframe of each (media_id, data)
    * video to per-frame features ([[WebmVideo.decodeKeyframes]]).
    * Row-local flatMap — payloads never shuffle, interframes are never
    * decoded, and stride-N sampling decodes exactly the sampled frames
    * (the demux returns byte windows, not copies). Non-video payloads
    * fail loudly, the image-codec policy. */
  def videoKeyframeFeatures(media: DataFrame, everyNth: Int = 1)
      : Dataset[VideoKeyframeFeatures] = {
    implicit val enc = Encoders.product[VideoKeyframeFeatures]
    media.select(col("media_id").cast("long"), col("data"))
      .mapPartitions { it: Iterator[Row] =>
        it.flatMap { row =>
          val id = row.getLong(0)
          val bytes = row.getAs[Array[Byte]](1)
          val (fmt, _) = WebmVideo.demux(bytes)
          WebmVideo.decodeKeyframes(bytes, everyNth).map { case (i, pts, r) =>
            // integer Rec.601 luma per pixel, then the integer mean —
            // exact on gray pixels (r=g=b=y → (299+587+114)y/1000 = y)
            var s = 0L
            var p = 0
            val n = r.width * r.height
            while (p < n) {
              val o = p * r.channels
              s += (299 * (r.pixels(o) & 0xff) + 587 * (r.pixels(o + 1) & 0xff) +
                114 * (r.pixels(o + 2) & 0xff)) / 1000
              p += 1
            }
            VideoKeyframeFeatures(id, fmt, i, pts, r.width, r.height,
              (r.width + 15) / 16, (s / n).toInt, aHashRaster(r))
          }
        }
      }
  }

  /** Video duplicate pairs by keyframe fingerprints: two videos are
    * duplicates when they have the same keyframe count and EVERY
    * keyframe ordinal matches on the 64-bit [[aHashRaster]] hash.
    * CONTAINER-INVARIANT — the hash is over decoded pixels, so the
    * same content in WebM and IVF (or re-muxed files) pairs up, which
    * byte-level dedup can never do.
    *
    * Scale shape: one equi-join on (frame_idx, ahash) — hash values
    * distribute uniformly, no cross join, no all-pairs; the per-pair
    * match count joins two broadcast-size per-video count tables.
    * Same-hash frame groups are the only quadratic surface, exactly
    * like [[Dedup.hammingPairs]]' bucket tiers. */
  /** Tumbling-window census of decoded video keyframes over a
    * TIMESTAMPED media frame (media_id, data, `tsCol`): per (window,
    * container format), the keyframe count and video count. Decode is
    * STATELESS row-local work ([[videoKeyframeFeatures]]' kernel with
    * the ingest timestamp carried through), so the same call runs on a
    * batch frame or a `readStream` source at full parallelism — the
    * batch/stream dual every operator here follows (batch output is
    * the oracle gate; StreamingSpec pins the MemoryStream run equal).
    * Only the census aggregation carries state, bounded by (watermark
    * horizon / width) × formats; callers add `withWatermark` on the
    * stream side. Video count is `frame_idx = 0` occurrences (every
    * video has a first keyframe) — streaming-legal, unlike a distinct
    * count. */
  def videoKeyframeCensus(media: DataFrame, tsCol: String,
      width: String = "1 hour"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val kf = media.select(col("media_id").cast("long"), col("data"),
        col(tsCol).cast("timestamp").as("__ts"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions(_.flatMap { case (id, bytes, ts) =>
        val (fmt, _) = WebmVideo.demux(bytes)
        WebmVideo.decodeKeyframes(bytes).map { case (i, _, _) => (id, fmt, i, ts) }
      })
      .toDF("media_id", "format", "frame_idx", "ts")
    kf.groupBy(window(col("ts"), width), col("format"))
      .agg(count(lit(1)).as("n_keyframes"),
        count(when(col("frame_idx") === 0, 1)).as("n_videos"))
      .select(col("window.start").cast("long").as("window_start"),
        col("format"), col("n_keyframes"), col("n_videos"))
  }

  /** Video duplicate CLUSTERS — the 100 TB path. [[videoDupPairs]]'
    * pair OUTPUT is quadratic in duplicate-class size (a hot video
    * shared m times costs m(m-1)/2 pairs — the same wall every pair
    * emitter hits); this collapses each video to ONE fingerprint row
    * (the ordered keyframe-hash sequence), exact-groups fingerprints,
    * and labels members with the min-id representative: the hottest
    * video on the web costs O(m), not O(m²) (the
    * [[Dedup.hammingDupClusters]] contract). Output (id, cluster) for
    * every video in a duplicate relation; unique videos are absent.
    * Semantics: same keyframe count and every ordinal matching —
    * exactly [[videoDupPairs]]' rule (the sequence encodes both). */
  def videoDupClusters(kf: Dataset[VideoKeyframeFeatures]): DataFrame = {
    val f = kf.toDF().select(col("mediaId").as("id"),
      col("frameIdx").as("f"), col("ahash"))
    val fp = f.groupBy("id")
      .agg(sort_array(collect_list(struct(col("f"), col("ahash")))).as("fp"))
    val reps = fp.groupBy("fp")
      .agg(min(col("id")).as("cluster"), count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .select(col("fp"), col("cluster"))
    fp.join(reps, "fp").select(col("id"), col("cluster"))
  }

  /** Persistable video fingerprint index: one row per video —
    * (fingerprint, representative = min id, n) — the contracted form
    * [[videoDupClusters]] groups by, ready to write to parquet and
    * probe on the next ingest batch. The index is duplicate-CLASS
    * sized, not corpus-sized pairs. */
  def videoFingerprintIndex(kf: Dataset[VideoKeyframeFeatures]): DataFrame = {
    val f = kf.toDF().select(col("mediaId").as("id"),
      col("frameIdx").as("f"), col("ahash"))
    f.groupBy("id")
      .agg(sort_array(collect_list(struct(col("f"), col("ahash")))).as("fp"))
      .groupBy("fp")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("n"))
  }

  /** Incremental video dedup: which BATCH videos duplicate something
    * already indexed — (id_new, rep_idx). One fingerprint row per
    * batch video equi-joined to the class-contracted index: O(1) work
    * per batch row however hot the indexed content is (the
    * [[Dedup.hammingAgainstIndex]] incremental-ingest contract, on
    * exact keyframe-sequence fingerprints). */
  def videoDupAgainstIndex(batchKf: Dataset[VideoKeyframeFeatures],
      index: DataFrame): DataFrame = {
    val f = batchKf.toDF().select(col("mediaId").as("id"),
      col("frameIdx").as("f"), col("ahash"))
    val fp = f.groupBy("id")
      .agg(sort_array(collect_list(struct(col("f"), col("ahash")))).as("fp"))
    fp.join(index.select(col("fp"), col("rep")), "fp")
      .select(col("id").as("id_new"), col("rep").as("rep_idx"))
  }

  /** Pair-emitting video dedup — ORACLE/SMALL-SCALE path: correct and
    * exactly replayable, but its output is quadratic in duplicate-
    * class size; at corpus scale use [[videoDupClusters]]. */
  def videoDupPairs(kf: Dataset[VideoKeyframeFeatures]): DataFrame = {
    val f = kf.toDF().select(col("mediaId").as("id"),
      col("frameIdx").as("f"), col("ahash"))
    val counts = f.groupBy("id").agg(count(lit(1)).as("nf"))
    val matched = f.as("a").join(f.as("b"),
        col("a.f") === col("b.f") && col("a.ahash") === col("b.ahash") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_matched"))
    matched
      .join(counts.select(col("id").as("id_a"), col("nf").as("nf_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("nf").as("nf_b")), "id_b")
      .where(col("n_matched") === col("nf_a") &&
        col("n_matched") === col("nf_b"))
      .select(col("id_a"), col("id_b"), col("n_matched"))
  }
}
