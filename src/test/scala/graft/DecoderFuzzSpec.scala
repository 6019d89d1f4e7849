package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AacMeta, Av1Meta, Brotli, Bzip2, FlacCodec, Gzip, HevcMeta, Lz4, Mp3Meta,
  Mp4Meta, OggMeta, PdfCodec, Snappy, TarCodec, WavCodec, Xz, ZipCodec, Zstd}
import graft.sources.ParquetPages

/** Mutation fuzz over every hand-written decoder — the compressors
  * (gzip, bzip2, xz, zstd, lz4, snappy, brotli), the archive and
  * document containers (tar, zip, avro, pdf), the image codecs (WebP
  * lossless and lossy, PNG, GIF, JPEG, TIFF, QOI, ICO), the video
  * demux and headers (WebM, IVF, HEVC, AV1, MP4), the audio codecs and
  * containers (FLAC, WAV PCM and IMA ADPCM, Ogg, MP3, AAC) and the
  * parquet page encodings (DELTA_BINARY_PACKED, the RLE/bit-packed
  * hybrid): flip 1-3 random bits in a valid stream; the decoder must
  * either succeed or throw IllegalArgumentException — never hang and
  * never leak an index/negative-size error. Seeded; a same-seed sweep of 18k
  * mutations was clean when this spec was introduced, and a round-11
  * soak at 5,000 trials per stream (60k total, seed 777, all twelve
  * decoders incl. lz4/snappy/zip/avro) was clean after the one find it
  * produced was fixed (ZipCodec's 0x80000000 member offset narrowing).
  * 400 per decoder here (2,000 for the short parquet hybrid runs)
  * keeps CI fast. */
class DecoderFuzzSpec extends AnyFunSuite {

  private val raw = ("key agg row scan slow fast table value part hash " * 20).getBytes(UTF_8)

  /** Stereo sine plus LCG noise: nonzero residuals, so the FLAC Rice
    * partitions carry real parameters. */
  private val pcm: WavCodec.Audio = {
    var st = 11L
    WavCodec.Audio(2, 8000, Array.tabulate(2 * 505) { i =>
      st = st * 6364136223846793005L + 1442695040888963407L
      (math.sin(i * 0.07) * 9000 + ((st >>> 40) & 0xff) - 128).toInt.toShort
    })
  }

  /** A hand-built RLE/bit-packed hybrid section of 5-bit values: a
    * bit-packed run of 3 groups, an RLE run of 20, and a last
    * bit-packed group whose last 2 values pad past the 50 declared. */
  private val rleRuns: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def packed(vs: Seq[Int]): Unit = {
      out.write((vs.length / 8 << 1) | 1)
      var acc = 0L; var n = 0
      vs.foreach { v =>
        acc |= v.toLong << n; n += 5
        while (n >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; n -= 8 }
      }
    }
    packed((0 until 24).map(i => (i * 7) % 32))
    out.write(20 << 1); out.write(19)
    packed((0 until 8).map(i => 31 - i))
    out.toByteArray
  }

  private val streams: Seq[(String, Array[Byte], Array[Byte] => Any)] = Seq(
    ("gzip", Gzip.gzip(raw), b => Gzip.gunzip(b)),
    ("gzip-stored", Gzip.gzip(raw, stored = true), b => Gzip.gunzip(b)),
    ("gzip-dynamic", Gzip.gzipAuto(raw), b => Gzip.gunzip(b)),
    ("bzip2", Bzip2.encode(raw), b => Bzip2.decode(b)),
    ("xz", Xz.encode(raw), b => Xz.decode(b)),
    ("zstd", Zstd.encode(raw), b => Zstd.decode(b)),
    ("zstd-stored", Zstd.encodeStored(raw), b => Zstd.decode(b)),
    ("lz4", Lz4.encode(raw), b => Lz4.decode(b)),
    ("lz4-stored", Lz4.encodeStored(raw), b => Lz4.decode(b)),
    ("snappy-block", Snappy.compress(raw), b => Snappy.uncompress(b)),
    ("snappy-framed", Snappy.encodeFramed(raw), b => Snappy.decodeFramed(b)),
    ("tar", TarCodec.encode(Seq(TarCodec.Entry("a", raw))), b => TarCodec.decode(b)),
    ("zip", ZipCodec.encode(Seq(ZipCodec.Entry("a.txt", raw))), b => ZipCodec.decode(b)),
    ("avro", graft.sources.AvroCodec.encode(
      graft.sources.AvroCodec.AvRecord("T", Vector(
        graft.sources.AvroCodec.AvField("t", graft.sources.AvroCodec.AString))),
      Seq(Seq[Any](new String(raw, UTF_8))), codec = "deflate"),
      b => graft.sources.AvroCodec.decode(b)),
    ("pdf", PdfCodec.encode(new String(raw, UTF_8), None, flate = true),
      b => PdfCodec.extractText(b)),
    ("brotli-stored", Brotli.encodeStored(raw), b => Brotli.decode(b)),
    // reference-encoder q1 stream (BrotliSpec's t2q1 fixture): the
    // compressed meta-block paths under mutation
    ("brotli-q1",
      ("8b91090080aaaaaaeaff74a5f39555415415c004541554c44cc1e0002e7ea589" +
        "1477d860cc3382fac77ed43b675da26a12be2e4d91a48a1b9ffc35b64e321483" +
        "e955050003").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      b => Brotli.decode(b)),
    // VP8L across the encode paths: plain literals, predictor
    // transform, packed palette, and the animated container walk
    ("webp-plain", graft.operators.WebpCodec.encode(
      graft.operators.WebpCodec.grayGradient(7L, 24, 15)),
      b => graft.operators.WebpCodec.decode(b)),
    ("webp-pred", graft.operators.WebpCodec.encodePredicted(
      graft.operators.WebpCodec.grayGradient(3L, 16, 11), mode = 11),
      b => graft.operators.WebpCodec.decode(b)),
    ("webp-pal", graft.operators.WebpCodec.encodeIndexed(21, 6,
      Array.tabulate(16)(i => 0xff000000 | (17 * i * 0x010101)),
      (x, y) => (x + y) % 16),
      b => graft.operators.WebpCodec.decode(b)),
    ("webp-anim", graft.operators.WebpCodec.encodeAnimated(
      5L, 12, 9, nFrames = 2, frameDurMs = 40, loopCount = 1),
      b => {
        graft.operators.WebpCodec.parseMeta(b)
        graft.operators.WebpCodec.decodeAnimFrame(b, 0)
      }),
    // lossy VP8 keyframe (round 16): header, mode, token, and
    // reconstruction paths under mutation
    ("webp-lossy", graft.operators.WebpCodec.encodeLossyWebp(3L, 48, 16),
      b => graft.operators.WebpCodec.decode(b)),
    // the three classic image decoders (a 36k-mutation soak was clean
    // after the four JPEG table-id bounds landed)
    ("png", graft.operators.PngCodec.encode(
      graft.operators.WebpCodec.grayGradient(7L, 24, 15)),
      b => graft.operators.PngCodec.decode(b)),
    ("gif", graft.operators.GifCodec.encodeGradient(3L, 24, 15),
      b => graft.operators.GifCodec.decode(b)),
    ("jpeg", graft.operators.JpegCodec.encode(
      graft.operators.WebpCodec.grayGradient(7L, 24, 15)),
      b => graft.operators.JpegCodec.decode(b)),
    // baseline TIFF (round 16): IFD walk, strip assembly, PackBits
    ("tiff-raw", graft.operators.TiffCodec.encodeGradient(
      7L, 24, 15, packBits = false, bigEndian = false, gray = false),
      b => graft.operators.TiffCodec.decode(b)),
    ("tiff-pb-be", graft.operators.TiffCodec.encodeGradient(
      3L, 21, 14, packBits = true, bigEndian = true, gray = true),
      b => graft.operators.TiffCodec.decode(b)),
    // WebM + IVF video demux→VP8 keyframe decode (round 16)
    ("webm-video", {
      val frames = (0 until 2).map(f =>
        (f * 200L, graft.operators.Vp8Codec.encodeLossy(7L * 131 + f, 32, 16)))
      graft.operators.WebmVideo.muxWebm(frames, 32, 16, 400L)
    }, b => graft.operators.WebmVideo.decodeKeyframes(b).foreach(_ => ())),
    ("ivf-video", {
      val frames = (0 until 2).map(f =>
        (f * 200L, graft.operators.Vp8Codec.encodeLossy(9L * 131 + f, 32, 16)))
      graft.operators.WebmVideo.muxIvf(frames, 32, 16)
    }, b => graft.operators.WebmVideo.decodeKeyframes(b).foreach(_ => ())),
    // ICO favicon container (round 16): directory + DIB/PNG entries
    // QOI (round 16): all six ops exercised by the gradient fixture
    ("qoi", graft.operators.QoiCodec.encodeGradient(5L, 24, 15, alpha = true),
      b => graft.operators.QoiCodec.decode(b)),
    ("ico", graft.operators.IcoCodec.encodeGradient(7L, 24, 15),
      b => graft.operators.IcoCodec.decodeLargest(b)),
    // brotli §8 static-dictionary path (round 17): mutations hit the
    // word-id/transform-id bounds and the stored↔compressed seams
    ("brotli-dict-ref", Brotli.craftDictReference(13, 2, 44),
      b => Brotli.decode(b)),
    ("brotli-dict-word", Brotli.encodeWithDictWord(
      graft.operators.WebArchive.synthesizeHtml(7, new String(raw, UTF_8)).getBytes(UTF_8)),
      b => Brotli.decode(b)),
    // parquet DELTA_BINARY_PACKED (round 17): header varints, widths,
    // miniblock bounds
    ("parquet-delta", ParquetPagesSpec.encodeDelta(
      Array.tabulate(300)(i => (i * i).toLong - 5000), 128, 4),
      b => graft.sources.ParquetPages.deltaBinaryPacked(b, 0, 300)),
    // full brotli compressor output (round 18): mutations hit the
    // complex prefix-code tables, RLE accumulation, command cells and
    // distance paths of the DECODER via realistic compressed streams
    ("brotli-full", Brotli.encode(
      ("the quick brown fox jumps over the lazy dog. " * 30).getBytes(UTF_8)),
      b => Brotli.decode(b)),
    // the audio and video decoders, and the parquet hybrid runs, on the
    // shared bit readers and byte helpers
    ("flac-fixed", FlacCodec.encode(pcm, blockSize = 256), b => FlacCodec.decode(b)),
    ("flac-lpc", FlacCodec.encode(pcm, blockSize = 256, mode = "lpc", stereo = "ms"),
      b => FlacCodec.decode(b)),
    ("wav-pcm", WavCodec.encode(pcm), b => { WavCodec.meta(b); WavCodec.decode(b) }),
    ("wav-ima", WavCodec.encodeImaAdpcm(pcm), b => { WavCodec.meta(b); WavCodec.decode(b) }),
    ("hevc", HevcMeta.writeStream(64, 48, nFrames = 4, keyint = 2, seed = 7L),
      b => HevcMeta.census(b)),
    ("av1", Av1Meta.writeStream(64, 48, nFrames = 4, keyint = 2, seed = 7L),
      b => Av1Meta.census(b)),
    ("mp4", Mp4Meta.encodeWithSamples(Seq(120, 80, 95, 60, 70), Seq.fill(5)(25),
      samplesPerChunk = 2, syncEvery = 3),
      b => { Mp4Meta.parse(b); Mp4Meta.sampleTable(b) }),
    ("m4a", Mp4Meta.encodeM4a(2500, 44100, 2), b => Mp4Meta.parseAudio(b)),
    ("ogg-opus", OggMeta.encode(48000, 2, 312, 44100), b => OggMeta.parse(b)),
    ("ogg-vorbis", OggMeta.encodeVorbis(44100, 2, 44100), b => OggMeta.parseAudio(b)),
    ("mp3", Mp3Meta.encode(3, 9, 0), b => Mp3Meta.parse(b)),
    ("aac", AacMeta.encode(3, 4, 2, 50), b => AacMeta.parse(b)),
    ("parquet-rle", rleRuns, b => ParquetPages.rleHybrid(b, 0, 5, 50)))

  /** The hybrid runs are a few dozen bytes, so they take more trials. */
  private def trials(name: String): Int = if (name == "parquet-rle") 2000 else 400

  test("the hand-built hybrid runs decode to the values they were built from") {
    val want = (0 until 24).map(i => (i * 7) % 32) ++ Seq.fill(20)(19) ++ (0 until 8).map(31 - _)
    assert(ParquetPages.rleHybrid(rleRuns, 0, 5, 50)._1.toSeq == want.take(50))
  }

  test("bit-flip mutations fail with IllegalArgumentException or decode cleanly") {
    val rnd = new java.util.Random(2026)
    for ((name, good, dec) <- streams; trial <- 1 to trials(name)) {
      val m = good.clone()
      for (_ <- 0 to rnd.nextInt(3)) {
        val p = rnd.nextInt(m.length)
        m(p) = (m(p) ^ (1 << rnd.nextInt(8))).toByte
      }
      try { dec(m); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"$name trial $trial leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("truncations fail with IllegalArgumentException, never an index error") {
    // every prefix length for short streams, a stride for long ones —
    // exercises the mid-structure cut paths (index/footer/checksum)
    // that random bit flips almost never reach
    for ((name, good, dec) <- streams) {
      val step = math.max(1, good.length / 256)
      var cut = 0
      while (cut < good.length) {
        try { dec(java.util.Arrays.copyOf(good, cut)); () }
        catch {
          case _: IllegalArgumentException => ()
          case e: Throwable =>
            fail(s"$name truncated at $cut leaked ${e.getClass.getName}: ${e.getMessage}")
        }
        cut += step
      }
    }
  }
}
