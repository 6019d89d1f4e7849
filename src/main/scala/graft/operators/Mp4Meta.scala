package graft.operators

/** MP4 / ISO Base Media File Format (ISO 14496-12, public spec)
  * METADATA parsing — the video leg of the multimodal tier. Frame
  * DECODE stays honestly out of scope (H.264/H.265/AV1 are true video
  * codecs); what a 100 TB curation pipeline actually filters on —
  * duration, presentation dimensions, track count — lives in plain
  * big-endian box structures this parses by hand:
  *
  *   ftyp                      brand tag (validated)
  *   moov                      container
  *     mvhd                    timescale + duration (v0 and v1)
  *     trak/tkhd               track id + 16.16 fixed-point w×h
  *
  * The encoder writes a minimal spec-valid skeleton (ftyp + moov with
  * mvhd and one video tkhd) — the deterministic test/gate payload; a
  * real crawl MP4 parses through the same box walk, with unknown boxes
  * (mdat, udta, free...) skipped by size. 64-bit extended box sizes
  * are handled; malformed structures fail loudly.
  *
  * Pixel/sample access for video = [[Multimodal.sampleFrames]] byte
  * strides over the opaque payload, as the brief prescribes.
  */
object Mp4Meta {

  /** Parsed container metadata. Dimensions come from the FIRST track
    * with nonzero tkhd width/height (the video track by convention). */
  final case class VideoMeta(
      durationMs: Long, width: Int, height: Int, nTracks: Int)

  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** True iff the payload leads with an ftyp box (the MP4 signature). */
  def isMp4(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 && tag(bytes, 4) == "ftyp"

  /** Walk `[start, end)` as a box sequence, invoking `f(type, payloadStart,
    * payloadEnd)` per box. Handles 64-bit sizes and size-0 (to end). */
  private def walk(bytes: Array[Byte], start: Int, end: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var off = start
    while (off + 8 <= end) {
      val size32 = Bytes.be32u(bytes, off)
      val typ = tag(bytes, off + 4)
      val (payload, boxEnd) =
        if (size32 == 1L) {
          require(off + 16 <= end, "truncated 64-bit box header")
          val size64 = Bytes.be64(bytes, off + 8)
          require(size64 >= 16 && off + size64 <= end, s"bad 64-bit box size $size64")
          (off + 16, off + size64.toInt)
        } else if (size32 == 0L) (off + 8, end)
        else {
          require(size32 >= 8 && off + size32 <= end, s"bad box size $size32 for '$typ'")
          (off + 8, off + size32.toInt)
        }
      f(typ, payload, boxEnd)
      off = boxEnd
    }
  }

  /** Parse duration/dims/tracks; null for non-MP4 payloads, loud
    * failure for structurally corrupt ones. */
  def parse(bytes: Array[Byte]): VideoMeta = {
    if (!isMp4(bytes)) return null
    var durationMs = -1L
    var w = 0
    var h = 0
    var tracks = 0
    walk(bytes, 0, bytes.length) { (typ, p, e) =>
      if (typ == "moov") {
        walk(bytes, p, e) { (t2, p2, e2) =>
          t2 match {
            case "mvhd" =>
              // the declared box size may be "valid" yet smaller than
              // the version's fixed layout — require the fields we
              // read actually fit (v0 reads through p2+20, v1 p2+32)
              require(e2 - p2 >= 20, "truncated mvhd")
              val ver = bytes(p2) & 0xff
              require(ver != 1 || e2 - p2 >= 32, "truncated mvhd v1")
              val (timescale, duration) =
                if (ver == 1) (Bytes.be32u(bytes, p2 + 20), Bytes.be64(bytes, p2 + 24))
                else (Bytes.be32u(bytes, p2 + 12), Bytes.be32u(bytes, p2 + 16))
              require(timescale > 0, "mvhd timescale must be positive")
              durationMs = duration * 1000L / timescale
            case "trak" =>
              tracks += 1
              walk(bytes, p2, e2) { (t3, p3, e3) =>
                if (t3 == "tkhd" && w == 0 && h == 0) {
                  // v0 layout through width+height = 84 bytes, v1 = 96
                  require(e3 - p3 >= 84, "truncated tkhd")
                  val ver = bytes(p3) & 0xff
                  require(ver != 1 || e3 - p3 >= 96, "truncated tkhd v1")
                  val dimsOff = p3 + (if (ver == 1) 88 else 76) // after matrix
                  val tw = (Bytes.be32u(bytes, dimsOff) >> 16).toInt   // 16.16 fixed
                  val th = (Bytes.be32u(bytes, dimsOff + 4) >> 16).toInt
                  if (tw > 0 && th > 0) { w = tw; h = th }
                }
              }
            case _ => ()
          }
        }
      }
    }
    require(durationMs >= 0, "missing moov/mvhd")
    VideoMeta(durationMs, w, h, tracks)
  }

  /** Audio-track metadata for M4A / audio-in-BMFF payloads — the
    * round-9 gap where M4A parsed fine as ISO-BMFF but was only ever
    * reported video-shaped. Fields come from the spec boxes:
    * mvhd duration, mdia/hdlr handler 'soun', and the
    * stbl/stsd AudioSampleEntry (channelcount + 16.16 samplerate,
    * ISO 14496-12 §12.2.3). `codec` is the sample-entry format tag
    * ("mp4a" for AAC-in-M4A). */
  final case class AudioTrackMeta(
      durationMs: Long, sampleRate: Int, channels: Int, nTracks: Int,
      codec: String)

  /** Parse the FIRST audio ('soun' handler) track's sample-entry
    * fields. Null for non-MP4 payloads AND for MP4s with no audio
    * track (a video-only MP4 is not an M4A — callers dispatch on
    * this); structurally corrupt boxes fail loudly. */
  def parseAudio(bytes: Array[Byte]): AudioTrackMeta = {
    if (!isMp4(bytes)) return null
    var durationMs = -1L
    var tracks = 0
    var sampleRate = 0
    var channels = 0
    var codec: String = null
    walk(bytes, 0, bytes.length) { (typ, p, e) =>
      if (typ == "moov") walk(bytes, p, e) { (t2, p2, e2) =>
        t2 match {
          case "mvhd" =>
            require(e2 - p2 >= 20, "truncated mvhd")
            val ver = bytes(p2) & 0xff
            require(ver != 1 || e2 - p2 >= 32, "truncated mvhd v1")
            val (timescale, duration) =
              if (ver == 1) (Bytes.be32u(bytes, p2 + 20), Bytes.be64(bytes, p2 + 24))
              else (Bytes.be32u(bytes, p2 + 12), Bytes.be32u(bytes, p2 + 16))
            require(timescale > 0, "mvhd timescale must be positive")
            durationMs = duration * 1000L / timescale
          case "trak" =>
            tracks += 1
            walk(bytes, p2, e2) { (t3, p3, e3) =>
              if (t3 == "mdia") {
                // ISO 14496-12 does not mandate hdlr-before-minf order
                // inside mdia — resolve the handler in a FIRST pass so
                // an minf-first layout still dispatches correctly.
                var isAudio = false
                walk(bytes, p3, e3) { (t4, p4, e4) =>
                  if (t4 == "hdlr") {
                    require(e4 - p4 >= 12, "truncated hdlr")
                    isAudio = tag(bytes, p4 + 8) == "soun"
                  }
                }
                // second pass walks EVERY track's minf/stbl/stsd so
                // structurally corrupt boxes still fail loudly even on
                // non-audio tracks; audio FIELDS are only captured for
                // the 'soun' handler
                walk(bytes, p3, e3) { (t4, p4, e4) =>
                  if (t4 == "minf") walk(bytes, p4, e4) { (t5, p5, e5) =>
                    if (t5 == "stbl") walk(bytes, p5, e5) { (t6, p6, e6) =>
                      if (t6 == "stsd") {
                        require(e6 - p6 >= 8, "truncated stsd")
                        require(Bytes.be32u(bytes, p6 + 4) >= 1, "empty stsd")
                        if (isAudio && codec == null) {
                          val entry = p6 + 8
                          // AudioSampleEntry: size+format(8) + reserved(6)
                          // + dri(2) + reserved(8) + chan(2) + bits(2)
                          // + predef(2) + reserved(2) + rate(4, 16.16)
                          require(e6 - entry >= 36, "truncated audio sample entry")
                          codec = tag(bytes, entry + 4)
                          channels = Bytes.be16(bytes, entry + 24)
                          sampleRate = (Bytes.be32u(bytes, entry + 32) >> 16).toInt
                        }
                      }
                    }
                  }
                }
              }
            }
          case _ => ()
        }
      }
    }
    if (codec == null) return null // no audio track — not an M4A shape
    require(durationMs >= 0, "missing moov/mvhd")
    AudioTrackMeta(durationMs, sampleRate, channels, tracks, codec)
  }

  // ---- sample tables (ISO 14496-12 §8.5-8.7) ----------------------------

  /** One sample's location + timing, fully resolved from the stbl
    * boxes: byte `offset`/`size` in the file, decode timestamp `dts`
    * in media-timescale ticks, and the stss sync flag. */
  final case class SampleInfo(
      index: Int, offset: Long, size: Long, dts: Long, keyframe: Boolean)

  /** A track's resolved sample table. `timescale` is the mdhd media
    * timescale the dts values are expressed in. */
  final case class SampleTable(timescale: Int, samples: Vector[SampleInfo])

  /** Resolve the FIRST track's sample table — the demux tier below
    * [[parse]]: a 100 TB video-curation pipeline uses exactly this to
    * locate keyframes and sample byte ranges BEFORE paying for any
    * codec work (the WebM path does the same via cluster walk).
    * Derivation per the spec: stsc runs map samples to chunks,
    * stco/co64 give chunk base offsets, sizes accumulate within a
    * chunk, stts runs accumulate decode deltas, stss marks sync
    * samples (absent ⇒ every sample is sync). Missing mandatory boxes
    * and inconsistent counts fail loudly. */
  def sampleTable(bytes: Array[Byte]): SampleTable = {
    require(isMp4(bytes), "not an MP4 (no leading ftyp)")
    var timescale = -1
    var sizes: Array[Long] = null
    var sttsRuns: Vector[(Long, Long)] = Vector.empty
    var stscRuns: Vector[(Long, Long)] = Vector.empty // (first_chunk, samples_per_chunk)
    var chunkOffs: Array[Long] = null
    var sync: Array[Long] = null // 1-based sample numbers; null = absent
    var found = false

    def parseStbl(s: Int, e: Int): Unit = walk(bytes, s, e) { (t, ps, pe) =>
      t match {
        case "stsz" =>
          require(pe - ps >= 12, "truncated stsz")
          val fixed = Bytes.be32u(bytes, ps + 4)
          val n = Bytes.be32u(bytes, ps + 8)
          require(n >= 0 && n <= (1L << 26), s"implausible stsz count $n")
          sizes =
            if (fixed != 0) Array.fill(n.toInt)(fixed)
            else {
              require(ps + 12 + 4L * n <= pe, "stsz entries overrun the box")
              Array.tabulate(n.toInt)(i => Bytes.be32u(bytes, ps + 12 + 4 * i))
            }
        case "stts" =>
          val n = Bytes.be32u(bytes, ps + 4)
          require(n >= 0 && ps + 8 + 8L * n <= pe, s"stts entries overrun the box")
          sttsRuns = Vector.tabulate(n.toInt)(i =>
            (Bytes.be32u(bytes, ps + 8 + 8 * i), Bytes.be32u(bytes, ps + 12 + 8 * i)))
        case "stsc" =>
          val n = Bytes.be32u(bytes, ps + 4)
          require(n >= 0 && ps + 8 + 12L * n <= pe, s"stsc entries overrun the box")
          stscRuns = Vector.tabulate(n.toInt)(i =>
            (Bytes.be32u(bytes, ps + 8 + 12 * i), Bytes.be32u(bytes, ps + 12 + 12 * i)))
        case "stco" =>
          val n = Bytes.be32u(bytes, ps + 4)
          require(n >= 0 && ps + 8 + 4L * n <= pe, s"stco entries overrun the box")
          chunkOffs = Array.tabulate(n.toInt)(i => Bytes.be32u(bytes, ps + 8 + 4 * i))
        case "co64" =>
          val n = Bytes.be32u(bytes, ps + 4)
          require(n >= 0 && ps + 8 + 8L * n <= pe, s"co64 entries overrun the box")
          chunkOffs = Array.tabulate(n.toInt)(i => Bytes.be64(bytes, ps + 8 + 8 * i))
        case "stss" =>
          val n = Bytes.be32u(bytes, ps + 4)
          require(n >= 0 && ps + 8 + 4L * n <= pe, s"stss entries overrun the box")
          sync = Array.tabulate(n.toInt)(i => Bytes.be32u(bytes, ps + 8 + 4 * i))
        case _ => ()
      }
    }

    walk(bytes, 0, bytes.length) { (typ, ps, pe) =>
      if (typ == "moov") walk(bytes, ps, pe) { (t2, ps2, pe2) =>
        if (t2 == "trak" && !found) walk(bytes, ps2, pe2) { (t3, ps3, pe3) =>
          if (t3 == "mdia") walk(bytes, ps3, pe3) { (t4, ps4, pe4) =>
            t4 match {
              case "mdhd" =>
                val v = bytes(ps4) & 0xff
                timescale =
                  (if (v == 1) Bytes.be32u(bytes, ps4 + 20) else Bytes.be32u(bytes, ps4 + 12)).toInt
              case "minf" => walk(bytes, ps4, pe4) { (t5, ps5, pe5) =>
                if (t5 == "stbl") { parseStbl(ps5, pe5); found = true }
              }
              case _ => ()
            }
          }
        }
      }
    }
    require(found, "no trak/mdia/minf/stbl in the MP4")
    require(timescale > 0, "mdhd timescale missing or zero")
    require(sizes != null, "stsz missing")
    require(sttsRuns.nonEmpty, "stts missing or empty")
    require(stscRuns.nonEmpty, "stsc missing or empty")
    require(chunkOffs != null && chunkOffs.nonEmpty, "stco/co64 missing or empty")
    val n = sizes.length
    require(sttsRuns.map(_._1).sum == n,
      s"stts covers ${sttsRuns.map(_._1).sum} samples, stsz has $n")

    // chunk index (0-based) -> samples_per_chunk from the stsc runs
    val nChunks = chunkOffs.length
    require(stscRuns.head._1 == 1,
      s"stsc first run must start at chunk 1, got ${stscRuns.head._1}")
    val spcByChunk = new Array[Long](nChunks)
    var ri = 0
    var c = 0
    while (c < nChunks) {
      while (ri + 1 < stscRuns.length && stscRuns(ri + 1)._1 <= c + 1) ri += 1
      spcByChunk(c) = stscRuns(ri)._2
      c += 1
    }
    require(spcByChunk.sum == n,
      s"stsc/stco assign ${spcByChunk.sum} samples, stsz has $n")

    val syncSet: Set[Long] = if (sync == null) null else sync.toSet
    val out = Vector.newBuilder[SampleInfo]
    var dts = 0L
    var runIdx = 0
    var runLeft = if (sttsRuns.isEmpty) 0L else sttsRuns(0)._1
    var si = 0
    c = 0
    while (c < nChunks) {
      var off = chunkOffs(c)
      var j = 0L
      while (j < spcByChunk(c)) {
        val key = syncSet == null || syncSet.contains(si + 1L)
        out += SampleInfo(si, off, sizes(si), dts, key)
        off += sizes(si)
        // advance dts through the stts runs
        while (runLeft == 0L && runIdx + 1 < sttsRuns.length) {
          runIdx += 1; runLeft = sttsRuns(runIdx)._1
        }
        dts += sttsRuns(runIdx)._2
        runLeft -= 1
        si += 1; j += 1
      }
      c += 1
    }
    SampleTable(timescale, out.result())
  }

  /** Minimal spec-valid MP4 skeleton: ftyp(isom) + moov(mvhd +
    * trak/tkhd). Deterministic byte-for-byte; size is the closed form
    * `24 (ftyp) + 8 (moov) + 108 (mvhd) + 8 (trak) + 92 (tkhd)` = 240. */
  def encode(durationMs: Long, width: Int, height: Int,
      timescale: Int = 1000): Array[Byte] = {
    require(durationMs >= 0 && width > 0 && height > 0 && timescale > 0,
      s"bad spec ${durationMs}ms ${width}x$height @$timescale")
    val out = new java.io.ByteArrayOutputStream()
    def be(v: Long, n: Int): Unit =
      for (i <- (n - 1) to 0 by -1) out.write(((v >> (8 * i)) & 0xff).toInt)
    def tagW(s: String): Unit = s.foreach(c => out.write(c.toInt))
    // ftyp: major isom, minor 0, compatible isom
    be(24, 4); tagW("ftyp"); tagW("isom"); be(0, 4); tagW("isom"); tagW("mp41")
    val duration = durationMs * timescale / 1000L
    be(8 + 108 + 8 + 92, 4); tagW("moov")
    // mvhd v0: 108 bytes total
    be(108, 4); tagW("mvhd"); be(0, 4) // version+flags
    be(0, 4); be(0, 4)                 // ctime mtime
    be(timescale.toLong, 4); be(duration, 4)
    be(0x00010000L, 4)                 // rate 1.0
    be(0x0100L, 2); be(0, 2)           // volume 1.0 + reserved
    be(0, 8)                           // reserved
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      .foreach(be(_, 4))               // identity matrix
    for (_ <- 0 until 6) be(0, 4)      // pre_defined
    be(2, 4)                           // next_track_ID
    // trak > tkhd v0: 92 bytes
    be(8 + 92, 4); tagW("trak")
    be(92, 4); tagW("tkhd"); be(0x00000007L, 4) // v0 + enabled flags
    be(0, 4); be(0, 4)                 // ctime mtime
    be(1, 4); be(0, 4)                 // track id + reserved
    be(duration, 4)
    be(0, 8)                           // reserved
    be(0, 2); be(0, 2)                 // layer + alternate group
    be(0, 2); be(0, 2)                 // volume (video: 0) + reserved
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      .foreach(be(_, 4))               // matrix
    be(width.toLong << 16, 4); be(height.toLong << 16, 4) // 16.16 fixed
    out.toByteArray
  }

  /** Spec-valid MP4 with a REAL sample table: ftyp + moov(mvhd +
    * trak(tkhd + mdia(mdhd + hdlr'vide' + minf(stbl(stsd + stts +
    * stsc + stsz [+ stss] + stco/co64))))) + mdat carrying the
    * samples' deterministic bytes. Chunking: `samplesPerChunk` per
    * chunk with a ragged last chunk (a second stsc run when needed);
    * stts runs are RLE over `deltas`; `syncEvery > 0` marks samples
    * 1, 1+k, 1+2k… as sync (stss), 0 omits stss (all-sync semantics).
    * The fixture generator for [[sampleTable]] gates/specs. */
  def encodeWithSamples(sizes: Seq[Int], deltas: Seq[Int],
      samplesPerChunk: Int, syncEvery: Int, timescale: Int = 600,
      use64: Boolean = false, fixedStsz: Boolean = false): Array[Byte] = {
    val n = sizes.length
    require(n > 0 && deltas.length == n && samplesPerChunk > 0 && timescale > 0,
      s"bad sample spec: $n sizes, ${deltas.length} deltas, spc=$samplesPerChunk")
    require(sizes.forall(s => s > 0 && s <= (1 << 20)), "sample sizes must be 1..1MiB")
    require(!fixedStsz || sizes.distinct.size == 1,
      "fixedStsz needs uniform sample sizes")
    val nChunks = (n + samplesPerChunk - 1) / samplesPerChunk
    val lastChunkSamples = n - (nChunks - 1) * samplesPerChunk
    val sttsRuns: Seq[(Int, Int)] = {
      val rs = Seq.newBuilder[(Int, Int)]
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && deltas(j) == deltas(i)) j += 1
        rs += ((j - i, deltas(i)))
        i = j
      }
      rs.result()
    }
    val syncs: Seq[Int] =
      if (syncEvery <= 0) Seq.empty
      else (1 to n by syncEvery)
    val twoScRuns = lastChunkSamples != samplesPerChunk && nChunks > 1
    val stsdSz = 8 + 8 + 16
    val sttsSz = 8 + 8 + 8 * sttsRuns.size
    val stscSz = 8 + 8 + 12 * (if (twoScRuns) 2 else 1)
    val stszSz = 8 + 12 + (if (fixedStsz) 0 else 4 * n)
    val stssSz = if (syncEvery <= 0) 0 else 8 + 8 + 4 * syncs.size
    val stcoSz = 8 + 8 + (if (use64) 8 else 4) * nChunks
    val stblSz = 8 + stsdSz + sttsSz + stscSz + stszSz + stssSz + stcoSz
    val minfSz = 8 + stblSz
    val mdiaSz = 8 + 32 + 33 + minfSz
    val trakSz = 8 + 92 + mdiaSz
    val moovSz = 8 + 108 + trakSz
    val mdatPayloadAt = 24L + moovSz + 8
    val duration = deltas.map(_.toLong).sum

    val out = new java.io.ByteArrayOutputStream()
    def be(v: Long, nB: Int): Unit =
      for (i <- (nB - 1) to 0 by -1) out.write(((v >> (8 * i)) & 0xff).toInt)
    def tagW(s: String): Unit = s.foreach(c => out.write(c.toInt))
    be(24, 4); tagW("ftyp"); tagW("isom"); be(0, 4); tagW("isom"); tagW("mp41")
    be(moovSz.toLong, 4); tagW("moov")
    // mvhd v0 (timescale doubles as the movie timescale here)
    be(108, 4); tagW("mvhd"); be(0, 4); be(0, 4); be(0, 4)
    be(timescale.toLong, 4); be(duration, 4)
    be(0x00010000L, 4); be(0x0100L, 2); be(0, 2); be(0, 8)
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L).foreach(be(_, 4))
    for (_ <- 0 until 6) be(0, 4)
    be(2, 4)
    be(trakSz.toLong, 4); tagW("trak")
    be(92, 4); tagW("tkhd"); be(0x00000007L, 4); be(0, 4); be(0, 4)
    be(1, 4); be(0, 4); be(duration, 4); be(0, 8)
    be(0, 2); be(0, 2); be(0, 2); be(0, 2)
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L).foreach(be(_, 4))
    be(64L << 16, 4); be(48L << 16, 4)
    be(mdiaSz.toLong, 4); tagW("mdia")
    be(32, 4); tagW("mdhd"); be(0, 4); be(0, 4); be(0, 4)
    be(timescale.toLong, 4); be(duration, 4); be(0x55c4L, 2); be(0, 2) // lang 'und'
    be(33, 4); tagW("hdlr"); be(0, 4); be(0, 4); tagW("vide")
    be(0, 4); be(0, 4); be(0, 4); out.write(0) // reserved + empty name
    be(minfSz.toLong, 4); tagW("minf")
    be(stblSz.toLong, 4); tagW("stbl")
    be(stsdSz.toLong, 4); tagW("stsd"); be(0, 4); be(1, 4)
    be(16, 4); tagW("mp4v"); be(0, 4); be(0, 2); be(1, 2) // minimal entry
    be(sttsSz.toLong, 4); tagW("stts"); be(0, 4); be(sttsRuns.size.toLong, 4)
    sttsRuns.foreach { case (cnt, d) => be(cnt.toLong, 4); be(d.toLong, 4) }
    be(stscSz.toLong, 4); tagW("stsc"); be(0, 4)
    be(if (twoScRuns) 2L else 1L, 4)
    be(1, 4); be(samplesPerChunk.toLong, 4); be(1, 4)
    if (twoScRuns) { be(nChunks.toLong, 4); be(lastChunkSamples.toLong, 4); be(1, 4) }
    be(stszSz.toLong, 4); tagW("stsz"); be(0, 4)
    be(if (fixedStsz) sizes.head.toLong else 0L, 4); be(n.toLong, 4)
    if (!fixedStsz) sizes.foreach(s => be(s.toLong, 4))
    if (syncEvery > 0) {
      be(stssSz.toLong, 4); tagW("stss"); be(0, 4); be(syncs.size.toLong, 4)
      syncs.foreach(s => be(s.toLong, 4))
    }
    be(stcoSz.toLong, 4); tagW(if (use64) "co64" else "stco"); be(0, 4)
    be(nChunks.toLong, 4)
    var off = mdatPayloadAt
    var si = 0
    for (c <- 0 until nChunks) {
      be(off, if (use64) 8 else 4)
      val inChunk = if (c == nChunks - 1) lastChunkSamples else samplesPerChunk
      for (_ <- 0 until inChunk) { off += sizes(si); si += 1 }
    }
    // mdat: deterministic per-sample bytes
    be(8L + sizes.map(_.toLong).sum, 4); tagW("mdat")
    var k = 0
    sizes.foreach { s =>
      for (j <- 0 until s) out.write((k * 131 + j) & 0xff)
      k += 1
    }
    out.toByteArray
  }

  /** Minimal spec-valid M4A skeleton: ftyp(M4A ) + moov(mvhd +
    * trak(tkhd + mdia(mdhd + hdlr'soun' + minf(stbl(stsd(mp4a)))))).
    * Deterministic byte-for-byte; total size is the closed form
    * 24 + 8 + 108 + 8 + 92 + 8 + 32 + 33 + 8 + 8 + 16 + 36 = 381. */
  def encodeM4a(durationMs: Long, sampleRate: Int,
      channels: Int, timescale: Int = 1000): Array[Byte] = {
    require(durationMs >= 0 && sampleRate > 0 && sampleRate <= 0xffff &&
      channels >= 1 && channels <= 8 && timescale > 0,
      s"bad spec ${durationMs}ms ${sampleRate}Hz ${channels}ch @$timescale")
    val out = new java.io.ByteArrayOutputStream()
    def be(v: Long, n: Int): Unit =
      for (i <- (n - 1) to 0 by -1) out.write(((v >> (8 * i)) & 0xff).toInt)
    def tagW(s: String): Unit = s.foreach(c => out.write(c.toInt))
    be(24, 4); tagW("ftyp"); tagW("M4A "); be(0, 4); tagW("M4A "); tagW("mp42")
    val duration = durationMs * timescale / 1000L
    val stsd = 16 + 36
    val stbl = 8 + stsd
    val minf = 8 + stbl
    val hdlr = 33
    val mdhd = 32
    val mdia = 8 + mdhd + hdlr + minf
    val tkhd = 92
    val trak = 8 + tkhd + mdia
    be(8 + 108 + trak, 4); tagW("moov")
    // mvhd v0
    be(108, 4); tagW("mvhd"); be(0, 4)
    be(0, 4); be(0, 4)
    be(timescale.toLong, 4); be(duration, 4)
    be(0x00010000L, 4)
    be(0x0100L, 2); be(0, 2)
    be(0, 8)
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      .foreach(be(_, 4))
    for (_ <- 0 until 6) be(0, 4)
    be(2, 4)
    // trak
    be(trak, 4); tagW("trak")
    // tkhd v0 — audio track: zero dims, volume 1.0
    be(tkhd, 4); tagW("tkhd"); be(0x00000007L, 4)
    be(0, 4); be(0, 4)
    be(1, 4); be(0, 4)
    be(duration, 4)
    be(0, 8)
    be(0, 2); be(0, 2)
    be(0x0100L, 2); be(0, 2)
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      .foreach(be(_, 4))
    be(0, 4); be(0, 4) // width = height = 0 (audio)
    // mdia
    be(mdia, 4); tagW("mdia")
    // mdhd v0: media timescale = the sample rate (the M4A convention)
    be(mdhd, 4); tagW("mdhd"); be(0, 4)
    be(0, 4); be(0, 4)
    be(sampleRate.toLong, 4); be(durationMs * sampleRate / 1000L, 4)
    be(0x55c4L, 2); be(0, 2) // language 'und' + pre_defined
    // hdlr: handler 'soun', empty NUL name
    be(hdlr, 4); tagW("hdlr"); be(0, 4)
    be(0, 4); tagW("soun")
    be(0, 4); be(0, 4); be(0, 4) // reserved
    out.write(0) // name ""
    // minf > stbl > stsd
    be(minf, 4); tagW("minf")
    be(stbl, 4); tagW("stbl")
    be(stsd, 4); tagW("stsd"); be(0, 4); be(1, 4) // ver/flags + entry_count
    // mp4a AudioSampleEntry
    be(36, 4); tagW("mp4a")
    be(0, 4); be(0, 2) // reserved(6)
    be(1, 2)           // data_reference_index
    be(0, 8)           // reserved
    be(channels.toLong, 2); be(16, 2) // channelcount + samplesize
    be(0, 2); be(0, 2) // pre_defined + reserved
    be(sampleRate.toLong << 16, 4)    // 16.16 fixed
    out.toByteArray
  }

  // ---- video codec detection (stsd sample entry + config box) -----------

  /** The FIRST video ('vide' handler) track's sample-entry format tag
    * plus, when the entry carries a codec-configuration box (`hvcC`
    * for HEVC, `avcC` for AVC, `vpcC`/`av1C` for VP9/AV1), that box's
    * tag and raw payload — what a codec-aware curation pass dispatches
    * on BEFORE touching any sample bytes. `configBox` payloads feed
    * [[HevcMeta.parseHvcC]] for hvc1/hev1 entries. */
  final case class VideoCodecInfo(codec: String,
      configBox: Option[(String, Array[Byte])])

  def videoCodecInfo(bytes: Array[Byte]): VideoCodecInfo = {
    if (!isMp4(bytes)) return null
    var codec: String = null
    var config: Option[(String, Array[Byte])] = None
    walk(bytes, 0, bytes.length) { (typ, p, e) =>
      if (typ == "moov") walk(bytes, p, e) { (t2, p2, e2) =>
        if (t2 == "trak") walk(bytes, p2, e2) { (t3, p3, e3) =>
          if (t3 == "mdia") {
            var isVideo = false
            walk(bytes, p3, e3) { (t4, p4, e4) =>
              if (t4 == "hdlr") {
                require(e4 - p4 >= 12, "truncated hdlr")
                isVideo = tag(bytes, p4 + 8) == "vide"
              }
            }
            walk(bytes, p3, e3) { (t4, p4, e4) =>
              if (t4 == "minf") walk(bytes, p4, e4) { (t5, p5, e5) =>
                if (t5 == "stbl") walk(bytes, p5, e5) { (t6, p6, e6) =>
                  if (t6 == "stsd" && isVideo && codec == null) {
                    require(e6 - p6 >= 8, "truncated stsd")
                    require(Bytes.be32u(bytes, p6 + 4) >= 1, "empty stsd")
                    val entry = p6 + 8
                    require(e6 - entry >= 8, "truncated video sample entry")
                    val entrySz = Bytes.be32u(bytes, entry).toInt
                    require(entrySz >= 8 && entry + entrySz <= e6,
                      s"sample entry of $entrySz bytes overruns stsd")
                    codec = tag(bytes, entry + 4)
                    // VisualSampleEntry fixed body is 78 bytes after the
                    // 8-byte box header; contained boxes follow
                    if (entrySz > 86) walk(bytes, entry + 86, entry + entrySz) {
                      (ct, cp, ce) =>
                        if (config.isEmpty &&
                          Set("hvcC", "avcC", "vpcC", "av1C").contains(ct))
                          config = Some((ct,
                            java.util.Arrays.copyOfRange(bytes, cp, ce)))
                    }
                  }
                }
              }
            }
          }
        }
      }
    }
    if (codec == null) null else VideoCodecInfo(codec, config)
  }

  /** Minimal spec-valid HEVC-in-MP4: an `hvc1` VisualSampleEntry
    * carrying the caller's hvcC record, one chunk per sample, stss
    * marking the caller's keyframes, and the sample payloads verbatim
    * in mdat (length-prefixed NALs per hvcC lengthSize — the writer
    * does not inspect them). The read side is [[videoCodecInfo]] +
    * [[sampleTable]] + [[HevcMeta.lengthPrefixedNals]]. */
  def encodeHevc(samples: Seq[Array[Byte]], syncSamples: Seq[Int],
      hvcC: Array[Byte], width: Int, height: Int, timescale: Int = 600,
      delta: Int = 20): Array[Byte] =
    encodeCodedVideo("hvc1", "hvcC", hvcC, samples, syncSamples, width,
      height, timescale, delta)

  /** AV1-in-MP4 per the AOM ISO-BMFF binding: an `av01` sample entry
    * carrying the caller's av1C record; samples are low-overhead OBUs
    * (temporal delimiters stripped, per the binding). Read side:
    * [[videoCodecInfo]] + [[sampleTable]] + [[Av1Meta.obus]]. */
  def encodeAv1(samples: Seq[Array[Byte]], syncSamples: Seq[Int],
      av1C: Array[Byte], width: Int, height: Int, timescale: Int = 600,
      delta: Int = 20): Array[Byte] =
    encodeCodedVideo("av01", "av1C", av1C, samples, syncSamples, width,
      height, timescale, delta)

  private def encodeCodedVideo(entryTag: String, configTag: String,
      config: Array[Byte], samples: Seq[Array[Byte]], syncSamples: Seq[Int],
      width: Int, height: Int, timescale: Int, delta: Int): Array[Byte] = {
    val hvcC = config
    val n = samples.length
    require(n > 0 && timescale > 0 && delta > 0, "bad HEVC track spec")
    require(syncSamples.forall(s => s >= 1 && s <= n), "stss out of range")
    val entrySz = 86 + 8 + hvcC.length
    val stsdSz = 8 + 8 + entrySz
    val sttsSz = 8 + 8 + 8
    val stscSz = 8 + 8 + 12
    val stszSz = 8 + 12 + 4 * n
    val stssSz = 8 + 8 + 4 * syncSamples.size
    val stcoSz = 8 + 8 + 4 * n
    val stblSz = 8 + stsdSz + sttsSz + stscSz + stszSz + stssSz + stcoSz
    val minfSz = 8 + stblSz
    val mdiaSz = 8 + 32 + 33 + minfSz
    val trakSz = 8 + 92 + mdiaSz
    val moovSz = 8 + 108 + trakSz
    val mdatPayloadAt = 24L + moovSz + 8
    val duration = n.toLong * delta
    val out = new java.io.ByteArrayOutputStream()
    def be(v: Long, nB: Int): Unit =
      for (i <- (nB - 1) to 0 by -1) out.write(((v >> (8 * i)) & 0xff).toInt)
    def tagW(s: String): Unit = s.foreach(c => out.write(c.toInt))
    be(24, 4); tagW("ftyp"); tagW("isom"); be(0, 4); tagW("isom"); tagW("mp41")
    be(moovSz.toLong, 4); tagW("moov")
    be(108, 4); tagW("mvhd"); be(0, 4); be(0, 4); be(0, 4)
    be(timescale.toLong, 4); be(duration, 4)
    be(0x00010000L, 4); be(0x0100L, 2); be(0, 2); be(0, 8)
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L).foreach(be(_, 4))
    for (_ <- 0 until 6) be(0, 4)
    be(2, 4)
    be(trakSz.toLong, 4); tagW("trak")
    be(92, 4); tagW("tkhd"); be(0x00000007L, 4); be(0, 4); be(0, 4)
    be(1, 4); be(0, 4); be(duration, 4); be(0, 8)
    be(0, 2); be(0, 2); be(0, 2); be(0, 2)
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L).foreach(be(_, 4))
    be(width.toLong << 16, 4); be(height.toLong << 16, 4)
    be(mdiaSz.toLong, 4); tagW("mdia")
    be(32, 4); tagW("mdhd"); be(0, 4); be(0, 4); be(0, 4)
    be(timescale.toLong, 4); be(duration, 4); be(0x55c4L, 2); be(0, 2)
    be(33, 4); tagW("hdlr"); be(0, 4); be(0, 4); tagW("vide")
    be(0, 4); be(0, 4); be(0, 4); out.write(0)
    be(minfSz.toLong, 4); tagW("minf")
    be(stblSz.toLong, 4); tagW("stbl")
    be(stsdSz.toLong, 4); tagW("stsd"); be(0, 4); be(1, 4)
    // VisualSampleEntry (ISO 14496-12 §12.1.3) + the codec config box
    be(entrySz.toLong, 4); tagW(entryTag)
    be(0, 4); be(0, 2) // reserved(6)
    be(1, 2)           // data_reference_index
    be(0, 2); be(0, 2); be(0, 4); be(0, 4); be(0, 4) // pre_defined/reserved
    be(width.toLong, 2); be(height.toLong, 2)
    be(0x00480000L, 4); be(0x00480000L, 4) // 72 dpi
    be(0, 4); be(1, 2) // reserved + frame_count
    for (_ <- 0 until 32) out.write(0) // compressorname
    be(0x0018L, 2); be(0xffffL, 2) // depth 24 + pre_defined -1
    be(8L + hvcC.length, 4); tagW(configTag)
    out.write(hvcC, 0, hvcC.length)
    be(sttsSz.toLong, 4); tagW("stts"); be(0, 4); be(1, 4)
    be(n.toLong, 4); be(delta.toLong, 4)
    be(stscSz.toLong, 4); tagW("stsc"); be(0, 4); be(1, 4)
    be(1, 4); be(1, 4); be(1, 4) // one sample per chunk
    be(stszSz.toLong, 4); tagW("stsz"); be(0, 4); be(0, 4); be(n.toLong, 4)
    samples.foreach(s => be(s.length.toLong, 4))
    be(stssSz.toLong, 4); tagW("stss"); be(0, 4); be(syncSamples.size.toLong, 4)
    syncSamples.foreach(s => be(s.toLong, 4))
    be(stcoSz.toLong, 4); tagW("stco"); be(0, 4); be(n.toLong, 4)
    var off = mdatPayloadAt
    samples.foreach { s => be(off, 4); off += s.length }
    be(8L + samples.map(_.length.toLong).sum, 4); tagW("mdat")
    samples.foreach(s => out.write(s, 0, s.length))
    out.toByteArray
  }
}
