package graft.operators

/** Ogg/Opus container METADATA parsing — RFC 3533 (Ogg framing) and
  * RFC 7845 (Opus-in-Ogg mapping), both public. Completes the audio
  * metadata tier: WAV carries PCM features, MP3/FLAC/Opus carry
  * metadata-level filtering and dedup keys; PCM decode of compressed
  * codecs stays fenced per the corpus policy at
  * `Multimodal.extractAudioFeatures`.
  *
  * Parsed structure:
  *  - every page: "OggS" capture, version 0, header-type flags,
  *    64-bit granule position, serial, sequence, CRC (not verified —
  *    metadata walk, not payload integrity), segment table;
  *  - first page's first packet must be "OpusHead" (RFC 7845 §5.1):
  *    version, channel count, pre-skip (16 LE), input sample rate
  *    (32 LE);
  *  - duration = (last granule − pre-skip) / 48 kHz (Opus granules
  *    are ALWAYS 48 kHz regardless of input rate, RFC 7845 §4).
  * Non-Ogg payloads → null; corrupt pages fail loudly.
  */
object OggMeta {

  final case class OpusMeta(
      durationMs: Long, channels: Int, preSkip: Int, inputSampleRate: Long,
      nPages: Int, lastGranule: Long)

  /** True iff the payload leads with an OggS capture pattern. */
  def isOgg(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 27 &&
      bytes(0) == 'O' && bytes(1) == 'g' && bytes(2) == 'g' && bytes(3) == 'S'

  /** Codec-dispatched Ogg audio metadata (round 10): the page walk is
    * codec-independent; the FIRST packet's magic picks the id-header
    * parse — "OpusHead" (RFC 7845 §5.1) or "\x01vorbis" (Vorbis I
    * spec §4.2.2, public). `preSkip` is 0 for Vorbis; `sampleRate` is
    * the Opus INPUT rate resp. the Vorbis stream rate; duration uses
    * the codec's granule convention (Opus granules are always 48 kHz,
    * Vorbis granules count samples at the stream rate). */
  final case class OggAudioMeta(
      codec: String, durationMs: Long, channels: Int, preSkip: Int,
      sampleRate: Long, nPages: Int, lastGranule: Long)

  /** Parse Opus-in-Ogg metadata; null for non-Ogg payloads, loud
    * failure for structurally corrupt ones AND for non-Opus Ogg
    * streams (callers wanting codec dispatch use [[parseAudio]]). */
  def parse(bytes: Array[Byte]): OpusMeta = {
    val a = parseAudio(bytes)
    if (a == null) return null
    require(a.codec == "opus", s"first packet is not OpusHead (${a.codec} stream)")
    OpusMeta(a.durationMs, a.channels, a.preSkip, a.sampleRate,
      a.nPages, a.lastGranule)
  }

  /** Parse Ogg audio metadata with codec dispatch (Opus or Vorbis);
    * null for non-Ogg payloads, loud failure for structurally corrupt
    * pages and for Ogg streams whose first packet is neither id
    * header (Theora/Speex/FLAC-in-Ogg stay fenced, loudly). */
  def parseAudio(bytes: Array[Byte]): OggAudioMeta = {
    if (!isOgg(bytes)) return null
    var off = 0
    var nPages = 0
    var lastGranule = 0L
    var channels = 0
    var preSkip = 0
    var rate = 0L
    var codec: String = null
    while (off < bytes.length) {
      require(off + 27 <= bytes.length, s"truncated page header at offset $off")
      require(bytes(off) == 'O' && bytes(off + 1) == 'g' &&
        bytes(off + 2) == 'g' && bytes(off + 3) == 'S',
        s"lost OggS capture at offset $off")
      require((bytes(off + 4) & 0xff) == 0, "unsupported Ogg version")
      val granule = Bytes.le64(bytes, off + 6)
      val nSegs = bytes(off + 26) & 0xff
      require(off + 27 + nSegs <= bytes.length, s"truncated segment table at offset $off")
      var bodyLen = 0
      var i = 0
      while (i < nSegs) { bodyLen += bytes(off + 27 + i) & 0xff; i += 1 }
      val body = off + 27 + nSegs
      require(body + bodyLen <= bytes.length, s"page body overruns at offset $off")
      if (nPages == 0) {
        // the id header is the FIRST packet of the FIRST page in both
        // mappings (RFC 7845 §5.1; Vorbis I §4.2.1)
        require(bodyLen >= 8, "first page too short for an id header")
        val magic = new String(bytes, body, 8, java.nio.charset.StandardCharsets.US_ASCII)
        if (magic == "OpusHead") {
          require(bodyLen >= 19, "first page too short for an OpusHead packet")
          require((bytes(body + 8) & 0xf0) == 0, "unsupported OpusHead major version")
          channels = bytes(body + 9) & 0xff
          require(channels > 0, "OpusHead channel count must be positive")
          preSkip = Bytes.le16(bytes, body + 10)
          rate = Bytes.le32u(bytes, body + 12)
          codec = "opus"
        } else if ((bytes(body) & 0xff) == 1 &&
            magic.regionMatches(1, "vorbis", 0, 6)) {
          // \x01 + "vorbis" + version(4 LE, must be 0) + channels(1) +
          // rate(4 LE) + bitrate max/nominal/min(12) + blocksizes(1) +
          // framing(1) = 30 bytes
          require(bodyLen >= 30, "first page too short for a Vorbis id header")
          require(Bytes.le32u(bytes, body + 7) == 0L, "unsupported Vorbis version")
          channels = bytes(body + 11) & 0xff
          require(channels > 0, "Vorbis channel count must be positive")
          rate = Bytes.le32u(bytes, body + 12)
          require(rate > 0, "Vorbis sample rate must be positive")
          require((bytes(body + 29) & 1) == 1, "Vorbis id-header framing bit unset")
          codec = "vorbis"
        } else {
          throw new IllegalArgumentException(
            s"first packet is neither OpusHead nor a Vorbis id header (got '$magic')")
        }
      }
      // granule −1 marks a page with no completed packets — skip it
      if (granule != -1L) lastGranule = granule
      nPages += 1
      off = body + bodyLen
    }
    require(codec != null, "no pages found")
    // Opus: granules at 48 kHz minus pre-skip (RFC 7845 §4).
    // Vorbis: granules are PCM position at the STREAM rate, no skip.
    val durationMs =
      if (codec == "opus") math.max(0L, lastGranule - preSkip) * 1000L / 48000L
      else lastGranule * 1000L / rate
    OggAudioMeta(codec, durationMs, channels, preSkip, rate, nPages,
      lastGranule)
  }

  /** One single-segment Ogg page (version 0, CRC left zero — the
    * metadata walk does not verify CRCs; real demuxers would). Shared
    * by both skeleton encoders so the page layout lives in one place. */
  private def writePage(out: java.io.ByteArrayOutputStream, serial: Int)(
      headerType: Int, granule: Long, seq: Int, segLen: Int): Unit = {
    out.write('O'); out.write('g'); out.write('g'); out.write('S')
    out.write(0) // version
    out.write(headerType)
    for (i <- 0 until 8) out.write(((granule >> (8 * i)) & 0xff).toInt)
    for (i <- 0 until 4) out.write((serial >> (8 * i)) & 0xff)
    for (i <- 0 until 4) out.write((seq >> (8 * i)) & 0xff)
    for (_ <- 0 until 4) out.write(0) // CRC zero
    out.write(1) // one segment
    out.write(segLen)
  }

  /** Minimal spec-valid Opus-in-Ogg skeleton: page 0 = OpusHead (BOS),
    * page 1 = one data segment of `dataBytes` 0xA5 filler with the
    * final granule position (EOS). Size closed form:
    * `28 + 19 + 28 + dataBytes` (dataBytes ≤ 255). */
  def encode(samples: Long, channels: Int, preSkip: Int,
      inputSampleRate: Long, dataBytes: Int = 40): Array[Byte] = {
    require(samples >= 0 && channels >= 1 && channels <= 8 && preSkip >= 0 &&
      preSkip <= 0xffff && inputSampleRate > 0 && dataBytes >= 1 && dataBytes <= 255,
      s"bad spec samples=$samples ch=$channels preSkip=$preSkip rate=$inputSampleRate")
    val out = new java.io.ByteArrayOutputStream()
    val page = writePage(out, 0x47524654) _
    // page 0: BOS (0x02), granule 0, OpusHead (19 bytes)
    page(0x02, 0L, 0, 19)
    "OpusHead".foreach(c => out.write(c.toInt))
    out.write(1) // version
    out.write(channels)
    out.write(preSkip & 0xff); out.write((preSkip >> 8) & 0xff)
    for (i <- 0 until 4) out.write(((inputSampleRate >> (8 * i)) & 0xff).toInt)
    out.write(0); out.write(0) // output gain 0
    out.write(0) // mapping family 0
    // page 1: EOS (0x04), final granule = preSkip + samples
    page(0x04, preSkip.toLong + samples, 1, dataBytes)
    for (i <- 0 until dataBytes) out.write(0xa5)
    val r = out.toByteArray
    assert(r.length == 28 + 19 + 28 + dataBytes,
      s"size bookkeeping off: ${r.length}")
    r
  }

  /** Minimal spec-valid Vorbis-in-Ogg skeleton: page 0 = the 30-byte
    * id header (BOS), page 1 = one data segment of `dataBytes` 0x5A
    * filler with the final granule position (EOS). Vorbis granules are
    * PCM sample position at the STREAM rate, so duration round-trips
    * as `samples·1000/sampleRate`. Size closed form:
    * `28 + 30 + 28 + dataBytes` (dataBytes ≤ 255). */
  def encodeVorbis(samples: Long, channels: Int, sampleRate: Long,
      dataBytes: Int = 40): Array[Byte] = {
    require(samples >= 0 && channels >= 1 && channels <= 8 &&
      sampleRate > 0 && sampleRate <= 0xffffffffL &&
      dataBytes >= 1 && dataBytes <= 255,
      s"bad spec samples=$samples ch=$channels rate=$sampleRate")
    val out = new java.io.ByteArrayOutputStream()
    val page = writePage(out, 0x47524656) _
    // page 0: BOS, granule 0, 30-byte Vorbis id header
    page(0x02, 0L, 0, 30)
    out.write(1) // packet type 1 = identification
    "vorbis".foreach(c => out.write(c.toInt))
    for (_ <- 0 until 4) out.write(0) // version 0
    out.write(channels)
    for (i <- 0 until 4) out.write(((sampleRate >> (8 * i)) & 0xff).toInt)
    for (_ <- 0 until 12) out.write(0) // bitrate max/nominal/min unset
    out.write(0xb8) // blocksizes 256/2048 (log2 8 | log2 11 << 4)
    out.write(1)    // framing bit
    // page 1: EOS, final granule = samples at the stream rate
    page(0x04, samples, 1, dataBytes)
    for (_ <- 0 until dataBytes) out.write(0x5a)
    val r = out.toByteArray
    assert(r.length == 28 + 30 + 28 + dataBytes,
      s"size bookkeeping off: ${r.length}")
    r
  }
}
