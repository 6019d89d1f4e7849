package graft.operators

/** MP3 (MPEG-1/2/2.5 Audio Layer I/II/III, ISO 11172-3 / 13818-3 —
  * public specs) METADATA parsing — the compressed-audio leg of the
  * multimodal tier, mirroring [[Mp4Meta]]'s scope split: what a 100 TB
  * curation pipeline filters on — duration, sample rate, channel
  * layout, bitrate, CBR/VBR — lives in the fixed-layout 32-bit frame
  * headers this parses by hand; PCM sample DECODE (Huffman + IMDCT +
  * synthesis filterbank) stays honestly fenced in [[WavCodec]] /
  * (fence re-examined round 11: unlike zstd's predefined FSE
  * distributions — short normalized-count lists restated in running
  * RFC text — Layer III decode needs the 34 Huffman code tables, the
  * scalefactor band boundaries per sample rate, and the 512-entry
  * synthesis window D[i], all published only as NUMERIC TABLES in
  * ISO/IEC 11172-3 annexes with no closed forms to derive them from;
  * transcribing thousands of table constants is copying, not
  * deriving, so the fence stays) /
  * `Multimodal.audio_features`.
  *
  * Corpus policy, stated loudly: most real-crawl audio is MP3, so a
  * WAV-only `audio_features` ingest fences out the majority class for
  * FEATURE extraction; this parser brings that class back inside the
  * fence for metadata-level filtering, dedup keys (duration ×
  * bitrate × samplerate fingerprints) and corpus stats. Pipelines
  * needing PCM features from MP3 must transcode upstream.
  *
  * Handled framing, all from the public specs:
  *  - ID3v2 prefix (syncsafe 28-bit size) skipped; ID3v1 128-byte
  *    "TAG" trailer accepted at EOF;
  *  - every frame header validated (sync, version, layer, bitrate
  *    index, sample-rate index) and advanced by the exact frame-length
  *    formula (Layer I: (12·bit/rate + pad)·4; II/III:
  *    spf/8·bit/rate + pad);
  *  - a literal "Xing" tag in the first frame (the LAME convention
  *    location after the Layer III side info) marks the stream VBR;
  *    the CBR "Info" variant does not, and the tag's declared frame
  *    count is ignored — duration comes from the exact frame walk;
  *  - desync mid-stream fails loudly — a crawl wrapper decides the
  *    null-vs-throw policy, exactly as with the image codecs.
  */
object Mp3Meta {

  /** Parsed stream metadata. `bitrateKbps` is the exact average over
    * frames (rounded down); `vbr` is true when frame bitrates differ
    * or a Xing/VBRI tag is present. */
  final case class AudioMeta(
      durationMs: Long, sampleRate: Int, channels: Int, nFrames: Long,
      bitrateKbps: Int, vbr: Boolean)

  // bitrate tables, kbps, index 1..14 (0 = free-format: unsupported,
  // 15 = illegal) — ISO 11172-3 table B.1 / 13818-3
  private val BitrateV1 = Array(
    // layer I, II, III columns for MPEG-1
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private val BitrateV2 = Array(
    // layer I and (II = III) for MPEG-2 / 2.5
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private val SampleRate = Map(
    3 -> Array(44100, 48000, 32000), // MPEG-1
    2 -> Array(22050, 24000, 16000), // MPEG-2
    0 -> Array(11025, 12000, 8000))  // MPEG-2.5

  /** One parsed frame header. */
  private final case class Frame(
      version: Int, layer: Int, bitrateKbps: Int, sampleRate: Int,
      padding: Int, channels: Int, frameBytes: Int, samples: Int,
      crc: Boolean)

  private def parseHeader(b: Array[Byte], off: Int): Frame = {
    val h = Bytes.be32(b, off)
    require((h >>> 21) == 0x7ff, f"lost frame sync at offset $off (0x$h%08x)")
    val version = (h >>> 19) & 3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    require(version != 1, "reserved MPEG version id")
    val layerBits = (h >>> 17) & 3 // 3=I, 2=II, 1=III
    require(layerBits != 0, "reserved layer id")
    val layer = 4 - layerBits // 1, 2, 3
    val crc = ((h >>> 16) & 1) == 0
    val bitIdx = (h >>> 12) & 0xf
    require(bitIdx != 15, "illegal bitrate index 15")
    require(bitIdx != 0, "free-format bitrate not supported")
    val srIdx = (h >>> 10) & 3
    require(srIdx != 3, "reserved sample-rate index")
    val padding = (h >>> 9) & 1
    val mode = (h >>> 6) & 3 // 3 = mono
    val table = if (version == 3) BitrateV1 else BitrateV2
    val kbps = table(layer - 1)(bitIdx)
    val sr = SampleRate(version)(srIdx)
    // samples per frame: L1 384; L2 1152; L3 1152 (MPEG-1) / 576 (2, 2.5)
    val spf = layer match {
      case 1 => 384
      case 2 => 1152
      case _ => if (version == 3) 1152 else 576
    }
    val frameBytes =
      if (layer == 1) (12 * kbps * 1000 / sr + padding) * 4
      else spf / 8 * kbps * 1000 / sr + padding
    Frame(version, layer, kbps, sr, padding,
      if (mode == 3) 1 else 2, frameBytes, spf, crc)
  }

  /** True iff the payload is MP3-shaped: a valid MPEG frame header at
    * offset 0, or an ID3v2 tag FOLLOWED by a valid MPEG frame header.
    * A bare 'ID3' prefix is NOT enough — ID3 tags are container-
    * agnostic (ID3+ADTS/AAC is routine in crawl audio), so claiming
    * every ID3 payload here would steal AAC streams from the
    * [[AacMeta]] probe and crash the dispatcher on valid audio. */
  def isMp3(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 4 &&
      (try { parseHeader(bytes, skipId3v2(bytes)); true }
       catch { case _: Exception => false })

  /** Skip an ID3v2 prefix if present (10-byte header + syncsafe size,
    * plus the 10-byte footer when flag bit 4 is set AND the tag is
    * v2.4+ — earlier versions define no footer, and the spec says
    * undefined flag bits should be ignored, so honoring bit 4 on a
    * v2.3 tag would overshoot into the first audio frame). Shared with
    * [[AacMeta]]: ID3 tags are container-agnostic. */
  private[operators] def skipId3v2(b: Array[Byte]): Int =
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      val footer = if ((b(3) & 0xff) >= 4 && (b(5) & 0x10) != 0) 10 else 0
      val end = 10 + size + footer
      require(end <= b.length, "ID3v2 tag overruns the payload")
      end
    } else 0

  /** True iff the first frame carries a literal "Xing" tag at the
    * LAME-convention offset (after the Layer III side info) — the VBR
    * signal. LAME writes "Info" for CBR streams, so Info is
    * deliberately NOT a VBR signal; the tag's optional declared frame
    * count is ignored entirely (duration comes from the actual frame
    * walk, which is exact). */
  private def hasXingVbrTag(b: Array[Byte], frameOff: Int, f: Frame): Boolean = {
    if (f.layer != 3) return false
    val side =
      if (f.version == 3) { if (f.channels == 1) 17 else 32 }
      else { if (f.channels == 1) 9 else 17 }
    val p = frameOff + 4 + (if (f.crc) 2 else 0) + side
    if (p + 4 > b.length || p + 4 > frameOff + f.frameBytes) return false
    new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII) == "Xing"
  }

  /** Parse stream metadata by walking every frame. Null for payloads
    * that are not MP3 at all; loud failure for corrupt/truncated
    * streams (mid-stream desync, partial trailing frame). */
  def parse(bytes: Array[Byte]): AudioMeta = {
    if (!isMp3(bytes)) return null
    var off = skipId3v2(bytes)
    // end: strip an ID3v1 trailer ("TAG" + 125 bytes) if present
    val end =
      if (bytes.length - off >= 128 + 4 &&
        bytes(bytes.length - 128) == 'T' && bytes(bytes.length - 127) == 'A' &&
        bytes(bytes.length - 126) == 'G') bytes.length - 128
      else bytes.length
    require(off + 4 <= end, "no audio frames after the ID3 tag")
    var nFrames = 0L
    var samples = 0L
    var kbpsSum = 0L
    var kbpsMin = Int.MaxValue
    var kbpsMax = 0
    var sampleRate = 0
    var channels = 0
    var xingVbrTag = false
    while (off + 4 <= end) {
      val f = parseHeader(bytes, off)
      require(off + f.frameBytes <= end,
        s"truncated trailing frame at offset $off (${end - off} of ${f.frameBytes} bytes)")
      if (nFrames == 0L) {
        sampleRate = f.sampleRate
        channels = f.channels
        xingVbrTag = hasXingVbrTag(bytes, off, f)
      } else {
        require(f.sampleRate == sampleRate,
          "sample-rate change mid-stream not supported")
      }
      nFrames += 1
      samples += f.samples
      kbpsSum += f.bitrateKbps
      kbpsMin = math.min(kbpsMin, f.bitrateKbps)
      kbpsMax = math.max(kbpsMax, f.bitrateKbps)
      off += f.frameBytes
    }
    require(nFrames > 0, "no MP3 frames found")
    // 1-3 trailing bytes would otherwise be silently swallowed by the
    // `off + 4 <= end` loop guard, contradicting the loud-desync contract
    require(off == end,
      s"${end - off} trailing non-frame bytes after the last MP3 frame")
    AudioMeta(
      durationMs = samples * 1000L / sampleRate,
      sampleRate = sampleRate,
      channels = channels,
      nFrames = nFrames,
      bitrateKbps = (kbpsSum / nFrames).toInt,
      vbr = kbpsMin != kbpsMax || xingVbrTag)
  }

  /** Emit a deterministic spec-valid MPEG-1 Layer III CBR stream:
    * `nFrames` frames at bitrate index `bitrateIdx` (1–14) and
    * sample-rate index `srIdx` (0–2), mono, no padding, no CRC,
    * filler payload bytes `(frame·251 + i·13) & 0xff`. Frame length
    * is the closed form `144000·kbps / sampleRate`, so gates can
    * predict total size and duration in SQL. */
  def encode(nFrames: Int, bitrateIdx: Int, srIdx: Int): Array[Byte] = {
    require(nFrames > 0, s"nFrames must be positive, got $nFrames")
    require(bitrateIdx >= 1 && bitrateIdx <= 14, s"bad bitrate index $bitrateIdx")
    require(srIdx >= 0 && srIdx <= 2, s"bad sample-rate index $srIdx")
    val kbps = BitrateV1(2)(bitrateIdx)
    val sr = SampleRate(3)(srIdx)
    val frameBytes = 144 * kbps * 1000 / sr
    val out = new Array[Byte](nFrames * frameBytes)
    var fr = 0
    while (fr < nFrames) {
      val o = fr * frameBytes
      // sync(11) version=11 layer=01 noCRC=1 | bitrate srIdx pad=0 priv=0
      // | mode=11 (mono) modeExt copyright original emphasis = 0
      out(o) = 0xff.toByte
      out(o + 1) = 0xfb.toByte
      out(o + 2) = ((bitrateIdx << 4) | (srIdx << 2)).toByte
      out(o + 3) = 0xc0.toByte
      var i = 4
      while (i < frameBytes) {
        out(o + i) = ((fr * 251 + i * 13) & 0xff).toByte
        i += 1
      }
      fr += 1
    }
    out
  }
}
