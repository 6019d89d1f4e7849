package graft.operators

/** Minimal WAV (RIFF PCM) codec over the PUBLIC byte layout — the
  * audio analog of the BMP work: RIFF/WAVE chunk framing with a
  * `fmt ` chunk and a `data` chunk of little-endian interleaved
  * samples. Decodes 16-bit PCM (format 1), 8-bit unsigned PCM
  * (format 1 — widened `(b−128)·256`), BOTH G.711 halves —
  * A-law (format 6) and µ-law (format 7), each the ITU-T closed-form
  * expansion; telephony-adjacent corpora carry both — and IMA/DVI
  * ADPCM (format 17), the classic 4-bit predictive WAV codec, as a
  * block-local integer state machine. Pure byte math,
  * no audio library; genuinely compressed
  * codecs (MP3/AAC/Opus — psychoacoustic transforms) stay honestly
  * out of scope the way JPEG's DCT was before [[JpegCodec]], and fail
  * loudly here.
  *
  * Everything is row-local payload work (used under `mapPartitions`
  * like the image kernels): parse/validate headers, exact integer
  * sample statistics, and decimation resample. Stats are INTEGER
  * (peak, sum, count) so an external SQL oracle replays them exactly
  * from the generator formula — the same contract the BMP/PNG gates
  * use.
  */
object WavCodec {

  /** Parsed PCM audio: interleaved 16-bit samples. */
  final case class Audio(
      channels: Int, sampleRate: Int, samples: Array[Short]) {
    /** Frames = samples per channel. */
    def frames: Int = samples.length / channels
    def durationMs: Long = frames.toLong * 1000L / sampleRate
  }

  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** True iff the payload starts with a RIFF/WAVE header. */
  def isWav(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 &&
      tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE"

  /** G.711 µ-law byte → linear 16-bit sample — the standard
    * closed-form expansion (ITU-T G.711 Table 2a, the classic Sun/
    * CCITT reference shape): complement, split sign/exponent/mantissa,
    * `((m·8 + 0x84) << e) − 0x84`, max magnitude 32124. */
  def ulawToLinear(u: Int): Int = {
    val x = ~u & 0xff
    val e = (x >> 4) & 7
    val m = x & 0xf
    val mag = (((m << 3) + 0x84) << e) - 0x84
    if ((x & 0x80) != 0) -mag else mag
  }

  /** Linear 16-bit sample → G.711 µ-law byte (the matching
    * compressor): clip to 32635, add the 0x84 bias, exponent = top-bit
    * position of `biased >> 7`, complement. Decode→encode is the
    * identity on every byte except 0x7f (negative zero collapses onto
    * 0xff, the spec's own degeneracy). */
  def linearToUlaw(s: Int): Int = {
    val sign = if (s < 0) 0x80 else 0
    var mag = if (s < 0) -s else s
    if (mag > 32635) mag = 32635
    mag += 0x84
    var e = 7
    while (e > 0 && (mag >> (e + 7)) == 0) e -= 1
    val m = (mag >> (e + 3)) & 0xf
    ~(sign | (e << 4) | m) & 0xff
  }

  /** G.711 A-law byte → linear 16-bit sample — the standard
    * closed-form expansion (ITU-T G.711 Table 1a; the classic Sun/
    * CCITT reference shape): XOR 0x55, split sign/exponent/mantissa,
    * segment 0 is linear (`(m·16)+8`), higher segments
    * `((m·16)+0x108) << (e−1)`; max magnitude 32256. The sign bit is
    * UNTOUCHED by the 0x55 toggle, and SET means positive — A-law's
    * convention is the reverse of µ-law's complement. */
  def alawToLinear(a: Int): Int = {
    val x = (a ^ 0x55) & 0xff
    val e = (x >> 4) & 7
    val m = x & 0xf
    val mag = if (e == 0) (m << 4) + 8 else ((m << 4) + 0x108) << (e - 1)
    if ((x & 0x80) != 0) mag else -mag
  }

  /** Linear 16-bit sample → G.711 A-law byte (the matching
    * compressor): drop 3 LSBs, segment by magnitude thresholds
    * ((0x20≪k)−1), mantissa from the segment-scaled remainder, XOR mask
    * 0xD5 (positive) / 0x55 (negative). `encodeALaw(decode(...))` is
    * the identity on ALL 256 codes (unlike µ-law, A-law has no
    * negative-zero collapse — both zero codes survive; pinned in
    * WavCodecSpec). */
  def linearToAlaw(s: Int): Int = {
    var v = s >> 3 // arithmetic: keeps the sign, drops the 3 sub-step bits
    val mask = if (v >= 0) 0xd5 else { v = -v - 1; 0x55 }
    var seg = 0
    while (seg < 8 && v >= (0x20 << seg)) seg += 1
    if (seg >= 8) 0x7f ^ mask
    else {
      val shift = if (seg < 2) 1 else seg
      ((seg << 4) | ((v >> shift) & 0xf)) ^ mask
    }
  }

  /** Full parse: walk the chunk list, read `fmt ` and `data`.
    * Supported encodings: PCM16, unsigned PCM8, A-law, µ-law —
    * everything else (IEEE float, ADPCM, MP3-in-WAV, ...) fails
    * loudly rather than mis-read samples. */
  def decode(bytes: Array[Byte]): Audio = {
    require(isWav(bytes), "not a RIFF/WAVE payload")
    var off = 12
    var channels = -1
    var rate = -1
    var bits = -1
    var fmt = -1
    var blockAlign = -1
    var spb = -1
    var data: Array[Short] = null
    while (off + 8 <= bytes.length) {
      val id = tag(bytes, off)
      val len = Bytes.le32(bytes, off + 4)
      // compare in Long: a corrupt length near 2^31 would overflow the
      // Int sum to negative and sail past this check into a huge
      // allocation instead of the intended clean failure
      require(len >= 0 && off + 8 + len.toLong <= bytes.length, s"truncated chunk '$id'")
      id match {
        case "fmt " =>
          require(len >= 16, "fmt chunk too short")
          fmt = Bytes.le16(bytes, off + 8)
          require(fmt == 1 || fmt == 6 || fmt == 7 || fmt == 17,
            s"only PCM (1), A-law (6), mu-law (7) and IMA ADPCM (17) supported, got $fmt")
          channels = Bytes.le16(bytes, off + 10)
          rate = Bytes.le32(bytes, off + 12)
          bits = Bytes.le16(bytes, off + 22)
          require(channels >= 1 && channels <= 8, s"bad channel count $channels")
          require(rate > 0, s"bad sample rate $rate")
          if (fmt == 1)
            require(bits == 16 || bits == 8,
              s"only 8/16-bit PCM supported, got $bits")
          else if (fmt == 17) {
            require(bits == 4, s"IMA ADPCM must be 4-bit, got $bits")
            require(len >= 20, "IMA ADPCM fmt chunk missing samplesPerBlock")
            blockAlign = Bytes.le16(bytes, off + 20)
            spb = Bytes.le16(bytes, off + 26)
            require(blockAlign > 4 * channels && spb >= 2,
              s"bad ADPCM framing (blockAlign $blockAlign, spb $spb)")
          } else
            require(bits == 8, s"G.711 must be 8-bit, got $bits")
        case "data" if fmt == 17 =>
          require(channels > 0, "data chunk before fmt")
          data = decodeImaData(bytes, off + 8, len, channels, blockAlign, spb)
        case "data" =>
          require(channels > 0, "data chunk before fmt")
          // frame alignment, every encoding: a data chunk that ends
          // mid-frame is malformed — fail loudly like every other
          // corrupt-payload case instead of silently truncating the
          // partial trailing frame
          val bytesPer = if (fmt == 1 && bits == 16) 2 else 1
          require(len % (channels * bytesPer) == 0,
            s"partial frame in data chunk (len $len, $channels ch x $bytesPer B)")
          if (fmt == 1 && bits == 16) {
            data = new Array[Short](len / 2)
            var i = 0
            while (i < data.length) {
              data(i) = Bytes.le16(bytes, off + 8 + 2 * i).toShort
              i += 1
            }
          } else if (fmt == 1) { // unsigned 8-bit PCM, midpoint 128
            data = new Array[Short](len)
            var i = 0
            while (i < data.length) {
              data(i) = (((bytes(off + 8 + i) & 0xff) - 128) << 8).toShort
              i += 1
            }
          } else if (fmt == 6) { // A-law
            data = new Array[Short](len)
            var i = 0
            while (i < data.length) {
              data(i) = alawToLinear(bytes(off + 8 + i) & 0xff).toShort
              i += 1
            }
          } else { // mu-law
            data = new Array[Short](len)
            var i = 0
            while (i < data.length) {
              data(i) = ulawToLinear(bytes(off + 8 + i) & 0xff).toShort
              i += 1
            }
          }
        case _ => () // LIST/INFO/fact/... skipped
      }
      off += 8 + len + (len & 1) // chunks are word-aligned (RIFF spec)
    }
    require(data != null, "missing data chunk")
    require(data.length % channels == 0, "sample count not divisible by channels")
    Audio(channels, rate, data)
  }

  /** Header-only metadata: sample rate, channels, frame count and
    * format tag, from the fmt chunk plus the data chunk's LENGTH —
    * same chunk walk and the same loud-failure validation as
    * [[decode]], but no per-sample conversion and no PCM allocation.
    * This is the right call for metadata-only dispatch at corpus
    * scale (a full [[decode]] is O(payload) CPU + ~2× payload memory
    * per row just to report three header fields). */
  final case class WavMeta(
      sampleRate: Int, channels: Int, frames: Long, formatTag: Int) {
    def durationMs: Long = frames * 1000L / sampleRate
  }

  def meta(bytes: Array[Byte]): WavMeta = {
    require(isWav(bytes), "not a RIFF/WAVE payload")
    var off = 12
    var channels = -1
    var rate = -1
    var bits = -1
    var fmt = -1
    var blockAlign = -1
    var spb = -1
    var frames = -1L
    while (off + 8 <= bytes.length) {
      val id = tag(bytes, off)
      val len = Bytes.le32(bytes, off + 4)
      require(len >= 0 && off + 8 + len.toLong <= bytes.length, s"truncated chunk '$id'")
      id match {
        case "fmt " =>
          require(len >= 16, "fmt chunk too short")
          fmt = Bytes.le16(bytes, off + 8)
          require(fmt == 1 || fmt == 6 || fmt == 7 || fmt == 17,
            s"only PCM (1), A-law (6), mu-law (7) and IMA ADPCM (17) supported, got $fmt")
          channels = Bytes.le16(bytes, off + 10)
          rate = Bytes.le32(bytes, off + 12)
          bits = Bytes.le16(bytes, off + 22)
          require(channels >= 1 && channels <= 8, s"bad channel count $channels")
          require(rate > 0, s"bad sample rate $rate")
          if (fmt == 1)
            require(bits == 16 || bits == 8,
              s"only 8/16-bit PCM supported, got $bits")
          else if (fmt == 17) {
            require(bits == 4, s"IMA ADPCM must be 4-bit, got $bits")
            require(len >= 20, "IMA ADPCM fmt chunk missing samplesPerBlock")
            blockAlign = Bytes.le16(bytes, off + 20)
            spb = Bytes.le16(bytes, off + 26)
            require(blockAlign > 4 * channels && spb >= 2,
              s"bad ADPCM framing (blockAlign $blockAlign, spb $spb)")
          } else
            require(bits == 8, s"G.711 must be 8-bit, got $bits")
        case "data" if fmt == 17 =>
          require(channels > 0, "data chunk before fmt")
          require(len > 0 && len % blockAlign == 0,
            s"partial ADPCM block (len $len, blockAlign $blockAlign)")
          frames = len.toLong / blockAlign * spb
        case "data" =>
          require(channels > 0, "data chunk before fmt")
          val bytesPer = if (fmt == 1 && bits == 16) 2 else 1
          require(len % (channels * bytesPer) == 0,
            s"partial frame in data chunk (len $len, $channels ch x $bytesPer B)")
          frames = len.toLong / (channels * bytesPer)
        case _ => ()
      }
      off += 8 + len + (len & 1)
    }
    require(frames >= 0, "missing data chunk")
    WavMeta(rate, channels, frames, fmt)
  }

  /** Serialize PCM16 audio as a canonical 44-byte-header WAV —
    * deterministic byte-for-byte, size = `44 + 2·samples` (the closed
    * form the SQL oracle recomputes). */
  def encode(a: Audio): Array[Byte] = {
    require(a.samples.length % a.channels == 0, "partial frame")
    val out = header(a, fmtTag = 1, bits = 16)
    var i = 0
    while (i < a.samples.length) {
      val v = a.samples(i) & 0xffff
      out(44 + 2 * i) = (v & 0xff).toByte
      out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Serialize as unsigned 8-bit PCM (quantize: high byte + 128) —
    * canonical 44-byte header, size = `44 + samples`. Lossy by 8 bits;
    * `decode(encodePcm8(a))` returns each sample floored to its
    * 256-multiple, the closed form the SQL oracle replays. */
  def encodePcm8(a: Audio): Array[Byte] = {
    require(a.samples.length % a.channels == 0, "partial frame")
    val out = header(a, fmtTag = 1, bits = 8)
    var i = 0
    while (i < a.samples.length) {
      out(44 + i) = (((a.samples(i) >> 8) + 128) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Serialize as G.711 µ-law (format 7) — canonical 44-byte header
    * (16-byte fmt chunk: our own decoder and common parsers accept it;
    * the cbSize extension is optional for readers), size =
    * `44 + samples`. `decode(encodeMuLaw(a))` returns each sample
    * quantized through the µ-law companding ladder. */
  def encodeMuLaw(a: Audio): Array[Byte] = {
    require(a.samples.length % a.channels == 0, "partial frame")
    val out = header(a, fmtTag = 7, bits = 8)
    var i = 0
    while (i < a.samples.length) {
      out(44 + i) = linearToUlaw(a.samples(i).toInt).toByte
      i += 1
    }
    out
  }

  /** Serialize as G.711 A-law (format 6) — canonical 44-byte header,
    * size = `44 + samples`. `decode(encodeALaw(a))` returns each
    * sample quantized through the A-law companding ladder. */
  def encodeALaw(a: Audio): Array[Byte] = {
    require(a.samples.length % a.channels == 0, "partial frame")
    val out = header(a, fmtTag = 6, bits = 8)
    var i = 0
    while (i < a.samples.length) {
      out(44 + i) = linearToAlaw(a.samples(i).toInt).toByte
      i += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // IMA (DVI) ADPCM — WAV format 17, the classic 4-bit predictive WAV
  // codec (the public IMA ADPCM reference algorithm: 89-entry step
  // table, 3-bit-magnitude index adjustment, step/2/4 successive
  // quantizer). Every operation is integer, so an external SQL oracle
  // replays encode AND decode exactly via a recursive state chain.
  // ------------------------------------------------------------------

  /** IMA ADPCM step-size table (89 entries). */
  val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Index adjustment by nibble magnitude (low 3 bits). */
  val ImaIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One decoder step: apply nibble `n` to (pred, index); the new
    * predictor IS the decoded sample. */
  def imaStep(pred: Int, index: Int, n: Int): (Int, Int) = {
    val step = ImaStepTable(index)
    var dq = step >> 3
    if ((n & 4) != 0) dq += step
    if ((n & 2) != 0) dq += step >> 1
    if ((n & 1) != 0) dq += step >> 2
    val p = if ((n & 8) != 0) pred - dq else pred + dq
    val pc = math.max(-32768, math.min(32767, p))
    val ic = math.max(0, math.min(88, index + ImaIndexTable(n & 7)))
    (pc, ic)
  }

  /** Encoder nibble choice for target `s` from state (pred, index) —
    * the reference successive-subtraction quantizer. The encoder then
    * advances its state with [[imaStep]] on the chosen nibble, staying
    * in exact lockstep with every conforming decoder. */
  def imaEncodeNibble(s: Int, pred: Int, index: Int): Int = {
    val step = ImaStepTable(index)
    var diff = s - pred
    var n = if (diff < 0) { diff = -diff; 8 } else 0
    if (diff >= step) { n |= 4; diff -= step }
    if (diff >= (step >> 1)) { n |= 2; diff -= step >> 1 }
    if (diff >= (step >> 2)) n |= 1
    n
  }

  /** Serialize as IMA ADPCM (format 17), mono or stereo. Blocks are
    * INDEPENDENT: each block header re-seeds the predictor with the
    * block's first sample and the step index with 0 — so decode is
    * block-parallel (the corpus-scale shape: a 100 TB audio scan can
    * split WITHIN a payload), and the SQL oracle replays one block
    * recursion with no cross-block carry. Real-world files that carry
    * the index across blocks still DECODE correctly here — the decoder
    * trusts each header's stored index; only this encoder pins 0.
    * Layout per block and channel: 4-byte header (predictor i16 LE,
    * step index u8, reserved), then nibble data — mono packs nibbles
    * low-first in consecutive bytes; stereo alternates 4-byte
    * (8-nibble) chunks per channel. `frames` must fill whole blocks
    * and `samplesPerBlock−1` nibbles must fill whole bytes (mono) or
    * chunks (stereo). */
  def encodeImaAdpcm(a: Audio, samplesPerBlock: Int = 505): Array[Byte] = {
    val ch = a.channels
    val spb = samplesPerBlock
    require(ch == 1 || ch == 2, s"IMA ADPCM here is mono/stereo, got $ch channels")
    require(spb >= 2 && (spb - 1) % (if (ch == 2) 8 else 2) == 0,
      s"samplesPerBlock $spb does not fill whole ${if (ch == 2) "chunks" else "bytes"}")
    require(a.frames > 0 && a.frames % spb == 0,
      s"frames ${a.frames} must fill whole $spb-sample blocks")
    val nBlocks = a.frames / spb
    val blockAlign = 4 * ch + ((spb - 1) / 2) * ch
    val dataLen = nBlocks * blockAlign
    // RIFF(12) + fmt(8+20) + fact(8+4) + data(8+dataLen)
    val out = new Array[Byte](12 + 28 + 12 + 8 + dataLen)
    def putTag(off: Int, s: String): Unit =
      for (i <- 0 until 4) out(off + i) = s.charAt(i).toByte
    def putLe16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def putLe32(off: Int, v: Int): Unit = {
      putLe16(off, v & 0xffff); putLe16(off + 2, (v >>> 16) & 0xffff)
    }
    putTag(0, "RIFF"); putLe32(4, out.length - 8); putTag(8, "WAVE")
    putTag(12, "fmt "); putLe32(16, 20)
    putLe16(20, 17); putLe16(22, ch); putLe32(24, a.sampleRate)
    putLe32(28, (a.sampleRate.toLong * blockAlign / spb).toInt) // avg byte rate
    putLe16(32, blockAlign); putLe16(34, 4)
    putLe16(36, 2); putLe16(38, spb)
    putTag(40, "fact"); putLe32(44, 4); putLe32(48, a.frames)
    putTag(52, "data"); putLe32(56, dataLen)
    var b = 0
    while (b < nBlocks) {
      val blockOff = 60 + b * blockAlign
      var c = 0
      while (c < ch) {
        var pred = a.samples((b * spb) * ch + c).toInt
        var idx = 0
        putLe16(blockOff + 4 * c, pred & 0xffff)
        out(blockOff + 4 * c + 2) = idx.toByte
        out(blockOff + 4 * c + 3) = 0
        val dataOff = blockOff + 4 * ch
        var j = 0
        while (j < spb - 1) {
          val s = a.samples((b * spb + 1 + j) * ch + c).toInt
          val n = imaEncodeNibble(s, pred, idx)
          val st = imaStep(pred, idx, n)
          pred = st._1; idx = st._2
          val byteOff =
            if (ch == 1) dataOff + (j >> 1)
            else dataOff + (j >> 3) * 8 + c * 4 + ((j & 7) >> 1)
          if ((j & 1) == 0) out(byteOff) = (n & 0xf).toByte
          else out(byteOff) = (out(byteOff) | (n << 4)).toByte
          j += 1
        }
        c += 1
      }
      b += 1
    }
    out
  }

  /** Decode the data chunk of an IMA ADPCM WAV into interleaved PCM16
    * (used by [[decode]] for format 17). Block-local state; trusts
    * each block header's predictor and index. */
  private def decodeImaData(bytes: Array[Byte], off: Int, len: Int,
      ch: Int, blockAlign: Int, spb: Int): Array[Short] = {
    require(ch == 1 || ch == 2, s"IMA ADPCM here is mono/stereo, got $ch channels")
    require(blockAlign == 4 * ch + ((spb - 1) / 2) * ch,
      s"blockAlign $blockAlign inconsistent with $spb samples/block x $ch ch")
    require(len > 0 && len % blockAlign == 0,
      s"partial ADPCM block (len $len, blockAlign $blockAlign)")
    val nBlocks = len / blockAlign
    val outS = new Array[Short](nBlocks * spb * ch)
    var b = 0
    while (b < nBlocks) {
      val blockOff = off + b * blockAlign
      var c = 0
      while (c < ch) {
        var pred = ((bytes(blockOff + 4 * c) & 0xff) |
          (bytes(blockOff + 4 * c + 1) << 8)).toShort.toInt
        var idx = bytes(blockOff + 4 * c + 2) & 0xff
        require(idx <= 88, s"ADPCM step index $idx out of range")
        outS((b * spb) * ch + c) = pred.toShort
        val dataOff = blockOff + 4 * ch
        var j = 0
        while (j < spb - 1) {
          val byteOff =
            if (ch == 1) dataOff + (j >> 1)
            else dataOff + (j >> 3) * 8 + c * 4 + ((j & 7) >> 1)
          val n = if ((j & 1) == 0) bytes(byteOff) & 0xf
            else (bytes(byteOff) >> 4) & 0xf
          val st = imaStep(pred, idx, n)
          pred = st._1; idx = st._2
          outS((b * spb + 1 + j) * ch + c) = pred.toShort
          j += 1
        }
        c += 1
      }
      b += 1
    }
    outS
  }

  /** Canonical 44-byte RIFF/fmt/data header for 1-byte-per-sample
    * encodings (bits = 8) or PCM16 (bits = 16). */
  private def header(a: Audio, fmtTag: Int, bits: Int): Array[Byte] = {
    val bytesPer = bits / 8
    val dataLen = a.samples.length * bytesPer
    val out = new Array[Byte](44 + dataLen)
    def putTag(off: Int, s: String): Unit =
      for (i <- 0 until 4) out(off + i) = s.charAt(i).toByte
    def putLe16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def putLe32(off: Int, v: Int): Unit = {
      putLe16(off, v & 0xffff); putLe16(off + 2, (v >>> 16) & 0xffff)
    }
    putTag(0, "RIFF"); putLe32(4, 36 + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); putLe32(16, 16)
    putLe16(20, fmtTag); putLe16(22, a.channels)
    putLe32(24, a.sampleRate)
    putLe32(28, a.sampleRate * a.channels * bytesPer) // byte rate
    putLe16(32, a.channels * bytesPer)                // block align
    putLe16(34, bits)
    putTag(36, "data"); putLe32(40, dataLen)
    out
  }

  /** Decimation resample: keep every `factor`-th FRAME (all channels
    * of it) — the integer-exact downsample (no interpolation, so the
    * kept samples are bit-identical to the source's and an external
    * oracle can replay them). Output sample rate divides accordingly;
    * rate must be divisible by `factor` so durations stay exact. */
  def decimate(a: Audio, factor: Int): Audio = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(a.sampleRate % factor == 0,
      s"sample rate ${a.sampleRate} not divisible by $factor")
    if (factor == 1) return a
    val outFrames = (a.frames + factor - 1) / factor
    val out = new Array[Short](outFrames * a.channels)
    var f = 0
    while (f < outFrames) {
      var c = 0
      while (c < a.channels) {
        out(f * a.channels + c) = a.samples(f * factor * a.channels + c)
        c += 1
      }
      f += 1
    }
    Audio(a.channels, a.sampleRate / factor, out)
  }

  /** Downmix interleaved channels to mono: per frame the channel
    * average under FLOOR division `⌊Σ/channels⌋` (floor, not
    * truncate-toward-zero, so SQL `//` replays negative sums
    * exactly). Identity on mono input. The standard first step of
    * ASR-style audio curation (16 kHz mono). */
  def downmixMono(a: Audio): Audio = {
    if (a.channels == 1) a
    else {
      val out = new Array[Short](a.frames)
      var f = 0
      while (f < out.length) {
        var s = 0
        var c = 0
        while (c < a.channels) { s += a.samples(f * a.channels + c); c += 1 }
        out(f) = Math.floorDiv(s, a.channels).toShort
        f += 1
      }
      Audio(1, a.sampleRate, out)
    }
  }

  /** Linear-interpolation resample to an arbitrary target rate —
    * exact integer spec so an external oracle replays every output
    * sample:
    *   nOut = ⌊(frames−1)·toRate/fromRate⌋ + 1
    *   for output frame i: num = i·fromRate, idx = ⌊num/toRate⌋,
    *   rem = num − idx·toRate,
    *   out = x[idx] + ⌊(x[idx+1] − x[idx])·rem / toRate⌋  (floor div)
    * rem = 0 reads x[idx] bit-exactly (so integer-ratio upsampling
    * keeps source samples); rem > 0 implies idx+1 < frames (proof:
    * idx·toRate < num ≤ (frames−1)·toRate). Per-channel on
    * interleaved input; complements [[decimate]] (which is exact but
    * integer-factor-only). */
  def resampleLinear(a: Audio, toRate: Int): Audio = {
    require(toRate >= 1, s"target rate must be >= 1, got $toRate")
    if (toRate == a.sampleRate) a
    else {
      val frames = a.frames
      require(frames >= 2, s"resample needs at least 2 frames, got $frames")
      val nOut = Math.floorDiv((frames - 1).toLong * toRate, a.sampleRate).toInt + 1
      val out = new Array[Short](nOut * a.channels)
      var i = 0
      while (i < nOut) {
        val num = i.toLong * a.sampleRate
        val idx = (num / toRate).toInt
        val rem = (num - idx.toLong * toRate).toInt
        var c = 0
        while (c < a.channels) {
          val x0 = a.samples(idx * a.channels + c).toInt
          val v =
            if (rem == 0) x0
            else {
              val x1 = a.samples((idx + 1) * a.channels + c).toInt
              x0 + Math.floorDiv((x1 - x0).toLong * rem, toRate.toLong).toInt
            }
          out(i * a.channels + c) = v.toShort
          c += 1
        }
        i += 1
      }
      Audio(a.channels, toRate, out)
    }
  }

  /** Deterministic test/gate signal: sample i (interleaved order) is
    * `((id·7 + i·13) mod 65536) − 32768` — plain integer arithmetic
    * any engine replays. */
  def signal(id: Long, frames: Int, channels: Int, sampleRate: Int): Audio = {
    require(frames > 0 && channels >= 1, s"bad shape $frames x $channels")
    val s = new Array[Short](frames * channels)
    var i = 0
    while (i < s.length) {
      s(i) = (((id * 7 + i.toLong * 13) % 65536) - 32768).toShort
      i += 1
    }
    Audio(channels, sampleRate, s)
  }
}
