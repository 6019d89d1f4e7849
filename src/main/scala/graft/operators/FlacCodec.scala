package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

/** FLAC PCM codec, hand-written from the PUBLIC xiph.org FLAC format
  * specification (RFC 9639) — the lossless-audio DECODE leg that
  * [[FlacMeta]] (STREAMINFO metadata) deliberately left fenced until
  * the decode could be done honestly. Unlike MP3 (psychoacoustic
  * tables — permanently fenced), every FLAC decoding step is exact
  * integer arithmetic derivable from the spec, and the format carries
  * its own oracle: STREAMINFO stores the MD5 of the unencoded PCM, so
  * a decoder can PROVE its output right against a signature written by
  * an independent party (here: the encoder computes it directly from
  * source PCM before any encoding, and the decoder re-derives it from
  * decoded samples — byte equality is a round-trip proof).
  *
  * Subset (loud fences, per the repo policy): 16-bit samples, 1–8
  * channels, all block sizes, subframe types CONSTANT / VERBATIM /
  * FIXED(0–4) / LPC(1–32), both Rice methods incl. escape partitions,
  * wasted bits, and all four channel assignments (independent,
  * left/side, right/side, mid/side). Anything outside (bps ≠ 16,
  * reserved codes) fails loudly by name.
  *
  * Decoder verification: CRC-8 per frame header, CRC-16 per frame,
  * total-samples and MD5 against STREAMINFO. Encoder: fixed-predictor
  * search (orders 0–4) with exact-cost Rice parameter selection and
  * partitioned residuals, optional mid/side stereo and a quantized-LPC
  * mode. Two decode paths the encoder never emits — escape partitions
  * (raw two's-complement residuals) and the 5-bit Rice method
  * (method 1) — are exercised by hand-crafted bitstreams in
  * FlacCodecSpec ("hand-crafted stream: escape partitions" /
  * "5-bit rice method"), so every decoder path still has an in-repo
  * producer; it just isn't always the encoder.
  *
  * Reference scope anchor: the reference pipeline treats media as
  * opaque bytes + typed metadata (`docs/multimodal.md` analog); this
  * codec is the decode/feature-extract step of that contract done
  * natively. Row-local; payloads never shuffle.
  */
object FlacCodec {

  // ---- CRCs (spec polynomials, init 0) ---------------------------------

  /** CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), MSB-first. */
  private[graft] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), MSB-first. */
  private[graft] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ---- bit steps over the shared MSB-first reader and writer ----------

  /** n ≤ 32 signed (two's-complement) bits. */
  private def signed(r: MsbBitReader, n: Int): Int = {
    val v = r.bits(n)
    if (n == 32) v
    else if ((v & (1 << (n - 1))) != 0) v - (1 << n)
    else v
  }

  /** Unary: zero bits terminated by a one bit; returns the zero count. */
  private def unary(r: MsbBitReader): Int = {
    var q = 0
    while (r.bit() == 0) q += 1
    q
  }

  /** The spec pads subframe bits to the byte boundary with zeros. */
  private def alignZeros(r: MsbBitReader): Unit =
    require(r.bits((8 - (r.bitPos & 7).toInt) & 7) == 0, "flac frame padding bits must be zero")

  private def putUnary(w: MsbBitWriter, q0: Int): Unit = {
    var q = q0
    while (q >= 32) { w.putBits(0, 32); q -= 32 }
    w.putBits(1, q + 1)
  }

  // ---- shared tables ---------------------------------------------------

  /** Fixed-predictor coefficients by order (spec §, derived from the
    * polynomial predictor differences). */
  private def fixedPredict(s: Array[Int], i: Int, order: Int): Long = order match {
    case 0 => 0L
    case 1 => s(i - 1).toLong
    case 2 => 2L * s(i - 1) - s(i - 2)
    case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
    case 4 => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
    case other => throw new IllegalArgumentException(s"bad fixed order $other")
  }

  private def zigzag(v: Int): Long = (v.toLong << 1) ^ (v.toLong >> 63)

  // ---- decode ----------------------------------------------------------

  def isFlac(bytes: Array[Byte]): Boolean = FlacMeta.isFlac(bytes)

  /** Decoded stream + the STREAMINFO claims it was verified against. */
  final case class Decoded(audio: WavCodec.Audio, info: FlacMeta.FlacInfo,
      md5Matched: Boolean)

  /** Decode a full FLAC stream to interleaved 16-bit PCM. Verifies
    * every frame's CRC-8 and CRC-16, the total sample count, and the
    * STREAMINFO MD5 signature when present (nonzero); `md5Matched`
    * reports whether a signature was present and matched. */
  def decodeFull(bytes: Array[Byte]): Decoded = {
    require(isFlac(bytes), "not a FLAC stream (missing fLaC magic)")
    val info = FlacMeta.parse(bytes)
    require(info.bitsPerSample == 16,
      s"flac subset: 16-bit only, stream has ${info.bitsPerSample}")
    // STREAMINFO md5 lives at bytes 18..33 of the first block body
    val md5Claim = java.util.Arrays.copyOfRange(bytes, 8 + 18, 8 + 34)
    // skip metadata blocks
    var off = 4
    var last = false
    while (!last) {
      val h = bytes(off) & 0xff
      last = (h & 0x80) != 0
      val len = ((bytes(off + 1) & 0xff) << 16) | ((bytes(off + 2) & 0xff) << 8) |
        (bytes(off + 3) & 0xff)
      off += 4 + len
    }
    val nCh = info.channels
    val outs = new java.io.ByteArrayOutputStream(math.max(64,
      (info.totalSamples * nCh * 2).min(Int.MaxValue / 2).toInt))
    var total = 0L
    while (off < bytes.length) {
      val (next, block) = decodeFrame(bytes, off, info)
      var i = 0
      val bs = block(0).length
      while (i < bs) {
        var c = 0
        while (c < nCh) {
          val v = block(c)(i)
          require(v >= Short.MinValue && v <= Short.MaxValue,
            s"flac decoded sample $v out of 16-bit range")
          outs.write(v & 0xff); outs.write((v >> 8) & 0xff)
          c += 1
        }
        i += 1
      }
      total += bs
      off = next
    }
    if (info.totalSamples > 0)
      require(total == info.totalSamples,
        s"flac decoded $total samples, STREAMINFO claims ${info.totalSamples}")
    val pcm = outs.toByteArray
    val md5Matched =
      if (md5Claim.forall(_ == 0)) false
      else {
        val got = java.security.MessageDigest.getInstance("MD5").digest(pcm)
        require(java.util.Arrays.equals(got, md5Claim),
          "flac MD5 mismatch: decoded PCM does not match the STREAMINFO signature")
        true
      }
    val samples = new Array[Short](pcm.length / 2)
    var i = 0
    while (i < samples.length) {
      samples(i) = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
      i += 1
    }
    Decoded(WavCodec.Audio(nCh, info.sampleRate, samples), info, md5Matched)
  }

  /** [[decodeFull]] returning just the audio. */
  def decode(bytes: Array[Byte]): WavCodec.Audio = decodeFull(bytes).audio

  /** Decode one frame starting at `off`; returns (offset after frame,
    * per-channel sample arrays). */
  private def decodeFrame(b: Array[Byte], off: Int,
      info: FlacMeta.FlacInfo): (Int, Array[Array[Int]]) = {
    require(off + 5 <= b.length, s"truncated flac frame header at $off")
    require((b(off) & 0xff) == 0xff && ((b(off + 1) & 0xfc) == 0xf8),
      f"bad flac frame sync at $off: ${b(off) & 0xff}%02x${b(off + 1) & 0xff}%02x")
    require((b(off + 1) & 0x02) == 0, "reserved frame-header bit set")
    val r = new MsbBitReader(b, off + 2, b.length, "flac frame")
    val bsCode = r.bits(4)
    val srCode = r.bits(4)
    val chAsn = r.bits(4)
    val ssCode = r.bits(3)
    require(r.bit() == 0, "reserved frame-header bit set")
    // coded number (UTF-8-style, up to 36 bits) — validated, value
    // unused beyond structure (fixed-blocksize streams: frame index)
    val first = r.bits(8)
    var follow = 0
    var fv = first
    if ((first & 0x80) == 0) follow = 0
    else {
      var mask = 0x40
      while (mask != 0 && (first & mask) != 0) { follow += 1; mask >>= 1 }
      require(follow >= 1 && follow <= 6, s"bad coded-number lead byte $first")
      fv = first & (mask - 1)
    }
    var fi = 0
    var num = fv.toLong
    while (fi < follow) {
      val c = r.bits(8)
      require((c & 0xc0) == 0x80, s"bad coded-number continuation byte $c")
      num = (num << 6) | (c & 0x3f)
      fi += 1
    }
    val blockSize = bsCode match {
      case 0 => throw new IllegalArgumentException("reserved block-size code 0")
      case 1 => 192
      case n if n >= 2 && n <= 5 => 576 << (n - 2)
      case 6 => r.bits(8) + 1
      case 7 => r.bits(16) + 1
      case n => 256 << (n - 8)
    }
    srCode match {
      case 0 => () // from STREAMINFO
      case 12 => r.bits(8)
      case 13 | 14 => r.bits(16)
      case 15 => throw new IllegalArgumentException("invalid sample-rate code 15")
      case _ => () // table-coded rates need no extra bits
    }
    val bps = ssCode match {
      case 0 => info.bitsPerSample
      case 4 => 16
      case other => throw new IllegalArgumentException(
        s"flac subset: sample-size code $other unsupported (16-bit only)")
    }
    require(bps == 16, s"flac subset: 16-bit only, frame says $bps")
    require((r.bitPos & 7) == 0, "frame header must end byte-aligned")
    val crcWant = crc8(b, off, r.bytePos)
    val crcGot = r.bits(8)
    require(crcGot == crcWant,
      f"flac frame-header CRC-8 mismatch: got $crcGot%02x want $crcWant%02x")
    val nCh = info.channels
    val chans: Array[Array[Int]] = chAsn match {
      case a if a <= 7 =>
        require(a + 1 == nCh, s"frame says ${a + 1} channels, STREAMINFO $nCh")
        Array.tabulate(nCh)(c => decodeSubframe(r, blockSize, bps))
      case 8 | 9 | 10 =>
        require(nCh == 2, s"stereo channel assignment $chAsn with $nCh channels")
        // the side channel carries one extra bit
        val extra0 = if (chAsn == 9) 1 else 0
        val extra1 = if (chAsn == 8 || chAsn == 10) 1 else 0
        val c0 = decodeSubframe(r, blockSize, bps + extra0)
        val c1 = decodeSubframe(r, blockSize, bps + extra1)
        val l = new Array[Int](blockSize)
        val rr = new Array[Int](blockSize)
        var i = 0
        while (i < blockSize) {
          chAsn match {
            case 8 => l(i) = c0(i); rr(i) = c0(i) - c1(i) // left/side
            case 9 => rr(i) = c1(i); l(i) = c1(i) + c0(i) // side/right
            case _ => // mid/side
              val side = c1(i)
              val m2 = (c0(i) << 1) | (side & 1)
              l(i) = (m2 + side) >> 1
              rr(i) = (m2 - side) >> 1
          }
          i += 1
        }
        Array(l, rr)
      case other => throw new IllegalArgumentException(
        s"reserved channel assignment $other")
    }
    alignZeros(r)
    val end = r.bytePos
    val c16got = Bytes.be16(b, end)
    val c16want = crc16(b, off, end)
    require(c16got == c16want,
      f"flac frame CRC-16 mismatch: got $c16got%04x want $c16want%04x")
    (end + 2, chans)
  }

  private def decodeSubframe(r: MsbBitReader, blockSize: Int, bps: Int): Array[Int] = {
    require(r.bit() == 0, "subframe padding bit must be zero")
    val tp = r.bits(6)
    val wastedFlag = r.bit()
    val wasted = if (wastedFlag == 1) unary(r) + 1 else 0
    require(wasted < bps, s"wasted bits $wasted >= bps $bps")
    val eff = bps - wasted
    val out = new Array[Int](blockSize)
    tp match {
      case 0 => // CONSTANT
        val v = signed(r, eff)
        java.util.Arrays.fill(out, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { out(i) = signed(r, eff); i += 1 }
      case t if (t & 0x38) == 0x08 && (t & 0x07) <= 4 => // FIXED
        val order = t & 0x07
        require(order <= blockSize, s"fixed order $order > block size $blockSize")
        var i = 0
        while (i < order) { out(i) = signed(r, eff); i += 1 }
        decodeResidual(r, blockSize, order, out)
        i = order
        while (i < blockSize) {
          val v = fixedPredict(out, i, order) + out(i)
          require(v >= Int.MinValue && v <= Int.MaxValue, "fixed predictor overflow")
          out(i) = v.toInt
          i += 1
        }
      case t if (t & 0x20) != 0 => // LPC
        val order = (t & 0x1f) + 1
        require(order <= blockSize, s"lpc order $order > block size $blockSize")
        var i = 0
        while (i < order) { out(i) = signed(r, eff); i += 1 }
        val precM1 = r.bits(4)
        require(precM1 != 15, "invalid lpc precision code 15")
        val prec = precM1 + 1
        val shift = signed(r, 5)
        require(shift >= 0, s"negative lpc shift $shift")
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = signed(r, prec); i += 1 }
        decodeResidual(r, blockSize, order, out)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          val v = (acc >> shift) + out(i)
          require(v >= Int.MinValue && v <= Int.MaxValue, "lpc predictor overflow")
          out(i) = v.toInt
          i += 1
        }
      case other => throw new IllegalArgumentException(
        s"reserved subframe type $other")
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
    out
  }

  /** Rice-coded residual into out(order until blockSize) (as raw
    * residuals; prediction is applied by the caller). */
  private def decodeResidual(r: MsbBitReader, blockSize: Int, order: Int,
      out: Array[Int]): Unit = {
    val method = r.bits(2)
    require(method <= 1, s"reserved residual coding method $method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = r.bits(4)
    require((blockSize % (1 << po)) == 0,
      s"block size $blockSize not divisible by 2^$po partitions")
    val perPart = blockSize >> po
    require(perPart > order || po == 0,
      s"first partition would be empty: $perPart samples, order $order")
    var part = 0
    var i = order
    while (part < (1 << po)) {
      val n = if (part == 0) perPart - order else perPart
      val param = r.bits(pBits)
      if (param == escape) {
        val raw = r.bits(5)
        var k = 0
        while (k < n) {
          out(i) = if (raw == 0) 0 else signed(r, raw)
          i += 1; k += 1
        }
      } else {
        var k = 0
        while (k < n) {
          val q = unary(r)
          val rem = if (param == 0) 0 else r.bits(param)
          val u = (q.toLong << param) | rem
          // unfold zigzag
          val v = ((u >>> 1) ^ -(u & 1L))
          require(v >= Int.MinValue && v <= Int.MaxValue, "rice residual overflow")
          out(i) = v.toInt
          i += 1; k += 1
        }
      }
      part += 1
    }
  }

  // ---- encode ----------------------------------------------------------

  /** Encode 16-bit PCM to FLAC. `mode`: "fixed" (best fixed predictor
    * 0–4 per subframe, partitioned Rice residuals — the production
    * shape), "verbatim", "lpc" (order-2 quantized-LPC subframes, the
    * decoder's LPC path exerciser), each with `stereo` "independent"
    * or "ms" (mid/side, 2-channel only). STREAMINFO carries the MD5 of
    * the source PCM — computed BEFORE encoding, so decode+MD5 is a
    * real round-trip proof, not a self-fulfilling check. */
  def encode(a: WavCodec.Audio, blockSize: Int = 4096, mode: String = "fixed",
      stereo: String = "independent"): Array[Byte] = {
    require(a != null && a.channels >= 1 && a.channels <= 8,
      s"flac encode: 1-8 channels, got ${if (a == null) "null" else a.channels}")
    require(blockSize >= 16 && blockSize <= 65535, s"bad block size $blockSize")
    require(a.samples.length % a.channels == 0,
      s"sample count ${a.samples.length} not divisible by ${a.channels} channels")
    require(mode == "fixed" || mode == "verbatim" || mode == "lpc",
      s"unknown flac encode mode '$mode' (fixed | verbatim | lpc)")
    require(stereo == "independent" || stereo == "ms",
      s"unknown stereo mode '$stereo' (independent | ms)")
    require(stereo == "independent" || a.channels == 2,
      "mid/side stereo needs exactly 2 channels")
    val nCh = a.channels
    val frames = a.frames
    // MD5 of the unencoded interleaved little-endian PCM
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < a.samples.length) {
      val v = a.samples(i)
      md.update((v & 0xff).toByte); md.update(((v >> 8) & 0xff).toByte)
      i += 1
    }
    val md5 = md.digest()
    val frameBytes = new java.io.ByteArrayOutputStream(a.samples.length)
    var minFrame = Int.MaxValue
    var maxFrame = 0
    var pos = 0
    var frameNo = 0L
    while (pos < frames) {
      val bs = math.min(blockSize, frames - pos)
      val fb = encodeFrame(a, pos, bs, frameNo, mode, stereo)
      if (fb.length < minFrame) minFrame = fb.length
      if (fb.length > maxFrame) maxFrame = fb.length
      frameBytes.write(fb)
      pos += bs
      frameNo += 1
    }
    if (minFrame == Int.MaxValue) minFrame = 0
    val sr = a.sampleRate
    require(sr > 0 && sr < (1 << 20), s"bad sample rate $sr")
    val head = new MsbBitWriter(42)
    "fLaC".foreach(c => head.putBits(c, 8))
    head.putBits(0x80, 8) // last metadata block, STREAMINFO
    head.putBits(34, 24)
    head.putBits(blockSize, 16); head.putBits(blockSize, 16)
    head.putBits(minFrame, 24); head.putBits(maxFrame, 24)
    head.putBits(sr, 20); head.putBits(nCh - 1, 3); head.putBits(16 - 1, 5)
    head.putBits(0, 4); head.putBits(frames, 32) // 36-bit total samples
    val out = new java.io.ByteArrayOutputStream(frameBytes.size + 42)
    out.write(head.result())
    out.write(md5)
    frameBytes.writeTo(out)
    out.toByteArray
  }

  private def encodeFrame(a: WavCodec.Audio, start: Int, bs: Int, frameNo: Long,
      mode: String, stereo: String): Array[Byte] = {
    val nCh = a.channels
    val bw = new MsbBitWriter(bs * nCh * 2 + 16)
    // header: sync + fixed blocking strategy
    bw.putBits(0xff, 8); bw.putBits(0xf8, 8)
    val bsCode =
      if (bs == 192) 1
      else if (bs == 576 || bs == 1152 || bs == 2304 || bs == 4608)
        2 + Integer.numberOfTrailingZeros(bs / 576)
      else if (bs >= 256 && (bs & (bs - 1)) == 0 && bs <= 32768)
        8 + Integer.numberOfTrailingZeros(bs / 256)
      else if (bs <= 256) 6
      else 7
    bw.putBits(bsCode, 4)
    bw.putBits(0, 4) // sample rate: from STREAMINFO
    val chCode = if (stereo == "ms") 10 else nCh - 1
    bw.putBits(chCode, 4)
    bw.putBits(4, 3) // 16-bit
    bw.putBits(0, 1)
    // coded frame number (UTF-8 style)
    if (frameNo < 0x80) bw.putBits(frameNo.toInt, 8)
    else {
      // count of payload bits decides the byte count
      var nBytes = 2
      while (nBytes <= 7 && frameNo >= (1L << (nBytes * 5 + 1))) nBytes += 1
      require(nBytes <= 7, s"frame number $frameNo too large to code")
      val lead = (0xfe << (7 - nBytes)) & 0xff
      bw.putBits(lead | ((frameNo >> (6 * (nBytes - 1))) & ((1 << (7 - nBytes)) - 1)).toInt, 8)
      var k = nBytes - 2
      while (k >= 0) {
        bw.putBits(0x80 | ((frameNo >> (6 * k)) & 0x3f).toInt, 8)
        k -= 1
      }
    }
    if (bsCode == 6) bw.putBits(bs - 1, 8)
    else if (bsCode == 7) bw.putBits(bs - 1, 16)
    val headNoCrc = bw.result()
    bw.putBits(crc8(headNoCrc, 0, headNoCrc.length), 8)
    // subframes
    if (stereo == "ms") {
      val mid = new Array[Int](bs)
      val side = new Array[Int](bs)
      var i = 0
      while (i < bs) {
        val l = a.samples((start + i) * 2).toInt
        val r = a.samples((start + i) * 2 + 1).toInt
        mid(i) = (l + r) >> 1
        side(i) = l - r
        i += 1
      }
      encodeSubframe(bw, mid, 16, mode)
      encodeSubframe(bw, side, 17, mode)
    } else {
      var c = 0
      while (c < nCh) {
        val ch = new Array[Int](bs)
        var i = 0
        while (i < bs) { ch(i) = a.samples((start + i) * nCh + c).toInt; i += 1 }
        encodeSubframe(bw, ch, 16, mode)
        c += 1
      }
    }
    val body = bw.result()
    bw.putBits(crc16(body, 0, body.length), 16)
    bw.result()
  }

  private def encodeSubframe(bw: MsbBitWriter, s: Array[Int], bps: Int,
      mode: String): Unit = {
    val bs = s.length
    // CONSTANT wins whenever applicable, in every mode
    var const = true
    var i = 1
    while (const && i < bs) { if (s(i) != s(0)) const = false; i += 1 }
    if (const) {
      bw.putBits(0, 1); bw.putBits(0, 6); bw.putBits(0, 1)
      bw.putBits(s(0), bps)
      return
    }
    if (mode == "verbatim") {
      bw.putBits(0, 1); bw.putBits(1, 6); bw.putBits(0, 1)
      i = 0
      while (i < bs) { bw.putBits(s(i), bps); i += 1 }
      return
    }
    if (mode == "lpc" && bs > 2) {
      // order-2 quantized LPC: coefficients [2, -1], shift 0 — the
      // same predictor as fixed order 2, expressed through the LPC
      // decode path (warmup + precision + shift + coefficients)
      bw.putBits(0, 1); bw.putBits(0x20 | (2 - 1), 6); bw.putBits(0, 1)
      bw.putBits(s(0), bps); bw.putBits(s(1), bps)
      bw.putBits(4 - 1, 4) // precision 4
      bw.putBits(0, 5) // shift 0
      bw.putBits(2, 4); bw.putBits(-1 & 0xf, 4)
      val res = new Array[Int](bs)
      i = 2
      while (i < bs) {
        res(i) = (s(i).toLong - (2L * s(i - 1) - s(i - 2))).toInt
        i += 1
      }
      writeResidual(bw, res, 2, bs)
      return
    }
    // best fixed order by exact summed-cost proxy (sum of zigzag
    // magnitudes); any choice is spec-valid, decode inverts exactly
    val maxOrder = math.min(4, bs - 1)
    var bestOrder = 0
    var bestCost = Long.MaxValue
    val residuals = new Array[Array[Int]](maxOrder + 1)
    var o = 0
    while (o <= maxOrder) {
      val res = new Array[Int](bs)
      var ok = true
      i = o
      while (i < bs) {
        val v = s(i).toLong - fixedPredict(s, i, o)
        if (v < Int.MinValue || v > Int.MaxValue) ok = false
        res(i) = v.toInt
        i += 1
      }
      if (ok) {
        var cost = 0L
        i = o
        while (i < bs) { cost += zigzag(res(i)); i += 1 }
        if (cost < bestCost) { bestCost = cost; bestOrder = o; residuals(o) = res }
        else residuals(o) = res
      }
      o += 1
    }
    val order = bestOrder
    bw.putBits(0, 1); bw.putBits(0x08 | order, 6); bw.putBits(0, 1)
    i = 0
    while (i < order) { bw.putBits(s(i), bps); i += 1 }
    writeResidual(bw, residuals(order), order, bs)
  }

  /** Partitioned Rice residual: max valid partition order ≤ 3, exact
    * per-partition parameter search. */
  private def writeResidual(bw: MsbBitWriter, res: Array[Int], order: Int,
      bs: Int): Unit = {
    var po = 3
    while (po > 0 && ((bs % (1 << po)) != 0 || (bs >> po) <= order)) po -= 1
    bw.putBits(0, 2) // 4-bit rice parameters
    bw.putBits(po, 4)
    var part = 0
    var i = order
    while (part < (1 << po)) {
      val n = if (part == 0) (bs >> po) - order else bs >> po
      // exact cost for each parameter 0..14
      var bestP = 0
      var bestCost = Long.MaxValue
      var p = 0
      while (p <= 14) {
        var cost = 0L
        var k = 0
        while (k < n) {
          cost += (zigzag(res(i + k)) >>> p) + 1 + p
          k += 1
        }
        if (cost < bestCost) { bestCost = cost; bestP = p }
        p += 1
      }
      bw.putBits(bestP, 4)
      var k = 0
      while (k < n) {
        val u = zigzag(res(i + k))
        val q = (u >>> bestP)
        require(q <= (1 << 24), s"rice quotient $q implausibly large")
        putUnary(bw, q.toInt)
        if (bestP > 0) bw.putBits((u & ((1L << bestP) - 1)).toInt, bestP)
        k += 1
      }
      i += n
      part += 1
    }
  }
}
