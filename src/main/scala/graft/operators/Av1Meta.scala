package graft.operators

/** AV1 bitstream METADATA tier — hand-written against the public AV1
  * spec (AOM, "AV1 Bitstream & Decoding Process Specification" §5.2
  * OBU framing, §5.5 sequence_header_obu + color_config, §5.9
  * uncompressed frame-header prefix). The third crawl video codec
  * beside [[HevcMeta]] (H.265) and the VP8 pixel tier: everything a
  * curation pipeline filters on — resolution, profile/level,
  * bit depth, monochrome, superblock size, keyframe cadence — from a
  * byte walk, no codec libraries. Pixel decode stays loudly fenced.
  *
  * Validation: Av1MetaSpec pins the parser on REAL libaom-encoded
  * streams (`scripts/av1_oracle.py`, ctypes over the system
  * libaom.so — the hevc/libwebp oracle pattern): per-packet keyframe
  * flags from the ENCODER must match the parser's frame_type census,
  * and the sequence header must echo the requested geometry. The
  * in-repo [[writeStream]] generator exists for deterministic gate
  * fixtures; the reader's ground truth is libaom.
  *
  * Scale shape: row-local decode over binary columns — no shuffle,
  * no driver state (SCALING.md media tier).
  *
  * Reference scope: lithops-dataframe has no media surface
  * (`SURVEY.md` §2.10 extension family).
  */
object Av1Meta {

  // ---- OBU types (§6.2.2) -------------------------------------------------

  val ObuSequenceHeader = 1
  val ObuTemporalDelimiter = 2
  val ObuFrameHeader = 3
  val ObuTileGroup = 4
  val ObuMetadata = 5
  val ObuFrame = 6
  val ObuRedundantFrameHeader = 7
  val ObuPadding = 15

  /** frame_type codes (§6.8.2). */
  val FrameKey = 0; val FrameInter = 1; val FrameIntraOnly = 2; val FrameSwitch = 3

  /** One OBU: header fields + payload window over the input bytes
    * (AV1 has no emulation prevention — the window IS the payload). */
  final case class Obu(obuType: Int, temporalId: Int, spatialId: Int,
      offset: Int, length: Int)

  /** Unsigned LEB128 (§4.10.5): up to 8 bytes, value capped at 2^32-1
    * per the spec's obu_size constraint. Returns (value, bytesRead). */
  private def leb128(bytes: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    var more = true
    while (more) {
      require(i < 8, "leb128 over 8 bytes")
      require(off + i < bytes.length, s"truncated leb128 at $off")
      val b = bytes(off + i) & 0xff
      v |= (b & 0x7fL) << (7 * i)
      more = (b & 0x80) != 0
      i += 1
    }
    require(v <= 0xffffffffL, s"obu_size $v over 32 bits")
    (v, i)
  }

  /** Walk a low-overhead bitstream (the libaom/ivf/mp4 packet form:
    * every OBU carries obu_has_size_field=1) into its OBU sequence. */
  def obus(bytes: Array[Byte]): Vector[Obu] = {
    val out = Vector.newBuilder[Obu]
    var p = 0
    while (p < bytes.length) {
      val h = bytes(p) & 0xff
      require((h & 0x80) == 0, s"obu_forbidden_bit set at $p")
      val typ = (h >> 3) & 0xf
      val hasExt = (h & 4) != 0
      val hasSize = (h & 2) != 0
      require(hasSize, s"OBU at $p lacks obu_size (annex-B framing unsupported)")
      var q = p + 1
      var tid = 0
      var sid = 0
      if (hasExt) {
        require(q < bytes.length, "truncated extension header")
        val e = bytes(q) & 0xff
        tid = e >> 5; sid = (e >> 3) & 3
        q += 1
      }
      val (sz, n) = leb128(bytes, q)
      q += n
      require(q + sz <= bytes.length, s"OBU of $sz bytes overruns the stream at $p")
      out += Obu(typ, tid, sid, q, sz.toInt)
      p = q + sz.toInt
    }
    out.result()
  }

  // ---- sequence header (§5.5) ---------------------------------------------

  final case class SequenceHeader(profile: Int, stillPicture: Boolean,
      reducedStillPicture: Boolean, levelIdx: Int, tier: Int,
      maxWidth: Int, maxHeight: Int, use128x128Superblock: Boolean,
      bitDepth: Int, monochrome: Boolean, subsamplingX: Int,
      subsamplingY: Int) {
    def superblockSize: Int = if (use128x128Superblock) 128 else 64
  }

  def parseSequenceHeader(bytes: Array[Byte], off: Int, len: Int): SequenceHeader = {
    val r = new MsbBitReader(bytes, off, off + len, "AV1 sequence header")
    val profile = r.bits(3)
    require(profile <= 2, s"seq_profile $profile")
    val still = r.flag()
    val reduced = r.flag()
    var levelIdx = 0
    var tier = 0
    var decoderModelInfo = false
    var bufferDelayBits = 0
    if (reduced) {
      levelIdx = r.bits(5)
    } else {
      if (r.flag()) { // timing_info_present
        r.skip(32); r.skip(32) // num_units_in_display_tick, time_scale
        if (r.flag()) uvlc(r) // equal_picture_interval → num_ticks
        decoderModelInfo = r.flag()
        if (decoderModelInfo) {
          bufferDelayBits = r.bits(5) + 1
          r.skip(32) // num_units_in_decoding_tick
          r.skip(5); r.skip(5) // buffer_removal/frame_presentation lengths
        }
      }
      val initialDisplayDelay = r.flag()
      val opCnt = r.bits(5) + 1
      var i = 0
      while (i < opCnt) {
        r.skip(12) // operating_point_idc
        val lv = r.bits(5)
        if (i == 0) levelIdx = lv
        if (lv > 7) { val t = r.bits(1); if (i == 0) tier = t }
        if (decoderModelInfo && r.flag()) {
          r.skip(bufferDelayBits); r.skip(bufferDelayBits); r.skip(1)
        }
        if (initialDisplayDelay && r.flag()) r.skip(4)
        i += 1
      }
    }
    val wBits = r.bits(4) + 1
    val hBits = r.bits(4) + 1
    val maxW = r.bits(wBits) + 1
    val maxH = r.bits(hBits) + 1
    val frameIds = if (reduced) false else r.flag()
    if (frameIds) { r.skip(4); r.skip(3) }
    val sb128 = r.flag()
    r.skip(2) // enable_filter_intra, enable_intra_edge_filter
    if (!reduced) {
      r.skip(4) // interintra/masked/warped/dual_filter
      val orderHint = r.flag()
      if (orderHint) r.skip(2) // jnt_comp, ref_frame_mvs
      val forceSct = if (r.flag()) 2 else r.bits(1) // seq_choose_screen_content_tools
      if (forceSct > 0) { if (!r.flag()) r.skip(1) } // choose/force_integer_mv
      if (orderHint) r.skip(3) // order_hint_bits_minus_1
    }
    r.skip(3) // enable_superres, enable_cdef, enable_restoration
    // color_config (§5.5.2)
    val highBd = r.flag()
    val bitDepth =
      if (profile == 2 && highBd) { if (r.flag()) 12 else 10 }
      else { if (highBd) 10 else 8 }
    val mono = if (profile == 1) false else r.flag()
    var (cp, tc, mc) = (2, 2, 2) // UNSPECIFIED
    if (r.flag()) { cp = r.bits(8); tc = r.bits(8); mc = r.bits(8) }
    var (ssX, ssY) = (1, 1)
    if (mono) {
      r.skip(1) // color_range
    } else if (cp == 1 && tc == 13 && mc == 0) { // BT709 + sRGB + identity
      ssX = 0; ssY = 0
    } else {
      r.skip(1) // color_range
      if (profile == 0) { ssX = 1; ssY = 1 }
      else if (profile == 1) { ssX = 0; ssY = 0 }
      else if (bitDepth == 12) {
        ssX = r.bits(1)
        ssY = if (ssX == 1) r.bits(1) else 0
      } else { ssX = 1; ssY = 0 }
      if (ssX == 1 && ssY == 1) r.skip(2) // chroma_sample_position
    }
    if (!mono) r.skip(1) // separate_uv_delta_q
    r.skip(1) // film_grain_params_present
    SequenceHeader(profile, still, reduced, levelIdx, tier, maxW, maxH,
      sb128, bitDepth, mono, ssX, ssY)
  }

  /** uvlc (§4.10.3): leading zeros then that many value bits. */
  private def uvlc(r: MsbBitReader): Long = {
    var zeros = 0
    while (!r.flag()) { zeros += 1; require(zeros < 32, "uvlc over 32 zeros") }
    if (zeros == 0) 0L else (1L << zeros) - 1 + r.bits(zeros)
  }

  // ---- frame-header prefix (§5.9.2) ---------------------------------------

  final case class FrameInfo(showExisting: Boolean, frameType: Int,
      showFrame: Boolean) {
    def isKeyframe: Boolean = !showExisting && frameType == FrameKey
    def isNewFrame: Boolean = !showExisting
  }

  /** The census-relevant prefix of uncompressed_header: enough bits to
    * classify the frame, nothing more. */
  def parseFrameInfo(seq: SequenceHeader, bytes: Array[Byte], off: Int,
      len: Int): FrameInfo = {
    require(len >= 1, "empty frame header")
    val r = new MsbBitReader(bytes, off, off + math.min(len, 4), "AV1 frame header")
    if (seq.reducedStillPicture) FrameInfo(showExisting = false, FrameKey,
      showFrame = true)
    else {
      val showExisting = r.flag()
      if (showExisting) FrameInfo(showExisting = true, -1, showFrame = true)
      else {
        val ft = r.bits(2)
        val show = r.flag()
        FrameInfo(showExisting = false, ft, show)
      }
    }
  }

  // ---- stream census ------------------------------------------------------

  final case class StreamCensus(nObus: Int, nTemporalUnits: Int,
      nSeqHeaders: Int, nFrames: Int, nKeyframes: Int, nIntraOnly: Int,
      nShownExisting: Int, width: Int, height: Int, profile: Int,
      levelIdx: Int, bitDepth: Int, monochrome: Boolean, superblock: Int)

  /** Walk a low-overhead AV1 stream (concatenated temporal units, the
    * libaom packet / MP4 sample shape) into its census. Row-local. */
  def census(bytes: Array[Byte]): StreamCensus = {
    val all = obus(bytes)
    require(all.nonEmpty, "no OBUs (not a low-overhead AV1 stream?)")
    var seq: SequenceHeader = null
    var (nTd, nSeq, nFrames, nKey, nIntra, nShown) = (0, 0, 0, 0, 0, 0)
    all.foreach { o =>
      o.obuType match {
        case ObuTemporalDelimiter => nTd += 1
        case ObuSequenceHeader =>
          nSeq += 1
          if (seq == null) seq = parseSequenceHeader(bytes, o.offset, o.length)
        case ObuFrame | ObuFrameHeader =>
          require(seq != null, "frame OBU before any sequence header")
          val fi = parseFrameInfo(seq, bytes, o.offset, o.length)
          if (fi.showExisting) nShown += 1
          else {
            nFrames += 1
            if (fi.frameType == FrameKey) nKey += 1
            if (fi.frameType == FrameIntraOnly) nIntra += 1
          }
        case _ => ()
      }
    }
    require(seq != null, "no sequence header in the stream")
    StreamCensus(all.length, nTd, nSeq, nFrames, nKey, nIntra, nShown,
      seq.maxWidth, seq.maxHeight, seq.profile, seq.levelIdx, seq.bitDepth,
      seq.monochrome, seq.superblockSize)
  }

  // ---- av1C: AV1CodecConfigurationRecord (AOM ISO-BMFF binding §2.3) ------

  final case class Av1C(profile: Int, levelIdx: Int, tier: Int,
      highBitdepth: Boolean, twelveBit: Boolean, monochrome: Boolean,
      subsamplingX: Int, subsamplingY: Int, configObus: Array[Byte]) {
    def bitDepth: Int =
      if (highBitdepth) { if (twelveBit) 12 else 10 } else 8
    /** The embedded sequence header, when the configOBUs carry one. */
    def sequenceHeader: Option[SequenceHeader] =
      obus(configObus).find(_.obuType == ObuSequenceHeader)
        .map(o => parseSequenceHeader(configObus, o.offset, o.length))
  }

  def parseAv1C(bytes: Array[Byte], off: Int, len: Int): Av1C = {
    require(len >= 4, s"av1C of $len bytes")
    def u8(i: Int): Int = Bytes.u8(bytes, off + i)
    require((u8(0) >> 7) == 1 && (u8(0) & 0x7f) == 1,
      s"av1C marker/version byte 0x${u8(0).toHexString}")
    val b1 = u8(1)
    val b2 = u8(2)
    Av1C(profile = b1 >> 5, levelIdx = b1 & 0x1f, tier = b2 >> 7,
      highBitdepth = ((b2 >> 6) & 1) == 1, twelveBit = ((b2 >> 5) & 1) == 1,
      monochrome = ((b2 >> 4) & 1) == 1, subsamplingX = (b2 >> 3) & 1,
      subsamplingY = (b2 >> 2) & 1,
      configObus = java.util.Arrays.copyOfRange(bytes, off + 4, off + len))
  }

  /** Serialize a minimal av1C around [[writeSequenceHeader]] —
    * profile 0, 8-bit 4:2:0, the sequence header as the configOBUs. */
  def writeAv1C(width: Int, height: Int, levelIdx: Int = 8): Array[Byte] = {
    val seq = obuBytes(ObuSequenceHeader, writeSequenceHeader(width, height, levelIdx))
    val out = new java.io.ByteArrayOutputStream(seq.length + 4)
    out.write(0x81) // marker 1, version 1
    out.write(levelIdx & 0x1f) // profile 0 in the top 3 bits
    out.write(0x0c) // tier 0, 8-bit, not mono, ssX=1, ssY=1, csp 0
    out.write(0) // no initial_presentation_delay
    out.write(seq, 0, seq.length)
    out.toByteArray
  }

  /** One MP4 sample for [[Mp4Meta.encodeAv1]]: a single frame OBU
    * (temporal delimiters are stripped in the ISO-BMFF binding). */
  def writeSample(keyframe: Boolean, seed: Long, payloadLen: Int = 40): Array[Byte] =
    obuBytes(ObuFrame,
      framePayload(if (keyframe) FrameKey else FrameInter, seed, payloadLen))

  /** Census over an MP4 SAMPLE's OBUs with the sequence header coming
    * from av1C (config out-of-band): keyframe iff a frame OBU's
    * frame_type is KEY. */
  def sampleIsKeyframe(seq: SequenceHeader, sample: Array[Byte]): Boolean =
    obus(sample).exists(o =>
      (o.obuType == ObuFrame || o.obuType == ObuFrameHeader) &&
        parseFrameInfo(seq, sample, o.offset, o.length).isKeyframe)

  // ---- minimal deterministic stream writer (gate fixtures) ---------------

  /** trailing_bits (§5.3.4): the stop bit, then zero padding to a byte. */
  private def trailing(w: MsbBitWriter): Array[Byte] = { w.putBits(1, 1); w.result() }

  private def obuBytes(typ: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 4)
    out.write((typ << 3) | 2) // has_size, no extension
    var v = payload.length
    do {
      val b = v & 0x7f
      v >>>= 7
      out.write(if (v != 0) b | 0x80 else b)
    } while (v != 0)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** The sequence header [[writeStream]] emits: profile 0, one
    * operating point, no timing/order-hint machinery, 8-bit 4:2:0. */
  def writeSequenceHeader(width: Int, height: Int, levelIdx: Int = 8,
      use128Superblock: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width <= (1 << 16) && height <= (1 << 16),
      s"bad dims ${width}x$height")
    require(levelIdx >= 0 && levelIdx <= 31, s"bad level $levelIdx")
    val w = new MsbBitWriter
    w.putBits(0, 3) // seq_profile
    w.putBits(0, 1); w.putBits(0, 1) // still_picture, reduced_still_picture_header
    w.putBits(0, 1) // timing_info_present
    w.putBits(0, 1) // initial_display_delay_present
    w.putBits(0, 5) // operating_points_cnt_minus_1
    w.putBits(0, 12) // operating_point_idc
    w.putBits(levelIdx, 5)
    if (levelIdx > 7) w.putBits(0, 1) // seq_tier
    def bits(v: Int): Int = math.max(1, 32 - Integer.numberOfLeadingZeros(v - 1))
    val wb = bits(width); val hb = bits(height)
    w.putBits(wb - 1, 4); w.putBits(hb - 1, 4)
    w.putBits(width - 1, wb); w.putBits(height - 1, hb)
    w.putBits(0, 1) // frame_id_numbers_present
    w.putBits(if (use128Superblock) 1 else 0, 1)
    w.putBits(0, 2) // filter_intra, intra_edge_filter
    w.putBits(0, 4) // interintra/masked/warped/dual_filter
    w.putBits(0, 1) // enable_order_hint
    w.putBits(1, 1) // seq_choose_screen_content_tools → force = 2
    w.putBits(1, 1) // seq_choose_integer_mv → force = 2
    w.putBits(0, 3) // superres, cdef, restoration
    w.putBits(0, 1) // high_bitdepth → 8
    w.putBits(0, 1) // mono_chrome
    w.putBits(0, 1) // color_description_present
    w.putBits(0, 1) // color_range
    w.putBits(0, 2) // chroma_sample_position (profile 0 ⇒ 4:2:0)
    w.putBits(0, 1) // separate_uv_delta_q
    w.putBits(0, 1) // film_grain_params_present
    trailing(w)
  }

  /** A minimal frame OBU payload: the classification prefix
    * (show_existing=0, frame_type, show_frame=1) + trailing bit +
    * deterministic filler. NOT a decodable picture — the census never
    * parses past the prefix; realism comes from libaom in Av1MetaSpec. */
  private def framePayload(frameType: Int, seed: Long, fill: Int): Array[Byte] = {
    val w = new MsbBitWriter
    w.putBits(0, 1) // show_existing_frame
    w.putBits(frameType, 2)
    w.putBits(1, 1) // show_frame
    val head = trailing(w)
    val out = new Array[Byte](head.length + fill)
    System.arraycopy(head, 0, out, 0, head.length)
    var x = seed | 1L
    var i = 0
    while (i < fill) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out(head.length + i) = ((x >>> 56) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Deterministic low-overhead AV1 stream: per temporal unit a TD
    * OBU, then (first unit) the sequence header, then one frame OBU —
    * keyframes every `keyint`, inter frames between. Census replays
    * exactly from (w, h, nFrames, keyint) in SQL. */
  def writeStream(width: Int, height: Int, nFrames: Int, keyint: Int,
      seed: Long, levelIdx: Int = 8, frameBytes: Int = 40): Array[Byte] = {
    require(nFrames > 0 && keyint > 0, "positive frame count / keyint")
    val out = new java.io.ByteArrayOutputStream(256)
    def put(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    var f = 0
    while (f < nFrames) {
      put(obuBytes(ObuTemporalDelimiter, Array.emptyByteArray))
      if (f == 0) put(obuBytes(ObuSequenceHeader,
        writeSequenceHeader(width, height, levelIdx)))
      val ft = if (f % keyint == 0) FrameKey else FrameInter
      put(obuBytes(ObuFrame, framePayload(ft, seed + f, frameBytes)))
      f += 1
    }
    out.toByteArray
  }
}
