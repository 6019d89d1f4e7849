package graft.operators

/** HEVC (H.265) bitstream METADATA tier — hand-written against the
  * public spec (ITU-T H.265 §7.3: NAL units, profile_tier_level,
  * SPS/PPS/VPS, slice segment headers) and ISO 14496-15 §8.3.3 (the
  * `hvcC` HEVCDecoderConfigurationRecord that MP4 `hvc1`/`hev1`
  * sample entries carry). Pure byte-level parsing, zero codec
  * libraries — the same tier shape as [[Mp4Meta]]/[[Mp3Meta]]:
  * everything a 100 TB video-curation pipeline filters on
  * (resolution, profile/tier/level, bit depth, chroma format,
  * keyframe cadence, I/P/B mix) WITHOUT paying for pixel decode.
  * Pixel-level HEVC decode stays loudly fenced (CABAC + intra
  * machinery is a codec, not metadata).
  *
  * Validation: HevcMetaSpec pins this parser field-for-field against
  * REAL x265-encoded streams (the system libx265 driven through
  * `scripts/hevc_oracle.py` — an independent encoder oracle, the
  * libwebp-probe pattern), plus hand-built vectors for emulation
  * prevention and conformance-window cropping. The in-repo
  * [[writeStream]] generator exists for deterministic gate fixtures;
  * the READER's ground truth is x265, not the writer.
  *
  * Scale shape: row-local decode over binary columns — no shuffle,
  * no driver state (SCALING.md media tier).
  *
  * Reference scope: lithops-dataframe has no media surface at all
  * (`core.py` reads bytes, `SURVEY.md` §2.10 extension family).
  */
object HevcMeta {

  // ---- NAL unit types (H.265 Table 7-1) -----------------------------------

  val TrailN = 0; val TrailR = 1
  val BlaWLp = 16; val IdrWRadl = 19; val IdrNLp = 20; val Cra = 21
  val RsvIrapVcl23 = 23
  val VpsNut = 32; val SpsNut = 33; val PpsNut = 34
  val AudNut = 35; val PrefixSei = 39; val SuffixSei = 40

  /** VCL (slice-carrying) NAL? */
  def isVcl(t: Int): Boolean = t >= 0 && t <= 31
  /** Intra random access point (BLA/IDR/CRA — the keyframe class). */
  def isIrap(t: Int): Boolean = t >= BlaWLp && t <= RsvIrapVcl23
  def isIdr(t: Int): Boolean = t == IdrWRadl || t == IdrNLp

  /** One NAL unit: type/layer/tid from the 2-byte header, payload
    * window [offset, offset+length) over the ORIGINAL bytes (still
    * emulation-protected; run [[rbsp]] before bit-parsing). */
  final case class Nal(nalType: Int, layerId: Int, temporalIdPlus1: Int,
      offset: Int, length: Int)

  /** Split an Annex-B elementary stream (00 00 01 / 00 00 00 01 start
    * codes) into NAL units. Loud on malformed headers. */
  def annexBNals(bytes: Array[Byte]): Vector[Nal] = {
    val out = Vector.newBuilder[Nal]
    val n = bytes.length
    // find each start code; NAL payload runs to the next start code
    var starts = List.empty[Int] // positions AFTER the start code
    var i = 0
    while (i + 2 < n) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        starts = (i + 3) :: starts
        i += 3
      } else i += 1
    }
    val ss = starts.reverse.toArray
    var k = 0
    while (k < ss.length) {
      val s = ss(k)
      // the next start code may carry a 4-byte form (preceding zero
      // belongs to the code, not this payload)
      var e = if (k + 1 < ss.length) ss(k + 1) - 3 else n
      if (e > s && e - 1 > s && bytes(e - 1) == 0 && k + 1 < ss.length) e -= 1
      require(e - s >= 2, s"NAL at $s shorter than its 2-byte header")
      out += nalAt(bytes, s, e - s)
      k += 1
    }
    out.result()
  }

  /** Parse one NAL's 2-byte header at `off` (forbidden_zero_bit(1),
    * nal_unit_type(6), nuh_layer_id(6), nuh_temporal_id_plus1(3)). */
  private def nalAt(bytes: Array[Byte], off: Int, len: Int): Nal = {
    val b0 = bytes(off) & 0xff
    val b1 = bytes(off + 1) & 0xff
    require((b0 & 0x80) == 0, s"forbidden_zero_bit set at $off")
    Nal((b0 >> 1) & 0x3f, ((b0 & 1) << 5) | (b1 >> 3), b1 & 7, off + 2, len - 2)
  }

  /** Split MP4-style length-prefixed sample bytes into NALs
    * (`lengthSize` ∈ {1,2,4} from hvcC lengthSizeMinusOne+1). */
  def lengthPrefixedNals(bytes: Array[Byte], lengthSize: Int): Vector[Nal] = {
    require(Set(1, 2, 4).contains(lengthSize), s"bad NAL length size $lengthSize")
    val out = Vector.newBuilder[Nal]
    var p = 0
    while (p < bytes.length) {
      require(p + lengthSize <= bytes.length, s"truncated NAL length at $p")
      var len = 0L
      var i = 0
      while (i < lengthSize) { len = (len << 8) | (bytes(p + i) & 0xffL); i += 1 }
      require(len >= 2 && p + lengthSize + len <= bytes.length,
        s"NAL of $len bytes overruns the sample at $p")
      out += nalAt(bytes, p + lengthSize, len.toInt)
      p += lengthSize + len.toInt
    }
    out.result()
  }

  /** Strip emulation-prevention bytes (00 00 03 → 00 00) from a NAL
    * payload window: the RBSP the bit parsers consume (§7.3.1.1). */
  def rbsp(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len)
    var i = 0
    var zeros = 0
    while (i < len) {
      val b = bytes(off + i) & 0xff
      if (zeros >= 2 && b == 3) zeros = 0 // emulation byte: drop
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** The inverse of [[rbsp]]: insert an emulation-prevention byte (03)
    * after two zero bytes wherever the next byte is 00-03 (§7.4.2). */
  private def escape(nal: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(nal.length + 4)
    var zeros = 0
    nal.foreach { v =>
      val b = v & 0xff
      if (zeros >= 2 && (b & 0xfc) == 0) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  private def reader(rb: Array[Byte]): MsbBitReader =
    new MsbBitReader(rb, 0, rb.length, "HEVC RBSP")

  /** ue(v) (§9.2): count leading zeros, read that many more bits. */
  private[graft] def ue(r: MsbBitReader): Int = {
    var zeros = 0
    while (r.bit() == 0) { zeros += 1; require(zeros <= 31, "ue(v) prefix over 31 zeros") }
    if (zeros == 0) 0 else ((1 << zeros) | r.bits(zeros)) - 1
  }

  /** se(v): the zigzag mapping of ue (§9.2.2). */
  private[graft] def se(r: MsbBitReader): Int = {
    val k = ue(r)
    if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
  }

  // ---- profile_tier_level (§7.3.3) ----------------------------------------

  final case class ProfileTierLevel(profileSpace: Int, tierFlag: Boolean,
      profileIdc: Int, compatFlags: Long, progressiveSource: Boolean,
      interlacedSource: Boolean, nonPacked: Boolean, frameOnly: Boolean,
      levelIdc: Int) {
    /** The spec's level number (levelIdc = 30 × level). */
    def level: Double = levelIdc / 30.0
  }

  /** Parse profile_tier_level with profilePresent=1 (SPS/VPS form). */
  private def parsePtl(r: MsbBitReader, maxSubLayersMinus1: Int): ProfileTierLevel = {
    val space = r.bits(2)
    val tier = r.flag()
    val idc = r.bits(5)
    var compat = 0L
    var j = 0
    while (j < 32) { compat = (compat << 1) | r.bits(1); j += 1 }
    val prog = r.flag(); val inter = r.flag()
    val nonPacked = r.flag(); val frameOnly = r.flag()
    r.skip(43) // general_reserved_zero_43bits (or range-ext constraint bits)
    r.skip(1) // general_inbld_flag / reserved
    val level = r.bits(8)
    // sub-layer presence flags + byte-alignment + per-sub-layer data
    val profPresent = new Array[Boolean](math.max(0, maxSubLayersMinus1))
    val levelPresent = new Array[Boolean](math.max(0, maxSubLayersMinus1))
    var i = 0
    while (i < maxSubLayersMinus1) {
      profPresent(i) = r.flag(); levelPresent(i) = r.flag(); i += 1
    }
    if (maxSubLayersMinus1 > 0) {
      var k = maxSubLayersMinus1
      while (k < 8) { r.skip(2); k += 1 }
    }
    i = 0
    while (i < maxSubLayersMinus1) {
      if (profPresent(i)) r.skip(88) // sub-layer profile block
      if (levelPresent(i)) r.skip(8)
      i += 1
    }
    ProfileTierLevel(space, tier, idc, compat, prog, inter, nonPacked,
      frameOnly, level)
  }

  // ---- SPS (§7.3.2.2) -----------------------------------------------------

  final case class Sps(vpsId: Int, spsId: Int, maxSubLayersMinus1: Int,
      ptl: ProfileTierLevel, chromaFormatIdc: Int,
      separateColourPlane: Boolean, picWidthInLumaSamples: Int,
      picHeightInLumaSamples: Int, confWinLeft: Int, confWinRight: Int,
      confWinTop: Int, confWinBottom: Int, bitDepthLuma: Int,
      bitDepthChroma: Int, log2MaxPocLsb: Int, log2MinCbSize: Int,
      log2CtbSize: Int) {
    private def subWidthC: Int =
      if (chromaFormatIdc == 1 || chromaFormatIdc == 2) 2 else 1
    private def subHeightC: Int = if (chromaFormatIdc == 1) 2 else 1
    /** Display dimensions after conformance-window cropping (§D-28). */
    def width: Int = picWidthInLumaSamples - subWidthC * (confWinLeft + confWinRight)
    def height: Int = picHeightInLumaSamples - subHeightC * (confWinTop + confWinBottom)
    def ctbSize: Int = 1 << log2CtbSize
  }

  def parseSps(rb: Array[Byte]): Sps = {
    val r = reader(rb)
    val vpsId = r.bits(4)
    val maxSub = r.bits(3)
    r.skip(1) // sps_temporal_id_nesting_flag
    val ptl = parsePtl(r, maxSub)
    val spsId = ue(r)
    val chroma = ue(r)
    require(chroma <= 3, s"chroma_format_idc $chroma")
    val sep = if (chroma == 3) r.flag() else false
    val w = ue(r)
    val h = ue(r)
    require(w > 0 && w <= (1 << 16) && h > 0 && h <= (1 << 16),
      s"implausible pic size ${w}x$h")
    var (cl, cr, ct, cb) = (0, 0, 0, 0)
    if (r.flag()) { cl = ue(r); cr = ue(r); ct = ue(r); cb = ue(r) }
    val bdLuma = ue(r) + 8
    val bdChroma = ue(r) + 8
    require(bdLuma <= 16 && bdChroma <= 16, "implausible bit depth")
    val pocLsb = ue(r) + 4
    // sub-layer ordering info: triples for one or all layers
    val ordAll = r.flag()
    var i = if (ordAll) 0 else maxSub
    while (i <= maxSub) { ue(r); ue(r); ue(r); i += 1 }
    val minCb = ue(r) + 3
    val diffCb = ue(r)
    require(minCb + diffCb <= 6, s"CTB log2 ${minCb + diffCb} over 64")
    // transform sizes + hierarchy depths complete the fixed prefix;
    // everything after (scaling lists, PCM, RPS, VUI) is beyond the
    // metadata census and deliberately unparsed
    ue(r); ue(r); ue(r); ue(r)
    Sps(vpsId, spsId, maxSub, ptl, chroma, sep, w, h, cl, cr, ct, cb,
      bdLuma, bdChroma, pocLsb, minCb, minCb + diffCb)
  }

  // ---- PPS (§7.3.2.3, the slice-header-relevant prefix) -------------------

  final case class Pps(ppsId: Int, spsId: Int,
      dependentSliceSegmentsEnabled: Boolean, outputFlagPresent: Boolean,
      numExtraSliceHeaderBits: Int, signDataHiding: Boolean,
      cabacInitPresent: Boolean, initQp: Int)

  def parsePps(rb: Array[Byte]): Pps = {
    val r = reader(rb)
    val ppsId = ue(r)
    val spsId = ue(r)
    val dep = r.flag()
    val outFlag = r.flag()
    val extra = r.bits(3)
    val sign = r.flag()
    val cabacInit = r.flag()
    ue(r); ue(r) // num_ref_idx_l0/l1_default_active_minus1
    val initQp = se(r) + 26
    Pps(ppsId, spsId, dep, outFlag, extra, sign, cabacInit, initQp)
  }

  // ---- VPS (§7.3.2.1 prefix) ----------------------------------------------

  final case class Vps(vpsId: Int, maxLayersMinus1: Int,
      maxSubLayersMinus1: Int, ptl: ProfileTierLevel)

  def parseVps(rb: Array[Byte]): Vps = {
    val r = reader(rb)
    val vpsId = r.bits(4)
    r.skip(2) // base_layer_internal/available flags
    val maxLayers = r.bits(6)
    val maxSub = r.bits(3)
    r.skip(1) // vps_temporal_id_nesting_flag
    require(r.bits(16) == 0xffff, "vps_reserved_0xffff_16bits")
    Vps(vpsId, maxLayers, maxSub, parsePtl(r, maxSub))
  }

  // ---- slice segment header (§7.3.6.1 prefix) -----------------------------

  /** slice_type codes (Table 7-7). */
  val SliceB = 0; val SliceP = 1; val SliceI = 2

  final case class SliceInfo(nalType: Int, firstSlice: Boolean, ppsId: Int,
      sliceType: Int)

  /** Parse the census-relevant slice-header prefix of an INDEPENDENT
    * first slice segment. `numExtraBits` comes from the active PPS.
    * Returns sliceType = -1 for non-first segments (their type lives
    * in the independent segment they continue). */
  def parseSliceHeader(nalType: Int, rb: Array[Byte], numExtraBits: Int): SliceInfo = {
    val r = reader(rb)
    val first = r.flag()
    if (isIrap(nalType)) r.skip(1) // no_output_of_prior_pics_flag
    val ppsId = ue(r)
    if (!first) SliceInfo(nalType, first, ppsId, -1)
    else {
      r.skip(numExtraBits)
      val st = ue(r)
      require(st <= 2, s"slice_type $st")
      SliceInfo(nalType, first, ppsId, st)
    }
  }

  // ---- stream census ------------------------------------------------------

  /** Everything the curation tier filters on, from one metadata walk:
    * stream structure (NAL/frame/keyframe counts, I/P/B mix) + the
    * first SPS's coding parameters. */
  final case class StreamCensus(nNals: Int, nVcl: Int, nFrames: Int,
      nKeyframes: Int, nIdr: Int, nCra: Int, nSps: Int, nPps: Int,
      nSei: Int, nSliceI: Int, nSliceP: Int, nSliceB: Int,
      width: Int, height: Int, profileIdc: Int, tier: Boolean,
      levelIdc: Int, chromaFormatIdc: Int, bitDepthLuma: Int,
      ctbSize: Int)

  /** Walk an Annex-B HEVC stream and build its [[StreamCensus]].
    * Row-local: one call per binary cell, no state outside. */
  def census(bytes: Array[Byte]): StreamCensus = {
    val nals = annexBNals(bytes)
    require(nals.nonEmpty, "no NAL units (not an Annex-B HEVC stream?)")
    var sps: Sps = null
    val ppsExtra = new java.util.HashMap[Integer, Integer]()
    var (nVcl, nFrames, nKey, nIdr, nCra, nSps, nPps, nSei) = (0, 0, 0, 0, 0, 0, 0, 0)
    var (nI, nP, nB) = (0, 0, 0)
    nals.foreach { nal =>
      nal.nalType match {
        case SpsNut =>
          nSps += 1
          if (sps == null) sps = parseSps(rbsp(bytes, nal.offset, nal.length))
        case PpsNut =>
          nPps += 1
          val pps = parsePps(rbsp(bytes, nal.offset, nal.length))
          ppsExtra.put(pps.ppsId, pps.numExtraSliceHeaderBits)
        case PrefixSei | SuffixSei => nSei += 1
        case t if isVcl(t) =>
          nVcl += 1
          // peek first_slice flag cheaply; full header parse needs the
          // PPS's extra-bit count (default 0 when the PPS hasn't shown)
          val rb = rbsp(bytes, nal.offset, math.min(nal.length, 64))
          val peek = reader(rb)
          val first = peek.flag()
          if (first) {
            nFrames += 1
            if (isIrap(t)) {
              nKey += 1
              if (isIdr(t)) nIdr += 1
              if (t == Cra) nCra += 1
            }
            // ppsId sits BEFORE the PPS-dependent extra bits, so peek
            // it first, then parse the full header with the right count
            if (isIrap(t)) peek.skip(1) // no_output_of_prior_pics_flag
            val ppsId = ue(peek)
            val extra = Option(ppsExtra.get(Integer.valueOf(ppsId)))
              .map(_.intValue).getOrElse(0)
            val full = parseSliceHeader(t, rb, extra)
            full.sliceType match {
              case SliceI => nI += 1
              case SliceP => nP += 1
              case SliceB => nB += 1
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    require(sps != null, "no SPS in the stream")
    StreamCensus(nals.length, nVcl, nFrames, nKey, nIdr, nCra, nSps, nPps,
      nSei, nI, nP, nB, sps.width, sps.height, sps.ptl.profileIdc,
      sps.ptl.tierFlag, sps.ptl.levelIdc, sps.chromaFormatIdc,
      sps.bitDepthLuma, sps.ctbSize)
  }

  // ---- hvcC: HEVCDecoderConfigurationRecord (ISO 14496-15 §8.3.3.1) -------

  final case class HvcC(profileSpace: Int, tier: Boolean, profileIdc: Int,
      compatFlags: Long, levelIdc: Int, chromaFormat: Int,
      bitDepthLuma: Int, bitDepthChroma: Int, lengthSize: Int,
      numTemporalLayers: Int, vps: Vector[Array[Byte]],
      spsNals: Vector[Array[Byte]], pps: Vector[Array[Byte]]) {
    /** The first SPS, fully parsed (resolution etc. live here). */
    def sps: Option[Sps] = spsNals.headOption.map { nalBytes =>
      // nal bytes carry the 2-byte NAL header, still emulation-protected
      parseSps(rbsp(nalBytes, 2, nalBytes.length - 2))
    }
  }

  def parseHvcC(bytes: Array[Byte], off: Int, len: Int): HvcC = {
    require(len >= 23, s"hvcC of $len bytes")
    def u8(i: Int): Int = Bytes.u8(bytes, off + i)
    require(u8(0) == 1, s"hvcC configurationVersion ${u8(0)}")
    val b1 = u8(1)
    val space = b1 >> 6
    val tier = ((b1 >> 5) & 1) == 1
    val idc = b1 & 0x1f
    var compat = 0L
    var i = 0
    while (i < 4) { compat = (compat << 8) | u8(2 + i); i += 1 }
    val level = u8(12)
    val chroma = u8(16) & 3
    val bdl = (u8(17) & 7) + 8
    val bdc = (u8(18) & 7) + 8
    val b21 = u8(21)
    val numTemporal = (b21 >> 3) & 7
    val lengthSize = (b21 & 3) + 1
    val numArrays = u8(22)
    var p = 23
    var vps = Vector.empty[Array[Byte]]
    var sps = Vector.empty[Array[Byte]]
    var pps = Vector.empty[Array[Byte]]
    var a = 0
    while (a < numArrays) {
      require(p + 3 <= len, "truncated hvcC array header")
      val nalType = u8(p) & 0x3f
      val numNalus = Bytes.be16(bytes, off + p + 1)
      p += 3
      var k = 0
      while (k < numNalus) {
        require(p + 2 <= len, "truncated hvcC nalUnitLength")
        val nl = Bytes.be16(bytes, off + p)
        p += 2
        require(p + nl <= len, "hvcC NAL overruns the record")
        val nalBytes = java.util.Arrays.copyOfRange(bytes, off + p, off + p + nl)
        nalType match {
          case VpsNut => vps :+= nalBytes
          case SpsNut => sps :+= nalBytes
          case PpsNut => pps :+= nalBytes
          case _ => ()
        }
        p += nl
        k += 1
      }
      a += 1
    }
    HvcC(space, tier, idc, compat, level, chroma, bdl, bdc, lengthSize,
      numTemporal, vps, sps, pps)
  }

  // ---- minimal deterministic stream writer (gate fixtures) ---------------

  private def putUe(w: MsbBitWriter, v: Int): Unit = {
    val k = v + 1
    val bits = 32 - Integer.numberOfLeadingZeros(k)
    w.putBits(0, bits - 1)
    w.putBits(k, bits)
  }

  private def putSe(w: MsbBitWriter, v: Int): Unit = putUe(w, if (v > 0) 2 * v - 1 else -2 * v)

  /** rbsp_trailing_bits (the stop bit, zero padding to a byte), then
    * emulation prevention over the whole NAL. */
  private def nalBytes(w: MsbBitWriter): Array[Byte] = { w.putBits(1, 1); escape(w.result()) }

  private def writePtl(w: MsbBitWriter, profileIdc: Int, levelIdc: Int): Unit = {
    w.putBits(0, 2); w.putBits(0, 1); w.putBits(profileIdc, 5)
    var j = 0
    while (j < 32) { w.putBits(if (j == profileIdc) 1 else 0, 1); j += 1 } // compat[j]
    w.putBits(1, 1); w.putBits(0, 1); w.putBits(1, 1); w.putBits(1, 1) // progressive/frame-only
    w.putBits(0, 31); w.putBits(0, 12); w.putBits(0, 1) // 43 reserved + inbld
    w.putBits(levelIdc, 8)
  }

  private def nalHeader(w: MsbBitWriter, nalType: Int): Unit = {
    w.putBits(0, 1); w.putBits(nalType, 6); w.putBits(0, 6); w.putBits(1, 3)
  }

  /** Serialize the SPS [[writeStream]] emits (kept small: one
    * sub-layer, no VUI). Public so hvcC fixtures can reuse it. */
  def writeSps(w0: Int, h0: Int, confRight: Int, confBottom: Int,
      profileIdc: Int, levelIdc: Int): Array[Byte] = {
    val w = new MsbBitWriter
    nalHeader(w, SpsNut)
    w.putBits(0, 4); w.putBits(0, 3); w.putBits(1, 1) // vps id, max_sub_layers_minus1, nesting
    writePtl(w, profileIdc, levelIdc)
    putUe(w, 0) // sps id
    putUe(w, 1) // chroma 4:2:0
    putUe(w, w0); putUe(w, h0)
    if (confRight > 0 || confBottom > 0) {
      w.putBits(1, 1); putUe(w, 0); putUe(w, confRight); putUe(w, 0); putUe(w, confBottom)
    } else w.putBits(0, 1)
    putUe(w, 0); putUe(w, 0) // bit depths 8
    putUe(w, 4) // log2_max_poc_lsb_minus4 → 8
    w.putBits(1, 1); putUe(w, 1); putUe(w, 0); putUe(w, 0) // ordering info, one layer
    putUe(w, 0); putUe(w, 3) // min CB 8, CTB 64
    putUe(w, 0); putUe(w, 3); putUe(w, 0); putUe(w, 0) // transform sizes + depths
    w.putBits(0, 1); w.putBits(0, 1) // scaling_list, amp
    w.putBits(0, 1); w.putBits(0, 1) // sao, pcm
    putUe(w, 0) // num_short_term_ref_pic_sets
    w.putBits(0, 1) // long_term_ref_pics_present
    w.putBits(0, 1) // sps_temporal_mvp
    w.putBits(0, 1) // strong_intra_smoothing
    w.putBits(0, 1) // vui_parameters_present
    w.putBits(0, 1) // sps_extension_present
    nalBytes(w)
  }

  /** The matching minimal PPS. */
  def writePps(): Array[Byte] = {
    val w = new MsbBitWriter
    nalHeader(w, PpsNut)
    putUe(w, 0); putUe(w, 0) // pps id, sps id
    w.putBits(0, 1); w.putBits(0, 1) // dependent slices, output flag
    w.putBits(0, 3) // num_extra_slice_header_bits
    w.putBits(0, 1); w.putBits(0, 1) // sign hiding, cabac init
    putUe(w, 0); putUe(w, 0) // ref idx defaults
    putSe(w, 0) // init_qp_minus26
    w.putBits(0, 1); w.putBits(0, 1); w.putBits(0, 1) // constrained intra, transform skip, cu_qp_delta
    putSe(w, 0); putSe(w, 0) // cb/cr offsets
    w.putBits(0, 8) // 8 single-bit flags: pps_slice_chroma_qp_offsets..weighted_bipred etc.
    w.putBits(0, 1); w.putBits(0, 1) // tiles, entropy sync
    w.putBits(0, 1) // loop filter across slices
    w.putBits(0, 1) // deblocking override
    w.putBits(0, 1) // scaling list
    w.putBits(0, 1) // lists_modification
    putUe(w, 0) // log2_parallel_merge_level_minus2
    w.putBits(0, 1); w.putBits(0, 1) // slice header extension, pps extension
    nalBytes(w)
  }

  private def writeVps(profileIdc: Int, levelIdc: Int): Array[Byte] = {
    val w = new MsbBitWriter
    nalHeader(w, VpsNut)
    w.putBits(0, 4); w.putBits(1, 1); w.putBits(1, 1) // id, base layer internal/available
    w.putBits(0, 6); w.putBits(0, 3); w.putBits(1, 1) // max_layers, sub_layers, nesting
    w.putBits(0xffff, 16)
    writePtl(w, profileIdc, levelIdc)
    w.putBits(0, 1) // vps_sub_layer_ordering_info_present (one layer: 0 triples? spec requires the triple)
    putUe(w, 1); putUe(w, 0); putUe(w, 0) // dec_pic_buffering/reorder/latency for layer 0
    w.putBits(0, 6); putUe(w, 0) // max_layer_id, num_layer_sets_minus1
    w.putBits(0, 1) // vps_timing_info_present
    w.putBits(0, 1) // vps_extension
    nalBytes(w)
  }

  /** A minimal slice NAL: a syntactically valid header prefix followed
    * by deterministic filler "slice data". NOT a decodable picture —
    * the metadata tier never parses past the header; pixel realism in
    * tests comes from real x265 streams (HevcMetaSpec). */
  private def writeSlice(nalType: Int, sliceType: Int, payloadSeed: Long,
      payloadLen: Int): Array[Byte] = {
    val w = new MsbBitWriter
    nalHeader(w, nalType)
    w.putBits(1, 1) // first_slice_segment_in_pic_flag
    if (isIrap(nalType)) w.putBits(0, 1) // no_output_of_prior_pics
    putUe(w, 0) // pps id
    putUe(w, sliceType)
    if (sliceType != SliceI) {
      // minimal valid P-slice header tail: slice_pic_order_cnt_lsb
      // (8 bits per our SPS), then an inline one-entry st_ref_pic_set
      // (the SPS declares zero candidate sets)
      w.putBits(1, 8)
      w.putBits(0, 1) // short_term_ref_pic_set_sps_flag
      putUe(w, 1); putUe(w, 0) // num_negative_pics, num_positive_pics
      putUe(w, 0); w.putBits(1, 1) // delta_poc_s0_minus1, used_by_curr_pic
    }
    val head = nalBytes(w)
    val out = new java.io.ByteArrayOutputStream(head.length + payloadLen)
    out.write(head, 0, head.length)
    var x = payloadSeed | 1L
    var i = 0
    while (i < payloadLen) {
      x = x * 6364136223846793005L + 1442695040888963407L
      // keep filler free of start-code emulation: high bit always set
      out.write(0x80 | ((x >>> 56) & 0x7f).toInt)
      i += 1
    }
    out.toByteArray
  }

  /** Deterministic Annex-B HEVC stream for gate fixtures: headers,
    * then `nFrames` pictures with an IDR every `keyint` frames and
    * TRAIL_R P-slices between. Census over it replays exactly from
    * (w, h, nFrames, keyint) in SQL. */
  def writeStream(width: Int, height: Int, nFrames: Int, keyint: Int,
      seed: Long, profileIdc: Int = 1, levelIdc: Int = 93,
      sliceBytes: Int = 48): Array[Byte] = {
    require(width % 2 == 0 && height % 2 == 0, "even dimensions (4:2:0)")
    require(nFrames > 0 && keyint > 0, "positive frame count / keyint")
    val out = new java.io.ByteArrayOutputStream(1024)
    def put(nal: Array[Byte], long: Boolean): Unit = {
      if (long) out.write(0)
      out.write(0); out.write(0); out.write(1)
      out.write(nal, 0, nal.length)
    }
    put(writeVps(profileIdc, levelIdc), long = true)
    put(writeSps(width, height, 0, 0, profileIdc, levelIdc), long = false)
    put(writePps(), long = false)
    var f = 0
    while (f < nFrames) {
      if (f % keyint == 0)
        put(writeSlice(IdrNLp, SliceI, seed + f, sliceBytes), long = true)
      else
        put(writeSlice(TrailR, SliceP, seed + f, sliceBytes), long = false)
      f += 1
    }
    out.toByteArray
  }

  /** One MP4 sample for [[Mp4Meta.encodeHevc]]: a single slice NAL,
    * 4-byte length-prefixed — keyframes are IDR_N_LP I-slices, others
    * TRAIL_R P-slices (parameter sets live in the hvcC record, not
    * in-band, per the hvc1 sample-entry contract). */
  def writeSample(keyframe: Boolean, seed: Long, payloadLen: Int = 48): Array[Byte] = {
    val nal =
      if (keyframe) writeSlice(IdrNLp, SliceI, seed, payloadLen)
      else writeSlice(TrailR, SliceP, seed, payloadLen)
    val out = new Array[Byte](4 + nal.length)
    out(0) = (nal.length >> 24).toByte
    out(1) = ((nal.length >> 16) & 0xff).toByte
    out(2) = ((nal.length >> 8) & 0xff).toByte
    out(3) = (nal.length & 0xff).toByte
    System.arraycopy(nal, 0, out, 4, nal.length)
    out
  }

  /** Serialize a minimal hvcC record around [[writeSps]]/[[writePps]]
    * output (plus a VPS) — the MP4 `hvc1` config-box shape the parser
    * reads back; lengthSize fixed at 4. */
  def writeHvcC(width: Int, height: Int, profileIdc: Int = 1,
      levelIdc: Int = 93): Array[Byte] = {
    val vps = writeVps(profileIdc, levelIdc)
    val sps = writeSps(width, height, 0, 0, profileIdc, levelIdc)
    val pps = writePps()
    val out = new java.io.ByteArrayOutputStream(128)
    out.write(1) // configurationVersion
    out.write(profileIdc & 0x1f) // space 0, tier 0
    val compat = 1L << (31 - profileIdc) // compat flag for own profile (MSB-first)
    var i = 3
    while (i >= 0) { out.write(((compat >> (8 * i)) & 0xff).toInt); i -= 1 }
    i = 0
    while (i < 6) { out.write(0); i += 1 } // constraint flags
    out.write(levelIdc)
    out.write(0xf0); out.write(0) // min_spatial_segmentation
    out.write(0xfc) // parallelismType
    out.write(0xfc | 1) // chromaFormat 4:2:0
    out.write(0xf8) // bitDepthLumaMinus8
    out.write(0xf8) // bitDepthChromaMinus8
    out.write(0); out.write(0) // avgFrameRate
    out.write((1 << 3) | 3) // numTemporalLayers 1, nested 0, lengthSize 4
    out.write(3) // numOfArrays
    def arr(nalType: Int, nal: Array[Byte]): Unit = {
      out.write(0x80 | nalType) // array_completeness + type
      out.write(0); out.write(1) // numNalus
      out.write(nal.length >> 8); out.write(nal.length & 0xff)
      out.write(nal, 0, nal.length)
    }
    arr(VpsNut, vps); arr(SpsNut, sps); arr(PpsNut, pps)
    out.toByteArray
  }
}
