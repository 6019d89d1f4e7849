package graft.operators

/** WebM (Matroska) and IVF video containers with REAL VP8 keyframe
  * decode — the video leg's frame access, un-fencing what
  * [[Mp4Meta]]/[[EbmlMeta]] kept metadata-only. Sources are the public
  * specs: RFC 8794 (EBML framing), the matroska.org element registry
  * (Cluster/SimpleBlock/BlockGroup layout), RFC 6386 (the VP8
  * bitstream [[Vp8Codec]] already decodes byte-exact against libwebp
  * for lossy WebP), and the libvpx IVF framing (32-byte "DKIF" header
  * + 12-byte per-frame headers). Reference scope anchor:
  * `/root/reference/dataframe/core.py` has no media surface at all —
  * this tier is the training-pipeline extension mandated by the brief.
  *
  * Scope is the honest pipeline cut: VP8 KEYFRAMES decode (keyframes
  * are intra-only, exactly the RFC 6386 subset [[Vp8Codec]]
  * implements); interframes are demuxed, counted, and skippable but
  * never pixel-decoded — which is also what a real curation pipeline
  * does (keyframe sampling, not full transcode). VP9/AV1 stay
  * metadata-only.
  *
  * Demux is row-local and allocation-light: frames are returned as
  * (offset, length) windows into the original payload, so keyframe
  * sampling at stride N decodes exactly the sampled frames and the
  * container bytes never copy. At 100 TB this is a flatMap over media
  * rows — no joins, no shuffle, same shape as the image codecs.
  */
object WebmVideo {

  /** One demuxed frame: presentation time in ms, container-declared
    * keyframe flag, and the payload window [off, off+len) into the
    * container bytes. */
  final case class Frame(ptsMs: Long, keyframe: Boolean, off: Int, len: Int)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // ------------------------------------------------------------------
  // EBML writing (mux side). Element IDs are written in registry form
  // (marker bit kept); sizes in minimal-width vint form (all-ones
  // "unknown size" is never emitted).
  // ------------------------------------------------------------------

  private def idBytes(id: Long): Array[Byte] = {
    var n = 8
    while (n > 1 && (id >>> ((n - 1) * 8)) == 0) n -= 1
    Array.tabulate(n)(i => ((id >>> ((n - 1 - i) * 8)) & 0xff).toByte)
  }

  private def sizeBytes(v: Long): Array[Byte] = {
    require(v >= 0, s"negative EBML size $v")
    var n = 1
    while (n < 8 && v >= (1L << (7 * n)) - 1) n += 1 // all-ones reserved
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      out(i) = ((v >>> ((n - 1 - i) * 8)) & 0xff).toByte
      i += 1
    }
    out(0) = (out(0) | (0x100 >> n)).toByte
    out
  }

  private def elem(id: Long, payload: Array[Byte]): Array[Byte] =
    idBytes(id) ++ sizeBytes(payload.length.toLong) ++ payload

  private def uintPayload(v: Long): Array[Byte] = {
    require(v >= 0, s"negative EBML uint $v")
    var n = 8
    while (n > 1 && (v >>> ((n - 1) * 8)) == 0) n -= 1
    Array.tabulate(n)(i => ((v >>> ((n - 1 - i) * 8)) & 0xff).toByte)
  }

  /** EBML header with DocType "webm" (same fields as
    * [[EbmlMeta.encode]], composed through the generic writer). */
  private def ebmlHeader: Array[Byte] = elem(0x1A45DFA3L,
    elem(0x4286L, uintPayload(1)) ++ // EBMLVersion
      elem(0x42F7L, uintPayload(1)) ++ // EBMLReadVersion
      elem(0x42F2L, uintPayload(4)) ++ // EBMLMaxIDLength
      elem(0x42F3L, uintPayload(8)) ++ // EBMLMaxSizeLength
      elem(0x4282L, "webm".getBytes(java.nio.charset.StandardCharsets.US_ASCII)) ++
      elem(0x4287L, uintPayload(2)) ++ // DocTypeVersion
      elem(0x4285L, uintPayload(2)))   // DocTypeReadVersion

  /** Mux VP8 frames into a spec-valid WebM: EBML header + Segment(
    * Info(TimecodeScale 1 ms, Duration), Tracks(one V_VP8 video
    * track), Cluster*). Frames are (ptsMs, vp8Payload) in pts order;
    * the SimpleBlock keyframe flag is derived from the VP8 frame tag
    * (RFC 6386 §9.1: tag bit 0 = 0 for keyframes). A new cluster
    * starts every `framesPerCluster` frames (real muxers cut clusters
    * by time; the fixed count keeps fixtures closed-form). */
  def muxWebm(frames: Seq[(Long, Array[Byte])], w: Int, h: Int,
      durationMs: Long, framesPerCluster: Int = 4): Array[Byte] = {
    frames.foreach { case (_, payload) =>
      require(payload != null && payload.length >= 3,
        "muxWebm: VP8 payload shorter than the 3-byte frame tag")
    }
    muxWebmCoded(frames.map { case (pts, payload) =>
      (pts, payload, (payload(0) & 1) == 0) // RFC 6386 §9.1 tag bit
    }, "V_VP8", w, h, durationMs, framesPerCluster)
  }

  /** Codec-generic WebM mux: caller supplies (ptsMs, payload,
    * keyframe) triples, the CodecID string ("V_VP8", "V_AV1", …) and
    * an optional CodecPrivate blob (AV1 carries its sequence-header
    * OBU there per the Matroska AV1 mapping). [[muxWebm]] is the VP8
    * specialization that derives key flags from the frame tag. */
  def muxWebmCoded(frames: Seq[(Long, Array[Byte], Boolean)], codecId: String,
      w: Int, h: Int, durationMs: Long, framesPerCluster: Int = 4,
      codecPrivate: Array[Byte] = null): Array[Byte] = {
    require(frames.nonEmpty, "muxWebm: no frames")
    require(w > 0 && h > 0 && w <= 0x3fff && h <= 0x3fff,
      s"muxWebm: bad dims ${w}x$h")
    require(framesPerCluster >= 1, "muxWebm: framesPerCluster < 1")
    val info = elem(0x1549A966L,
      elem(0x2AD7B1L, uintPayload(1000000L)) ++ // TimecodeScale: 1 ms ticks
        elem(0x4489L, { // Duration, float64 in scale units
          val bits = java.lang.Double.doubleToLongBits(durationMs.toDouble)
          Array.tabulate(8)(i => ((bits >>> ((7 - i) * 8)) & 0xff).toByte)
        }))
    val tracks = elem(0x1654AE6BL, elem(0xAEL,
      elem(0xD7L, uintPayload(1)) ++   // TrackNumber
        elem(0x73C5L, uintPayload(1)) ++ // TrackUID
        elem(0x9CL, uintPayload(0)) ++   // FlagLacing: off
        elem(0x83L, uintPayload(1)) ++   // TrackType: video
        elem(0x86L, codecId.getBytes(java.nio.charset.StandardCharsets.US_ASCII)) ++
        (if (codecPrivate == null) Array.emptyByteArray
         else elem(0x63A2L, codecPrivate)) ++ // CodecPrivate
        elem(0xE0L,
          elem(0xB0L, uintPayload(w.toLong)) ++
            elem(0xBAL, uintPayload(h.toLong)))))
    val clusters = frames.grouped(framesPerCluster).map { group =>
      val base = group.head._1
      val blocks = group.map { case (pts, payload, key) =>
        require(payload != null && payload.nonEmpty, "muxWebm: empty payload")
        val rel = pts - base
        require(rel >= Short.MinValue && rel <= Short.MaxValue,
          s"muxWebm: block pts $pts out of i16 range of cluster base $base")
        val headBytes = Array[Byte](0x81.toByte, // track 1 vint
          ((rel >> 8) & 0xff).toByte, (rel & 0xff).toByte,
          (if (key) 0x80 else 0x00).toByte) // flags: keyframe, no lacing
        elem(0xA3L, headBytes ++ payload) // SimpleBlock
      }
      elem(0x1F43B675L,
        elem(0xE7L, uintPayload(base)) ++ blocks.reduce(_ ++ _))
    }.toSeq
    ebmlHeader ++ elem(0x18538067L, info ++ tracks ++ clusters.flatten.toArray)
  }

  /** The FIRST track's CodecID string + CodecPrivate payload (null
    * when absent) — the codec-dispatch read for WebM, the container
    * analog of [[Mp4Meta.videoCodecInfo]]. */
  def trackCodec(bytes: Array[Byte]): (String, Array[Byte]) = {
    if (!EbmlMeta.isEbml(bytes)) fail("trackCodec: not an EBML payload")
    var codec: String = null
    var priv: Array[Byte] = null
    EbmlMeta.walk(bytes, 0, bytes.length) { (id, p, e) =>
      if (id == 0x18538067L) EbmlMeta.walk(bytes, p, e) { (id2, p2, e2) =>
        if (id2 == 0x1654AE6BL) EbmlMeta.walk(bytes, p2, e2) { (id3, p3, e3) =>
          if (id3 == 0xAEL && codec == null)
            EbmlMeta.walk(bytes, p3, e3) { (id4, p4, e4) =>
              id4 match {
                case 0x86L => codec = new String(bytes, p4, e4 - p4,
                  java.nio.charset.StandardCharsets.US_ASCII)
                case 0x63A2L => priv = java.util.Arrays.copyOfRange(bytes, p4, e4)
                case _ => ()
              }
            }
        }
      }
    }
    if (codec == null) fail("trackCodec: no CodecID in any TrackEntry")
    (codec, priv)
  }

  /** Demux a WebM/Matroska payload into its frames (all tracks; the
    * fixture and common crawl case is single-track video). Handles
    * both SimpleBlock and BlockGroup/Block (keyframe = no
    * ReferenceBlock sibling). Lacing is refused loudly — RFC 8794
    * framing errors and overruns also fail loudly, never hang. */
  def demuxWebm(bytes: Array[Byte]): Array[Frame] = {
    if (!EbmlMeta.isEbml(bytes)) fail("demuxWebm: not an EBML payload")
    val out = scala.collection.mutable.ArrayBuffer.empty[Frame]
    EbmlMeta.walk(bytes, 0, bytes.length) { (id, p, e) =>
      if (id == 0x18538067L) { // Segment
        EbmlMeta.walk(bytes, p, e) { (id2, p2, e2) =>
          if (id2 == 0x1F43B675L) { // Cluster
            var clusterTc = 0L
            EbmlMeta.walk(bytes, p2, e2) { (id3, p3, e3) =>
              id3 match {
                case 0xE7L => clusterTc = EbmlMeta.readUint(bytes, p3, e3 - p3)
                case 0xA3L => // SimpleBlock
                  out += parseBlock(bytes, p3, e3, clusterTc, keyOverride = None)
                case 0xA0L => // BlockGroup: keyframe = no ReferenceBlock
                  var blockAt = -1
                  var blockEnd = -1
                  var hasRef = false
                  EbmlMeta.walk(bytes, p3, e3) { (id4, p4, e4) =>
                    id4 match {
                      case 0xA1L => blockAt = p4; blockEnd = e4
                      case 0xFBL => hasRef = true
                      case _ => ()
                    }
                  }
                  if (blockAt >= 0)
                    out += parseBlock(bytes, blockAt, blockEnd, clusterTc,
                      keyOverride = Some(!hasRef))
                case _ => ()
              }
            }
          }
        }
      }
    }
    out.toArray
  }

  /** Block / SimpleBlock body: track vint, i16 BE relative timecode,
    * flags byte, frame data. Keyframe comes from the flags byte
    * (SimpleBlock) or the ReferenceBlock census (Block). */
  private def parseBlock(bytes: Array[Byte], p: Int, e: Int,
      clusterTc: Long, keyOverride: Option[Boolean]): Frame = {
    val (_, trackLen) = EbmlMeta.readVarint(bytes, p, keepMarker = false)
    val hdr = p + trackLen
    if (hdr + 3 > e) fail(s"block header overruns element at offset $p")
    val rel = ((bytes(hdr) << 8) | (bytes(hdr + 1) & 0xff)).toShort.toLong
    val flags = bytes(hdr + 2) & 0xff
    if ((flags & 0x06) != 0) fail("block lacing is not supported")
    val dataOff = hdr + 3
    if (dataOff >= e) fail(s"empty block at offset $p")
    val key = keyOverride.getOrElse((flags & 0x80) != 0)
    Frame(clusterTc + rel, key, dataOff, e - dataOff)
  }

  // ------------------------------------------------------------------
  // IVF (libvpx raw-frame container).
  // ------------------------------------------------------------------

  /** True iff the payload leads with the IVF magic "DKIF". */
  def isIvf(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 4 &&
      bytes(0) == 'D' && bytes(1) == 'K' && bytes(2) == 'I' && bytes(3) == 'F'

  private def putLe16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def putLe32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Mux VP8 frames into an IVF stream. Timebase is pinned to 1/1000
    * so IVF pts are milliseconds, matching the WebM side. */
  def muxIvf(frames: Seq[(Long, Array[Byte])], w: Int, h: Int): Array[Byte] = {
    require(frames.nonEmpty, "muxIvf: no frames")
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff,
      s"muxIvf: bad dims ${w}x$h")
    val out = new java.io.ByteArrayOutputStream()
    out.write('D'); out.write('K'); out.write('I'); out.write('F')
    putLe16(out, 0) // version
    putLe16(out, 32) // header size
    out.write('V'); out.write('P'); out.write('8'); out.write('0')
    putLe16(out, w); putLe16(out, h)
    putLe32(out, 1000L) // timebase denominator (ticks per second)
    putLe32(out, 1L)    // timebase numerator
    putLe32(out, frames.size.toLong)
    putLe32(out, 0L)    // reserved
    frames.foreach { case (pts, payload) =>
      require(payload != null && payload.length >= 3,
        "muxIvf: VP8 payload shorter than the 3-byte frame tag")
      putLe32(out, payload.length.toLong)
      putLe32(out, pts); putLe32(out, pts >>> 32)
      out.write(payload)
    }
    out.toByteArray
  }

  /** Demux an IVF stream; the keyframe flag comes from the VP8 frame
    * tag (IVF has no container-level flag). Truncated headers or
    * overrunning frame sizes fail loudly. */
  def demuxIvf(bytes: Array[Byte]): Array[Frame] = {
    if (!isIvf(bytes)) fail("demuxIvf: not an IVF payload")
    if (bytes.length < 32) fail("demuxIvf: truncated IVF header")
    val hdrSize = Bytes.le16(bytes, 6)
    if (hdrSize < 32) fail(s"demuxIvf: bad header size $hdrSize")
    val fourcc = new String(bytes, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc != "VP80") fail(s"demuxIvf: unsupported codec fourcc $fourcc")
    val den = Bytes.le32u(bytes, 16)
    val num = Bytes.le32u(bytes, 20)
    if (den <= 0 || num <= 0) fail(s"demuxIvf: bad timebase $num/$den")
    val out = scala.collection.mutable.ArrayBuffer.empty[Frame]
    var p = hdrSize
    while (p < bytes.length) {
      if (p + 12 > bytes.length) fail(s"demuxIvf: truncated frame header at $p")
      val sz = Bytes.le32u(bytes, p)
      val pts = Bytes.le64(bytes, p + 4)
      if (sz < 3 || p + 12L + sz > bytes.length)
        fail(s"demuxIvf: frame size $sz overruns at $p")
      val off = p + 12
      val key = (bytes(off) & 1) == 0
      val ptsMs = pts * 1000L * num / den
      out += Frame(ptsMs, key, off, sz.toInt)
      p = off + sz.toInt
    }
    out.toArray
  }

  // ------------------------------------------------------------------
  // Container-agnostic keyframe decode.
  // ------------------------------------------------------------------

  /** Demux either container: returns (format, frames). Non-video
    * payloads fail loudly — callers that want a lenient census filter
    * by magic first ([[EbmlMeta.isEbml]] / [[isIvf]]). */
  def demux(bytes: Array[Byte]): (String, Array[Frame]) =
    if (EbmlMeta.isEbml(bytes)) ("webm", demuxWebm(bytes))
    else if (isIvf(bytes)) ("ivf", demuxIvf(bytes))
    else fail("demux: neither an EBML nor an IVF payload")

  /** Decode every `everyNth`-th KEYFRAME (ordinal over the keyframe
    * subsequence, starting at the first) to RGB. Interframes are
    * skipped without decode — keyframe sampling is the pipeline
    * semantics, and intra-only is [[Vp8Codec]]'s honest scope. The
    * container keyframe flag is cross-checked against the VP8 frame
    * tag; a mismatch is corruption and fails loudly. Returns
    * (keyframeOrdinal, ptsMs, raster). */
  def decodeKeyframes(bytes: Array[Byte], everyNth: Int = 1)
      : Iterator[(Int, Long, PngCodec.Raster)] = {
    require(everyNth >= 1, s"decodeKeyframes: bad stride $everyNth")
    val (_, frames) = demux(bytes)
    frames.iterator.filter(_.keyframe).zipWithIndex.collect {
      case (f, i) if i % everyNth == 0 =>
        if ((bytes(f.off) & 1) != 0)
          fail(s"keyframe flag set on an interframe payload at pts ${f.ptsMs}")
        (i, f.ptsMs, Vp8Codec.decode(bytes, f.off, f.len))
    }
  }

  /** A deterministic NON-keyframe stub: a syntactically plausible VP8
    * interframe tag (frame_type=1, show_frame=1) plus filler. Never
    * decoded — it exists so fixtures exercise the keyframe-subsequence
    * logic the way real crawl videos do. */
  def interframeStub(len: Int = 8): Array[Byte] = {
    require(len >= 3, s"interframeStub: len $len < 3")
    val first = 1 | (1 << 4) // frame_type=1 (interframe), show_frame=1
    Array.tabulate(len)(i => if (i == 0) first.toByte else 0x5a.toByte)
  }
}
