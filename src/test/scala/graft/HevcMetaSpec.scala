package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HevcMeta, MsbBitReader}

/** The HEVC metadata parser against the REAL system libx265 (an
  * independent encoder driven via scripts/hevc_oracle.py — the
  * libwebp-probe pattern), plus hand vectors for the byte-level
  * machinery (emulation prevention, exp-Golomb, conformance cropping)
  * and the in-repo writer round-trips the gates rely on. */
class HevcMetaSpec extends AnyFunSuite {

  private def oracleAvailable: Boolean =
    new java.io.File("/lib/x86_64-linux-gnu/libx265.so.199").exists() &&
      new java.io.File("/root/repo/scripts/hevc_oracle.py").exists()

  private def x265(res: String, keyint: Int, frames: Int, bframes: Int)
      : (Array[Byte], Seq[Int], Int, Int) = {
    val pb = new ProcessBuilder("python3", "/root/repo/scripts/hevc_oracle.py",
      res, keyint.toString, frames.toString, bframes.toString)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, s"oracle failed: $err")
    // tiny JSON pick without a parser dep: fields are flat and known
    def intField(k: String): Int =
      s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(out).get.group(1).toInt
    val b64 = """"stream_b64":\s*"([A-Za-z0-9+/=]*)"""".r
      .findFirstMatchIn(out).get.group(1)
    val types = """"nal_types":\s*\[([0-9,\s]*)\]""".r
      .findFirstMatchIn(out).get.group(1).split(",").filter(_.trim.nonEmpty)
      .map(_.trim.toInt).toSeq
    (java.util.Base64.getDecoder.decode(b64), types, intField("w"), intField("h"))
  }

  // ---- bit machinery ------------------------------------------------------

  test("exp-Golomb ue/se round-trip through the writer/reader pair") {
    // spec examples: ue 0→'1', 1→'010', 2→'011', 3→'00100'
    def r(b: Byte*) = new MsbBitReader(b.toArray, 0, b.length, "RBSP")
    assert(HevcMeta.ue(r(0x40, 0x00)) == 1) // '010 0...' → ue = 1
    assert(HevcMeta.ue(r(0x80.toByte)) == 0)
    assert(HevcMeta.ue(r(0x20, 0x00)) == 3)
    // se zigzag: k=1→+1, k=2→−1, k=3→+2
    assert(HevcMeta.se(r(0x40, 0x00)) == 1)
    assert(HevcMeta.se(r(0x60, 0x00)) == -1)
  }

  test("rbsp strips emulation-prevention bytes exactly (00 00 03 → 00 00)") {
    val in = Array[Byte](0x00, 0x00, 0x03, 0x01, 0x00, 0x00, 0x03, 0x03,
      0x42, 0x00, 0x00, 0x03, 0x00)
    val out = HevcMeta.rbsp(in, 0, in.length)
    assert(out.toSeq == Seq[Byte](0x00, 0x00, 0x01, 0x00, 0x00, 0x03, 0x42,
      0x00, 0x00, 0x00))
    // a 03 NOT after two zeros stays
    val keep = Array[Byte](0x01, 0x03, 0x02)
    assert(HevcMeta.rbsp(keep, 0, 3).toSeq == keep.toSeq)
  }

  test("annex-B walk: 3- and 4-byte start codes, header fields, loud on junk") {
    val s = HevcMeta.writeStream(64, 48, nFrames = 5, keyint = 2, seed = 7L)
    val nals = HevcMeta.annexBNals(s)
    assert(nals.map(_.nalType) ==
      Vector(32, 33, 34, 20, 1, 20, 1, 20)) // VPS SPS PPS then IDR/TRAIL cadence
    assert(nals.forall(_.temporalIdPlus1 == 1))
    assert(nals.forall(_.layerId == 0))
    intercept[IllegalArgumentException](
      HevcMeta.census("not a bitstream at all".getBytes("UTF-8")))
  }

  // ---- writer → parser round-trips (gate fixture machinery) ---------------

  test("writeSps → parseSps recovers every field, incl. conformance cropping") {
    for ((w, h, cr, cb) <- Seq((64, 48, 0, 0), (104, 64, 2, 1), (320, 136, 0, 3))) {
      val nal = HevcMeta.writeSps(w, h, cr, cb, profileIdc = 1, levelIdc = 93)
      val sps = HevcMeta.parseSps(HevcMeta.rbsp(nal, 2, nal.length - 2))
      assert(sps.picWidthInLumaSamples == w && sps.picHeightInLumaSamples == h)
      assert(sps.confWinRight == cr && sps.confWinBottom == cb)
      assert(sps.width == w - 2 * cr && sps.height == h - 2 * cb) // 4:2:0 ⇒ ×2
      assert(sps.ptl.profileIdc == 1 && sps.ptl.levelIdc == 93)
      assert(!sps.ptl.tierFlag && sps.chromaFormatIdc == 1)
      assert(sps.bitDepthLuma == 8 && sps.bitDepthChroma == 8)
      assert(sps.ctbSize == 64 && sps.log2MinCbSize == 3)
    }
  }

  test("writeStream → census replays exactly from (w, h, frames, keyint)") {
    for ((w, h, nf, ki) <- Seq((64, 48, 7, 3), (128, 96, 12, 4), (96, 64, 1, 1))) {
      val c = HevcMeta.census(HevcMeta.writeStream(w, h, nf, ki, seed = w * 1000L + nf))
      assert(c.width == w && c.height == h)
      assert(c.nFrames == nf)
      val expKey = (nf + ki - 1) / ki
      assert(c.nKeyframes == expKey && c.nIdr == expKey && c.nCra == 0)
      assert(c.nSliceI == expKey && c.nSliceP == nf - expKey && c.nSliceB == 0)
      assert(c.nSps == 1 && c.nPps == 1)
      assert(c.profileIdc == 1 && c.levelIdc == 93 && c.chromaFormatIdc == 1)
      assert(c.bitDepthLuma == 8 && c.ctbSize == 64)
    }
  }

  test("hvcC round-trip: record fields + embedded SPS resolution") {
    val rec = HevcMeta.writeHvcC(width = 640, height = 360, profileIdc = 1,
      levelIdc = 120)
    val h = HevcMeta.parseHvcC(rec, 0, rec.length)
    assert(h.profileIdc == 1 && !h.tier && h.levelIdc == 120)
    assert(h.chromaFormat == 1 && h.bitDepthLuma == 8 && h.bitDepthChroma == 8)
    assert(h.lengthSize == 4 && h.numTemporalLayers == 1)
    assert(h.vps.size == 1 && h.spsNals.size == 1 && h.pps.size == 1)
    assert((h.compatFlags & (1L << 30)) != 0) // profile-1 compat bit
    val sps = h.sps.get
    assert(sps.width == 640 && sps.height == 360)
    intercept[IllegalArgumentException](HevcMeta.parseHvcC(rec, 0, 10))
  }

  test("length-prefixed sample walk (the MP4 mdat shape)") {
    val s = HevcMeta.writeStream(64, 48, 3, 2, seed = 5L)
    val annexb = HevcMeta.annexBNals(s)
    // re-frame the same NALs with 4-byte length prefixes
    val out = new java.io.ByteArrayOutputStream()
    annexb.foreach { n =>
      val full = 2 + n.length // header + payload
      out.write(full >> 24); out.write((full >> 16) & 0xff)
      out.write((full >> 8) & 0xff); out.write(full & 0xff)
      out.write(s, n.offset - 2, full)
    }
    val got = HevcMeta.lengthPrefixedNals(out.toByteArray, 4)
    assert(got.map(_.nalType) == annexb.map(_.nalType))
    assert(got.map(_.length) == annexb.map(_.length))
    intercept[IllegalArgumentException](
      HevcMeta.lengthPrefixedNals(Array[Byte](0, 0, 0, 9, 1), 4))
  }

  test("HEVC-in-MP4 end-to-end: stsd codec dispatch, hvcC dims, sample NAL census") {
    import graft.operators.Mp4Meta
    val n = 9
    val ki = 4
    val hvcC = HevcMeta.writeHvcC(width = 320, height = 180, levelIdc = 93)
    val samples = (0 until n).map(f =>
      HevcMeta.writeSample(keyframe = f % ki == 0, seed = 100L + f))
    val syncs = (0 until n).filter(_ % ki == 0).map(_ + 1)
    val mp4 = Mp4Meta.encodeHevc(samples, syncs, hvcC, 320, 180)
    // codec dispatch BEFORE sample bytes
    val info = Mp4Meta.videoCodecInfo(mp4)
    assert(info.codec == "hvc1")
    val (cbTag, cbBytes) = info.configBox.get
    assert(cbTag == "hvcC")
    val rec = HevcMeta.parseHvcC(cbBytes, 0, cbBytes.length)
    assert(rec.sps.get.width == 320 && rec.sps.get.height == 180)
    assert(rec.lengthSize == 4)
    // sample table + per-sample NAL walk: container sync flags must
    // agree with the bitstream's IRAP classification
    val st = Mp4Meta.sampleTable(mp4)
    assert(st.samples.size == n)
    st.samples.foreach { s =>
      val bytes = java.util.Arrays.copyOfRange(mp4, s.offset.toInt,
        (s.offset + s.size).toInt)
      val nals = HevcMeta.lengthPrefixedNals(bytes, rec.lengthSize)
      assert(nals.size == 1)
      assert(HevcMeta.isIrap(nals.head.nalType) == s.keyframe,
        s"sample ${s.index}: stss vs NAL type")
    }
    assert(st.samples.count(_.keyframe) == syncs.size)
    // generic VideoMeta still reads the same file
    val vm = Mp4Meta.parse(mp4)
    assert(vm.width == 320 && vm.height == 180 && vm.nTracks == 1)
  }

  // ---- the independent oracle: REAL x265 streams --------------------------

  test("census agrees with x265 on stream structure and coding parameters") {
    assume(oracleAvailable, "libx265/oracle script not present")
    for ((res, ki, nf, bf) <- Seq(("100x62", 4, 10, 0), ("64x48", 5, 12, 2),
      ("320x130", 25, 6, 0))) {
      val (stream, types, w, h) = x265(res, ki, nf, bf)
      val c = HevcMeta.census(stream)
      // resolution through the conformance window: x265 pads odd sizes
      // to the 8-px CU grid internally; the DISPLAY size must come back
      assert(c.width == w && c.height == h, s"$res cropped dims")
      assert(c.profileIdc == 1, s"$res Main profile") // 8-bit 4:2:0
      assert(c.chromaFormatIdc == 1 && c.bitDepthLuma == 8)
      assert(c.levelIdc > 0 && c.ctbSize >= 16 && c.ctbSize <= 64)
      // structure: x265 emits one slice per frame, so the census frame
      // and keyframe counts must equal the oracle's own NAL-type lists
      assert(c.nFrames == nf, s"$res frames")
      assert(c.nKeyframes == types.count(t => t >= 16 && t <= 23), s"$res keyframes")
      assert(c.nVcl == types.count(_ <= 31), s"$res VCL")
      assert(c.nSps == types.count(_ == 33) && c.nPps == types.count(_ == 34))
      // keyint cadence: ceil(frames/keyint) keyframes
      assert(c.nKeyframes == (nf + ki - 1) / ki, s"$res cadence")
      // B-frames appear iff requested
      if (bf == 0) assert(c.nSliceB == 0, s"$res no B slices")
      else assert(c.nSliceB > 0, s"$res has B slices")
      assert(c.nSliceI >= c.nKeyframes)
    }
  }

  test("mutation fuzz: bit flips and truncations parse or fail loudly, never hang") {
    val base = HevcMeta.writeStream(104, 64, 9, 3, seed = 11L)
    val rnd = new scala.util.Random(1234)
    var parsed = 0
    (0 until 500).foreach { i =>
      val mutant: Array[Byte] = (i % 3) match {
        case 0 => // single bit flip
          val b = base.clone()
          val p = rnd.nextInt(b.length)
          b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte
          b
        case 1 => // truncate
          java.util.Arrays.copyOf(base, 1 + rnd.nextInt(base.length - 1))
        case _ => // random garbage window
          val b = base.clone()
          val p = rnd.nextInt(b.length)
          val n = math.min(b.length - p, 1 + rnd.nextInt(16))
          (0 until n).foreach(k => b(p + k) = rnd.nextInt(256).toByte)
          b
      }
      try { HevcMeta.census(mutant); parsed += 1 }
      catch { case _: IllegalArgumentException => () }
    }
    assert(parsed > 0, "some mutants should still parse (payload-only hits)")
  }

  test("x265 SPS parses field-for-field (the raw SPS NAL, not just the census)") {
    assume(oracleAvailable, "libx265/oracle script not present")
    val (stream, _, _, _) = x265("100x62", 4, 4, 0)
    val nals = HevcMeta.annexBNals(stream)
    val spsNal = nals.find(_.nalType == HevcMeta.SpsNut).get
    val sps = HevcMeta.parseSps(
      HevcMeta.rbsp(stream, spsNal.offset, spsNal.length))
    // 100x62 pads to 104x64 on the 8-px grid; the window crops it back
    assert(sps.picWidthInLumaSamples % 8 == 0)
    assert(sps.picHeightInLumaSamples % 8 == 0)
    assert(sps.width == 100 && sps.height == 62)
    assert(sps.picWidthInLumaSamples >= 100 && sps.picHeightInLumaSamples >= 62)
    // VPS PTL must agree with the SPS PTL on profile/level
    val vpsNal = nals.find(_.nalType == HevcMeta.VpsNut).get
    val vps = HevcMeta.parseVps(HevcMeta.rbsp(stream, vpsNal.offset, vpsNal.length))
    assert(vps.ptl.profileIdc == sps.ptl.profileIdc)
    assert(vps.ptl.levelIdc == sps.ptl.levelIdc)
    // PPS of the stream parses and declares zero extra slice-header bits
    val ppsNal = nals.find(_.nalType == HevcMeta.PpsNut).get
    val pps = HevcMeta.parsePps(HevcMeta.rbsp(stream, ppsNal.offset, ppsNal.length))
    assert(pps.ppsId == 0 && pps.spsId == 0 && pps.numExtraSliceHeaderBits == 0)
  }
}
