package graft.operators

import java.util.zip.CRC32

/** Hand-written XZ container + LZMA2/LZMA decoder over the PUBLIC
  * `.xz` file format and LZMA specification — the third big dump
  * codec next to [[Gzip]] and [[Bzip2]] (kernel sources, many dataset
  * mirrors and dump archives ship `.xz`).
  *
  * Decode side (the ingest path) is COMPLETE for the format's common
  * shape: stream header/footer with verified CRC32s, block headers
  * (varint fields, filter chain = exactly one LZMA2 filter — anything
  * else fails loudly), LZMA2 chunking (uncompressed chunks, prop/state
  * /dict resets), the full LZMA range decoder (literal contexts with
  * matched-byte decoding, match/rep machinery over the 12-state
  * automaton, position slots + aligned distance bits), block checks in
  * all four defined kinds (none, CRC32, CRC64 with the reflected
  * 0xC96C5795D7870F42 table, SHA-256 via the JDK digest), index
  * CRC verified, multi-stream concatenation with 4-byte stream
  * padding.
  *
  * Encode side is the deterministic generator: STORED LZMA2 chunks
  * (control 0x01/0x02 — valid by spec, the well-known "xz -0 without
  * compression" shape), CRC32 check, correct index + footer. Output
  * size is the closed form
  * `60 + n + 3·⌈n/65536⌉ + pad4(n + 3·⌈n/65536⌉ + 1)`-style
  * bookkeeping exposed as [[storedXzSize]] so a SQL oracle can
  * recompute it exactly. The test suite cross-checks both directions
  * against the system `xz` binary.
  */
object Xz {

  private val HeaderMagic = Array(0xfd, '7', 'z', 'X', 'Z', 0x00).map(_.toByte)

  // ---- CRC64 (reflected, poly 0xC96C5795D7870F42) ----------------------

  private val Crc64Table: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0) (c >>> 1) ^ 0xC96C5795D7870F42L else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private def crc64(b: Array[Byte], off: Int, len: Int): Long = {
    var c = ~0L
    var i = off
    while (i < off + len) {
      c = (c >>> 8) ^ Crc64Table(((c ^ b(i)) & 0xff).toInt)
      i += 1
    }
    ~c
  }

  private def crc32of(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new CRC32()
    c.update(b, off, len)
    c.getValue
  }

  /** XZ multibyte varint: 7 bits per byte, high bit = continuation.
    * Returns (value, bytes consumed). */
  private def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    var done = false
    while (!done) {
      require(off + i < b.length && i < 9, "bad xz varint")
      val x = b(off + i) & 0xff
      v |= (x & 0x7fL) << (7 * i)
      i += 1
      if ((x & 0x80) == 0) {
        require(x != 0 || i == 1, "non-minimal xz varint")
        done = true
      }
    }
    (v, i)
  }

  // ---- LZMA range decoder ---------------------------------------------

  /** The canonical LZMA decoder for one LZMA2 chunk of known unpacked
    * size. `dict` is the shared output window (LZMA2 chunks reference
    * earlier chunk output unless dict-reset); `dictStart` marks the
    * current reset point for bounds checks. */
  private final class LzmaDecoder(lc: Int, lp: Int, pb: Int) {
    private val posMask = (1 << pb) - 1
    private val litPosMask = (1 << lp) - 1

    // probability model (11-bit probs, init 1024)
    private def newProbs(n: Int) = Array.fill[Short](n)(1024)
    private val isMatch = newProbs(12 << 4)
    private val isRep = newProbs(12)
    private val isRepG0 = newProbs(12)
    private val isRepG1 = newProbs(12)
    private val isRepG2 = newProbs(12)
    private val isRep0Long = newProbs(12 << 4)
    private val posSlot = Array.fill(4)(newProbs(64))
    private val specPos = newProbs(115)
    private val align = newProbs(16)
    private final class LenCoder {
      val choice = newProbs(2)
      val low = Array.fill(16)(newProbs(8))
      val mid = Array.fill(16)(newProbs(8))
      val high = newProbs(256)
    }
    private val lenCoder = new LenCoder
    private val repLenCoder = new LenCoder
    private val literals = newProbs(0x300 << (lc + lp))

    private var state = 0
    private var rep0 = 0
    private var rep1 = 0
    private var rep2 = 0
    private var rep3 = 0

    // range decoder
    private var in: Array[Byte] = _
    private var inPos = 0
    private var inEnd = 0
    private var range = 0
    private var code = 0

    private def rcInit(buf: Array[Byte], off: Int, end: Int): Unit = {
      in = buf; inPos = off; inEnd = end
      require(inPos + 5 <= inEnd, "truncated LZMA chunk")
      require(in(inPos) == 0, "first LZMA range-coder byte must be 0")
      inPos += 1
      range = -1 // 0xFFFFFFFF
      code = 0
      var i = 0
      while (i < 4) { code = (code << 8) | (in(inPos) & 0xff); inPos += 1; i += 1 }
    }

    private def rcNormalize(): Unit =
      if ((range & 0xff000000) == 0) {
        require(inPos < inEnd, "LZMA range coder ran out of input")
        range <<= 8
        code = (code << 8) | (in(inPos) & 0xff)
        inPos += 1
      }

    private def decodeBit(probs: Array[Short], i: Int): Int = {
      rcNormalize()
      val p = probs(i) & 0xffff
      val bound = (range >>> 11) * p
      // unsigned compare of code < bound
      if ((code ^ 0x80000000) < (bound ^ 0x80000000)) {
        range = bound
        probs(i) = (p + ((2048 - p) >>> 5)).toShort
        0
      } else {
        range -= bound
        code -= bound
        probs(i) = (p - (p >>> 5)).toShort
        1
      }
    }

    private def decodeTree(probs: Array[Short], nBits: Int): Int = {
      var m = 1
      var i = 0
      while (i < nBits) { m = (m << 1) | decodeBit(probs, m); i += 1 }
      m - (1 << nBits)
    }

    private def decodeTreeReverse(probs: Array[Short], base: Int, nBits: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < nBits) {
        val b = decodeBit(probs, base + m)
        m = (m << 1) | b
        sym |= b << i
        i += 1
      }
      sym
    }

    private def decodeDirect(nBits: Int): Int = {
      // the canonical unsigned-wraparound form: after code -= range,
      // t = -1 iff the subtraction borrowed (bit 0), else 0 (bit 1)
      var res = 0
      var i = 0
      while (i < nBits) {
        rcNormalize()
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31)
        code += range & t
        res = (res << 1) + t + 1
        i += 1
      }
      res
    }

    private def decodeLen(c: LenCoder, posState: Int): Int =
      if (decodeBit(c.choice, 0) == 0) decodeTree(c.low(posState), 3)
      else if (decodeBit(c.choice, 1) == 0) 8 + decodeTree(c.mid(posState), 3)
      else 16 + decodeTree(c.high, 8)

    def resetState(): Unit = {
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      def reset(p: Array[Short]): Unit = java.util.Arrays.fill(p, 1024.toShort)
      reset(isMatch); reset(isRep); reset(isRepG0); reset(isRepG1); reset(isRepG2)
      reset(isRep0Long); posSlot.foreach(reset); reset(specPos); reset(align)
      reset(lenCoder.choice); lenCoder.low.foreach(reset); lenCoder.mid.foreach(reset)
      reset(lenCoder.high)
      reset(repLenCoder.choice); repLenCoder.low.foreach(reset)
      repLenCoder.mid.foreach(reset); reset(repLenCoder.high)
      reset(literals)
    }

    /** Decode one chunk into `dict` at `outPos`, producing exactly
      * `unpacked` bytes; `dictStart` bounds back-references. */
    def decodeChunk(buf: Array[Byte], off: Int, end: Int,
        dict: Array[Byte], outPos0: Int, unpacked: Int, dictStart: Int): Unit = {
      rcInit(buf, off, end)
      var outPos = outPos0
      val outEnd = outPos0 + unpacked
      while (outPos < outEnd) {
        val posState = outPos & posMask
        if (decodeBit(isMatch, (state << 4) | posState) == 0) {
          // literal
          val prev = if (outPos > dictStart) dict(outPos - 1) & 0xff else 0
          val litState = (((outPos & litPosMask) << lc) | (prev >>> (8 - lc))) * 0x300
          var sym = 1
          if (state >= 7) {
            // matched literal: fold in the byte at rep0+1 back
            var matchByte = dict(outPos - rep0 - 1) & 0xff
            var break = false
            while (!break && sym < 0x100) {
              matchByte <<= 1
              val matchBit = matchByte & 0x100
              val b = decodeBit(literals, litState + 0x100 + matchBit + sym)
              sym = (sym << 1) | b
              if (matchBit != (b << 8)) break = true
            }
            while (sym < 0x100) sym = (sym << 1) | decodeBit(literals, litState + sym)
          } else {
            while (sym < 0x100) sym = (sym << 1) | decodeBit(literals, litState + sym)
          }
          dict(outPos) = (sym - 0x100).toByte
          outPos += 1
          state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
        } else {
          var len = 0
          if (decodeBit(isRep, state) == 0) {
            // match: new distance
            rep3 = rep2; rep2 = rep1; rep1 = rep0
            len = 2 + decodeLen(lenCoder, posState)
            val lenToPos = math.min(len - 2, 3)
            val slot = decodeTree(posSlot(lenToPos), 6)
            if (slot < 4) rep0 = slot
            else {
              val direct = (slot >> 1) - 1
              rep0 = (2 | (slot & 1)) << direct
              if (slot < 14)
                rep0 += decodeTreeReverse(specPos, rep0 - slot - 1, direct)
              else {
                rep0 += decodeDirect(direct - 4) << 4
                rep0 += decodeTreeReverse(align, 0, 4)
              }
            }
            require(rep0 != -1, "LZMA end marker inside a sized LZMA2 chunk")
            state = if (state < 7) 7 else 10
          } else {
            // rep match
            if (decodeBit(isRepG0, state) == 0) {
              if (decodeBit(isRep0Long, (state << 4) | posState) == 0) {
                // short rep: one byte at rep0
                state = if (state < 7) 9 else 11
                require(outPos - rep0 - 1 >= dictStart, "rep0 before dict start")
                dict(outPos) = dict(outPos - rep0 - 1)
                outPos += 1
                // len stays 0: continue main loop
                len = -1
              }
            } else {
              val dist =
                if (decodeBit(isRepG1, state) == 0) rep1
                else if (decodeBit(isRepG2, state) == 0) { val d = rep2; rep2 = rep1; d }
                else { val d = rep3; rep3 = rep2; rep2 = rep1; d }
              rep1 = rep0
              rep0 = dist
            }
            if (len == 0) {
              len = 2 + decodeLen(repLenCoder, posState)
              state = if (state < 7) 8 else 11
            }
          }
          if (len > 0) {
            require(outPos + len <= outEnd, "LZMA match overruns the chunk size")
            require(outPos - rep0 - 1 >= dictStart, s"LZMA distance $rep0 before dict start")
            var k = 0
            while (k < len) {
              dict(outPos + k) = dict(outPos + k - rep0 - 1)
              k += 1
            }
            outPos += len
          }
        }
      }
      // a conforming sized chunk consumes exactly its packed bytes
      require(inPos == inEnd,
        s"LZMA chunk size mismatch: ${inEnd - inPos} packed bytes left")
    }
  }

  // ---- LZMA2 -----------------------------------------------------------

  /** Decode an LZMA2 byte sequence (one XZ block's data). */
  private def decodeLzma2(b: Array[Byte], start: Int, out: java.io.ByteArrayOutputStream): Int = {
    var pos = start
    var dict = new Array[Byte](1 << 16)
    var dictLen = 0
    var dictStart = 0
    var dec: LzmaDecoder = null
    var lc = 0
    var lp = 0
    var pb = 0
    def ensure(extra: Int): Unit =
      if (dictLen + extra > dict.length) {
        var cap = dict.length
        while (cap < dictLen + extra) cap <<= 1
        dict = java.util.Arrays.copyOf(dict, cap)
      }
    var done = false
    while (!done) {
      require(pos < b.length, "truncated LZMA2 stream")
      val c = b(pos) & 0xff
      pos += 1
      if (c == 0) done = true
      else if (c == 1 || c == 2) { // uncompressed chunk (1 = dict reset)
        require(pos + 2 <= b.length, "truncated LZMA2 chunk size")
        val size = Bytes.be16(b, pos) + 1
        pos += 2
        require(pos + size <= b.length, "truncated LZMA2 uncompressed chunk")
        if (c == 1) { dictStart = dictLen; dec = null }
        ensure(size)
        System.arraycopy(b, pos, dict, dictLen, size)
        dictLen += size
        pos += size
        if (dec != null) dec.resetState() // spec: uncompressed chunk resets state
      } else {
        require(c >= 0x80, f"bad LZMA2 control byte $c%02x")
        require(pos + 4 <= b.length, "truncated LZMA2 chunk header")
        val unpacked = (((c & 0x1f) << 16) | Bytes.be16(b, pos)) + 1
        val packed = Bytes.be16(b, pos + 2) + 1
        pos += 4
        val resetKind = (c >>> 5) & 3
        if (resetKind >= 2) {
          require(pos < b.length, "truncated LZMA2 props byte")
          val props = b(pos) & 0xff
          pos += 1
          require(props < 225, s"bad LZMA props byte $props")
          lc = props % 9
          lp = (props / 9) % 5
          pb = props / 45
          require(lc + lp <= 4, s"unsupported lc+lp = ${lc + lp} (format caps at 4)")
          dec = null
        }
        if (resetKind == 3) dictStart = dictLen
        if (dec == null) { dec = new LzmaDecoder(lc, lp, pb); dec.resetState() }
        else if (resetKind >= 1) dec.resetState()
        require(pos + packed <= b.length, "truncated LZMA2 compressed chunk")
        ensure(unpacked)
        dec.decodeChunk(b, pos, pos + packed, dict, dictLen, unpacked, dictStart)
        dictLen += unpacked
        pos += packed
      }
    }
    // the dict array accumulates EVERY chunk's output contiguously —
    // dictStart only bounds back-references after a dict reset — so
    // the whole block output is dict[0, dictLen)
    out.write(dict, 0, dictLen)
    pos
  }

  // ---- XZ container ----------------------------------------------------

  /** Decompress a complete `.xz` payload (multi-block, multi-stream,
    * every defined check kind verified). */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    require(bytes != null && bytes.length >= 32, "not an xz payload (too short)")
    val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
    var pos = 0
    while (pos < bytes.length) {
      // stream header
      require(java.util.Arrays.equals(bytes, pos, pos + 6, HeaderMagic, 0, 6),
        s"missing xz magic at offset $pos")
      require(bytes(pos + 6) == 0, "bad xz stream flags (first byte)")
      val check = bytes(pos + 7) & 0xff
      require(check == 0 || check == 1 || check == 4 || check == 10,
        s"unsupported xz check type $check")
      require(Bytes.le32u(bytes, pos + 8) == crc32of(bytes, pos + 6, 2),
        "xz stream header CRC mismatch")
      pos += 12
      var inStream = true
      while (inStream) {
        require(pos < bytes.length,
          "truncated xz stream (missing index indicator)")
        if (bytes(pos) == 0) {
          // index
          val idxStart = pos
          pos += 1
          val (nRec, n1) = varint(bytes, pos)
          pos += n1
          var r = 0L
          while (r < nRec) {
            val (_, a) = varint(bytes, pos); pos += a
            val (_, c) = varint(bytes, pos); pos += c
            r += 1
          }
          while ((pos - idxStart) % 4 != 0) {
            require(pos < bytes.length && bytes(pos) == 0,
              "nonzero or truncated xz index padding")
            pos += 1
          }
          require(pos + 4 <= bytes.length, "truncated xz index CRC")
          require(Bytes.le32u(bytes, pos) == crc32of(bytes, idxStart, pos - idxStart),
            "xz index CRC mismatch")
          pos += 4
          // footer: CRC32, backward size, stream flags, "YZ"
          require(pos + 12 <= bytes.length, "truncated xz footer")
          require(Bytes.le32u(bytes, pos) == crc32of(bytes, pos + 4, 6),
            "xz footer CRC mismatch")
          require(bytes(pos + 8) == 0 && (bytes(pos + 9) & 0xff) == check,
            "xz footer stream flags disagree with the header")
          require(bytes(pos + 10) == 'Y' && bytes(pos + 11) == 'Z',
            "missing xz footer magic")
          pos += 12
          // stream padding: 4-byte-aligned nulls
          while (pos < bytes.length && bytes(pos) == 0) pos += 1
          inStream = false
        } else {
          // block
          val headerStart = pos
          val headerSize = ((bytes(pos) & 0xff) + 1) * 4
          require(headerStart + headerSize <= bytes.length,
            "truncated xz block header")
          val flags = bytes(pos + 1) & 0xff
          val nFilters = (flags & 3) + 1
          require(nFilters == 1, s"xz filter chains of $nFilters filters are not supported")
          require((flags & 0x3c) == 0, "reserved xz block flags set")
          var p = pos + 2
          if ((flags & 0x40) != 0) { val (_, n) = varint(bytes, p); p += n }
          if ((flags & 0x80) != 0) { val (_, n) = varint(bytes, p); p += n }
          val (fid, nf) = varint(bytes, p)
          p += nf
          require(fid == 0x21, f"unsupported xz filter id 0x$fid%x (only LZMA2)")
          val (propsSize, np) = varint(bytes, p)
          p += np
          require(propsSize == 1, s"bad LZMA2 props size $propsSize")
          p += 1 // dict-size byte: any declared size is fine, we grow dynamically
          while (p < headerStart + headerSize - 4) {
            require(bytes(p) == 0, "nonzero xz block header padding")
            p += 1
          }
          require(Bytes.le32u(bytes, headerStart + headerSize - 4) ==
            crc32of(bytes, headerStart, headerSize - 4),
            "xz block header CRC mismatch")
          pos = headerStart + headerSize
          val blockOut = new java.io.ByteArrayOutputStream()
          pos = decodeLzma2(bytes, pos, blockOut)
          // block padding to 4 bytes (measured from the header start)
          while ((pos - headerStart) % 4 != 0) {
            require(pos < bytes.length && bytes(pos) == 0,
              "nonzero or truncated xz block padding")
            pos += 1
          }
          val data = blockOut.toByteArray
          check match {
            case 0 =>
            case 1 =>
              require(pos + 4 <= bytes.length, "truncated xz block CRC32")
              require(Bytes.le32u(bytes, pos) == crc32of(data, 0, data.length),
                "xz block CRC32 mismatch")
              pos += 4
            case 4 =>
              require(pos + 8 <= bytes.length, "truncated xz block CRC64")
              require(Bytes.le64(bytes, pos) == crc64(data, 0, data.length),
                "xz block CRC64 mismatch")
              pos += 8
            case 10 =>
              require(pos + 32 <= bytes.length, "truncated xz block SHA-256")
              val md = java.security.MessageDigest.getInstance("SHA-256")
              val want = java.util.Arrays.copyOfRange(bytes, pos, pos + 32)
              require(java.util.Arrays.equals(md.digest(data), want),
                "xz block SHA-256 mismatch")
              pos += 32
          }
          out.write(data)
        }
      }
    }
    out.toByteArray
  }

  // ---- stored-mode encoder --------------------------------------------

  private def putLe32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }

  private def writeVarint(b: java.io.ByteArrayOutputStream, v0: Long): Int = {
    var v = v0
    var n = 0
    while (v >= 0x80) { b.write(((v & 0x7f) | 0x80).toInt); v >>= 7; n += 1 }
    b.write(v.toInt)
    n + 1
  }

  /** XZ with stored LZMA2 chunks and a CRC32 check — valid by spec,
    * deterministic, closed-form size ([[storedXzSize]]). */
  def encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 128)
    // stream header: magic, flags (check = CRC32), CRC32(flags)
    out.write(HeaderMagic)
    out.write(0); out.write(1)
    putLe32(out, crc32of(Array[Byte](0, 1), 0, 2))
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0) // index indicator
    if (data.isEmpty) {
      writeVarint(idx, 0) // empty input: a zero-block stream
    } else {
      // block header: (2+1)*4 = 12 bytes incl. its CRC32
      val bh = new java.io.ByteArrayOutputStream()
      bh.write(2)
      bh.write(0) // one filter, no size fields
      bh.write(0x21) // LZMA2
      bh.write(1) // props size
      bh.write(8) // dict size byte: 2 << (8/2 + 11) = 64 KiB
      while (bh.size() < 12 - 4) bh.write(0)
      val bhBytes = bh.toByteArray
      out.write(bhBytes)
      putLe32(out, crc32of(bhBytes, 0, bhBytes.length))
      // LZMA2 stored chunks
      val dataStart = out.size()
      var off = 0
      var first = true
      while (off < data.length) {
        val len = math.min(1 << 16, data.length - off)
        out.write(if (first) 1 else 2) // dict reset only on the first
        first = false
        out.write((len - 1) >> 8); out.write((len - 1) & 0xff)
        out.write(data, off, len)
        off += len
      }
      out.write(0) // LZMA2 terminator
      val unpaddedData = out.size() - dataStart
      var pad = (4 - (unpaddedData % 4)) % 4
      while (pad > 0) { out.write(0); pad -= 1 }
      // check: CRC32 of the uncompressed data
      putLe32(out, crc32of(data, 0, data.length))
      writeVarint(idx, 1)
      // unpadded size = header (12) + compressed data + check (4)
      writeVarint(idx, 12L + unpaddedData + 4L)
      writeVarint(idx, data.length.toLong)
    }
    while (idx.size() % 4 != 0) idx.write(0)
    val idxBytes = idx.toByteArray
    out.write(idxBytes)
    putLe32(out, crc32of(idxBytes, 0, idxBytes.length))
    // footer
    val backward = (idxBytes.length + 4) / 4 - 1
    val tail = new java.io.ByteArrayOutputStream()
    putLe32(tail, backward.toLong)
    tail.write(0); tail.write(1)
    val tailBytes = tail.toByteArray
    putLe32(out, crc32of(tailBytes, 0, tailBytes.length))
    out.write(tailBytes)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }

  /** Closed-form [[encode]] output size for oracle replay. */
  def storedXzSize(n: Long): Long =
    if (n == 0) 12 + 4 + 4 + 12 // header + padded empty index + its CRC + footer
    else {
      val chunks = (n + 65535) / 65536
      val lzma2 = n + 3 * chunks + 1 // chunk headers + terminator
      val padded = (lzma2 + 3) / 4 * 4
      val unpadded = 12 + lzma2 + 4 // header + unpadded data + check
      val idxPayload = 1 + 1 + varintLen(unpadded) + varintLen(n)
      val idx = (idxPayload + 3) / 4 * 4
      12 + 12 + padded + 4 + idx + 4 + 12
    }

  private def varintLen(v: Long): Long = {
    var n = 1L
    var x = v
    while (x >= 0x80) { x >>= 7; n += 1 }
    n
  }
}
