package graft.operators

/** LZ4 frame + block codec, hand-written from the PUBLIC format specs
  * (lz4 Frame Format v1.6.1 and Block Format descriptions published in
  * the lz4 project documentation) — no codec library. LZ4 is the
  * remaining high-throughput member of the crawl/columnar compression
  * family after gzip/bzip2/xz/zstd: Hadoop sequence files, Kafka
  * topics, and fast-tier corpus shards ship as `.lz4` frames.
  *
  * Decoder covers the full frame format: magic, descriptor
  * (version/flags/block-max-size/optional content size + dict id)
  * with its XXH32 header checksum, data blocks (compressed and
  * uncompressed, optional per-block XXH32), EndMark, optional XXH32
  * content checksum, skippable frames, and concatenated frames.
  * Linked-block (B.Indep=0) streams decode naturally because every
  * block shares one output window. The legacy stream format
  * (magic 0x184C2102) is recognized BY NAME and rejected. Dictionary
  * frames (DictID flag) are rejected by name — presets are external
  * data, not frame structure.
  *
  * Encoder is a real compressor: greedy 4-byte hash-table matcher per
  * the block spec's end-of-block rules (last 5 bytes literal, no match
  * starting within the final 12), independent 64 KiB blocks with
  * stored fallback, content size + content checksum emitted. Both
  * directions are cross-checked in the spec suite against the
  * container's independent `lz4` binary.
  *
  * XXH32 is implemented from the public xxHash specification (same
  * family as [[Zstd.xxh64]]; the frame format mandates the 32-bit
  * variant). Row-local throughout — compression work scales with the
  * partition, never the driver. */
object Lz4 {

  private val FrameMagic = 0x184d2204
  private val LegacyMagic = 0x184c2102
  private val SkipMagicBase = 0x184d2a50

  // ---- XXH32 (public algorithm) ----------------------------------------

  private val P1 = 0x9e3779b1
  private val P2 = 0x85ebca77
  private val P3 = 0xc2b2ae3d
  private val P4 = 0x27d4eb2f
  private val P5 = 0x165667b1

  private def rotl(x: Int, r: Int): Int = Integer.rotateLeft(x, r)

  /** XXH32 over `b[off, off+len)` with the given seed. */
  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int = 0): Int = {
    var p = off
    val end = off + len
    var acc =
      if (len >= 16) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        while (p + 16 <= end) {
          v1 = rotl(v1 + Bytes.le32(b, p) * P2, 13) * P1
          v2 = rotl(v2 + Bytes.le32(b, p + 4) * P2, 13) * P1
          v3 = rotl(v3 + Bytes.le32(b, p + 8) * P2, 13) * P1
          v4 = rotl(v4 + Bytes.le32(b, p + 12) * P2, 13) * P1
          p += 16
        }
        rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
      } else seed + P5
    acc += len
    while (p + 4 <= end) {
      acc = rotl(acc + Bytes.le32(b, p) * P3, 17) * P4
      p += 4
    }
    while (p < end) {
      acc = rotl(acc + (b(p) & 0xff) * P5, 11) * P1
      p += 1
    }
    acc ^= acc >>> 15
    acc *= P2
    acc ^= acc >>> 13
    acc *= P3
    acc ^= acc >>> 16
    acc
  }

  // ---- block format ----------------------------------------------------

  /** Growable output buffer shared across a frame's blocks (linked
    * blocks may match back into earlier blocks). */
  private final class Buf(hint: Int) {
    var a = new Array[Byte](math.max(64, hint))
    var n = 0
    def ensure(k: Int): Unit =
      if (n + k > a.length) {
        var cap = a.length
        while (cap < n + k) cap = cap << 1
        a = java.util.Arrays.copyOf(a, cap)
      }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  /** Decompress one LZ4 block `src[from, until)` appending to `out`.
    * Malformed input (truncated sequences, zero or too-far offsets)
    * fails loudly with IllegalArgumentException. */
  private def decompressBlockInto(src: Array[Byte], from: Int, until: Int,
      out: Buf): Unit = {
    var p = from
    def u8(): Int = {
      require(p < until, s"LZ4 block truncated at $p")
      val v = src(p) & 0xff
      p += 1
      v
    }
    var going = true
    while (going) {
      val token = u8()
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) { x = u8(); litLen += x }
      }
      require(p + litLen <= until, s"LZ4 literals run past block end at $p")
      out.ensure(litLen)
      System.arraycopy(src, p, out.a, out.n, litLen)
      out.n += litLen
      p += litLen
      if (p == until) going = false // last sequence: literals only
      else {
        val off = u8() | (u8() << 8)
        require(off != 0, "LZ4 offset 0 is invalid")
        require(off <= out.n, s"LZ4 offset $off exceeds produced output ${out.n}")
        var mLen = (token & 15) + 4
        if ((token & 15) == 15) {
          var x = 255
          while (x == 255) { x = u8(); mLen += x }
        }
        out.ensure(mLen)
        var q = out.n - off
        var i = 0
        while (i < mLen) { // byte-wise: overlap is the RLE trick
          out.a(out.n) = out.a(q)
          out.n += 1
          q += 1
          i += 1
        }
      }
    }
  }

  /** Compress one block (greedy hash-table matcher). Returns null when
    * incompressible (caller stores the block uncompressed). */
  private[operators] def compressBlock(src: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val len = until - from
    val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
    def writeLen(first: Int, v: Int): Unit = {
      // token nibble already holds min(v,15); extension bytes of 255
      var rest = v - 15
      if (first == 15) {
        while (rest >= 255) { out.write(255); rest -= 255 }
        out.write(rest)
      }
    }
    def emit(litFrom: Int, litUntil: Int, off: Int, mLen: Int): Unit = {
      val litLen = litUntil - litFrom
      val tokLit = math.min(litLen, 15)
      val tokMatch = if (mLen < 0) 0 else math.min(mLen - 4, 15)
      out.write((tokLit << 4) | tokMatch)
      writeLen(tokLit, litLen)
      var i = litFrom
      while (i < litUntil) { out.write(src(i) & 0xff); i += 1 }
      if (mLen >= 0) {
        out.write(off & 0xff)
        out.write((off >>> 8) & 0xff)
        writeLen(tokMatch, mLen - 4)
      }
    }
    if (len < 13) { // too short for any conforming match
      emit(from, until, 0, -1)
    } else {
      val bits = 14
      val table = new Array[Int](1 << bits)
      java.util.Arrays.fill(table, -1)
      def hash(p: Int): Int =
        ((Bytes.le32(src, p) * -1640531535) >>> (32 - bits)) & ((1 << bits) - 1)
      val mfLimit = until - 12 // no match may START at/after here
      val matchEnd = until - 5 // last 5 bytes stay literal
      var anchor = from
      var i = from
      while (i < mfLimit) {
        val h = hash(i)
        val c = table(h)
        table(h) = i
        if (c >= from && i - c <= 65535 && Bytes.le32(src, c) == Bytes.le32(src, i)) {
          var m = 4
          while (i + m < matchEnd && src(c + m) == src(i + m)) m += 1
          emit(anchor, i, i - c, m)
          anchor = i + m
          i = anchor
        } else i += 1
      }
      emit(anchor, until, 0, -1)
    }
    val res = out.toByteArray
    if (res.length >= len) null else res
  }

  // ---- frame format ----------------------------------------------------

  private val BlockMax = 64 * 1024 // BD code 4

  /** Encode one LZ4 frame: version 01, independent 64 KiB blocks,
    * content size + content checksum present, no dictionary. Blocks
    * that do not shrink are stored uncompressed (high-bit size). */
  def encode(raw: Array[Byte]): Array[Byte] = encodeFrame(raw, compress = true)

  /** All-stored frame — every block uncompressed, so the output length
    * is the closed form [[storedSize]] (the oracle hook). */
  def encodeStored(raw: Array[Byte]): Array[Byte] = encodeFrame(raw, compress = false)

  private def encodeFrame(raw: Array[Byte], compress: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    w32(FrameMagic)
    val desc = new Array[Byte](10)
    desc(0) = 0x6c.toByte // 01 (version) 1 (B.Indep) 0 (B.Checksum) 1 (C.Size) 1 (C.Checksum) 0 0
    desc(1) = 0x40.toByte // block max size code 4 = 64 KiB
    var n = raw.length.toLong
    var i = 0
    while (i < 8) { desc(2 + i) = (n & 0xff).toByte; n >>>= 8; i += 1 }
    out.write(desc, 0, 10)
    out.write((xxh32(desc, 0, 10) >>> 8) & 0xff) // HC
    var p = 0
    while (p < raw.length) {
      val chunk = math.min(BlockMax, raw.length - p)
      val comp = if (compress) compressBlock(raw, p, p + chunk) else null
      if (comp == null) {
        w32(chunk | 0x80000000)
        out.write(raw, p, chunk)
      } else {
        w32(comp.length)
        out.write(comp, 0, comp.length)
      }
      p += chunk
    }
    w32(0) // EndMark
    w32(xxh32(raw, 0, raw.length))
    out.toByteArray
  }

  /** Closed-form frame size when every block stores uncompressed:
    * 4 magic + 3 descriptor(FLG+BD+HC) + 8 content size + per-block
    * 4 + EndMark 4 + checksum 4. */
  def storedSize(n: Long): Long =
    4 + 3 + 8 + n + 4L * ((n + BlockMax - 1) / BlockMax) + 4 + 4

  /** Decode a (possibly concatenated, possibly skippable-framed) LZ4
    * stream. Every declared checksum is verified; structural damage
    * fails loudly with IllegalArgumentException. */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    val out = new Buf(math.max(64, bytes.length * 3))
    var p = 0
    var frames = 0
    while (p < bytes.length) {
      require(p + 4 <= bytes.length, s"truncated magic at $p")
      val magic = Bytes.le32(bytes, p)
      p += 4
      if ((magic & 0xfffffff0) == SkipMagicBase) {
        require(p + 4 <= bytes.length, "truncated skippable-frame size")
        val sz = Bytes.le32(bytes, p)
        p += 4
        require(p + sz >= p && p + sz <= bytes.length,
          s"skippable frame of $sz bytes overruns input")
        p += sz
      } else if (magic == LegacyMagic) {
        throw new IllegalArgumentException(
          "LZ4 legacy stream format (magic 0x184C2102) is not supported")
      } else {
        require(magic == FrameMagic,
          f"bad LZ4 frame magic 0x$magic%08x at offset ${p - 4}")
        p = decodeFrame(bytes, p, out)
        frames += 1
      }
    }
    require(frames > 0, "no LZ4 data frame present")
    out.bytes
  }

  private def decodeFrame(b: Array[Byte], start: Int, out: Buf): Int = {
    var p = start
    require(p + 3 <= b.length, "truncated frame descriptor")
    val flg = b(p) & 0xff
    val bd = b(p + 1) & 0xff
    require((flg >>> 6) == 1, s"unsupported LZ4 frame version ${flg >>> 6}")
    require((flg & 0x02) == 0, "reserved FLG bit set")
    require((bd & 0x8f) == 0, "reserved BD bits set")
    val bmsCode = (bd >>> 4) & 7
    require(bmsCode >= 4 && bmsCode <= 7, s"invalid block-max-size code $bmsCode")
    val blockMax = 1 << (8 + 2 * bmsCode)
    val hasBlockSum = (flg & 0x10) != 0
    val hasSize = (flg & 0x08) != 0
    val hasContentSum = (flg & 0x04) != 0
    if ((flg & 0x01) != 0)
      throw new IllegalArgumentException(
        "LZ4 dictionary frames (DictID flag) are not supported")
    val descLen = 2 + (if (hasSize) 8 else 0)
    require(p + descLen + 1 <= b.length, "truncated frame descriptor")
    var contentSize = -1L
    if (hasSize) {
      contentSize = 0L
      var i = 7
      while (i >= 0) { contentSize = (contentSize << 8) | (b(p + 2 + i) & 0xffL); i -= 1 }
    }
    val hcWant = b(p + descLen) & 0xff
    val hcGot = (xxh32(b, p, descLen) >>> 8) & 0xff
    require(hcGot == hcWant, f"frame descriptor checksum mismatch: got $hcGot%02x, want $hcWant%02x")
    p += descLen + 1
    val outStart = out.n
    var endMark = false
    while (!endMark) {
      require(p + 4 <= b.length, s"truncated block size at $p")
      val bs = Bytes.le32(b, p)
      p += 4
      if (bs == 0) endMark = true
      else {
        val stored = (bs & 0x80000000) != 0
        val len = bs & 0x7fffffff
        require(len <= blockMax, s"block of $len bytes exceeds declared max $blockMax")
        require(p + len <= b.length, s"block data overruns input at $p")
        if (stored) {
          out.ensure(len)
          System.arraycopy(b, p, out.a, out.n, len)
          out.n += len
        } else decompressBlockInto(b, p, p + len, out)
        p += len
        if (hasBlockSum) {
          require(p + 4 <= b.length, "truncated block checksum")
          val want = Bytes.le32(b, p)
          val got = xxh32(b, p - len, len)
          require(got == want, f"block checksum mismatch: got $got%08x, want $want%08x")
          p += 4
        }
      }
    }
    if (contentSize >= 0)
      require(out.n - outStart == contentSize,
        s"content size mismatch: got ${out.n - outStart}, declared $contentSize")
    if (hasContentSum) {
      require(p + 4 <= b.length, "truncated content checksum")
      val want = Bytes.le32(b, p)
      val got = xxh32(out.a, outStart, out.n - outStart)
      require(got == want, f"content checksum mismatch: got $got%08x, want $want%08x")
      p += 4
    }
    p
  }
}
