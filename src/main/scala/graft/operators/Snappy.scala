package graft.operators

/** Snappy codec, hand-written from the PUBLIC format descriptions in
  * the snappy project (`format_description.txt` for the block format,
  * `framing_format.txt` for the stream framing) — no codec library.
  * Snappy is the columnar-world default: parquet pages, Hadoop
  * sequence files, and Kafka batches ship snappy-compressed, and the
  * framed variant (`.sz`) is the streaming interchange form.
  *
  * Block format: a varint32 uncompressed-length preamble, then tagged
  * elements — literals (two-bit tag 00, lengths 1..60 inline or 1-4
  * extra length bytes) and copies with 1-, 2- or 4-byte offsets
  * (tags 01/10/11); copies may overlap forward (the RLE trick).
  *
  * Framing format: a stream identifier chunk (`sNaPpY`), then
  * compressed (0x00) / uncompressed (0x01) data chunks each carrying a
  * MASKED CRC32C of the uncompressed payload (mask =
  * rotate-right-15 + 0xa282ead8, per the spec), 64 KiB max payload per
  * chunk; padding (0xfe) and other skippable chunks (0x80-0xfd) skip;
  * reserved unskippable chunks (0x02-0x7f) fail loudly by code.
  *
  * Encoder: greedy 4-byte hash-table matcher emitting 2-byte-offset
  * copies (1-byte offsets when they fit), chunked at 64 KiB for the
  * framed form with per-chunk stored fallback. Cross-checked in the
  * spec suite against the INDEPENDENT snappy-java implementation that
  * ships on the Spark classpath, both directions. CRC32C is the JDK's.
  * Row-local throughout. */
object Snappy {

  // ---- varint32 --------------------------------------------------------

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Int): Unit = {
    var v = v0
    while ((v & ~0x7f) != 0) {
      out.write((v & 0x7f) | 0x80)
      v >>>= 7
    }
    out.write(v)
  }

  private def readVarint(b: Array[Byte], from: Int): (Int, Int) = {
    var v = 0
    var shift = 0
    var p = from
    var going = true
    while (going) {
      require(p < b.length, "snappy preamble truncated")
      require(shift <= 28, "snappy varint longer than 32 bits")
      val x = b(p) & 0xff
      v |= (x & 0x7f) << shift
      p += 1
      shift += 7
      if ((x & 0x80) == 0) going = false
    }
    (v, p)
  }

  // ---- block format ----------------------------------------------------

  /** Uncompress one snappy block `b[from, until)` (varint preamble
    * included). Malformed input fails loudly. */
  def uncompressBlock(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val (outLen, start) = readVarint(b, from)
    require(outLen >= 0, s"negative declared length $outLen")
    // no snappy element expands more than ~21x (3-byte copy2 -> 64
    // bytes); 64x bounds any valid stream, so an implausible declared
    // length fails here instead of allocating gigabytes on fuzzed input
    require(outLen <= (until - from).toLong * 64 + 64,
      s"declared length $outLen implausible for ${until - from} input bytes")
    val out = new Array[Byte](outLen)
    var n = 0
    var p = start
    while (p < until) {
      val tag = b(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes
            require(p + extra <= until, "truncated literal length")
            len = 0
            var i = extra - 1
            while (i >= 0) { len = (len << 8) | (b(p + i) & 0xff); i -= 1 }
            len += 1
            require(len > 0, "literal length overflow")
            p += extra
          }
          require(p + len <= until, s"literal of $len overruns input at $p")
          require(n + len <= outLen, s"literal of $len overruns declared output")
          System.arraycopy(b, p, out, n, len)
          p += len
          n += len
        case c => // copy
          var len = 0
          var off = 0
          if (c == 1) {
            require(p < until, "truncated copy1")
            len = ((tag >>> 2) & 0x7) + 4
            off = ((tag >>> 5) << 8) | (b(p) & 0xff)
            p += 1
          } else if (c == 2) {
            require(p + 2 <= until, "truncated copy2")
            len = (tag >>> 2) + 1
            off = Bytes.le16(b, p)
            p += 2
          } else {
            require(p + 4 <= until, "truncated copy4")
            len = (tag >>> 2) + 1
            off = Bytes.le32(b, p)
            require(off > 0, "copy4 offset overflow")
          }
          require(off > 0, "snappy copy offset 0 is invalid")
          require(off <= n, s"copy offset $off exceeds produced output $n")
          require(n + len <= outLen, s"copy of $len overruns declared output")
          var q = n - off
          var i = 0
          while (i < len) { out(n) = out(q); n += 1; q += 1; i += 1 }
      }
    }
    require(n == outLen, s"snappy block produced $n bytes, declared $outLen")
    out
  }

  /** Compress one block (greedy matcher; always emits a VALID block —
    * worst case all-literal, max overhead length/6 + preamble). */
  def compressBlock(src: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val len = until - from
    val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
    writeVarint(out, len)
    def literal(a: Int, b: Int): Unit = {
      var i = a
      while (i < b) {
        val chunk = math.min(b - i, 65536) // one length-3 literal element
        if (chunk <= 60) out.write(((chunk - 1) << 2))
        else if (chunk <= 256) { out.write(60 << 2); out.write(chunk - 1) }
        else {
          out.write(61 << 2)
          out.write((chunk - 1) & 0xff)
          out.write(((chunk - 1) >>> 8) & 0xff)
        }
        out.write(src, i, chunk)
        i += chunk
      }
    }
    def copy(off: Int, mLen0: Int): Unit = {
      var mLen = mLen0
      // long matches: 64-byte copy2 elements, remainder last
      while (mLen > 64) { emitCopy(off, 64); mLen -= 64 }
      // avoid a trailing copy shorter than 4 (not encodable as copy1,
      // and copy2 of 1..3 is legal but wasteful-fine); the loop above
      // keeps mLen >= 4 because matches start at >= 4
      emitCopy(off, mLen)
    }
    def emitCopy(off: Int, l: Int): Unit = {
      if (l >= 4 && l <= 11 && off < 2048) {
        out.write(1 | ((l - 4) << 2) | ((off >>> 8) << 5))
        out.write(off & 0xff)
      } else {
        out.write(2 | ((l - 1) << 2))
        out.write(off & 0xff)
        out.write((off >>> 8) & 0xff)
      }
    }
    if (len < 4) literal(from, until)
    else {
      val bits = 14
      val table = new Array[Int](1 << bits)
      java.util.Arrays.fill(table, -1)
      def hash(p: Int): Int =
        ((Bytes.le32(src, p) * -1640531535) >>> (32 - bits)) & ((1 << bits) - 1)
      var anchor = from
      var i = from
      val limit = until - 4
      while (i <= limit) {
        val h = hash(i)
        val c = table(h)
        table(h) = i
        if (c >= from && i - c <= 65535 && Bytes.le32(src, c) == Bytes.le32(src, i)) {
          var m = 4
          while (i + m < until && src(c + m) == src(i + m)) m += 1
          literal(anchor, i)
          copy(i - c, m)
          anchor = i + m
          i = anchor
        } else i += 1
      }
      literal(anchor, until)
    }
    out.toByteArray
  }

  /** One-shot block-format compress/uncompress (the parquet/Hadoop
    * page shape). */
  def compress(raw: Array[Byte]): Array[Byte] = compressBlock(raw, 0, raw.length)
  def uncompress(b: Array[Byte]): Array[Byte] = uncompressBlock(b, 0, b.length)

  // ---- framing format (.sz) --------------------------------------------

  private val StreamId = Array[Byte]('s', 'N', 'a', 'P', 'p', 'Y')
  private val ChunkMax = 65536

  /** Spec's masked CRC32C of `b[off, off+len)`. */
  def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  /** Framed encode: stream id + one chunk per 64 KiB, compressed form
    * only when it shrinks (spec recommendation), masked CRC32C per
    * chunk. */
  def encodeFramed(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    def chunk(tpe: Int, payload: Array[Byte], crc: Int): Unit = {
      val n = payload.length + 4
      out.write(tpe)
      out.write(n & 0xff); out.write((n >>> 8) & 0xff); out.write((n >>> 16) & 0xff)
      out.write(crc & 0xff); out.write((crc >>> 8) & 0xff)
      out.write((crc >>> 16) & 0xff); out.write((crc >>> 24) & 0xff)
      out.write(payload, 0, payload.length)
    }
    out.write(0xff)
    out.write(6); out.write(0); out.write(0)
    out.write(StreamId, 0, 6)
    var p = 0
    while (p < raw.length) {
      val n = math.min(ChunkMax, raw.length - p)
      val crc = maskedCrc(raw, p, n)
      val comp = compressBlock(raw, p, p + n)
      if (comp.length < n) chunk(0x00, comp, crc)
      else chunk(0x01, java.util.Arrays.copyOfRange(raw, p, p + n), crc)
      p += n
    }
    out.toByteArray
  }

  /** All-uncompressed framed stream — every chunk type 0x01, so the
    * output length is the closed form [[framedStoredSize]] (the oracle
    * hook). */
  def encodeFramedStored(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + 32)
    out.write(0xff)
    out.write(6); out.write(0); out.write(0)
    out.write(StreamId, 0, 6)
    var p = 0
    while (p < raw.length) {
      val n = math.min(ChunkMax, raw.length - p)
      val crc = maskedCrc(raw, p, n)
      val m = n + 4
      out.write(0x01)
      out.write(m & 0xff); out.write((m >>> 8) & 0xff); out.write((m >>> 16) & 0xff)
      out.write(crc & 0xff); out.write((crc >>> 8) & 0xff)
      out.write((crc >>> 16) & 0xff); out.write((crc >>> 24) & 0xff)
      out.write(raw, p, n)
      p += n
    }
    out.toByteArray
  }

  /** 10-byte stream id + (4 header + 4 CRC) per 64 KiB chunk + n. */
  def framedStoredSize(n: Long): Long =
    10 + 8L * ((n + ChunkMax - 1) / ChunkMax) + n

  /** Framed decode: full chunk walk with CRC verification; skippable
    * chunks skip, reserved unskippable chunks fail loudly by code. */
  def decodeFramed(b: Array[Byte]): Array[Byte] = {
    require(b.length >= 10, s"framed snappy stream too short: ${b.length} bytes")
    require((b(0) & 0xff) == 0xff, "missing stream identifier chunk")
    val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 2))
    var p = 0
    var sawId = false
    while (p < b.length) {
      require(p + 4 <= b.length, s"truncated chunk header at $p")
      val tpe = b(p) & 0xff
      val n = Bytes.le24(b, p + 1)
      p += 4
      require(p + n <= b.length, s"chunk of $n bytes overruns input at $p")
      tpe match {
        case 0xff =>
          require(n == 6, s"stream identifier chunk of $n bytes, want 6")
          var i = 0
          while (i < 6) {
            require(b(p + i) == StreamId(i), "bad stream identifier contents")
            i += 1
          }
          sawId = true
        case 0x00 | 0x01 =>
          require(sawId, "data chunk before stream identifier")
          require(n >= 4, s"data chunk of $n bytes lacks its CRC")
          val want = Bytes.le32(b, p)
          val data =
            if (tpe == 0x00) uncompressBlock(b, p + 4, p + n)
            else java.util.Arrays.copyOfRange(b, p + 4, p + n)
          require(data.length <= ChunkMax,
            s"chunk decodes to ${data.length} bytes, over the 64 KiB cap")
          val got = maskedCrc(data, 0, data.length)
          require(got == want, f"chunk CRC mismatch: got $got%08x, want $want%08x")
          out.write(data, 0, data.length)
        case t if t >= 0x80 => () // skippable (incl. 0xfe padding)
        case t =>
          throw new IllegalArgumentException(
            f"reserved unskippable snappy chunk type 0x$t%02x")
      }
      p += n
    }
    require(sawId, "no stream identifier chunk")
    out.toByteArray
  }
}
