package graft.operators

/** Hand-written Zstandard codec (RFC 8878) — the last common
  * crawl-corpus compression format the ingest tier could not read:
  * Common Crawl publishes `.warc.zst`/WET shards and most modern
  * dataset dumps ship zstd-framed, so at 100 TB this is the decode
  * that runs on every input split.
  *
  * Decode side: the complete frame format — magic + frame-header
  * descriptor (single-segment, window descriptor, 1/2/4/8-byte frame
  * content size, content checksum), skippable frames, concatenated
  * frames, and all three block types. Compressed blocks implement the
  * full entropy stack: FSE table reading (RFC 8878 §4.1.1 variable-bit
  * normalized-count stream) and table construction for the
  * literals-length / offset / match-length channels in all four modes
  * (Predefined / RLE / FSE_Compressed / Repeat), Huffman literals in
  * one- and four-stream layouts with both direct (4-bit) and
  * FSE-compressed weight descriptions, treeless repeat blocks, the
  * three-slot repeat-offset history with the literals-length-zero
  * index shift (§3.1.1.5), and XXH64 content-checksum verification.
  * The PREDEFINED FSE distributions are not transcribed decode tables:
  * the RFC publishes them as short normalized-count lists
  * (§3.1.1.3.2.2) and this module derives the decode tables from those
  * lists with the same `buildDTable` used for inline table
  * descriptions — one table constructor, spec-published inputs.
  * Dictionary frames decode via [[parseDictionary]] +
  * [[decode(bytes:Array[Byte],dict:Zstd.ZstdDict)*]] (RFC 8878 §5:
  * structured dictionaries with entropy tables, rep codes and content
  * history, plus raw-content dictionaries), validated byte-exact
  * against the reference CLI's own dictionary output; a dictionary
  * frame decoded WITHOUT its dictionary still fails loudly, and every
  * malformed input raises IllegalArgumentException, never a silent
  * fallback.
  *
  * Encode side: a REAL compressor, not a stored-only shim —
  * [[encode]] runs greedy hash-table LZ matching over the whole frame
  * (single-segment window, so matches may span block boundaries) and
  * emits compressed blocks of raw literals plus sequences coded with
  * the predefined FSE tables (the encode tables are built from the
  * same RFC distribution lists by [[buildCTable]], the exact inverse
  * machinery of the decoder), falling back to a raw block whenever
  * compression does not pay. [[encodeStored]] emits raw blocks only,
  * whose output size is the closed form `12 + n + fcs_bytes(n) +
  * 3·(blocks−1)` that a SQL oracle recomputes exactly. Both emit the
  * XXH64 content checksum, so the container's independent `zstd -d`
  * verifies our frames end to end (and `zstd -{1..19}` output feeds
  * our decoder) — the same two-directional cross-oracle discipline as
  * [[Bzip2]] and [[Xz]].
  *
  * Reference scope: lithops-dataframe reads object-store files
  * (`io.py:13-88`) with no codec tier; this is extension surface for
  * crawl-scale ingest, routed through [[Decompress]]'s magic dispatch.
  */
object Zstd {

  private final val FrameMagic = 0xFD2FB528
  private final val SkippableMagicMask = 0xFFFFFFF0
  private final val SkippableMagicBase = 0x184D2A50
  private final val DictMagic = 0xEC30A437
  private final val BlockMax = 128 * 1024

  // ---- small helpers ----------------------------------------------------

  private def highBit(v: Int): Int = {
    require(v > 0, "highBit of non-positive value")
    31 - Integer.numberOfLeadingZeros(v)
  }

  /** Growable output buffer with random access for LZ match copies. */
  private final class Buf(initial: Int) {
    var a = new Array[Byte](math.max(initial, 64))
    var n = 0
    def ensure(extra: Int): Unit =
      if (n + extra > a.length) {
        var cap = a.length
        while (cap < n + extra) cap = cap * 2
        a = java.util.Arrays.copyOf(a, cap)
      }
    def append(src: Array[Byte], from: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(src, from, a, n, len); n += len
    }
    def appendByte(v: Byte, count: Int): Unit = {
      ensure(count)
      java.util.Arrays.fill(a, n, n + count, v); n += count
    }
    /** Overlap-safe LZ copy: `len` bytes from `n - dist`. */
    def copyMatch(dist: Int, len: Int): Unit = {
      ensure(len)
      var src = n - dist
      var i = 0
      while (i < len) { a(n + i) = a(src + i); i += 1 }
      n += len
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  // ---- XXH64 (public algorithm; zstd content checksum = low 32 bits) ----

  private final val PRIME1 = 0x9E3779B185EBCA87L
  private final val PRIME2 = 0xC2B2AE3D27D4EB4FL
  private final val PRIME3 = 0x165667B19E3779F9L
  private final val PRIME4 = 0x85EBCA77C2B2AE63L
  private final val PRIME5 = 0x27D4EB2F165667C5L

  private def xxhRound(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * PRIME2, 31) * PRIME1

  private def xxhMerge(acc: Long, v: Long): Long =
    (acc ^ xxhRound(0L, v)) * PRIME1 + PRIME4

  /** XXH64 with seed 0 over `b[off, off+len)`. */
  def xxh64(b: Array[Byte], off: Int, len: Int): Long = {
    var p = off
    val end = off + len
    var h =
      if (len >= 32) {
        var v1 = PRIME1 + PRIME2
        var v2 = PRIME2
        var v3 = 0L
        var v4 = -PRIME1
        while (p + 32 <= end) {
          v1 = xxhRound(v1, Bytes.le64(b, p))
          v2 = xxhRound(v2, Bytes.le64(b, p + 8))
          v3 = xxhRound(v3, Bytes.le64(b, p + 16))
          v4 = xxhRound(v4, Bytes.le64(b, p + 24))
          p += 32
        }
        var acc = java.lang.Long.rotateLeft(v1, 1) +
          java.lang.Long.rotateLeft(v2, 7) +
          java.lang.Long.rotateLeft(v3, 12) +
          java.lang.Long.rotateLeft(v4, 18)
        acc = xxhMerge(acc, v1); acc = xxhMerge(acc, v2)
        acc = xxhMerge(acc, v3); acc = xxhMerge(acc, v4)
        acc
      } else PRIME5
    h += len.toLong
    while (p + 8 <= end) {
      h ^= xxhRound(0L, Bytes.le64(b, p))
      h = java.lang.Long.rotateLeft(h, 27) * PRIME1 + PRIME4
      p += 8
    }
    if (p + 4 <= end) {
      h ^= Bytes.le32u(b, p) * PRIME1
      h = java.lang.Long.rotateLeft(h, 23) * PRIME2 + PRIME3
      p += 4
    }
    while (p < end) {
      h ^= (b(p) & 0xffL) * PRIME5
      h = java.lang.Long.rotateLeft(h, 11) * PRIME1
      p += 1
    }
    h ^= h >>> 33; h *= PRIME2
    h ^= h >>> 29; h *= PRIME3
    h ^= h >>> 32
    h
  }

  // ---- backward bitstream (RFC 8878 §4: streams are read from the end,
  //      a final 1 sentinel bit marks the true bit length) ----------------

  private[graft] final class BackBits(b: Array[Byte], from: Int, until: Int) {
    require(until > from, "empty zstd bitstream")
    require(b(until - 1) != 0,
      "corrupt zstd bitstream (final byte has no sentinel bit)")
    /** bits [0, pos) remain; bit i = (b(from + i/8) >> (i%8)) & 1 */
    private var pos: Int =
      (until - 1 - from) * 8 + highBit(b(until - 1) & 0xff)

    private def bit(i: Int): Int =
      if (i < 0) 0 else (b(from + (i >> 3)) >>> (i & 7)) & 1

    /** Top `n` unread bits, MSB first (bit pos-1 is the MSB). */
    def peek(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(pos - 1 - i); i += 1 }
      v
    }

    def skip(n: Int): Unit = {
      pos -= n
      require(pos >= 0, "zstd bitstream underrun")
    }

    def read(n: Int): Long = {
      require(n <= 56, "zstd bit read too wide")
      pos -= n
      require(pos >= 0, "zstd bitstream underrun")
      var v = 0L
      var i = n - 1
      while (i >= 0) { v = (v << 1) | bit(pos + i); i -= 1 }
      v
    }

    def readInt(n: Int): Int = read(n).toInt
    def remaining: Int = pos
    def exhausted: Boolean = pos == 0
  }

  // ---- FSE (RFC 8878 §4.1) ----------------------------------------------

  private[graft] final class FseTable(
      val symbol: Array[Int], val nbBits: Array[Int],
      val newState: Array[Int], val tableLog: Int)

  /** Single-state "table" for RLE mode: 0-bit reads keep state 0. */
  private def rleTable(sym: Int): FseTable =
    new FseTable(Array(sym), Array(0), Array(0), 0)

  /** Read an FSE table description: accuracy log (4 bits, +5) then the
    * variable-bit normalized counts (RFC 8878 §4.1.1). Returns
    * (counts, tableLog, nSymbols). */
  /** Bytes a table description took, its last partial byte included. */
  private def bytesRead(fb: LsbBitReader): Int = ((fb.bitPos + 7) >> 3).toInt

  private def readNCount(fb: LsbBitReader, maxSymbol: Int, maxTableLog: Int): (Array[Short], Int, Int) = {
    val tableLog = fb.bits(4) + 5
    require(tableLog <= maxTableLog, s"zstd FSE accuracy log $tableLog > $maxTableLog")
    var remaining = (1 << tableLog) + 1
    var threshold = 1 << tableLog
    var nbBits = tableLog + 1
    val counts = new Array[Short](maxSymbol + 1)
    var charnum = 0
    var previous0 = false
    while (remaining > 1 && charnum <= maxSymbol) {
      if (previous0) {
        var rep = fb.bits(2)
        while (rep == 3) {
          charnum += 3
          require(charnum <= maxSymbol, "zstd FSE zero-repeat overflow")
          rep = fb.bits(2)
        }
        charnum += rep
        require(charnum <= maxSymbol, "zstd FSE zero-repeat overflow")
        previous0 = false
      }
      val max = (2 * threshold - 1) - remaining
      // the low nbBits-1 bits, and the top bit only when they reach max
      val small = fb.bits(nbBits - 1)
      var count =
        if (small < max) small
        else {
          val full = small | (fb.bit() << (nbBits - 1))
          if (full >= threshold) full - max else full
        }
      count -= 1 // 0 means "not present", -1 means "less than 1"
      remaining -= (if (count < 0) -count else count)
      counts(charnum) = count.toShort
      charnum += 1
      previous0 = count == 0
      while (remaining < threshold && remaining > 1) {
        nbBits -= 1; threshold >>= 1
      }
    }
    require(remaining == 1, "zstd FSE normalized counts do not sum to table size")
    (counts, tableLog, charnum)
  }

  /** Build the FSE decode table from normalized counts — used both for
    * inline descriptions and the RFC's predefined distribution lists. */
  private[graft] def buildDTable(counts: Array[Short], nSym: Int, tableLog: Int): FseTable = {
    val size = 1 << tableLog
    val sym = new Array[Int](size)
    val nb = new Array[Int](size)
    val ns = new Array[Int](size)
    var highThreshold = size - 1
    val symbolNext = new Array[Int](nSym)
    var s = 0
    while (s < nSym) {
      if (counts(s) == -1) {
        sym(highThreshold) = s; highThreshold -= 1; symbolNext(s) = 1
      } else {
        require(counts(s) >= 0, "negative zstd FSE count")
        symbolNext(s) = counts(s)
      }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < nSym) {
      var i = 0
      while (i < counts(s)) {
        sym(pos) = s
        do { pos = (pos + step) & mask } while (pos > highThreshold)
        i += 1
      }
      s += 1
    }
    require(pos == 0, "zstd FSE table spread did not close")
    var u = 0
    while (u < size) {
      val sy = sym(u)
      val nextState = symbolNext(sy); symbolNext(sy) += 1
      val bits = tableLog - highBit(nextState)
      nb(u) = bits
      ns(u) = (nextState << bits) - size
      u += 1
    }
    new FseTable(sym, nb, ns, tableLog)
  }

  // ---- predefined distributions (RFC 8878 §3.1.1.3.2.2) ------------------
  // These are the RFC's published normalized-count lists; the decode and
  // encode tables are DERIVED from them by the same constructors used for
  // inline table descriptions.

  private val LlDefaultDist: Array[Short] = Array[Short](
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1)
  private val MlDefaultDist: Array[Short] = Array[Short](
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1)
  private val OfDefaultDist: Array[Short] = Array[Short](
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)

  private final val MaxLlCode = 35
  private final val MaxMlCode = 52
  private final val MaxOfCode = 31 // decoder bound; predefined table stops at 28

  private lazy val LlDefault = buildDTable(LlDefaultDist, 36, 6)
  private lazy val MlDefault = buildDTable(MlDefaultDist, 53, 6)
  private lazy val OfDefault = buildDTable(OfDefaultDist, 29, 5)

  // code → (baseline, extra bits) for literals length and match length
  // (RFC 8878 §3.1.1.3.2.1.1)
  private val LlBits: Array[Int] = Array.fill(16)(0) ++ Array(
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val LlBase: Array[Int] = (0 until 16).toArray ++ Array(
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536)
  private val MlBits: Array[Int] = Array.fill(32)(0) ++ Array(
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MlBase: Array[Int] = (3 until 35).toArray ++ Array(
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)

  // ---- Huffman (RFC 8878 §4.2) -------------------------------------------

  private final class HufTable(
      val symbol: Array[Byte], val nbBits: Array[Int], val tableLog: Int)

  /** Read a Huffman tree description at `b(off)`: direct 4-bit weights
    * (header ≥ 128) or FSE-compressed weights (header < 128, two
    * interleaved states, accuracy ≤ 6). Returns (table, bytesConsumed). */
  private def readHufTable(b: Array[Byte], off: Int, limit: Int): (HufTable, Int) = {
    require(off < limit, "truncated zstd Huffman description")
    val h = b(off) & 0xff
    var weights: Array[Int] = null
    var consumed = 0
    if (h >= 128) {
      val n = h - 127
      val bytes = (n + 1) / 2
      require(off + 1 + bytes <= limit, "truncated zstd Huffman weights")
      weights = new Array[Int](n)
      var i = 0
      while (i < n) {
        val v = b(off + 1 + (i >> 1)) & 0xff
        weights(i) = if ((i & 1) == 0) v >>> 4 else v & 0x0f
        i += 1
      }
      consumed = 1 + bytes
    } else {
      require(h > 0 && off + 1 + h <= limit, "truncated zstd Huffman FSE weights")
      val fb = new LsbBitReader(b, off + 1, off + 1 + h, "zstd FSE table description")
      val (counts, tlog, nsym) = readNCount(fb, maxSymbol = 255, maxTableLog = 6)
      val table = buildDTable(counts, nsym, tlog)
      val hdr = bytesRead(fb)
      require(hdr < h, "zstd Huffman FSE weights have no bitstream")
      val bits = new BackBits(b, off + 1 + hdr, off + 1 + h)
      // two interleaved states; the update that would underrun the
      // stream instead terminates decoding, flushing the other state
      val out = new java.io.ByteArrayOutputStream(64)
      var s1 = bits.readInt(tlog)
      var s2 = bits.readInt(tlog)
      var done = false
      while (!done) {
        require(out.size < 256, "zstd Huffman weight stream overlong")
        out.write(table.symbol(s1))
        if (bits.remaining < table.nbBits(s1)) { out.write(table.symbol(s2)); done = true }
        else {
          s1 = table.newState(s1) + bits.readInt(table.nbBits(s1))
          out.write(table.symbol(s2))
          if (bits.remaining < table.nbBits(s2)) { out.write(table.symbol(s1)); done = true }
          else s2 = table.newState(s2) + bits.readInt(table.nbBits(s2))
        }
      }
      // the loop can write two symbols on its final iteration, so the
      // size guard at loop top alone would admit up to 257 explicit
      // weights; 255 is the cap (the 256th is the implicit last)
      require(out.size <= 255, "zstd Huffman weight stream overlong")
      weights = out.toByteArray.map(_.toInt & 0xff)
      consumed = 1 + h
    }
    // last weight is implicit: complete the kraft sum to a power of two
    var total = 0
    var i = 0
    while (i < weights.length) {
      require(weights(i) <= 12, s"zstd Huffman weight ${weights(i)} too large")
      if (weights(i) > 0) total += 1 << (weights(i) - 1)
      i += 1
    }
    require(total > 0, "zstd Huffman description has no symbols")
    // complete to the nearest power of two STRICTLY above the explicit
    // sum — the implicit last weight is always ≥ 1
    val tableLog = highBit(total) + 1
    val rest = (1 << tableLog) - total
    require(rest > 0 && Integer.bitCount(rest) == 1,
      "zstd Huffman weights do not complete to a power of two")
    val lastWeight = highBit(rest) + 1
    val allW = weights :+ lastWeight
    require(tableLog <= 11, s"zstd Huffman table log $tableLog > 11")

    // canonical fill: each symbol of weight w occupies 2^(w-1) cells,
    // lower weights (longer codes) first, symbol order within a weight
    val size = 1 << tableLog
    val sym = new Array[Byte](size)
    val nb = new Array[Int](size)
    val rankStart = new Array[Int](tableLog + 2)
    i = 0
    while (i < allW.length) { rankStart(allW(i)) += 1; i += 1 }
    var next = 0
    var w = 1
    while (w <= tableLog) {
      val c = rankStart(w)
      rankStart(w) = next
      next += c << (w - 1)
      w += 1
    }
    require(next == size, "zstd Huffman ranks do not fill the table")
    i = 0
    while (i < allW.length) {
      val wi = allW(i)
      if (wi > 0) {
        val len = 1 << (wi - 1)
        val bitsI = tableLog + 1 - wi
        var u = rankStart(wi)
        val end = u + len
        while (u < end) { sym(u) = i.toByte; nb(u) = bitsI; u += 1 }
        rankStart(wi) = end
      }
      i += 1
    }
    (new HufTable(sym, nb, tableLog), consumed)
  }

  /** Decode exactly `outLen` literals from one backward Huffman stream. */
  private def hufDecodeStream(b: Array[Byte], from: Int, until: Int,
      t: HufTable, out: Array[Byte], outOff: Int, outLen: Int): Unit = {
    val bits = new BackBits(b, from, until)
    var i = 0
    while (i < outLen) {
      val idx = bits.peek(t.tableLog)
      out(outOff + i) = t.symbol(idx)
      bits.skip(t.nbBits(idx))
      i += 1
    }
    require(bits.exhausted, "zstd Huffman literal stream not fully consumed")
  }

  // ---- per-frame decode context ------------------------------------------

  private final class FrameCtx {
    var huf: HufTable = null
    var ll: FseTable = null
    var of: FseTable = null
    var ml: FseTable = null
    var rep0 = 1L
    var rep1 = 4L
    var rep2 = 8L
  }

  // ---- dictionaries (RFC 8878 §5) ----------------------------------------

  /** A parsed zstd dictionary: either the structured format (magic
    * 0xEC30A437 + id + entropy tables + rep codes + content) or a
    * RAW-CONTENT dictionary (any payload without the magic — id 0, no
    * tables, the whole payload is history), libzstd's documented
    * dual behavior. */
  final class ZstdDict private[Zstd] (
      val dictId: Long,
      private[Zstd] val huf: HufTable,
      private[Zstd] val ll: FseTable,
      private[Zstd] val of: FseTable,
      private[Zstd] val ml: FseTable,
      private[Zstd] val rep0: Long,
      private[Zstd] val rep1: Long,
      private[Zstd] val rep2: Long,
      val content: Array[Byte])

  /** Parse a dictionary payload. Structured dictionaries carry a
    * Huffman literals table and the offset/match-length/
    * literals-length FSE tables (serialized exactly like in-frame
    * descriptions, in libzstd's load order) plus three rep codes;
    * anything without the magic is a raw-content dictionary. */
  def parseDictionary(b: Array[Byte]): ZstdDict = {
    require(b != null && b.length > 0, "empty zstd dictionary")
    if (b.length < 8 || Bytes.le32(b, 0) != DictMagic)
      return new ZstdDict(0L, null, null, null, null, 1L, 4L, 8L, b.clone())
    val dictId = Bytes.le32u(b, 4)
    require(dictId != 0, "zstd dictionary id 0 is reserved")
    var p = 8
    val (huf, consumed) = readHufTable(b, p, b.length)
    p += consumed
    def fse(maxSym: Int, maxLog: Int, name: String): FseTable = {
      val fb = new LsbBitReader(b, p, b.length, "zstd FSE table description")
      val (counts, tlog, nsym) = readNCount(fb, maxSym, maxLog)
      p += bytesRead(fb)
      require(p <= b.length, s"truncated zstd dictionary $name table")
      buildDTable(counts, nsym, tlog)
    }
    val of = fse(MaxOfCode, 8, "offset")
    val ml = fse(MaxMlCode, 9, "match-length")
    val ll = fse(MaxLlCode, 9, "literals-length")
    require(p + 12 <= b.length, "truncated zstd dictionary rep codes")
    val r0 = Bytes.le32u(b, p)
    val r1 = Bytes.le32u(b, p + 4)
    val r2 = Bytes.le32u(b, p + 8)
    p += 12
    val content = java.util.Arrays.copyOfRange(b, p, b.length)
    require(r0 >= 1 && r1 >= 1 && r2 >= 1 &&
      r0 <= content.length && r1 <= content.length && r2 <= content.length,
      s"zstd dictionary rep codes ($r0, $r1, $r2) out of content range ${content.length}")
    new ZstdDict(dictId, huf, ll, of, ml, r0, r1, r2, content)
  }

  // ---- compressed-block decode -------------------------------------------

  private def decodeBlock(b: Array[Byte], blockFrom: Int, blockUntil: Int,
      out: Buf, windowBase: Int, ctx: FrameCtx): Unit = {
    var p = blockFrom
    require(p < blockUntil, "empty zstd compressed block")

    // --- literals section ---
    val h0 = b(p) & 0xff
    val litType = h0 & 3
    val sizeFormat = (h0 >>> 2) & 3
    var litRegen = 0
    var lits: Array[Byte] = null
    if (litType <= 1) { // Raw / RLE
      if ((sizeFormat & 1) == 0) { litRegen = h0 >>> 3; p += 1 }
      else if (sizeFormat == 1) {
        require(p + 2 <= blockUntil, "truncated zstd literals header")
        litRegen = (h0 >>> 4) | ((b(p + 1) & 0xff) << 4); p += 2
      } else {
        require(p + 3 <= blockUntil, "truncated zstd literals header")
        litRegen = (h0 >>> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 0xff) << 12)
        p += 3
      }
      if (litType == 0) { // Raw
        require(p + litRegen <= blockUntil, "truncated zstd raw literals")
        lits = java.util.Arrays.copyOfRange(b, p, p + litRegen)
        p += litRegen
      } else { // RLE
        require(p < blockUntil, "truncated zstd RLE literal byte")
        lits = new Array[Byte](litRegen)
        java.util.Arrays.fill(lits, b(p))
        p += 1
      }
    } else { // Compressed / Treeless
      var cmpSize = 0
      var fourStreams = true
      sizeFormat match {
        case 0 | 1 =>
          require(p + 3 <= blockUntil, "truncated zstd literals header")
          litRegen = (h0 >>> 4) | ((b(p + 1) & 0x3f) << 4)
          cmpSize = ((b(p + 1) & 0xff) >>> 6) | ((b(p + 2) & 0xff) << 2)
          fourStreams = sizeFormat == 1
          p += 3
        case 2 =>
          require(p + 4 <= blockUntil, "truncated zstd literals header")
          litRegen = (h0 >>> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 3) << 12)
          cmpSize = ((b(p + 2) & 0xff) >>> 2) | ((b(p + 3) & 0xff) << 6)
          p += 4
        case _ =>
          require(p + 5 <= blockUntil, "truncated zstd literals header")
          litRegen = (h0 >>> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 0x3f) << 12)
          cmpSize = ((b(p + 2) & 0xff) >>> 6) | ((b(p + 3) & 0xff) << 2) |
            ((b(p + 4) & 0xff) << 10)
          p += 5
      }
      require(p + cmpSize <= blockUntil, "truncated zstd compressed literals")
      val litEnd = p + cmpSize
      if (litType == 2) { // fresh tree
        val (t, consumed) = readHufTable(b, p, litEnd)
        ctx.huf = t
        p += consumed
      } else require(ctx.huf != null,
        "zstd treeless literals with no previous Huffman table in frame")
      lits = new Array[Byte](litRegen)
      if (!fourStreams) hufDecodeStream(b, p, litEnd, ctx.huf, lits, 0, litRegen)
      else {
        require(litEnd - p >= 6, "zstd four-stream literals missing jump table")
        val s1 = Bytes.le16(b, p); val s2 = Bytes.le16(b, p + 2); val s3 = Bytes.le16(b, p + 4)
        val streamsFrom = p + 6
        val s4 = (litEnd - streamsFrom) - s1 - s2 - s3
        require(s4 > 0, "zstd four-stream jump table inconsistent")
        val per = (litRegen + 3) / 4
        val last = litRegen - 3 * per
        require(last >= 0, "zstd four-stream regenerated size too small")
        var sp = streamsFrom
        hufDecodeStream(b, sp, sp + s1, ctx.huf, lits, 0, per); sp += s1
        hufDecodeStream(b, sp, sp + s2, ctx.huf, lits, per, per); sp += s2
        hufDecodeStream(b, sp, sp + s3, ctx.huf, lits, 2 * per, per); sp += s3
        hufDecodeStream(b, sp, litEnd, ctx.huf, lits, 3 * per, last)
      }
      p = litEnd
    }

    // --- sequences section ---
    require(p < blockUntil, "zstd block missing sequences section")
    val s0 = b(p) & 0xff
    p += 1
    var nbSeq = 0
    if (s0 < 128) nbSeq = s0
    else if (s0 < 255) {
      require(p < blockUntil, "truncated zstd sequence count")
      nbSeq = ((s0 - 128) << 8) + (b(p) & 0xff); p += 1
    } else {
      require(p + 2 <= blockUntil, "truncated zstd sequence count")
      nbSeq = Bytes.le16(b, p) + 0x7F00; p += 2
    }
    if (nbSeq == 0) {
      require(p == blockUntil, "zstd block has trailing bytes after literals")
      out.append(lits, 0, lits.length)
      return
    }

    require(p < blockUntil, "truncated zstd compression modes")
    val modes = b(p) & 0xff
    p += 1
    require((modes & 3) == 0, "zstd reserved compression-mode bits set")

    def channelTable(mode: Int, prev: FseTable, predefined: FseTable,
        maxSym: Int, maxLog: Int, name: String): FseTable = mode match {
      case 0 => predefined
      case 1 =>
        require(p < blockUntil, s"truncated zstd $name RLE byte")
        val sym = b(p) & 0xff; p += 1
        require(sym <= maxSym, s"zstd $name RLE symbol $sym > $maxSym")
        rleTable(sym)
      case 2 =>
        val fb = new LsbBitReader(b, p, blockUntil, "zstd FSE table description")
        val (counts, tlog, nsym) = readNCount(fb, maxSym, maxLog)
        p += bytesRead(fb)
        buildDTable(counts, nsym, tlog)
      case _ =>
        require(prev != null, s"zstd $name repeat mode with no previous table")
        prev
    }

    ctx.ll = channelTable((modes >>> 6) & 3, ctx.ll, LlDefault, MaxLlCode, 9, "literals-length")
    ctx.of = channelTable((modes >>> 4) & 3, ctx.of, OfDefault, MaxOfCode, 8, "offset")
    ctx.ml = channelTable((modes >>> 2) & 3, ctx.ml, MlDefault, MaxMlCode, 9, "match-length")

    val bits = new BackBits(b, p, blockUntil)
    var llState = bits.readInt(ctx.ll.tableLog)
    var ofState = bits.readInt(ctx.of.tableLog)
    var mlState = bits.readInt(ctx.ml.tableLog)

    var litPos = 0
    var i = 0
    while (i < nbSeq) {
      val ofCode = ctx.of.symbol(ofState)
      require(ofCode <= MaxOfCode, s"zstd offset code $ofCode out of range")
      val offValue = (1L << ofCode) + bits.read(ofCode)
      val mlCode = ctx.ml.symbol(mlState)
      require(mlCode <= MaxMlCode, s"zstd match-length code $mlCode out of range")
      val ml = MlBase(mlCode) + bits.read(MlBits(mlCode)).toInt
      val llCode = ctx.ll.symbol(llState)
      require(llCode <= MaxLlCode, s"zstd literals-length code $llCode out of range")
      val ll = LlBase(llCode) + bits.read(LlBits(llCode)).toInt

      // repeat-offset resolution (§3.1.1.5)
      var offset = 0L
      if (offValue > 3) {
        offset = offValue - 3
        ctx.rep2 = ctx.rep1; ctx.rep1 = ctx.rep0; ctx.rep0 = offset
      } else {
        val idx = (offValue - 1 + (if (ll == 0) 1 else 0)).toInt
        idx match {
          case 0 => offset = ctx.rep0
          case 1 =>
            offset = ctx.rep1
            ctx.rep1 = ctx.rep0; ctx.rep0 = offset
          case 2 =>
            offset = ctx.rep2
            ctx.rep2 = ctx.rep1; ctx.rep1 = ctx.rep0; ctx.rep0 = offset
          case _ =>
            offset = ctx.rep0 - 1
            require(offset >= 1, "zstd repeat-offset underflow")
            ctx.rep2 = ctx.rep1; ctx.rep1 = ctx.rep0; ctx.rep0 = offset
        }
      }

      if (i != nbSeq - 1) {
        llState = ctx.ll.newState(llState) + bits.readInt(ctx.ll.nbBits(llState))
        mlState = ctx.ml.newState(mlState) + bits.readInt(ctx.ml.nbBits(mlState))
        ofState = ctx.of.newState(ofState) + bits.readInt(ctx.of.nbBits(ofState))
      }

      require(litPos + ll <= lits.length, "zstd sequence consumes more literals than present")
      out.append(lits, litPos, ll)
      litPos += ll
      require(offset <= (out.n - windowBase).toLong,
        s"zstd match offset $offset beyond frame window ${out.n - windowBase}")
      out.copyMatch(offset.toInt, ml)
      i += 1
    }
    require(bits.exhausted, "zstd sequence bitstream not fully consumed")
    out.append(lits, litPos, lits.length - litPos)
  }

  // ---- frame decode --------------------------------------------------------

  private def decodeFrame(b: Array[Byte], start: Int, out: Buf,
      dict: ZstdDict): Int = {
    var p = start
    require(p < b.length, "truncated zstd frame header")
    val fhd = b(p) & 0xff
    p += 1
    val fcsFlag = (fhd >>> 6) & 3
    val singleSeg = ((fhd >>> 5) & 1) == 1
    require(((fhd >>> 3) & 1) == 0, "reserved zstd frame-header bit set")
    val hasChecksum = ((fhd >>> 2) & 1) == 1
    val didFlag = fhd & 3
    if (!singleSeg) {
      require(p < b.length, "truncated zstd window descriptor")
      p += 1 // window bound is advisory here: matches are checked
      //        against actual frame output, and we decode in memory
    }
    val didBytes = Array(0, 1, 2, 4)(didFlag)
    if (didBytes > 0) {
      require(p + didBytes <= b.length, "truncated zstd dictionary id")
      var dictId = 0L
      var i = 0
      while (i < didBytes) { dictId |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      if (dictId != 0) {
        require(dict != null,
          s"zstd frame requires dictionary id $dictId — decode(bytes, dict)")
        require(dict.dictId == 0 || dict.dictId == dictId,
          s"zstd dictionary id mismatch: frame wants $dictId, dictionary is ${dict.dictId}")
      }
      p += didBytes
    }
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSeg) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    var contentSize = -1L
    if (fcsBytes > 0) {
      require(p + fcsBytes <= b.length, "truncated zstd frame content size")
      contentSize = 0L
      var i = 0
      while (i < fcsBytes) { contentSize |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      if (fcsBytes == 2) contentSize += 256
      p += fcsBytes
    }

    val frameStart = out.n
    // dict content physically precedes the frame in `out` (the caller
    // pre-seeds it), so matches reaching past the frame's own output
    // land in dictionary history — the §5 window semantics
    val windowBase = frameStart - (if (dict != null) dict.content.length else 0)
    val ctx = new FrameCtx
    if (dict != null) {
      ctx.huf = dict.huf
      ctx.ll = dict.ll; ctx.of = dict.of; ctx.ml = dict.ml
      ctx.rep0 = dict.rep0; ctx.rep1 = dict.rep1; ctx.rep2 = dict.rep2
    }
    var lastBlock = false
    while (!lastBlock) {
      require(p + 3 <= b.length, "truncated zstd block header")
      val bh = Bytes.le24(b, p)
      p += 3
      lastBlock = (bh & 1) == 1
      val btype = (bh >>> 1) & 3
      val bsize = bh >>> 3
      btype match {
        case 0 =>
          require(p + bsize <= b.length, "truncated zstd raw block")
          out.append(b, p, bsize)
          p += bsize
        case 1 =>
          require(p < b.length, "truncated zstd RLE block")
          out.appendByte(b(p), bsize)
          p += 1
        case 2 =>
          require(bsize <= BlockMax, s"zstd compressed block size $bsize > 128 KiB")
          require(p + bsize <= b.length, "truncated zstd compressed block")
          decodeBlock(b, p, p + bsize, out, windowBase, ctx)
          p += bsize
        case _ =>
          throw new IllegalArgumentException("reserved zstd block type")
      }
    }
    if (contentSize >= 0)
      require((out.n - frameStart).toLong == contentSize,
        s"zstd frame content size mismatch: header $contentSize, decoded ${out.n - frameStart}")
    if (hasChecksum) {
      require(p + 4 <= b.length, "truncated zstd content checksum")
      val want = Bytes.le32u(b, p)
      val got = xxh64(out.a, frameStart, out.n - frameStart) & 0xffffffffL
      require(want == got,
        f"zstd content checksum mismatch: stored 0x$want%08x, computed 0x$got%08x")
      p += 4
    }
    p
  }

  /** Decompress a complete zstd payload: one or more frames, skippable
    * frames passed over, every structural invariant verified. */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    require(bytes != null && bytes.length >= 4, "not a zstd payload (too short)")
    val out = new Buf(bytes.length * 4)
    var p = 0
    while (p < bytes.length) {
      require(p + 4 <= bytes.length, "truncated zstd magic")
      val magic = Bytes.le32(bytes, p)
      if ((magic & SkippableMagicMask) == SkippableMagicBase) {
        require(p + 8 <= bytes.length, "truncated zstd skippable frame header")
        val sz = Bytes.le32u(bytes, p + 4)
        require(p + 8 + sz <= bytes.length, "truncated zstd skippable frame")
        p += 8 + sz.toInt
      } else {
        require(magic == FrameMagic,
          f"not a zstd frame (magic 0x${magic & 0xffffffffL}%08x at offset $p)")
        p = decodeFrame(bytes, p + 4, out, null)
      }
    }
    out.toArray
  }

  /** Decompress with a dictionary: each frame decodes against the
    * dictionary's entropy tables, rep codes, and content history (the
    * caller obtains the dict once via [[parseDictionary]] — at corpus
    * scale the dictionary is broadcast state, parsed once per
    * executor, never per row). Frames declaring a different
    * dictionary id fail loudly. */
  def decode(bytes: Array[Byte], dict: ZstdDict): Array[Byte] = {
    require(dict != null, "null zstd dictionary — use decode(bytes)")
    require(bytes != null && bytes.length >= 4, "not a zstd payload (too short)")
    val res = new Buf(bytes.length * 4)
    var p = 0
    while (p < bytes.length) {
      require(p + 4 <= bytes.length, "truncated zstd magic")
      val magic = Bytes.le32(bytes, p)
      if ((magic & SkippableMagicMask) == SkippableMagicBase) {
        require(p + 8 <= bytes.length, "truncated zstd skippable frame header")
        val sz = Bytes.le32u(bytes, p + 4)
        require(p + 8 + sz <= bytes.length, "truncated zstd skippable frame")
        p += 8 + sz.toInt
      } else {
        require(magic == FrameMagic,
          f"not a zstd frame (magic 0x${magic & 0xffffffffL}%08x at offset $p)")
        // fresh per-frame window pre-seeded with dictionary content
        val out = new Buf(dict.content.length + bytes.length * 4)
        out.append(dict.content, 0, dict.content.length)
        p = decodeFrame(bytes, p + 4, out, dict)
        res.append(out.a, dict.content.length, out.n - dict.content.length)
      }
    }
    res.toArray
  }

  // ---- FSE encode tables (inverse of buildDTable, same spread) -------------

  private[graft] final class FseCTable(
      val deltaNbBits: Array[Int], val deltaFindState: Array[Int],
      val stateTable: Array[Int], val tableLog: Int)

  private[graft] def buildCTable(counts: Array[Short], nSym: Int, tableLog: Int): FseCTable = {
    val size = 1 << tableLog
    val tableSymbol = new Array[Int](size)
    var highThreshold = size - 1
    val cumul = new Array[Int](nSym + 1)
    var s = 0
    while (s < nSym) {
      cumul(s + 1) = cumul(s) + (if (counts(s) == -1) {
        tableSymbol(highThreshold) = s; highThreshold -= 1; 1
      } else counts(s))
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < nSym) {
      var i = 0
      while (i < counts(s)) {
        tableSymbol(pos) = s
        do { pos = (pos + step) & mask } while (pos > highThreshold)
        i += 1
      }
      s += 1
    }
    require(pos == 0, "zstd FSE encode-table spread did not close")
    val stateTable = new Array[Int](size)
    val cum2 = cumul.clone()
    var u = 0
    while (u < size) {
      val sy = tableSymbol(u)
      stateTable(cum2(sy)) = size + u
      cum2(sy) += 1
      u += 1
    }
    val deltaNbBits = new Array[Int](nSym)
    val deltaFindState = new Array[Int](nSym)
    var total = 0
    s = 0
    while (s < nSym) {
      counts(s) match {
        case 0 =>
          deltaNbBits(s) = ((tableLog + 1) << 16) - size
        case 1 | -1 =>
          deltaNbBits(s) = (tableLog << 16) - size
          deltaFindState(s) = total - 1
          total += 1
        case c =>
          val maxBitsOut = tableLog - highBit(c - 1)
          deltaNbBits(s) = (maxBitsOut << 16) - (c << maxBitsOut)
          deltaFindState(s) = total - c
          total += c
      }
      s += 1
    }
    new FseCTable(deltaNbBits, deltaFindState, stateTable, tableLog)
  }

  private[graft] final class CState(t: FseCTable) {
    private var value = 0
    def init(sym: Int): Unit = {
      val nbOut = (t.deltaNbBits(sym) + (1 << 15)) >>> 16
      val v = (nbOut << 16) - t.deltaNbBits(sym)
      value = t.stateTable((v >>> nbOut) + t.deltaFindState(sym))
    }
    def encode(bw: LsbBitWriter, sym: Int): Unit = {
      val nbOut = (value + t.deltaNbBits(sym)) >>> 16
      bw.putBits(value, nbOut)
      value = t.stateTable((value >>> nbOut) + t.deltaFindState(sym))
    }
    def flush(bw: LsbBitWriter): Unit = bw.putBits(value, t.tableLog)
  }

  private lazy val LlDefaultC = buildCTable(LlDefaultDist, 36, 6)
  private lazy val MlDefaultC = buildCTable(MlDefaultDist, 53, 6)
  private lazy val OfDefaultC = buildCTable(OfDefaultDist, 29, 5)

  // ---- encoder ---------------------------------------------------------------

  private def llCodeOf(ll: Int): Int =
    if (ll < 16) ll
    else {
      var c = MaxLlCode
      while (LlBase(c) > ll) c -= 1
      c
    }

  private def mlCodeOf(ml: Int): Int =
    if (ml < 35) ml - 3
    else {
      var c = MaxMlCode
      while (MlBase(c) > ml) c -= 1
      c
    }

  private final case class Seq0(ll: Int, offset: Int, ml: Int)

  /** Greedy LZ over `raw[from, until)` with frame-wide history in
    * `tab` (4-byte insert hash, most-recent position, single probe).
    * Returns (sequences, literal bytes). */
  private def findSequences(raw: Array[Byte], from: Int, until: Int,
      tab: Array[Int]): (Vector[Seq0], Array[Byte]) = {
    val lits = new java.io.ByteArrayOutputStream(until - from)
    var seqs = Vector.newBuilder[Seq0]
    var i = from
    var anchor = from
    val shift = 32 - 17
    def hash(p: Int): Int = {
      val v = Bytes.le32(raw, p)
      (v * 0x9E3779B1) >>> shift
    }
    while (i + 4 <= until) {
      val h = hash(i)
      val cand = tab(h)
      tab(h) = i
      // The frame-wide hash table can surface a match arbitrarily far
      // back; offsets whose code would exceed the predefined OF table
      // (symbol 28) must be skipped — the byte is emitted as a literal
      // instead of failing the encode on a >256 MiB frame.
      if (cand >= 0 && cand < i && (i - cand) < (1 << 28) - 3 &&
        raw(cand) == raw(i) && raw(cand + 1) == raw(i + 1) &&
        raw(cand + 2) == raw(i + 2) && raw(cand + 3) == raw(i + 3)) {
        var len = 4
        while (i + len < until && raw(cand + len) == raw(i + len)) len += 1
        val ll = i - anchor
        lits.write(raw, anchor, ll)
        seqs += Seq0(ll, i - cand, len)
        // index interior positions sparsely so later matches can land
        var j = i + 1
        val stop = math.min(i + len, until - 4)
        while (j < stop) { tab(hash(j)) = j; j += 2 }
        i += len
        anchor = i
      } else i += 1
    }
    lits.write(raw, anchor, until - anchor)
    (seqs.result().toVector, lits.toByteArray)
  }

  /** Assemble one compressed block: raw literals + predefined-FSE
    * sequences. Returns null when compression does not pay. */
  private def compressBlock(raw: Array[Byte], from: Int, until: Int,
      tab: Array[Int]): Array[Byte] = {
    val (seqs, lits) = findSequences(raw, from, until, tab)
    if (seqs.isEmpty) return null
    val out = new java.io.ByteArrayOutputStream(until - from)
    // literals section: raw literals, smallest size format
    val n = lits.length
    if (n <= 31) out.write((n << 3) | 0) // type raw(0), 1-bit size format 0
    else if (n <= 4095) { // size format 01: 12 bits over 2 bytes
      out.write(((n & 0x0f) << 4) | (1 << 2) | 0)
      out.write((n >>> 4) & 0xff)
    } else { // size format 11: 20 bits over 3 bytes
      out.write(((n & 0x0f) << 4) | (3 << 2) | 0)
      out.write((n >>> 4) & 0xff)
      out.write((n >>> 12) & 0xff)
    }
    out.write(lits, 0, n)
    // sequence count
    val nbSeq = seqs.length
    if (nbSeq < 128) out.write(nbSeq)
    else if (nbSeq <= 0x7EFF) {
      out.write((nbSeq >>> 8) + 128)
      out.write(nbSeq & 0xff)
    } else {
      out.write(255)
      out.write((nbSeq - 0x7F00) & 0xff)
      out.write(((nbSeq - 0x7F00) >>> 8) & 0xff)
    }
    out.write(0) // modes: predefined for LL, OF, ML; reserved 0
    // FSE-encode sequences in reverse (canonical order: the decoder
    // reads the stream backward)
    val bw = new LsbBitWriter(nbSeq * 8 + 16)
    val llS = new CState(LlDefaultC)
    val ofS = new CState(OfDefaultC)
    val mlS = new CState(MlDefaultC)
    def codes(q: Seq0): (Int, Int, Int, Long) = {
      val offValue = q.offset.toLong + 3
      val ofCode = 63 - java.lang.Long.numberOfLeadingZeros(offValue)
      (llCodeOf(q.ll), ofCode.toInt, mlCodeOf(q.ml), offValue)
    }
    val last = seqs(nbSeq - 1)
    val (llcL, ofcL, mlcL, ovL) = codes(last)
    require(ofcL <= 28, "zstd encoder offset beyond predefined table range")
    mlS.init(mlcL); ofS.init(ofcL); llS.init(llcL)
    bw.putBits(last.ll - LlBase(llcL), LlBits(llcL))
    bw.putBits(last.ml - MlBase(mlcL), MlBits(mlcL))
    bw.putBits((ovL - (1L << ofcL)).toInt, ofcL)
    var k = nbSeq - 2
    while (k >= 0) {
      val q = seqs(k)
      val (llc, ofc, mlc, ov) = codes(q)
      require(ofc <= 28, "zstd encoder offset beyond predefined table range")
      ofS.encode(bw, ofc)
      mlS.encode(bw, mlc)
      llS.encode(bw, llc)
      bw.putBits(q.ll - LlBase(llc), LlBits(llc))
      bw.putBits(q.ml - MlBase(mlc), MlBits(mlc))
      bw.putBits((ov - (1L << ofc)).toInt, ofc)
      k -= 1
    }
    mlS.flush(bw); ofS.flush(bw); llS.flush(bw)
    bw.putBits(1, 1) // the sentinel bit the backward reader starts after
    out.write(bw.result())
    val res = out.toByteArray
    if (res.length >= until - from) null else res
  }

  /** Frame-content-size field width for a known content size. */
  private def fcsBytesFor(n: Long): Int =
    if (n < 256) 1 else if (n <= 65535 + 256) 2 else 4

  private def encodeFrame(raw: Array[Byte], compress: Boolean): Array[Byte] = {
    require(raw != null, "null zstd input")
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    w32(FrameMagic)
    val n = raw.length.toLong
    val fcsB = fcsBytesFor(n)
    val fcsFlag = fcsB match { case 1 => 0; case 2 => 1; case _ => 2 }
    // single segment + content checksum
    out.write((fcsFlag << 6) | 0x20 | 0x04)
    val fcsVal = if (fcsB == 2) n - 256 else n
    var i = 0
    while (i < fcsB) { out.write(((fcsVal >>> (8 * i)) & 0xff).toInt); i += 1 }
    val tab = Array.fill(1 << 17)(-1)
    def blockHeader(h: Int): Unit = {
      out.write(h & 0xff); out.write((h >>> 8) & 0xff); out.write((h >>> 16) & 0xff)
    }
    if (raw.length == 0) blockHeader(1) // empty raw last block
    else {
      var p = 0
      while (p < raw.length) {
        val chunk = math.min(BlockMax, raw.length - p)
        val lastBit = if (p + chunk == raw.length) 1 else 0
        val cmp = if (compress) compressBlock(raw, p, p + chunk, tab) else null
        if (cmp != null) {
          blockHeader(lastBit | (2 << 1) | (cmp.length << 3))
          out.write(cmp, 0, cmp.length)
        } else {
          blockHeader(lastBit | (chunk << 3))
          out.write(raw, p, chunk)
        }
        p += chunk
      }
    }
    w32((xxh64(raw, 0, raw.length) & 0xffffffffL).toInt)
    out.toByteArray
  }

  /** Real zstd compression: greedy LZ + predefined-FSE sequence coding,
    * raw-block fallback, XXH64 content checksum. */
  def encode(raw: Array[Byte]): Array[Byte] = encodeFrame(raw, compress = true)

  /** Stored-mode frame (raw blocks only) whose size is the closed form
    * `4 + 1 + fcs_bytes + 3·blocks + n + 4`. */
  def encodeStored(raw: Array[Byte]): Array[Byte] = encodeFrame(raw, compress = false)

  /** Closed-form size of [[encodeStored]] output for `n` input bytes. */
  def storedSize(n: Long): Long = {
    val blocks = math.max(1L, (n + BlockMax - 1) / BlockMax)
    4L + 1L + fcsBytesFor(n) + 3L * blocks + n + 4L
  }
}
