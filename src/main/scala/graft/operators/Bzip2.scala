package graft.operators

/** Hand-written bzip2 codec over the PUBLIC format (the BZh stream
  * layout documented with the reference implementation: RLE1 → BWT →
  * MTF → RLE2 → per-group Huffman, MSB-first bit packing) — Wikipedia
  * dumps, a canonical 100 TB-class text source, ship as `.bz2`, so
  * the DECODER is crawl-ingest surface the way [[Gzip]] is for
  * Common Crawl.
  *
  * Decode: complete — multi-block, multi-STREAM concatenation
  * (pbzip2 output), 2..6 Huffman groups with 50-symbol selector
  * switching, MTF'd selectors, delta-coded code lengths, bijective
  * base-2 RUNA/RUNB zero-run decoding, counting-sort inverse BWT,
  * RLE1 expansion, and BOTH CRC tiers verified (per-block and the
  * rotated combined stream CRC; bzip2's CRC-32 is the NON-reflected
  * 0x04c11db7 form, unlike gzip's). The deprecated "randomized"
  * block bit is rejected loudly.
  *
  * Encode: minimal but VALID (the gate/test generator, exactly like
  * [[PdfCodec]]'s writer): one 20 000-byte original chunk per block
  * (RLE1 runs never span blocks — blocks are independent by format),
  * prefix-doubling rotation-sort BWT (O(n·log²n)), two identical
  * Huffman groups (the format's minimum is 2) with equal-length
  * codes (canonically assigned, prefix-valid even when incomplete),
  * all-zero MTF'd selectors. Compression comes from RLE1/RLE2 run
  * collapsing, not entropy coding — correctness-first by design.
  * The test suite cross-checks BOTH directions against the system
  * `bzip2` binary, an independent implementation.
  */
object Bzip2 {

  private val BlockMagic = 0x314159265359L
  private val StreamFooter = 0x177245385090L

  // ---- bzip2 CRC-32 (non-reflected 0x04c11db7) -------------------------

  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    private var v = 0xffffffff
    def update(b: Byte): Unit =
      v = (v << 8) ^ CrcTable(((v >>> 24) ^ (b & 0xff)) & 0xff)
    def update(bs: Array[Byte], off: Int, len: Int): Unit = {
      var i = off
      while (i < off + len) { update(bs(i)); i += 1 }
    }
    def value: Int = ~v
  }

  // ---- canonical Huffman (bzip2 assignment: by length, then symbol) ----

  private final class Huff(lengths: Array[Int]) {
    val count = new Array[Int](24)
    lengths.foreach { l =>
      require(l >= 1 && l <= 23, s"bzip2 code length $l out of range")
      count(l) += 1
    }
    val offsets = new Array[Int](24)
    for (l <- 1 until 23) offsets(l + 1) = offsets(l) + count(l)
    val symbol = new Array[Int](lengths.length)
    private val next = offsets.clone()
    for (i <- lengths.indices) { symbol(next(lengths(i))) = i; next(lengths(i)) += 1 }

    def decode(br: MsbBitReader): Int = {
      var code = 0
      var first = 0
      var index = 0
      var len = 1
      while (len <= 23) {
        code |= br.bit()
        val cnt = count(len)
        if (code - first < cnt) return symbol(index + (code - first))
        index += cnt
        first = (first + cnt) << 1
        code <<= 1
        len += 1
      }
      throw new IllegalArgumentException("invalid Huffman code in bzip2 stream")
    }

    /** (code, len) per symbol for the encoder side. */
    def codes: Array[(Int, Int)] = {
      val out = new Array[(Int, Int)](lengths.length)
      var code = 0
      var len = 1
      var idx = 0
      while (len <= 23) {
        var k = 0
        while (k < count(len)) { out(symbol(idx)) = (code, len); code += 1; idx += 1; k += 1 }
        code <<= 1
        len += 1
      }
      out
    }
  }

  // ---- decode ----------------------------------------------------------

  /** Decompress a complete `.bz2` payload (multi-block and
    * concatenated multi-stream). */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    require(bytes != null && bytes.length >= 10, "not a bzip2 payload (too short)")
    val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
    val br = new MsbBitReader(bytes, 0, bytes.length, "bzip2 stream")
    var more = true
    while (more) {
      require(br.bits(8) == 'B' && br.bits(8) == 'Z' && br.bits(8) == 'h',
        "missing BZh stream header")
      val level = br.bits(8) - '0'
      require(level >= 1 && level <= 9, s"bad bzip2 level $level")
      val maxBlock = level * 100000
      var streamCrc = 0
      var inStream = true
      while (inStream) {
        val magic = (br.bits(24).toLong << 24) | br.bits(24)
        if (magic == StreamFooter) {
          val want = br.bits(32)
          require(streamCrc == want,
            f"bzip2 stream CRC mismatch: got $streamCrc%08x, want $want%08x")
          inStream = false
        } else {
          require(magic == BlockMagic, f"bad bzip2 block magic $magic%012x")
          val blockCrcWant = br.bits(32)
          require(br.bit() == 0,
            "randomized bzip2 blocks (deprecated since 0.9.5) are not supported")
          val origPtr = br.bits(24)
          val block = decodeBlock(br, maxBlock, origPtr)
          val crc = new Crc
          crc.update(block, 0, block.length)
          require(crc.value == blockCrcWant,
            f"bzip2 block CRC mismatch: got ${crc.value}%08x, want $blockCrcWant%08x")
          streamCrc = ((streamCrc << 1) | (streamCrc >>> 31)) ^ crc.value
          out.write(block)
        }
      }
      br.align()
      more = br.bitsLeft > 0
    }
    out.toByteArray
  }

  /** One block body: symbol map, selectors, tables, MTF/RLE2 symbol
    * stream, inverse BWT, RLE1 expansion. */
  private def decodeBlock(br: MsbBitReader, maxBlock: Int, origPtr: Int): Array[Byte] = {
    // symbol map: 16-bit coarse map, then 16-bit fine maps
    val used16 = br.bits(16)
    val seq = new Array[Int](256)
    var nUsed = 0
    var i = 0
    while (i < 16) {
      if ((used16 & (0x8000 >>> i)) != 0) {
        val fine = br.bits(16)
        var j = 0
        while (j < 16) {
          if ((fine & (0x8000 >>> j)) != 0) { seq(nUsed) = i * 16 + j; nUsed += 1 }
          j += 1
        }
      }
      i += 1
    }
    require(nUsed > 0, "empty bzip2 symbol map")
    val alpha = nUsed + 2
    val nGroups = br.bits(3)
    require(nGroups >= 2 && nGroups <= 6, s"bad bzip2 group count $nGroups")
    val nSelectors = br.bits(15)
    require(nSelectors >= 1, "bzip2 block with no selectors")
    // selectors, MTF-coded unary
    val mtfGroups = Array.tabulate(nGroups)(identity)
    val selectors = new Array[Int](nSelectors)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (br.bit() == 1) {
        j += 1
        require(j < nGroups, "bzip2 selector out of range")
      }
      val g = mtfGroups(j)
      while (j > 0) { mtfGroups(j) = mtfGroups(j - 1); j -= 1 }
      mtfGroups(0) = g
      selectors(i) = g
      i += 1
    }
    // delta-coded lengths per group
    val tables = Array.tabulate(nGroups) { _ =>
      var len = br.bits(5)
      val ls = new Array[Int](alpha)
      var s = 0
      while (s < alpha) {
        var adjusting = true
        while (adjusting) {
          require(len >= 1 && len <= 23, s"bzip2 code length $len out of range")
          if (br.bit() == 0) adjusting = false
          else if (br.bit() == 0) len += 1
          else len -= 1
        }
        ls(s) = len
        s += 1
      }
      new Huff(ls)
    }
    // symbol stream → BWT bytes
    val mtf = new Array[Int](nUsed)
    System.arraycopy(seq, 0, mtf, 0, nUsed)
    val bwt = new Array[Byte](maxBlock)
    var n = 0
    var run = 0L
    var runShift = 0
    var selIdx = 0
    var groupPos = 0
    var cur: Huff = null
    var eob = false
    val eobSym = alpha - 1
    def flushRun(): Unit = {
      require(n + run <= maxBlock, "bzip2 zero-run overflows the block")
      val b = mtf(0).toByte
      var k = 0L
      while (k < run) { bwt(n) = b; n += 1; k += 1 }
      run = 0
      runShift = 0
    }
    while (!eob) {
      if (groupPos == 0) {
        require(selIdx < nSelectors, "bzip2 selectors exhausted")
        cur = tables(selectors(selIdx))
        selIdx += 1
        groupPos = 50
      }
      groupPos -= 1
      val s = cur.decode(br)
      if (s == 0 || s == 1) { // RUNA / RUNB, bijective base 2
        // a legal run is bounded by the block size (< 2^20), so a
        // malformed stream cannot be allowed to shift into overflow
        require(runShift <= 24, "bzip2 zero-run length overflows the block size")
        run += (s + 1).toLong << runShift
        runShift += 1
      } else if (s == eobSym) {
        flushRun()
        eob = true
      } else {
        flushRun()
        val idx = s - 1
        require(idx >= 1 && idx < nUsed, s"bzip2 MTF symbol $s out of range")
        val v = mtf(idx)
        var k = idx
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = v
        require(n < maxBlock, "bzip2 block overflows its declared size")
        bwt(n) = v.toByte
        n += 1
      }
    }
    require(origPtr < n, s"bzip2 origPtr $origPtr beyond block size $n")
    // inverse BWT (counting sort + next-link walk)
    val counts = new Array[Int](256)
    i = 0
    while (i < n) { counts(bwt(i) & 0xff) += 1; i += 1 }
    val cftab = new Array[Int](256)
    var sum = 0
    i = 0
    while (i < 256) { cftab(i) = sum; sum += counts(i); i += 1 }
    val next = new Array[Int](n)
    i = 0
    while (i < n) {
      val b = bwt(i) & 0xff
      next(cftab(b)) = i
      cftab(b) += 1
      i += 1
    }
    val pre = new Array[Byte](n)
    var p = next(origPtr)
    i = 0
    while (i < n) { pre(i) = bwt(p); p = next(p); i += 1 }
    // RLE1 expansion: 4 equal bytes then a count byte
    val out = new java.io.ByteArrayOutputStream(n + (n >> 2))
    i = 0
    var runLen = 0
    var last = -1
    while (i < n) {
      val b = pre(i) & 0xff
      if (runLen == 4) {
        var k = 0
        while (k < b) { out.write(last); k += 1 }
        runLen = 0
        last = -1
      } else {
        if (b == last) runLen += 1 else { runLen = 1; last = b }
        out.write(b)
      }
      i += 1
    }
    require(runLen != 4, "bzip2 RLE1 run truncated at block end (missing count byte)")
    out.toByteArray
  }

  // ---- encode (minimal valid generator) --------------------------------

  private val EncChunk = 20000

  /** Pairwise-comparator rotation sort — O(n²·log n) worst case but
    * allocation-free per compare; the fast path for small blocks. */
  private def sortRotationsDirect(block: Array[Byte]): Array[Int] = {
    val n = block.length
    val sa = Array.tabulate(n)(Integer.valueOf)
    java.util.Arrays.sort(sa, (a: Integer, b: Integer) => {
      var k = 0
      var r = 0
      val ai = a.intValue()
      val bi = b.intValue()
      while (k < n && r == 0) {
        r = (block((ai + k) % n) & 0xff) - (block((bi + k) % n) & 0xff)
        k += 1
      }
      if (r != 0) r else ai - bi
    })
    sa.map(_.intValue())
  }

  /** Cyclic rotation sort by prefix doubling — O(n·log²n), so the
    * encoder stays usable as a shard generator (the earlier pairwise
    * comparator was O(n²·log n) and dominated gate wall time). Equal
    * rotations (periodic blocks) keep an arbitrary but consistent
    * order: identical rows have identical last columns, so the BWT
    * bytes — and the decoded string — are unaffected. */
  private def sortRotations(block: Array[Byte]): Array[Int] = {
    val n = block.length
    // small blocks: the direct comparator beats prefix doubling's
    // per-round allocations (measured: per-doc ~300 B payload gates
    // regressed 1.7× under doubling-only)
    if (n <= 4096) return sortRotationsDirect(block)
    var sa = Array.tabulate(n)(identity)
    var rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = block(i) & 0xff; i += 1 }
    var k = 1
    var done = n <= 1
    while (!done) {
      val r = rank
      val kk = k
      def key(x: Int): Long = (r(x).toLong << 32) | (r((x + kk) % n).toLong & 0xffffffffL)
      sa = sa.sortBy(key)
      val newRank = new Array[Int](n)
      var dist = 0
      newRank(sa(0)) = 0
      i = 1
      while (i < n) {
        if (key(sa(i)) != key(sa(i - 1))) dist += 1
        newRank(sa(i)) = dist
        i += 1
      }
      rank = newRank
      done = dist == n - 1 || k >= n
      k <<= 1
    }
    sa
  }

  /** Compress: one block per ≤20 000-byte original chunk. */
  def encode(data: Array[Byte]): Array[Byte] = {
    val bw = new MsbBitWriter(4096)
    bw.putBits('B', 8); bw.putBits('Z', 8); bw.putBits('h', 8); bw.putBits('1', 8)
    var streamCrc = 0
    var off = 0
    // empty input → a zero-block stream (header + footer, CRC 0),
    // exactly what the reference tool emits
    while (off < data.length) {
      val len = math.min(EncChunk, data.length - off)
      val crc = new Crc
      crc.update(data, off, len)
      streamCrc = ((streamCrc << 1) | (streamCrc >>> 31)) ^ crc.value
      encodeBlock(bw, data, off, len, crc.value)
      off += len
    }
    bw.putBits((StreamFooter >>> 24).toInt, 24)
    bw.putBits(StreamFooter.toInt, 24)
    bw.putBits(streamCrc, 32)
    bw.result()
  }

  private def encodeBlock(bw: MsbBitWriter, data: Array[Byte], off: Int, len: Int,
      blockCrc: Int): Unit = {
    // RLE1
    val rle = new java.io.ByteArrayOutputStream(len + 8)
    var i = off
    while (i < off + len) {
      val b = data(i) & 0xff
      var run = 1
      while (i + run < off + len && run < 255 + 4 && (data(i + run) & 0xff) == b) run += 1
      if (run >= 4) {
        rle.write(b); rle.write(b); rle.write(b); rle.write(b)
        rle.write(run - 4)
      } else {
        var k = 0
        while (k < run) { rle.write(b); k += 1 }
      }
      i += run
    }
    val block = rle.toByteArray
    val n = block.length
    require(n <= 100000, s"RLE1 block grew past the level-1 limit: $n")
    val srt = sortRotations(block)
    val bwt = new Array[Byte](n)
    var origPtr = -1
    i = 0
    while (i < n) {
      val rot = srt(i)
      if (rot == 0) origPtr = i
      bwt(i) = block((rot + n - 1) % n)
      i += 1
    }
    require(origPtr >= 0, "BWT lost the zero rotation")
    // symbol map
    val usedByte = new Array[Boolean](256)
    block.foreach(b => usedByte(b & 0xff) = true)
    val seq = (0 until 256).filter(usedByte).toArray
    val nUsed = seq.length
    val alpha = nUsed + 2
    // MTF + RLE2
    val mtf = seq.clone()
    val syms = new java.util.ArrayList[Integer](n + 8)
    var zeroRun = 0L
    def flushZeros(): Unit = {
      var r = zeroRun
      while (r > 0) {
        // bijective base 2: digit 1 → RUNA(0), digit 2 → RUNB(1)
        val d = ((r - 1) % 2).toInt // 0 → digit 1, 1 → digit 2
        syms.add(d)
        r = (r - 1) / 2
      }
      zeroRun = 0
    }
    bwt.foreach { bb =>
      val b = bb & 0xff
      var idx = 0
      while (mtf(idx) != b) idx += 1
      if (idx == 0) zeroRun += 1
      else {
        flushZeros()
        syms.add(idx + 1)
        var k = idx
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = b
      }
    }
    flushZeros()
    syms.add(alpha - 1) // EOB
    // equal-length canonical code over the alphabet (prefix-valid)
    var codeLen = 1
    while ((1 << codeLen) < alpha) codeLen += 1
    val huff = new Huff(Array.fill(alpha)(codeLen))
    val codes = huff.codes
    // block header
    bw.putBits((BlockMagic >>> 24).toInt, 24)
    bw.putBits(BlockMagic.toInt, 24)
    bw.putBits(blockCrc, 32)
    bw.putBits(0, 1) // not randomized
    bw.putBits(origPtr, 24)
    var used16 = 0
    seq.foreach(s => used16 |= 0x8000 >>> (s / 16))
    bw.putBits(used16, 16)
    for (hi <- 0 until 16; if (used16 & (0x8000 >>> hi)) != 0) {
      var fine = 0
      seq.foreach(s => if (s / 16 == hi) fine |= 0x8000 >>> (s % 16))
      bw.putBits(fine, 16)
    }
    val nGroups = 2 // the format minimum; both groups share the table
    val nSelectors = (syms.size() + 49) / 50
    bw.putBits(nGroups, 3)
    bw.putBits(nSelectors, 15)
    for (_ <- 0 until nSelectors) bw.putBits(0, 1) // MTF'd selector 0
    for (_ <- 0 until nGroups) {
      bw.putBits(codeLen, 5)
      for (_ <- 0 until alpha) bw.putBits(0, 1) // no delta adjustments
    }
    // symbol stream
    i = 0
    while (i < syms.size()) {
      val (c, l) = codes(syms.get(i).intValue())
      bw.putBits(c, l)
      i += 1
    }
  }
}
