package graft.operators

import java.util.zip.{Adler32, CRC32}

/** Hand-written gzip (RFC 1952) over the repo's own deflate machinery
  * — the ingestion codec for web-crawl corpora (Common Crawl WARC
  * files are concatenated per-record gzip members, so splitting and
  * inflating members IS the 100 TB text-ingest hot path).
  *
  * This is the one home of RFC 1951 and RFC 1950 in the repo: the
  * single raw inflate ([[inflateRaw]], with an optional output cap), the
  * single zlib reader ([[zlibInflate]]) and writer ([[zlibDeflate]]),
  * and the deflate encoders. PNG, PDF, the WARC `deflate`
  * Content-Encoding, ZIP and Avro all call these.
  *
  * Decode side: full RFC 1952 member parse — magic/CM/FLG validation,
  * FEXTRA/FNAME/FCOMMENT/FHCRC optional fields, reserved FLG bits
  * rejected — around the raw inflate (all three block types), then
  * CRC-32 and ISIZE trailer verification. Multi-member streams concatenate
  * (RFC 1952 §2.2: "a gzip file consists of a series of members");
  * [[members]] exposes the per-member boundaries so a WARC reader can
  * address records individually.
  *
  * Encode side: a REAL compressor, not a stored-only shim —
  * [[deflateFixed]] runs greedy hash-chain LZ77 matching (3-byte
  * insert hash, 32 KiB window, match length 3..258, chain depth
  * capped) and emits fixed-Huffman codes (RFC 1951 §3.2.6), which
  * compresses repetitive crawl text for real; [[gzip]] with
  * `stored = true` emits stored blocks instead, whose output size is
  * the closed form `18 + n + 5·⌈n/65535⌉` that a SQL oracle can
  * recompute exactly. Headers are deterministic (MTIME 0, XFL 0,
  * OS 255) so equal payloads gzip to equal bytes — a dedup-safe
  * property the spec pins.
  *
  * No JDK Deflater/Inflater/GZIPOutputStream anywhere in main code;
  * the test suite cross-checks both directions against the JDK's
  * independent implementation.
  *
  * Reference scope: lithops-dataframe reads object-store files
  * (`io.py:13-88`) but has no compressed-container codec; this module
  * is extension surface for the crawl-scale ingest the reference
  * delegates to its storage layer.
  */
object Gzip {

  /** One decoded gzip member: `payload` is the inflated content,
    * `start`/`end` the member's byte span in the source blob
    * (end exclusive — the next member starts here), `fname` the
    * optional original-file-name header field. */
  final case class Member(payload: Array[Byte], start: Int, end: Int, fname: Option[String])

  // ---- raw inflate (RFC 1951) -----------------------------------------

  /** Length-code bases/extra-bits for lit/len symbols 257..285
    * (RFC 1951 §3.2.5). */
  private val LenBase = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43, 51,
    59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4,
    4, 5, 5, 5, 5, 0)

  /** Distance-code bases/extra-bits for symbols 0..29 (§3.2.5). */
  private val DistBase = Array(
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257, 385,
    513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
  private val DistExtra = Array(
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9, 10,
    10, 11, 11, 12, 12, 13, 13)

  /** Order in which code-length-code lengths appear in a dynamic block
    * header (§3.2.7). */
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12,
    3, 13, 2, 14, 1, 15)

  /** Canonical Huffman decode table: per-length symbol counts plus the
    * symbols sorted by (length, symbol) — the §3.2.2 canonical order. */
  private final class Huffman(lengths: Array[Int]) {
    val count = new Array[Int](16)
    lengths.foreach { l => if (l > 0) count(l) += 1 }
    // left-justified completeness check: an over-subscribed code set is
    // corrupt; incomplete is tolerated only for the degenerate 1-code
    // case some encoders emit for an unused distance alphabet
    private var left = 1
    for (l <- 1 to 15) { left <<= 1; left -= count(l); require(left >= 0, "over-subscribed Huffman code") }
    val offsets = new Array[Int](16)
    for (l <- 1 until 15) offsets(l + 1) = offsets(l) + count(l)
    val symbol = new Array[Int](lengths.count(_ > 0))
    private val next = offsets.clone()
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) > 0) { symbol(next(lengths(i))) = i; next(lengths(i)) += 1 }
      i += 1
    }
  }

  /** Walk a canonical Huffman code one bit at a time (codes are packed
    * MSB-of-code first, so each read bit appends on the right). */
  private def decode(br: LsbBitReader, h: Huffman): Int = {
    var code = 0
    var first = 0
    var index = 0
    var len = 1
    while (len <= 15) {
      code |= br.bit()
      val cnt = h.count(len)
      if (code - first < cnt) return h.symbol(index + (code - first))
      index += cnt
      first = (first + cnt) << 1
      code <<= 1
      len += 1
    }
    throw new IllegalArgumentException("invalid Huffman code in deflate stream")
  }

  private lazy val FixedLit: Huffman = {
    val l = new Array[Int](288)
    for (i <- 0 until 144) l(i) = 8
    for (i <- 144 until 256) l(i) = 9
    for (i <- 256 until 280) l(i) = 7
    for (i <- 280 until 288) l(i) = 8
    new Huffman(l)
  }
  private lazy val FixedDist: Huffman = new Huffman(Array.fill(30)(5))

  /** Decode the lit/len + distance code-length arrays of a dynamic
    * block (§3.2.7): HLIT/HDIST/HCLEN header, the code-length-code
    * Huffman, then run-length symbols 16 (copy previous 3-6), 17
    * (3-10 zeros) and 18 (11-138 zeros). */
  private def dynamicTables(br: LsbBitReader): (Huffman, Huffman) = {
    val hlit = br.bits(5) + 257
    val hdist = br.bits(5) + 1
    val hclen = br.bits(4) + 4
    require(hlit <= 286 && hdist <= 30, "bad dynamic-block header counts")
    val clLens = new Array[Int](19)
    var i = 0
    while (i < hclen) { clLens(ClOrder(i)) = br.bits(3); i += 1 }
    val clHuff = new Huffman(clLens)
    val lens = new Array[Int](hlit + hdist)
    var n = 0
    while (n < lens.length) {
      val sym = decode(br, clHuff)
      if (sym < 16) { lens(n) = sym; n += 1 }
      else {
        val (rep, value) = sym match {
          case 16 =>
            require(n > 0, "repeat code with no previous length")
            (3 + br.bits(2), lens(n - 1))
          case 17 => (3 + br.bits(3), 0)
          case 18 => (11 + br.bits(7), 0)
          case other => throw new IllegalArgumentException(s"bad code-length symbol $other")
        }
        require(n + rep <= lens.length, "code-length run overflows the table")
        var j = 0
        while (j < rep) { lens(n) = value; n += 1; j += 1 }
      }
    }
    require(lens(256) > 0, "dynamic block has no end-of-block code")
    (new Huffman(lens.take(hlit)), new Huffman(lens.drop(hlit)))
  }

  /** Inflate a raw deflate stream starting at byte `start` into a
    * growable buffer (gzip carries no up-front size — ISIZE is a
    * trailer): stored (§3.2.4), fixed (§3.2.6) and dynamic (§3.2.7)
    * Huffman blocks, with LZ77 length/distance back-reference copies
    * (§3.2.3). Returns (decompressed bytes, offset of the first byte
    * AFTER the deflate stream). Fails as soon as the output would pass
    * `maxOut` bytes — the decompression-bomb cap a caller that knows
    * its output size passes; the buffer never grows past it. */
  private[graft] def inflateRaw(data: Array[Byte], start: Int,
      maxOut: Int = Int.MaxValue): (Array[Byte], Int) = {
    val br = new LsbBitReader(data, start, data.length, "deflate stream")
    var out = new Array[Byte](math.min(8192, maxOut))
    var n = 0
    def ensure(k: Int): Unit =
      if (n + k > out.length) {
        require(n.toLong + k <= maxOut, s"deflate output exceeds $maxOut bytes")
        out = java.util.Arrays.copyOf(out,
          math.min(maxOut.toLong, math.max(n.toLong + k, 2L * out.length)).toInt)
      }
    var fin = false
    while (!fin) {
      fin = br.bits(1) == 1
      br.bits(2) match {
        case 0 => // stored: byte-aligned LEN/NLEN then raw copy
          br.align()
          val len = br.bits(16)
          require((len ^ br.bits(16)) == 0xffff, "corrupt stored block (LEN/NLEN mismatch)")
          val p = br.bytePos
          require(p + len <= data.length, "truncated stored-block payload")
          ensure(len)
          System.arraycopy(data, p, out, n, len)
          n += len
          br.seek(p + len)
        case btype @ (1 | 2) =>
          val (lit, dist) = if (btype == 1) (FixedLit, FixedDist) else dynamicTables(br)
          var eob = false
          while (!eob) {
            val sym = decode(br, lit)
            if (sym < 256) { ensure(1); out(n) = sym.toByte; n += 1 }
            else if (sym == 256) eob = true
            else {
              require(sym <= 285, s"invalid length symbol $sym")
              val li = sym - 257
              val length = LenBase(li) + br.bits(LenExtra(li))
              val ds = decode(br, dist)
              require(ds <= 29, s"invalid distance symbol $ds")
              val distance = DistBase(ds) + br.bits(DistExtra(ds))
              require(distance <= n, "back-reference before start of output")
              ensure(length)
              // overlapping copy must run forward byte-by-byte (§3.2.3:
              // distance < length repeats the copied region)
              var j = 0
              while (j < length) { out(n + j) = out(n - distance + j); j += 1 }
              n += length
            }
          }
        case other =>
          throw new IllegalArgumentException(s"reserved deflate block type $other")
      }
    }
    br.align()
    (java.util.Arrays.copyOf(out, n), br.bytePos)
  }

  // ---- zlib framing (RFC 1950) -----------------------------------------

  /** Inflate a zlib stream: header validated (CM 8, FCHECK, preset
    * dictionaries rejected), raw inflate capped at `maxOut` bytes, and
    * the Adler-32 trailer required and verified (§2.2). Bytes after the
    * trailer are ignored. */
  private[graft] def zlibInflate(z: Array[Byte], maxOut: Int = Int.MaxValue): Array[Byte] = {
    require(z.length >= 6, s"zlib stream too short: ${z.length} bytes")
    val cmf = z(0) & 0xff
    val flg = z(1) & 0xff
    require((cmf & 0x0f) == 8, s"unsupported zlib compression method ${cmf & 0x0f}")
    require((cmf * 256 + flg) % 31 == 0, "corrupt zlib header (FCHECK)")
    require((flg & 0x20) == 0, "preset dictionary (FDICT) not supported")
    val (out, end) = inflateRaw(z, 2, maxOut)
    require(end + 4 <= z.length, "zlib stream missing Adler-32 trailer")
    val want = Bytes.be32u(z, end)
    val ad = new Adler32()
    ad.update(out)
    require(ad.getValue == want,
      f"zlib Adler-32 mismatch: got ${ad.getValue}%08x, want $want%08x")
    out
  }

  /** Wrap `deflate(raw)` in a zlib stream: CMF 0x78 (deflate, 32 KiB
    * window), FLG 0x01 (no preset dictionary, FCHECK valid), then the
    * big-endian Adler-32 of `raw`. Deterministic byte-for-byte. */
  private[graft] def zlibDeflate(raw: Array[Byte],
      deflate: Array[Byte] => Array[Byte]): Array[Byte] = {
    val body = deflate(raw)
    val z = new Array[Byte](2 + body.length + 4)
    z(0) = 0x78.toByte
    z(1) = 0x01.toByte
    System.arraycopy(body, 0, z, 2, body.length)
    val ad = new Adler32()
    ad.update(raw)
    val a = ad.getValue
    var k = 0
    while (k < 4) { z(z.length - 4 + k) = ((a >>> (24 - 8 * k)) & 0xff).toByte; k += 1 }
    z
  }

  // ---- gzip member decode (RFC 1952) -----------------------------------

  /** Parse and inflate ONE member starting at `off`; CRC-32 and ISIZE
    * (mod 2³²) trailer both verified. Fails loudly on any malformed
    * header — reserved FLG bits, wrong magic, non-deflate CM. */
  def gunzipMember(b: Array[Byte], off: Int): Member = {
    require(b.length - off >= 18, s"gzip member at $off too short (${b.length - off} bytes)")
    require((b(off) & 0xff) == 0x1f && (b(off + 1) & 0xff) == 0x8b,
      f"bad gzip magic at $off: ${b(off) & 0xff}%02x${b(off + 1) & 0xff}%02x")
    require((b(off + 2) & 0xff) == 8, s"unsupported gzip CM ${b(off + 2) & 0xff} (only deflate)")
    val flg = b(off + 3) & 0xff
    require((flg & 0xe0) == 0, f"reserved gzip FLG bits set: $flg%02x")
    var p = off + 10 // ID1 ID2 CM FLG MTIME(4) XFL OS
    if ((flg & 0x04) != 0) { // FEXTRA: XLEN little-endian + payload
      val xlen = Bytes.le16(b, p)
      p += 2 + xlen
      require(p <= b.length, "truncated FEXTRA payload")
    }
    var fname: Option[String] = None
    if ((flg & 0x08) != 0) { // FNAME: zero-terminated ISO-8859-1
      val z = indexOfZero(b, p)
      fname = Some(new String(b, p, z - p, java.nio.charset.StandardCharsets.ISO_8859_1))
      p = z + 1
    }
    if ((flg & 0x10) != 0) p = indexOfZero(b, p) + 1 // FCOMMENT
    if ((flg & 0x02) != 0) { // FHCRC: low 16 bits of header CRC-32
      val want = Bytes.le16(b, p)
      val c = new CRC32()
      c.update(b, off, p - off)
      require((c.getValue & 0xffff).toInt == want,
        f"gzip header CRC mismatch: got ${c.getValue & 0xffff}%04x, want $want%04x")
      p += 2
    }
    val (payload, after) = inflateRaw(b, p)
    require(after + 8 <= b.length, "truncated gzip trailer")
    val crcWant = Bytes.le32u(b, after)
    val isize = Bytes.le32u(b, after + 4)
    val c = new CRC32()
    c.update(payload)
    require(c.getValue == crcWant,
      f"gzip CRC-32 mismatch: got ${c.getValue}%08x, want $crcWant%08x")
    require((payload.length.toLong & 0xffffffffL) == isize,
      s"gzip ISIZE mismatch: got ${payload.length}, want $isize")
    Member(payload, off, after + 8, fname)
  }

  private def indexOfZero(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != 0) i += 1
    require(i < b.length, "unterminated zero-terminated gzip header field")
    i
  }

  /** All members of a (possibly multi-member) gzip blob, in order.
    * Trailing garbage after the last member fails loudly — a truncated
    * or desynced crawl file must not be silently half-read. */
  def members(b: Array[Byte]): Seq[Member] = {
    require(b != null && b.length > 0, "empty gzip blob")
    val out = Seq.newBuilder[Member]
    var off = 0
    while (off < b.length) {
      val m = gunzipMember(b, off)
      out += m
      off = m.end
    }
    out.result()
  }

  /** Decompress a whole blob: all members' payloads concatenated
    * (RFC 1952 §2.2 semantics — `cat a.gz b.gz | gunzip`). */
  def gunzip(b: Array[Byte]): Array[Byte] = {
    val ms = members(b)
    if (ms.size == 1) ms.head.payload
    else {
      val total = ms.iterator.map(_.payload.length).sum
      val out = new Array[Byte](total)
      var n = 0
      ms.foreach { m =>
        System.arraycopy(m.payload, 0, out, n, m.payload.length)
        n += m.payload.length
      }
      out
    }
  }

  // ---- deflate encode (RFC 1951) ---------------------------------------

  /** Fixed-Huffman lit/len code assignment (§3.2.6 table). */
  private def fixedLit(sym: Int): (Int, Int) =
    if (sym <= 143) (0x30 + sym, 8)
    else if (sym <= 255) (0x190 + (sym - 144), 9)
    else if (sym <= 279) (sym - 256, 7)
    else (0xc0 + (sym - 280), 8)

  /** Largest base index ≤ v in a §3.2.5 base table. */
  private def baseIndex(bases: Array[Int], v: Int): Int = {
    var i = bases.length - 1
    while (bases(i) > v) i -= 1
    i
  }

  private val WindowSize = 32768
  private val MinMatch = 3
  private val MaxMatch = 258
  private val HashBits = 15
  private val MaxChain = 64

  private def hash3(b: Array[Byte], i: Int): Int =
    (((b(i) & 0xff) << 10) ^ ((b(i + 1) & 0xff) << 5) ^ (b(i + 2) & 0xff)) &
      ((1 << HashBits) - 1)

  /** Greedy hash-chain LZ77 tokenizer shared by the fixed- and
    * dynamic-Huffman emitters. Each token is one Long: a literal is the
    * byte value (high 32 bits zero); a match packs `(len << 32) | dist`
    * (dist ≥ 1 disambiguates). Deterministic: no randomized chains. */
  private def lz77Tokens(raw: Array[Byte]): Array[Long] = {
    val toks = new scala.collection.mutable.ArrayBuilder.ofLong
    toks.sizeHint(math.max(16, raw.length / 3))
    val head = Array.fill(1 << HashBits)(-1)
    val prev = new Array[Int](raw.length)
    var i = 0
    while (i < raw.length) {
      var bestLen = 0
      var bestDist = 0
      if (i + MinMatch <= raw.length) {
        val h = hash3(raw, i)
        var cand = head(h)
        var chain = 0
        val limit = math.min(MaxMatch, raw.length - i)
        while (cand >= 0 && i - cand <= WindowSize && chain < MaxChain && bestLen < limit) {
          var l = 0
          while (l < limit && raw(cand + l) == raw(i + l)) l += 1
          if (l > bestLen) { bestLen = l; bestDist = i - cand }
          cand = prev(cand)
          chain += 1
        }
      }
      if (bestLen >= MinMatch) {
        toks += (bestLen.toLong << 32) | bestDist.toLong
        // insert every position of the match into the hash chains so
        // later matches can reference inside it
        val stop = math.min(i + bestLen, raw.length - MinMatch + 1)
        var j = i
        while (j < stop) {
          val h = hash3(raw, j)
          prev(j) = head(h)
          head(h) = j
          j += 1
        }
        i += bestLen
      } else {
        if (i + MinMatch <= raw.length) {
          val h = hash3(raw, i)
          prev(i) = head(h)
          head(h) = i
        }
        toks += (raw(i) & 0xffL)
        i += 1
      }
    }
    toks.result()
  }

  /** Compress `raw` as ONE fixed-Huffman deflate block with greedy
    * hash-chain LZ77 matching. Deterministic: equal input → equal
    * output bytes (no timestamps, no randomized chains). Greedy (no
    * lazy matching) is a documented simplification — ratio on crawl
    * text is within a few percent of zlib -1 and the decode side
    * accepts any conformant stream regardless. */
  private[graft] def deflateFixed(raw: Array[Byte]): Array[Byte] =
    deflateFixedFromTokens(lz77Tokens(raw))

  /** Exact fixed-block OUTPUT SIZE in bytes from a token stream — the
    * bit cost is closed-form per token, so best-of-three selection
    * never needs a second emit. */
  private def fixedByteLen(toks: Array[Long]): Int = {
    var bits = 3L + 7L // header + EOB (symbol 256 is 7 bits)
    toks.foreach { t =>
      val dist = (t & 0xffffffffL).toInt
      if ((t >>> 32) == 0) bits += fixedLit(dist)._2
      else {
        val li = baseIndex(LenBase, (t >>> 32).toInt)
        val di = baseIndex(DistBase, dist)
        bits += fixedLit(257 + li)._2 + LenExtra(li) + 5 + DistExtra(di)
      }
    }
    ((bits + 7) / 8).toInt
  }

  private def deflateFixedFromTokens(toks: Array[Long]): Array[Byte] = {
    val bw = new LsbBitWriter
    bw.putBits(1, 1) // BFINAL
    bw.putBits(1, 2) // BTYPE 01 fixed
    toks.foreach { t =>
      val dist = (t & 0xffffffffL).toInt
      if ((t >>> 32) == 0) {
        val (lc, ll) = fixedLit(dist)
        bw.putCode(lc, ll)
      } else {
        val len = (t >>> 32).toInt
        val li = baseIndex(LenBase, len)
        // base index 28 is the dedicated 258 code; 227+31 also reaches
        // 258 via index 27's extra bits, but the canonical encoding is
        // the zero-extra symbol 285
        val (lc, ll) = fixedLit(257 + li)
        bw.putCode(lc, ll)
        bw.putBits(len - LenBase(li), LenExtra(li))
        val di = baseIndex(DistBase, dist)
        bw.putCode(di, 5)
        bw.putBits(dist - DistBase(di), DistExtra(di))
      }
    }
    val (ec, el) = fixedLit(256)
    bw.putCode(ec, el)
    bw.result()
  }

  // ---- dynamic-Huffman block (§3.2.7) -----------------------------------

  /** Optimal length-limited Huffman code lengths via package-merge
    * (Larmore–Hirschberg). Deterministic: singletons sorted by
    * (frequency, symbol); on equal weight during the merge the
    * singleton precedes the package. Symbols with zero frequency get
    * length 0. Caller guarantees ≥ 2 used symbols. */
  private[graft] def limitedLengths(freq: Array[Long], limit: Int): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    val lens = new Array[Int](freq.length)
    if (used.isEmpty) return lens
    require(used.size >= 2, "package-merge needs >= 2 used symbols")
    require(used.size <= (1 << limit), s"cannot fit ${used.size} symbols in $limit-bit codes")
    // item = (weight, constituent singleton symbols)
    val singles: Vector[(Long, List[Int])] =
      used.sortBy(s => (freq(s), s)).map(s => (freq(s), s :: Nil)).toVector
    var list = singles
    var level = 1
    while (level < limit) {
      // package adjacent pairs of the current list
      val packed = list.grouped(2).collect {
        case Vector(a, b) => (a._1 + b._1, a._2 ::: b._2)
      }.toVector
      // stable merge, singleton first on equal weight
      val merged = Vector.newBuilder[(Long, List[Int])]
      var i = 0; var j = 0
      while (i < singles.length || j < packed.length) {
        if (j >= packed.length || (i < singles.length && singles(i)._1 <= packed(j)._1)) {
          merged += singles(i); i += 1
        } else { merged += packed(j); j += 1 }
      }
      list = merged.result()
      level += 1
    }
    list.take(2 * used.size - 2).foreach(_._2.foreach(s => lens(s) += 1))
    lens
  }

  /** Canonical code assignment (§3.2.2): shorter codes first, ties by
    * symbol order. Returns codes aligned with `lens`. */
  private[operators] def canonicalCodes(lens: Array[Int]): Array[Int] = {
    val maxLen = if (lens.isEmpty) 0 else lens.max
    val count = new Array[Int](maxLen + 1)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](maxLen + 1)
    var code = 0
    var l = 1
    while (l <= maxLen) { code = (code + count(l - 1)) << 1; next(l) = code; l += 1 }
    lens.map { ln =>
      if (ln == 0) 0 else { val c = next(ln); next(ln) += 1; c }
    }
  }

  /** RLE-encode the concatenated lit/len + dist code-length sequence
    * with the code-length alphabet: 16 = repeat previous 3–6, 17 =
    * 3–10 zeros, 18 = 11–138 zeros. Returns (op, extraBitsValue). */
  private def rleCodeLengths(seq: Array[Int]): Array[(Int, Int)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int)]
    var i = 0
    while (i < seq.length) {
      val v = seq(i)
      var run = 1
      while (i + run < seq.length && seq(i + run) == v) run += 1
      if (v == 0) {
        var left = run
        while (left >= 11) { val n = math.min(left, 138); out += ((18, n - 11)); left -= n }
        if (left >= 3) { out += ((17, left - 3)); left = 0 }
        while (left > 0) { out += ((0, 0)); left -= 1 }
      } else {
        out += ((v, 0))
        var left = run - 1
        while (left >= 3) { val n = math.min(left, 6); out += ((16, n - 3)); left -= n }
        while (left > 0) { out += ((v, 0)); left -= 1 }
      }
      i += run
    }
    out.toArray
  }

  /** Compress a token stream as ONE dynamic-Huffman deflate block
    * (§3.2.7): the same greedy LZ77 tokens as [[deflateFixed]], but with
    * per-input optimal (package-merge, 15-bit-limited) canonical
    * Huffman codes for the lit/len and distance alphabets, themselves
    * transmitted under a 7-bit-limited code-length code. Each tree is
    * forced to ≥ 2 used symbols (zlib does the same) so no decoder
    * meets a degenerate single-code tree. Deterministic end to end. */
  private def deflateDynamicFromTokens(toks: Array[Long]): Array[Byte] = {
    val litFreq = new Array[Long](286)
    val distFreq = new Array[Long](30)
    litFreq(256) = 1 // end-of-block
    toks.foreach { t =>
      val dist = (t & 0xffffffffL).toInt
      if ((t >>> 32) == 0) litFreq(dist) += 1
      else {
        litFreq(257 + baseIndex(LenBase, (t >>> 32).toInt)) += 1
        distFreq(baseIndex(DistBase, dist)) += 1
      }
    }
    // force two used symbols per tree (mirrors zlib trees.c): a tree
    // with < 2 codes would be degenerate for strict decoders
    def forceTwo(f: Array[Long]): Unit = {
      var need = 2 - f.count(_ > 0)
      var s = 0
      while (need > 0 && s < f.length) {
        if (f(s) == 0) { f(s) = 1; need -= 1 }
        s += 1
      }
    }
    forceTwo(litFreq); forceTwo(distFreq)
    val litLens = limitedLengths(litFreq, 15)
    val distLens = limitedLengths(distFreq, 15)
    val litCodes = canonicalCodes(litLens)
    val distCodes = canonicalCodes(distLens)
    val hlit = math.max(257, 286 - litLens.reverse.takeWhile(_ == 0).length)
    val hdist = math.max(1, 30 - distLens.reverse.takeWhile(_ == 0).length)
    val rle = rleCodeLengths(litLens.take(hlit) ++ distLens.take(hdist))
    val clFreq = new Array[Long](19)
    rle.foreach { case (op, _) => clFreq(op) += 1 }
    forceTwo(clFreq)
    val clLens = limitedLengths(clFreq, 7)
    val clCodes = canonicalCodes(clLens)
    val hclen = math.max(4, 19 - ClOrder.reverse.takeWhile(clLens(_) == 0).length)

    val bw = new LsbBitWriter
    bw.putBits(1, 1) // BFINAL
    bw.putBits(2, 2) // BTYPE 10 dynamic
    bw.putBits(hlit - 257, 5)
    bw.putBits(hdist - 1, 5)
    bw.putBits(hclen - 4, 4)
    var k = 0
    while (k < hclen) { bw.putBits(clLens(ClOrder(k)), 3); k += 1 }
    rle.foreach { case (op, extra) =>
      bw.putCode(clCodes(op), clLens(op))
      if (op == 16) bw.putBits(extra, 2)
      else if (op == 17) bw.putBits(extra, 3)
      else if (op == 18) bw.putBits(extra, 7)
    }
    toks.foreach { t =>
      val dist = (t & 0xffffffffL).toInt
      if ((t >>> 32) == 0) bw.putCode(litCodes(dist), litLens(dist))
      else {
        val len = (t >>> 32).toInt
        val li = baseIndex(LenBase, len)
        bw.putCode(litCodes(257 + li), litLens(257 + li))
        bw.putBits(len - LenBase(li), LenExtra(li))
        val di = baseIndex(DistBase, dist)
        bw.putCode(distCodes(di), distLens(di))
        bw.putBits(dist - DistBase(di), DistExtra(di))
      }
    }
    bw.putCode(litCodes(256), litLens(256))
    bw.result()
  }

  /** Best-of-three deflate: stored vs fixed vs dynamic, smallest wins
    * (ties: dynamic, then fixed, then stored — a fixed deterministic
    * preference). The zlib block-type decision, made whole-input. */
  private[graft] def deflateBest(raw: Array[Byte]): Array[Byte] = bestOfThree(raw)._1

  /** [[gzipAuto]] plus the three candidate body sizes from ONE token
    * pass — census callers must not pay for repeated LZ77 matching.
    * Returns (member, dynLen, fixedLen, storedLen). */
  def gzipAutoStats(raw: Array[Byte]): (Array[Byte], Int, Int, Int) = {
    val (body, dLen, fLen, sLen) = bestOfThree(raw)
    (gzipWith(raw, body), dLen, fLen, sLen)
  }

  /** The [[deflateBest]] body and the three candidate sizes (dynamic,
    * fixed, stored) from ONE LZ77 pass; the fixed and stored sizes are
    * closed-form, so only the winner is emitted beyond the dynamic
    * block. */
  private def bestOfThree(raw: Array[Byte]): (Array[Byte], Int, Int, Int) = {
    val toks = lz77Tokens(raw)
    val d = deflateDynamicFromTokens(toks)
    val fLen = fixedByteLen(toks)
    val sLen = raw.length + 5 * math.max(1, (raw.length + 65534) / 65535)
    val body =
      if (d.length <= fLen && d.length <= sLen) d
      else if (fLen <= sLen) deflateFixedFromTokens(toks)
      else deflateStored(raw)
    (body, d.length, fLen, sLen)
  }

  /** Stored-block deflate (§3.2.4): size is the closed form
    * `n + 5·⌈n/65535⌉` (one 5-byte header per 65535-byte block; an
    * empty input still emits one empty final block). */
  private[operators] def deflateStored(raw: Array[Byte]): Array[Byte] = {
    val nBlocks = math.max(1, (raw.length + 65534) / 65535)
    val z = new Array[Byte](nBlocks * 5 + raw.length)
    var zo = 0
    var ro = 0
    var first = true
    while (ro < raw.length || first) {
      first = false
      val len = math.min(65535, raw.length - ro)
      z(zo) = if (ro + len == raw.length) 1.toByte else 0.toByte // BFINAL, BTYPE 00
      z(zo + 1) = (len & 0xff).toByte
      z(zo + 2) = ((len >> 8) & 0xff).toByte
      z(zo + 3) = (~len & 0xff).toByte
      z(zo + 4) = ((~len >> 8) & 0xff).toByte
      System.arraycopy(raw, ro, z, zo + 5, len)
      zo += 5 + len
      ro += len
    }
    z
  }

  /** Gzip one payload as one member. Deterministic header: MTIME 0
    * (RFC 1952 allows "no time stamp available"), XFL 0, OS 255
    * (unknown), no optional fields — equal payloads produce equal
    * bytes, so compressed blobs stay exact-dedupable. `stored = true`
    * selects stored blocks (closed-form output size
    * `18 + n + 5·⌈n/65535⌉` — oracle-computable); default is the real
    * LZ77 + fixed-Huffman compressor. */
  def gzip(raw: Array[Byte], stored: Boolean = false): Array[Byte] =
    gzipWith(raw, if (stored) deflateStored(raw) else deflateFixed(raw))

  /** Gzip with the best-of-three block type (stored/fixed/dynamic) —
    * the full RFC 1951 encoder. Same deterministic member framing as
    * [[gzip]]. */
  def gzipAuto(raw: Array[Byte]): Array[Byte] = gzipWith(raw, deflateBest(raw))

  private def gzipWith(raw: Array[Byte], body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](10 + body.length + 8)
    out(0) = 0x1f.toByte
    out(1) = 0x8b.toByte
    out(2) = 8 // CM deflate
    // FLG 0, MTIME 0, XFL 0 already zero
    out(9) = 0xff.toByte // OS unknown
    System.arraycopy(body, 0, out, 10, body.length)
    val c = new CRC32()
    c.update(raw)
    val crc = c.getValue
    var p = 10 + body.length
    var v = crc
    var k = 0
    while (k < 4) { out(p + k) = (v & 0xff).toByte; v >>= 8; k += 1 }
    v = raw.length.toLong & 0xffffffffL
    k = 0
    while (k < 4) { out(p + 4 + k) = (v & 0xff).toByte; v >>= 8; k += 1 }
    out
  }

  /** Closed-form stored-mode gzip size for oracle replay. */
  def storedGzipSize(n: Long): Long = 18L + n + 5L * math.max(1L, (n + 65534L) / 65535L)
}
