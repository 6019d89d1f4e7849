package graft.operators

/** Hand-written Brotli decoder (RFC 7932), complete: the meta-block
  * format, both prefix-code forms, context modeling, the distance
  * ring, AND the §8 static dictionary with all 121 Appendix B word
  * transforms (word data + transforms live in [[BrotliDict]]; the
  * 122,784-byte Appendix A table ships as a classpath resource).
  * Every `Content-Encoding: br` body a real crawl contains — including
  * quality-9+ encoder output, which references the dictionary
  * pervasively — now decodes; BrotliSpec pins byte-exactness against
  * the reference decoder (Node's bundled brotli) across qualities and
  * across every (transform id × word length) combination via crafted
  * single-reference streams.
  *
  * [[Brotli.DictionaryReferenceException]] remains only for streams
  * whose dictionary reference is STRUCTURALLY invalid; the former
  * every-reference fence (rounds 11–16) is closed.
  *
  * Decode surface: stream header (all WBITS forms), metadata
  * meta-blocks with skip, uncompressed meta-blocks, compressed
  * meta-blocks with multiple block types per category (block-switch
  * commands, block-count codes), both prefix-code forms (simple
  * 1/2/3/4-symbol incl. the 4-symbol tree-select, and complex with
  * the fixed code-length code, 16/17 repeat accumulation, and the
  * single-symbol degenerate form), context maps with RLE and
  * inverse-MTF, all four literal context modes (LSB6/MSB6 by formula;
  * UTF8/Signed via [[BrotliContext]]'s empirically derived tables),
  * NPOSTFIX/NDIRECT distance parameterization, and the 4-slot
  * distance ring with all 16 short codes.
  *
  * The UTF8/Signed context lookup tables are NOT transcribed from the
  * RFC: `tools/BrotliCtxExtract` crafts a probe stream in which every
  * literal's decoded value IS the context id selected by the
  * reference decoder (64 single-symbol literal trees under an
  * identity context map), decodes it with Node's brotli, and emits
  * [[BrotliContext]] from what the reference decoder actually did —
  * derivation by observation, reproducible offline.
  *
  * [[encodeStored]] emits uncompressed meta-blocks only; its output
  * size has the closed form `3·ceil(n/65536) + n + 1` that a SQL
  * oracle recomputes exactly (the `web_warc_brotli` gate's identity
  * leg). Round-trip with the reference encoder is pinned in
  * BrotliSpec (Node encodes at q0/q1/q5/q11 → this decoder, compared
  * against Node's own decode).
  *
  * Reference scope: lithops-dataframe reads object-store files
  * (`io.py:13-88`) with no codec tier; this is extension surface for
  * crawl ingest ([[WebArchive.decodeHttpBody]]'s `br` leg).
  */
object Brotli {

  /** A STRUCTURALLY invalid static-dictionary reference (copy length
    * outside 4..24, or transform id ≥ 121): the stream addresses a
    * word that does not exist. Valid references decode via
    * [[BrotliDict]] since round 17. */
  final class DictionaryReferenceException(msg: String)
    extends IllegalArgumentException(msg)

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"brotli: $msg")

  // ---- bit reader: values LSB-first, prefix codes MSB-first ------------

  private final class Reader(val b: Array[Byte]) {
    var pos: Long = 0L // absolute bit position
    private val limit: Long = b.length.toLong * 8

    def readBit(): Int = {
      if (pos >= limit) bad("truncated stream")
      val bit = (b((pos >> 3).toInt) >> (pos & 7).toInt) & 1
      pos += 1
      bit
    }

    /** n ≤ 24 bits, LSB-first — batched byte gather instead of a
      * per-bit loop (readBit stays for the prefix-code walk). */
    def readBits(n: Int): Int = {
      if (pos + n > limit) bad("truncated stream")
      var v = 0L
      val byteI = (pos >> 3).toInt
      val off = (pos & 7).toInt
      val need = (off + n + 7) >> 3
      var k = 0
      while (k < need) { v |= (b(byteI + k) & 0xffL) << (8 * k); k += 1 }
      pos += n
      ((v >>> off) & ((1L << n) - 1)).toInt
    }

    def byteAlign(): Unit = {
      while ((pos & 7) != 0) {
        if (readBit() != 0) bad("nonzero padding at byte alignment")
      }
    }

    def readAlignedBytes(n: Int): Array[Byte] = {
      if ((pos & 7) != 0) bad("unaligned byte read")
      val start = (pos >> 3).toInt
      if (start + n > b.length) bad("truncated stream (aligned bytes)")
      pos += n.toLong * 8
      java.util.Arrays.copyOfRange(b, start, start + n)
    }
  }

  // ---- canonical prefix codes ------------------------------------------

  private final val MaxLen = 15

  /** Canonical prefix code (DEFLATE-style assignment: codes by
    * increasing length, ties by symbol order; read MSB-first).
    * `single >= 0` marks the zero-bit degenerate code. */
  private final class PrefixCode(lengths: Array[Int], val single: Int) {
    val count = new Array[Int](MaxLen + 1)
    val first = new Array[Int](MaxLen + 2) // first code value per length
    val offset = new Array[Int](MaxLen + 1) // index into syms per length
    val syms: Array[Int] = {
      if (single >= 0) Array(single)
      else {
        var i = 0
        while (i < lengths.length) { if (lengths(i) > 0) count(lengths(i)) += 1; i += 1 }
        // canonical next_code per length (RFC 1951 §3.2.2 construction)
        var total = 0
        var next = 0
        var prevCount = 0
        var len = 1
        while (len <= MaxLen) {
          next = (next + prevCount) << 1
          first(len) = next
          prevCount = count(len)
          offset(len) = total
          total += count(len)
          len += 1
        }
        val out = new Array[Int](total)
        val fill = offset.clone()
        i = 0
        while (i < lengths.length) {
          if (lengths(i) > 0) { out(fill(lengths(i))) = i; fill(lengths(i)) += 1 }
          i += 1
        }
        out
      }
    }
  }

  private def decodeSym(r: Reader, pc: PrefixCode): Int = {
    if (pc.single >= 0) return pc.single
    var code = 0
    var len = 0
    while (len < MaxLen) {
      code = (code << 1) | r.readBit()
      len += 1
      val c = pc.count(len)
      if (c > 0 && code - pc.first(len) < c && code >= pc.first(len))
        return pc.syms(pc.offset(len) + (code - pc.first(len)))
    }
    bad("invalid prefix code word")
  }

  /** Build from lengths; validates Kraft completeness (space must be
    * exactly full) unless exactly one symbol is used (zero-bit code). */
  private def buildChecked(lengths: Array[Int]): PrefixCode = {
    var space = 0L
    var nonzero = 0
    var lastSym = -1
    var i = 0
    while (i < lengths.length) {
      val L = lengths(i)
      if (L > 0) { space += (1L << (MaxLen - L)); nonzero += 1; lastSym = i }
      i += 1
    }
    if (nonzero == 0) bad("empty prefix code")
    if (nonzero == 1) new PrefixCode(lengths, lastSym)
    else {
      if (space != (1L << MaxLen)) bad("prefix code not complete")
      new PrefixCode(lengths, -1)
    }
  }

  private def log2ceil(n: Int): Int = {
    var bits = 0
    while ((1 << bits) < n) bits += 1
    bits
  }

  /** Fixed code for code-length-code lengths (§3.5): branchy
    * derivation of the spec's variable-length code, values 0..5. */
  private def readClcLen(r: Reader): Int = {
    val v = r.readBit() | (r.readBit() << 1)
    v match {
      case 0 => 0
      case 1 => 4
      case 2 => 3
      case _ => // v == 3
        if (r.readBit() == 0) 2
        else if (r.readBit() == 0) 1
        else 5
    }
  }

  /** §3.5 order in which code-length-code lengths are written. */
  private val ClcOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Read a prefix code over `alphabet` symbols — both forms. */
  private def readPrefixCode(r: Reader, alphabet: Int): PrefixCode = {
    val hskip = r.readBits(2)
    if (hskip == 1) {
      // simple form
      val nsym = r.readBits(2) + 1
      val abits = log2ceil(alphabet)
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        syms(i) = r.readBits(abits)
        if (syms(i) >= alphabet) bad(s"simple-code symbol ${syms(i)} >= alphabet $alphabet")
        var j = 0
        while (j < i) { if (syms(j) == syms(i)) bad("duplicate simple-code symbol"); j += 1 }
        i += 1
      }
      val lengths = new Array[Int](alphabet)
      nsym match {
        case 1 =>
          return new PrefixCode(lengths, syms(0))
        case 2 =>
          if (syms(0) > syms(1)) { val t = syms(0); syms(0) = syms(1); syms(1) = t }
          lengths(syms(0)) = 1; lengths(syms(1)) = 1
        case 3 =>
          if (syms(1) > syms(2)) { val t = syms(1); syms(1) = syms(2); syms(2) = t }
          lengths(syms(0)) = 1; lengths(syms(1)) = 2; lengths(syms(2)) = 2
        case 4 =>
          val treeSelect = r.readBit()
          if (treeSelect == 0) {
            java.util.Arrays.sort(syms)
            var k = 0
            while (k < 4) { lengths(syms(k)) = 2; k += 1 }
          } else {
            if (syms(2) > syms(3)) { val t = syms(2); syms(2) = syms(3); syms(3) = t }
            lengths(syms(0)) = 1; lengths(syms(1)) = 2
            lengths(syms(2)) = 3; lengths(syms(3)) = 3
          }
      }
      buildChecked(lengths)
    } else {
      // complex form: code lengths for the 18-symbol code-length
      // alphabet, starting at ClcOrder(hskip)
      val clcLen = new Array[Int](18)
      var space = 0
      var numCodes = 0
      var i = hskip
      while (i < 18 && space < 32) {
        val L = readClcLen(r)
        clcLen(ClcOrder(i)) = L
        if (L > 0) { space += 32 >> L; numCodes += 1 }
        i += 1
      }
      if (space > 32) bad("code-length code over-subscribed")
      if (numCodes != 1 && space != 32) bad("code-length code incomplete")
      val clc =
        if (numCodes == 1) {
          var s = 0
          var k = 0
          while (k < 18) { if (clcLen(k) > 0) s = k; k += 1 }
          new PrefixCode(clcLen, s)
        } else buildChecked(clcLen)

      val lengths = new Array[Int](alphabet)
      var symSpace = 0L
      val full = 1L << MaxLen
      var sym = 0
      var prevLen = 8 // initial previous nonzero code length (§3.5)
      var repeat = 0
      var repeatLen = 0
      while (sym < alphabet && symSpace < full) {
        val code = decodeSym(r, clc)
        if (code < 16) {
          lengths(sym) = code
          sym += 1
          repeat = 0
          if (code != 0) { prevLen = code; symSpace += full >> code }
        } else {
          val extraBits = code - 14 // 16→2, 17→3
          val newLen = if (code == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val oldRepeat = repeat
          if (repeat > 0) { repeat -= 2; repeat <<= extraBits }
          repeat += r.readBits(extraBits) + 3
          val delta = repeat - oldRepeat
          if (sym + delta > alphabet) bad("repeat past end of alphabet")
          var k = 0
          while (k < delta) { lengths(sym) = repeatLen; sym += 1; k += 1 }
          if (repeatLen != 0) symSpace += delta.toLong * (full >> repeatLen)
        }
      }
      if (symSpace > full) bad("prefix code over-subscribed")
      buildChecked(lengths) // handles the single-symbol degenerate form
    }
  }

  // ---- published variable-length value codes ---------------------------

  /** Block-type count / NTREES count (§9.2): 1, or (1<<k)+1+extra. */
  private def readBlockTypeCount(r: Reader): Int =
    if (r.readBit() == 0) 1
    else {
      val k = r.readBits(3)
      (1 << k) + 1 + r.readBits(k)
    }

  /** Block-count code (26 symbols): extra-bit widths from the spec
    * list; bases derived cumulatively from 1. */
  private val BlockCountExtra =
    Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
  private val BlockCountBase: Array[Int] = {
    val b = new Array[Int](26)
    b(0) = 1
    var i = 1
    while (i < 26) { b(i) = b(i - 1) + (1 << BlockCountExtra(i - 1)); i += 1 }
    b
  }

  /** Insert-length codes (24): extras from the spec list, bases from 0. */
  private val InsertExtra =
    Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val InsertBase: Array[Int] = {
    val b = new Array[Int](24)
    var i = 1
    while (i < 24) { b(i) = b(i - 1) + (1 << InsertExtra(i - 1)); i += 1 }
    b
  }

  /** Copy-length codes (24): extras from the spec list, bases from 2. */
  private val CopyExtra =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val CopyBase: Array[Int] = {
    val b = new Array[Int](24)
    b(0) = 2
    var i = 1
    while (i < 24) { b(i) = b(i - 1) + (1 << CopyExtra(i - 1)); i += 1 }
    b
  }

  /** Insert-and-copy cells (§5): 704 = 11 × 64 symbols;
    * (insertOffset, copyOffset, implicit-distance-0). */
  private val CmdCells: Array[(Int, Int, Boolean)] = Array(
    (0, 0, true), (0, 8, true),
    (0, 0, false), (0, 8, false), (8, 0, false), (8, 8, false),
    (0, 16, false), (16, 0, false), (8, 16, false), (16, 8, false),
    (16, 16, false))

  // ---- block-category state --------------------------------------------

  private final class BlockState(r: Reader, val nTypes: Int) {
    var btype = 0
    private var prevType = 1
    var blen: Int =
      if (nTypes < 2) Int.MaxValue
      else 0 // set after codes are read
    var typeCode: PrefixCode = null
    var lenCode: PrefixCode = null
    if (nTypes >= 2) {
      typeCode = readPrefixCode(r, nTypes + 2)
      lenCode = readPrefixCode(r, 26)
      blen = readBlockCount(r, lenCode)
    }
    def readBlockCount(rr: Reader, pc: PrefixCode): Int = {
      val sym = decodeSym(rr, pc)
      if (sym >= 26) bad("block count symbol out of range")
      BlockCountBase(sym) + rr.readBits(BlockCountExtra(sym))
    }
    /** Called when blen hits zero: block-switch command. */
    def switchType(rr: Reader): Unit = {
      val sym = decodeSym(rr, typeCode)
      val next = sym match {
        case 0 => prevType
        case 1 => (btype + 1) % nTypes
        case s => s - 2
      }
      if (next >= nTypes) bad("block type out of range")
      prevType = btype
      btype = next
      blen = readBlockCount(rr, lenCode)
    }
  }

  // ---- context map ------------------------------------------------------

  private def readContextMap(r: Reader, size: Int, nTrees: Int): Array[Int] = {
    val map = new Array[Int](size)
    if (nTrees < 2) return map
    val rleMax = if (r.readBit() == 1) r.readBits(4) + 1 else 0
    val pc = readPrefixCode(r, nTrees + rleMax)
    var i = 0
    while (i < size) {
      val sym = decodeSym(r, pc)
      if (sym == 0) { map(i) = 0; i += 1 }
      else if (sym <= rleMax) {
        var reps = (1 << sym) + r.readBits(sym)
        if (i + reps > size) bad("context-map RLE past end")
        while (reps > 0) { map(i) = 0; i += 1; reps -= 1 }
      } else {
        map(i) = sym - rleMax
        if (map(i) >= nTrees) bad("context-map value out of range")
        i += 1
      }
    }
    if (r.readBit() == 1) {
      // inverse move-to-front over the VALUES
      val mtf = Array.tabulate(256)(identity)
      var k = 0
      while (k < size) {
        val idx = map(k)
        val v = mtf(idx)
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        map(k) = v
        k += 1
      }
    }
    map
  }

  // ---- decode -----------------------------------------------------------

  /** Decode a complete brotli stream. Throws IllegalArgumentException
    * on malformed input and [[DictionaryReferenceException]] on any
    * static-dictionary back-reference. `maxOut` bounds the total
    * output (fuzz-safety; 256 MiB default). */
  def decode(in: Array[Byte], maxOut: Int = 1 << 28): Array[Byte] = {
    val r = new Reader(in)
    // stream header: WBITS
    val wbits =
      if (r.readBit() == 0) 16
      else {
        val n = r.readBits(3)
        if (n != 0) 17 + n
        else {
          val m = r.readBits(3)
          if (m == 0) 17
          else if (m == 1) bad("reserved WBITS pattern")
          else 8 + m
        }
      }
    val windowSize = (1 << wbits) - 16
    var out = new Array[Byte](math.min(1 << 16, maxOut))
    var pos = 0

    def ensure(n: Int): Unit = {
      if (n > maxOut) bad(s"output exceeds maxOut=$maxOut")
      if (n > out.length) {
        var cap = out.length
        while (cap < n) cap = math.min(maxOut.toLong, cap.toLong * 2).toInt
        out = java.util.Arrays.copyOf(out, cap)
      }
    }

    // initial last distances 4, 11, 15, 16 — most recent 4 (§4), so the
    // index starts on the 4 and walking back yields 11, 15, 16
    val distRing = Array(16, 15, 11, 4)
    var distIdx = 3
    def ringAt(back: Int): Int = distRing((distIdx - back) & 3)
    def ringPush(d: Int): Unit = { distIdx = (distIdx + 1) & 3; distRing(distIdx) = d }

    var isLast = false
    while (!isLast) {
      isLast = r.readBit() == 1
      if (isLast && r.readBit() == 1) {
        // ISLASTEMPTY
      } else {
        val mnibCode = r.readBits(2)
        if (mnibCode == 3) {
          // metadata meta-block: skip bytes
          if (isLast) bad("metadata meta-block cannot be last")
          if (r.readBit() != 0) bad("reserved metadata bit set")
          val skipBytes = r.readBits(2)
          var skipLen = 0
          var i = 0
          while (i < skipBytes) { skipLen |= r.readBits(8) << (8 * i); i += 1 }
          if (skipBytes > 0) {
            if (skipBytes > 1 && (skipLen >> (8 * (skipBytes - 1))) == 0)
              bad("metadata skip length not minimal")
            skipLen += 1
          }
          r.byteAlign()
          r.readAlignedBytes(skipLen)
        } else {
          val nibbles = 4 + mnibCode
          var mlen = 0
          var i = 0
          while (i < nibbles) { mlen |= r.readBits(4) << (4 * i); i += 1 }
          if (nibbles > 4 && (mlen >> (4 * (nibbles - 1))) == 0)
            bad("MLEN nibble count not minimal")
          mlen += 1
          val metaEnd = pos + mlen
          ensure(metaEnd)
          val isUncompressed = !isLast && r.readBit() == 1
          if (isUncompressed) {
            r.byteAlign()
            val bytes = r.readAlignedBytes(mlen)
            System.arraycopy(bytes, 0, out, pos, mlen)
            pos = metaEnd
          } else {
            // ---- compressed meta-block header ----
            val L = new BlockState(r, readBlockTypeCount(r))
            val I = new BlockState(r, readBlockTypeCount(r))
            val D = new BlockState(r, readBlockTypeCount(r))
            val npostfix = r.readBits(2)
            val ndirect = r.readBits(4) << npostfix
            val postfixMask = (1 << npostfix) - 1
            val cmodes = new Array[Int](L.nTypes)
            var t = 0
            while (t < L.nTypes) { cmodes(t) = r.readBits(2); t += 1 }
            val nTreesL = readBlockTypeCount(r)
            val cmapL = readContextMap(r, 64 * L.nTypes, nTreesL)
            val nTreesD = readBlockTypeCount(r)
            val cmapD = readContextMap(r, 4 * D.nTypes, nTreesD)
            val litCodes = Array.fill(nTreesL)(readPrefixCode(r, 256))
            val cmdCodes = Array.fill(I.nTypes)(readPrefixCode(r, 704))
            val distAlphabet = 16 + ndirect + (48 << npostfix)
            val distCodes = Array.fill(nTreesD)(readPrefixCode(r, distAlphabet))

            // ---- command loop ----
            while (pos < metaEnd) {
              if (I.blen == 0) I.switchType(r)
              I.blen -= 1
              val cmdSym = decodeSym(r, cmdCodes(I.btype))
              val cell = cmdSym >> 6
              val (insOff, cpOff, implicitD0) = CmdCells(cell)
              val insCode = insOff + ((cmdSym >> 3) & 7)
              val cpCode = cpOff + (cmdSym & 7)
              val insertLen = InsertBase(insCode) + r.readBits(InsertExtra(insCode))
              val copyLen = CopyBase(cpCode) + r.readBits(CopyExtra(cpCode))

              if (pos + insertLen > metaEnd) bad("insert length exceeds meta-block")
              var j = 0
              while (j < insertLen) {
                if (L.blen == 0) L.switchType(r)
                L.blen -= 1
                val p1 = if (pos > 0) out(pos - 1) & 0xff else 0
                val p2 = if (pos > 1) out(pos - 2) & 0xff else 0
                val ctx = cmodes(L.btype) match {
                  case 0 => p1 & 0x3f // LSB6
                  case 1 => p1 >> 2 // MSB6
                  case 2 => BrotliContext.lut0(p1) | BrotliContext.lut1(p2) // UTF8
                  case _ => (BrotliContext.lut2(p1) << 3) | BrotliContext.lut2(p2) // Signed
                }
                val tree = cmapL(64 * L.btype + ctx)
                out(pos) = decodeSym(r, litCodes(tree)).toByte
                pos += 1
                j += 1
              }
              if (pos < metaEnd) {
                val distance =
                  if (implicitD0) ringAt(0)
                  else {
                    if (D.blen == 0) D.switchType(r)
                    D.blen -= 1
                    val dctx = math.min(copyLen, 5) - 2
                    val dtree = cmapD(4 * D.btype + dctx)
                    val dsym = decodeSym(r, distCodes(dtree))
                    val d =
                      if (dsym < 16) {
                        // short codes: 0-3 ring slots; 4-9 last±{1,2,3};
                        // 10-15 second-last±{1,2,3}
                        if (dsym < 4) ringAt(dsym)
                        else {
                          val anchor = if (dsym < 10) ringAt(0) else ringAt(1)
                          val k = if (dsym < 10) dsym - 4 else dsym - 10
                          val delta = (k / 2) + 1
                          if (k % 2 == 0) anchor - delta else anchor + delta
                        }
                      } else if (dsym < 16 + ndirect) {
                        dsym - 16 + 1
                      } else {
                        val x = dsym - ndirect - 16
                        val hcode = x >> npostfix
                        val lcode = x & postfixMask
                        val ndistbits = 1 + (hcode >> 1)
                        val offset = ((2 + (hcode & 1)) << ndistbits) - 4
                        (((offset + r.readBits(ndistbits)) << npostfix) | lcode) + ndirect + 1
                      }
                    if (d <= 0) bad(s"non-positive distance $d from short code")
                    if (dsym != 0) {
                      val maxBack = math.min(pos, windowSize)
                      if (d <= maxBack) ringPush(d)
                    }
                    d
                  }
                val maxBack = math.min(pos, windowSize)
                if (distance > maxBack) {
                  // RFC 7932 §8: static-dictionary reference. The word
                  // id packs (transform id, word index) for the word
                  // length given by the COPY length.
                  if (copyLen < 4 || copyLen > 24)
                    throw new DictionaryReferenceException(
                      s"brotli: dictionary reference with copy length $copyLen outside 4..24")
                  val wordId = distance - maxBack - 1
                  val nb = BrotliDict.NdBits(copyLen - 4)
                  val wordIdx = wordId & ((1 << nb) - 1)
                  val tid = wordId >>> nb
                  if (tid >= BrotliDict.NumTransforms)
                    throw new DictionaryReferenceException(
                      s"brotli: dictionary transform id $tid out of range " +
                        s"(distance $distance, copy length $copyLen)")
                  val w = BrotliDict.transformed(copyLen, wordIdx, tid)
                  if (pos + w.length > metaEnd) bad("dictionary word exceeds meta-block")
                  System.arraycopy(w, 0, out, pos, w.length)
                  pos += w.length
                } else {
                  if (pos + copyLen > metaEnd) bad("copy length exceeds meta-block")
                  var k = 0
                  while (k < copyLen) {
                    out(pos) = out(pos - distance)
                    pos += 1
                    k += 1
                  }
                }
              }
            }
          }
        }
      }
    }
    java.util.Arrays.copyOf(out, pos)
  }

  // ---- full compressor (RFC 7932 write side) -----------------------------

  /** An emitted prefix code: `single >= 0` is the zero-bit degenerate
    * form (nothing on the wire per symbol). */
  private final class WCode(val lens: Array[Int], val codes: Array[Int], val single: Int) {
    def put(w: LsbBitWriter, sym: Int): Unit =
      if (single < 0) w.putCode(codes(sym), lens(sym))
  }

  /** §3.5 fixed code for one code-length-code length (inverse of
    * [[readClcLen]]'s branch structure). */
  private def putClcLen(w: LsbBitWriter, len: Int): Unit = len match {
    case 0 => w.putBits(0, 2) // bits 0,0
    case 4 => w.putBits(1, 2) // bits 1,0
    case 3 => w.putBits(2, 2) // bits 0,1
    case 2 => w.putBits(3, 3) // bits 1,1,0
    case 1 => w.putBits(7, 4) // bits 1,1,1,0
    case _ => w.putBits(15, 4) // len 5: bits 1,1,1,1
  }

  /** Build a code over `alphabet` from `freq` and serialize it — the
    * simple form for ≤4 used symbols, else the complex form (length-
    * limited Huffman lengths, RLE-coded with the 16/17 accumulation
    * rule, under their own 5-bit-limited code-length code). */
  private def writePrefixCode(w: LsbBitWriter, freq: Array[Long], alphabet: Int): WCode = {
    val used = (0 until alphabet).filter(freq(_) > 0)
    val abits = log2ceil(alphabet)
    if (used.size <= 1) {
      val s = if (used.isEmpty) 0 else used.head
      w.putBits(1, 2) // simple form
      w.putBits(0, 2) // NSYM - 1 = 0
      w.putBits(s, abits)
      return new WCode(null, null, s)
    }
    if (used.size <= 4) {
      val byFreq = used.sortBy(s => (-freq(s), s))
      val lens = new Array[Int](alphabet)
      w.putBits(1, 2)
      w.putBits(used.size - 1, 2)
      used.size match {
        case 2 =>
          lens(byFreq(0)) = 1; lens(byFreq(1)) = 1
          byFreq.foreach(w.putBits(_, abits))
        case 3 =>
          // the FIRST written symbol gets length 1 (decoder contract)
          lens(byFreq(0)) = 1; lens(byFreq(1)) = 2; lens(byFreq(2)) = 2
          byFreq.foreach(w.putBits(_, abits))
        case _ =>
          val flatCost = 2L * byFreq.map(freq(_)).sum
          val skewCost = freq(byFreq(0)) + 2L * freq(byFreq(1)) +
            3L * (freq(byFreq(2)) + freq(byFreq(3)))
          byFreq.foreach(w.putBits(_, abits))
          if (flatCost <= skewCost) {
            byFreq.foreach(s => lens(s) = 2)
            w.putBits(0, 1) // tree-select: four 2-bit codes
          } else {
            lens(byFreq(0)) = 1; lens(byFreq(1)) = 2
            lens(byFreq(2)) = 3; lens(byFreq(3)) = 3
            w.putBits(1, 1) // tree-select: 1,2,3,3
          }
      }
      return new WCode(lens, Gzip.canonicalCodes(lens), -1)
    }
    // complex form
    val lens = Gzip.limitedLengths(freq, MaxLen)
    val codes = Gzip.canonicalCodes(lens)
    val last = lens.lastIndexWhere(_ > 0)
    // RLE ops: (code-length symbol, extra value, extra bits). Runs past
    // one op's range use the decoder's accumulation rule
    // (repeat' = (repeat-2)·2^k + extra + 3), i.e. digits base 4 / 8.
    val ops = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    def run16(n0: Int): Unit =
      if (n0 <= 6) ops += ((16, n0 - 3, 2))
      else { run16(((n0 - 3) >> 2) + 2); ops += ((16, (n0 - 3) & 3, 2)) }
    def run17(n0: Int): Unit =
      if (n0 <= 10) ops += ((17, n0 - 3, 3))
      else { run17(((n0 - 3) >> 3) + 2); ops += ((17, (n0 - 3) & 7, 3)) }
    var i = 0
    while (i <= last) {
      val L = lens(i)
      var j = i
      while (j <= last && lens(j) == L) j += 1
      val n = j - i
      if (L == 0) {
        if (n < 3) { var k = 0; while (k < n) { ops += ((0, 0, 0)); k += 1 } }
        else run17(n)
      } else {
        ops += ((L, 0, 0))
        if (n - 1 >= 3) run16(n - 1)
        else { var k = 1; while (k < n) { ops += ((L, 0, 0)); k += 1 } }
      }
      i = j
    }
    val clcFreq = new Array[Long](18)
    ops.foreach { case (s, _, _) => clcFreq(s) += 1 }
    val usedClc = (0 until 18).count(clcFreq(_) > 0)
    val clcLens =
      if (usedClc == 1) {
        val a = new Array[Int](18); a(clcFreq.indexWhere(_ > 0)) = 1; a
      } else Gzip.limitedLengths(clcFreq, 5)
    val clcCodes = Gzip.canonicalCodes(clcLens)
    w.putBits(0, 2) // HSKIP = 0
    // clc lengths in ClcOrder; the decoder stops once the code is
    // complete (space == 32), or reads all 18 for the degenerate form
    var space = 0
    var idx = 0
    while (idx < 18 && space < 32) {
      val L = clcLens(ClcOrder(idx))
      putClcLen(w, L)
      if (L > 0) space += 32 >> L
      idx += 1
    }
    ops.foreach { case (s, extraVal, extraBits) =>
      if (usedClc > 1) w.putCode(clcCodes(s), clcLens(s))
      if (extraBits > 0) w.putBits(extraVal, extraBits)
    }
    new WCode(lens, codes, -1)
  }

  // ---- LZ77 parse ---------------------------------------------------------

  private final val EncWindowBits = 22
  private final val EncWindow = (1 << EncWindowBits) - 16
  private final val EncMinMatch = 4
  private final val EncMaxChain = 96

  /** Hash-table bits sized to the input so per-document encodes at
    * gate scale don't churn a fixed 512 KiB table per row. */
  private def encHashBits(n: Int): Int =
    math.max(8, math.min(17, 32 - Integer.numberOfLeadingZeros(math.max(1, n))))

  private def hash4(b: Array[Byte], i: Int, hashBits: Int): Int = {
    val v = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    (v * 0x9E3779B1) >>> (32 - hashBits)
  }

  /** One parsed command: `insLen` literals at `insStart`, then a copy
    * of `copyLen` at back-distance `dist`; `dist == 0` marks the
    * trailing literal-only command (the decoder ignores the copy part
    * once MLEN is reached). */
  private final case class EncCmd(insStart: Int, insLen: Int, copyLen: Int, dist: Int)

  /** Hash-chain match with one-step LAZY evaluation (the zlib shape:
    * defer a match when the next position holds a strictly longer one)
    * over `[from, until)`; chains persist across segments so matches
    * reach back into earlier meta-blocks (the decoder's output window
    * is stream-global). */
  private def parseSegment(raw: Array[Byte], from: Int, until: Int,
      head: Array[Int], prev: Array[Int], hashBits: Int): scala.collection.mutable.ArrayBuffer[EncCmd] = {
    val cmds = scala.collection.mutable.ArrayBuffer.empty[EncCmd]
    def findBest(i: Int): (Int, Int) = {
      var bestLen = 0
      var bestDist = 0
      if (i + EncMinMatch <= until) {
        val h = hash4(raw, i, hashBits)
        var cand = head(h)
        var chain = 0
        val limit = until - i
        while (cand >= 0 && i - cand <= EncWindow && chain < EncMaxChain && bestLen < limit) {
          if (bestLen == 0 || (cand + bestLen < i && raw(cand + bestLen) == raw(i + bestLen))) {
            var l = 0
            while (l < limit && raw(cand + l) == raw(i + l)) l += 1
            if (l > bestLen) { bestLen = l; bestDist = i - cand }
          }
          cand = prev(cand)
          chain += 1
        }
      }
      (bestLen, bestDist)
    }
    var i = from
    var litStart = from
    var inserted = from // first position not yet in the chains
    def insertUpTo(p: Int): Unit = {
      val stop = math.min(p, raw.length - EncMinMatch + 1)
      while (inserted < stop) {
        val h = hash4(raw, inserted, hashBits)
        prev(inserted) = head(h); head(h) = inserted
        inserted += 1
      }
      if (inserted < p) inserted = p
    }
    while (i < until) {
      val (bestLen, bestDist) = findBest(i)
      if (bestLen >= EncMinMatch) {
        var accept = true
        if (bestLen < 64 && i + 1 < until) {
          insertUpTo(i + 1)
          if (findBest(i + 1)._1 > bestLen) accept = false
        }
        if (accept) {
          cmds += EncCmd(litStart, i - litStart, bestLen, bestDist)
          insertUpTo(i + bestLen)
          i += bestLen
          litStart = i
        } else i += 1 // position i becomes a literal; re-match at i+1
      } else {
        insertUpTo(i + 1)
        i += 1
      }
    }
    if (litStart < until) cmds += EncCmd(litStart, until - litStart, 0, 0)
    cmds
  }

  private def codeFor(base: Array[Int], v: Int): Int = {
    var c = base.length - 1
    while (base(c) > v) c -= 1
    c
  }

  /** cell index by (insert bucket, copy bucket) for explicit-distance
    * commands (inverse of [[CmdCells]] rows 2..10). */
  private val ExplicitCell = Array(Array(2, 3, 6), Array(4, 5, 8), Array(7, 9, 10))

  /** Full RFC 7932 compressor: LZ77 hash-chain parse into one
    * compressed meta-block per ≤16 MiB segment (WBITS = 22), single
    * block type per category, NPOSTFIX = NDIRECT = 0, one literal /
    * command / distance tree each built from the segment's own symbol
    * frequencies and serialized in whichever prefix-code form is
    * smaller. Distance ring short-code 0 and the implicit-distance
    * command cells are used when a match repeats the last distance.
    * Deterministic; decodes with [[decode]] and with the reference
    * decoder. */
  def encode(raw: Array[Byte]): Array[Byte] = {
    val w = new LsbBitWriter(raw.length / 2 + 64)
    w.putBits(1, 1); w.putBits(5, 3) // WBITS = 22
    if (raw.isEmpty) {
      w.putBits(1, 1); w.putBits(1, 1) // ISLAST + ISLASTEMPTY
      return w.result()
    }
    val hashBits = encHashBits(raw.length)
    val head = Array.fill(1 << hashBits)(-1)
    val prev = new Array[Int](raw.length)
    // distance ring persists across meta-blocks (decoder state is
    // stream-global); initial contents per §4
    val ring = Array(16, 15, 11, 4)
    var ringIdx = 3
    var segStart = 0
    while (segStart < raw.length) {
      val segEnd = math.min(raw.length, segStart + (1 << 24))
      val isLast = segEnd == raw.length
      val cmds = parseSegment(raw, segStart, segEnd, head, prev, hashBits)
      val n = cmds.length

      // ---- symbol assignment (single pass; mutates the real ring) ----
      val cmdSyms = new Array[Int](n)
      val insCodes = new Array[Int](n)
      val cpCodes = new Array[Int](n)
      val dSyms = Array.fill(n)(-1) // -1 = no distance on the wire
      val dBits = new Array[Int](n)
      val dVals = new Array[Int](n)
      val litFreq = new Array[Long](256)
      val cmdFreq = new Array[Long](704)
      val distFreq = new Array[Long](64)
      var ci = 0
      while (ci < n) {
        val c = cmds(ci)
        val insCode = codeFor(InsertBase, c.insLen)
        insCodes(ci) = insCode
        var k = c.insStart
        val kEnd = c.insStart + c.insLen
        while (k < kEnd) { litFreq(raw(k) & 0xff) += 1; k += 1 }
        if (c.dist == 0) {
          // trailing literal-only command: copy code 0, never executed
          cpCodes(ci) = 0
          cmdSyms(ci) = (ExplicitCell(insCode >> 3)(0) << 6) | ((insCode & 7) << 3)
        } else {
          val cpCode = codeFor(CopyBase, c.copyLen)
          cpCodes(ci) = cpCode
          val lastD = ring(ringIdx & 3)
          if (c.dist == lastD && insCode < 8 && cpCode < 16) {
            // implicit-distance cell: no distance symbol at all
            cmdSyms(ci) = ((cpCode >> 3) << 6) | ((insCode & 7) << 3) | (cpCode & 7)
          } else {
            cmdSyms(ci) = (ExplicitCell(insCode >> 3)(cpCode >> 3) << 6) |
              ((insCode & 7) << 3) | (cpCode & 7)
            if (c.dist == lastD) {
              dSyms(ci) = 0; dBits(ci) = 0; dVals(ci) = 0 // ring untouched
            } else {
              val v = c.dist + 3 // NDIRECT = 0: v = (2+hbit)<<nbits + extra
              val nbits = 31 - Integer.numberOfLeadingZeros(v) - 1
              val hbit = (v >> nbits) & 1
              dSyms(ci) = 16 + 2 * (nbits - 1) + hbit
              dBits(ci) = nbits
              dVals(ci) = v - ((2 + hbit) << nbits)
              ringIdx = (ringIdx + 1) & 3
              ring(ringIdx & 3) = c.dist
            }
            distFreq(dSyms(ci)) += 1
          }
        }
        cmdFreq(cmdSyms(ci)) += 1
        ci += 1
      }

      // ---- meta-block header ----
      w.putBits(if (isLast) 1 else 0, 1)
      if (isLast) w.putBits(0, 1) // ISLASTEMPTY = 0
      val mlen = segEnd - segStart
      val nibbles = if (mlen - 1 < (1 << 16)) 4 else if (mlen - 1 < (1 << 20)) 5 else 6
      w.putBits(nibbles - 4, 2)
      var nb = 0
      while (nb < nibbles) { w.putBits((mlen - 1) >> (4 * nb), 4); nb += 1 }
      if (!isLast) w.putBits(0, 1) // ISUNCOMPRESSED = 0
      w.putBits(0, 1); w.putBits(0, 1); w.putBits(0, 1) // NBLTYPES L/I/D = 1
      w.putBits(0, 2) // NPOSTFIX = 0
      w.putBits(0, 4) // NDIRECT = 0
      w.putBits(0, 2) // literal context mode (single tree: irrelevant)
      w.putBits(0, 1) // NTREESL = 1 (context map skipped)
      w.putBits(0, 1) // NTREESD = 1
      val litCode = writePrefixCode(w, litFreq, 256)
      val cmdCode = writePrefixCode(w, cmdFreq, 704)
      val distCode = writePrefixCode(w, distFreq, 64)

      // ---- command stream ----
      ci = 0
      while (ci < n) {
        val c = cmds(ci)
        cmdCode.put(w, cmdSyms(ci))
        val insCode = insCodes(ci)
        val cpCode = cpCodes(ci)
        w.putBits(c.insLen - InsertBase(insCode), InsertExtra(insCode))
        w.putBits((if (c.dist == 0) 2 else c.copyLen) - CopyBase(cpCode), CopyExtra(cpCode))
        var k = c.insStart
        val kEnd = c.insStart + c.insLen
        while (k < kEnd) { litCode.put(w, raw(k) & 0xff); k += 1 }
        if (dSyms(ci) >= 0) {
          distCode.put(w, dSyms(ci))
          if (dBits(ci) > 0) w.putBits(dVals(ci), dBits(ci))
        }
        ci += 1
      }
      segStart = segEnd
    }
    w.result()
  }

  // ---- stored-only encoder ---------------------------------------------

  /** Brotli stream of uncompressed meta-blocks only (WBITS=16, 64 KiB
    * chunks). Output size closed form: `3·ceil(n/65536) + n + 1`
    * (n = 0 → 1 byte) — the `web_warc_brotli` oracle recomputes it. */
  def encodeStored(raw: Array[Byte]): Array[Byte] = {
    val w = new LsbBitWriter(raw.length + raw.length / 65536 * 3 + 4)
    w.putBits(0, 1) // WBITS = 16
    putStored(w, raw, 0, raw.length)
    w.putBits(1, 1) // ISLAST
    w.putBits(1, 1) // ISLASTEMPTY
    w.result()
  }

  /** `raw[from, until)` as uncompressed meta-blocks of ≤ 64 KiB each
    * (ISLAST = 0, MNIBBLES = 4, ISUNCOMPRESSED, byte-aligned payload). */
  private def putStored(w: LsbBitWriter, raw: Array[Byte], from: Int, until: Int): Unit = {
    var off = from
    while (off < until) {
      val n = math.min(65536, until - off)
      w.putBits(0, 1) // ISLAST = 0
      w.putBits(0, 2) // MNIBBLES code 0 → 4 nibbles
      w.putBits(n - 1, 16)
      w.putBits(1, 1) // ISUNCOMPRESSED
      w.putBytes(raw, off, n)
      off += n
    }
  }

  /** Encode `raw` as stored meta-blocks, except that the first
    * occurrence of static-dictionary word (24, 0) — the 24-byte
    * `<script type="text/javas`, present in every synthesized crawl
    * page — is emitted via a REAL §8 dictionary back-reference inside
    * a compressed meta-block between the stored ones. Round-trips
    * byte-exactly through [[decode]] while exercising the dictionary
    * path with nonzero `maxBack`; [[WebArchive.warcEncodedBuild]]'s
    * fifth `br` leg uses it so the `web_warc_brotli` gate covers
    * dictionary-referencing payloads end-to-end. Falls back to
    * [[encodeStored]] when the word does not occur. */
  def encodeWithDictWord(raw: Array[Byte]): Array[Byte] = {
    val word = BrotliDict.transformed(24, 0, 0)
    val at = {
      var i = 0
      var found = -1
      while (found < 0 && i + word.length <= raw.length) {
        var j = 0
        while (j < word.length && raw(i + j) == word(j)) j += 1
        if (j == word.length) found = i
        i += 1
      }
      found
    }
    if (at < 0) return encodeStored(raw)
    val w = new LsbBitWriter(raw.length + 64)
    w.putBits(0, 1) // WBITS = 16
    putStored(w, raw, 0, at)
    // compressed meta-block: one command, insert 0, copy 24 from the
    // dictionary (word id 0 = word index 0, transform 0 = identity)
    w.putBits(0, 1) // ISLAST = 0
    w.putBits(0, 2) // MNIBBLES code 0
    w.putBits(word.length - 1, 16)
    w.putBits(0, 1) // ISUNCOMPRESSED = 0
    w.putBits(0, 1); w.putBits(0, 1); w.putBits(0, 1) // NBLTYPES L/I/D = 1
    w.putBits(0, 2) // NPOSTFIX
    w.putBits(0, 4) // NDIRECT
    w.putBits(0, 2) // literal context mode
    w.putBits(0, 1) // NTREESL = 1
    w.putBits(0, 1) // NTREESD = 1
    w.putBits(1, 2); w.putBits(0, 2); w.putBits('A'.toInt, 8) // literal code (unused)
    // command: insert code 0, copy code 12 (length 24 = 22 + extra 2),
    // explicit-distance cell (insert 0..7, copy 8..15) -> cmd 196
    w.putBits(1, 2); w.putBits(0, 2); w.putBits(196, 10)
    val maxBack = math.min(at, (1 << 16) - 16)
    val d = maxBack + 1 // word id 0
    val v = d + 3
    val ndistbits = 31 - Integer.numberOfLeadingZeros(v) - 1
    val hbit = (v >> ndistbits) & 1
    val dextra = v - ((2 + hbit) << ndistbits)
    val dsym = 16 + 2 * (ndistbits - 1) + hbit
    w.putBits(1, 2); w.putBits(0, 2); w.putBits(dsym, 6)
    w.putBits(2, 3) // copy extra: 24 - 22
    w.putBits(dextra, ndistbits)
    putStored(w, raw, at + word.length, raw.length)
    w.putBits(1, 1) // ISLAST
    w.putBits(1, 1) // ISLASTEMPTY
    w.result()
  }

  /** Craft a minimal stream containing exactly one static-dictionary
    * back-reference: decodes to `'A' ++ BrotliDict.transformed(len,
    * wordIdx, transformId)`. One compressed last meta-block, one
    * command (insert length 1, copy length = `len`), all prefix codes
    * in the single-symbol simple form, explicit distance
    * `wordId + maxBack + 1`. Used by BrotliSpec's exhaustive
    * (transform × length) cross-check against the reference decoder
    * and by [[WebArchive.warcEncodedBuild]]'s dictionary-referencing
    * `br` leg — the only brotli ENCODER here that can address the
    * dictionary, so fixtures can exercise the §8 decode path
    * deterministically. */
  def craftDictReference(len: Int, wordIdx: Int, transformId: Int): Array[Byte] = {
    require(len >= 4 && len <= 24, s"dictionary word length $len outside 4..24")
    val nb = BrotliDict.NdBits(len - 4)
    require(wordIdx >= 0 && wordIdx < (1 << nb), s"word index $wordIdx out of range")
    require(transformId >= 0 && transformId < BrotliDict.NumTransforms,
      s"transform id $transformId out of range")
    val mlen = 1 + BrotliDict.transformed(len, wordIdx, transformId).length
    val w = new LsbBitWriter(64)
    // distance: one literal precedes the copy, so maxBack = 1
    val wordId = (transformId << nb) | wordIdx
    val d = wordId + 2
    val v = d + 3
    val ndistbits = 31 - Integer.numberOfLeadingZeros(v) - 1
    val hbit = (v >> ndistbits) & 1
    val dextra = v - ((2 + hbit) << ndistbits)
    val dsym = 16 + 2 * (ndistbits - 1) + hbit
    // copy-length code for `len`
    val cc = (0 until 24).find(c =>
      CopyBase(c) <= len && len - CopyBase(c) < (1 << CopyExtra(c))).get
    val cell = (cc >> 3) match { case 0 => 2; case 1 => 3; case _ => 6 } // explicit-distance cells
    val cmd = (cell << 6) | (1 << 3) | (cc & 7) // insert code 1 (length 1)
    w.putBits(0, 1) // WBITS = 16
    w.putBits(1, 1) // ISLAST
    w.putBits(0, 1) // ISLASTEMPTY = 0
    w.putBits(0, 2) // MNIBBLES code 0 -> 4 nibbles
    w.putBits(mlen - 1, 16)
    w.putBits(0, 1); w.putBits(0, 1); w.putBits(0, 1) // NBLTYPES L/I/D = 1
    w.putBits(0, 2) // NPOSTFIX
    w.putBits(0, 4) // NDIRECT
    w.putBits(0, 2) // literal context mode 0
    w.putBits(0, 1) // NTREESL = 1
    w.putBits(0, 1) // NTREESD = 1
    w.putBits(1, 2); w.putBits(0, 2); w.putBits('A'.toInt, 8) // literal code: simple, {'A'}
    w.putBits(1, 2); w.putBits(0, 2); w.putBits(cmd, 10)      // command code: simple, {cmd}
    w.putBits(1, 2); w.putBits(0, 2); w.putBits(dsym, 6)      // distance code: simple, {dsym}
    // body: cmd sym (0 bits), insert extra (none), copy extra,
    // literal (0 bits), distance sym (0 bits), distance extra
    w.putBits(len - CopyBase(cc), CopyExtra(cc))
    w.putBits(dextra, ndistbits)
    w.result()
  }
}
