package graft.tools

import graft.operators.LsbBitWriter

/** Empirical derivation of RFC 7932's literal-context lookup tables
  * (the UTF8-mode LUT0/LUT1 and Signed-mode LUT2) from a REFERENCE
  * DECODER, so [[graft.operators.BrotliContext]] is observed behavior,
  * not a transcription.
  *
  * Method: craft a brotli stream whose every decoded literal IS the
  * context id the decoder computed —
  *  - meta-block 1: uncompressed, the 512-byte pattern 0,0, 1,0, 2,0,
  *    …, 255,0;
  *  - meta-block 2: one literal block type in the probed context mode,
  *    64 literal trees under an IDENTITY context map, tree t being the
  *    single-symbol code that emits byte t with ZERO bits — so a
  *    literal decodes to exactly `ctx(p1, p2)`;
  *  - commands alternate copy-2 (pulling a chosen byte pair into
  *    (p2, p1) via an explicit distance) with a 1-literal insert (the
  *    probe). Copy distances use a uniform 6-bit distance code over
  *    the 64-symbol NPOSTFIX=0/NDIRECT=0 alphabet (64 × 2⁻⁶ fills the
  *    Kraft space exactly, via the degenerate one-symbol code-length
  *    code that costs zero bits per length).
  *
  * The pattern block interleaves `b, 0` pairs so even-offset pairs
  * isolate the p2 table (p1 = 0) and odd-offset pairs isolate the p1
  * table (p2 = 0) — a chained pattern cannot decompose the UTF8 OR
  * because LUT0's upper-half values overlap LUT1's bit range. Pair
  * (0,0) pins ctx(0,0) = 0, making both recoveries direct; Signed
  * mode re-derives LUT2 from both operand slots and cross-checks.
  * Mode LSB6 runs first as a self-test of the whole probe machinery
  * against its closed form p1 & 63.
  *
  * Usage:
  *   runMain graft.tools.BrotliCtxExtract streams <dir>   # write probe streams
  *   (decode each with the reference decoder, e.g. Node:
  *    zlib.brotliDecompressSync, into <name>.out)
  *   runMain graft.tools.BrotliCtxExtract tables <dir>    # emit BrotliContext.scala
  */
object BrotliCtxExtract {

  /** The degenerate complex prefix code whose symbols are ALL length
    * 6 over a 64-symbol alphabet: HSKIP=0; code-length code assigns a
    * length only to symbol 6 (one nonzero → zero-bit symbol reads),
    * so the 64 lengths cost no bits and fill the Kraft space exactly. */
  private def putUniform6bitCode(w: LsbBitWriter): Unit = {
    w.putBits(0, 2) // HSKIP = 0
    // CLC order [1,2,3,4,0,5,17,6,16,7..15]: zeros everywhere except
    // symbol 6, which gets CLC length 1 (fixed-code bits 1,1,1,0)
    for (_ <- 0 until 7) w.putBits(0, 2) // syms 1,2,3,4,0,5,17 → "00"
    w.putBits(1, 1); w.putBits(1, 1); w.putBits(1, 1); w.putBits(0, 1) // sym 6 → len 1
    for (_ <- 0 until 10) w.putBits(0, 2) // syms 16,7..15 → "00"
  }

  /** Distance symbol + extra bits for `d` under NPOSTFIX=0, NDIRECT=0. */
  private def putDistance(w: LsbBitWriter, d: Int): Unit = {
    var x = 0
    var found = false
    while (!found) {
      val ndistbits = 1 + (x >> 1)
      val offset = ((2 + (x & 1)) << ndistbits) - 4
      val lo = offset + 1
      val hi = offset + (1 << ndistbits)
      if (d >= lo && d <= hi) {
        w.putCode(16 + x, 6) // uniform 6-bit code: symbol value IS the code
        w.putBits(d - lo, ndistbits)
        found = true
      } else x += 1
    }
  }

  /** Pattern block: 0,0, 1,0, 2,0, …, 255,0 — its even-offset pairs
    * are (b, 0) (isolating the p2 table: p1 = 0) and its odd-offset
    * pairs are (0, b+1) (isolating the p1 table: p2 = 0). A single
    * chained pattern cannot decompose the UTF8 tables because LUT0's
    * upper-half values overlap LUT1's bit range. */
  private val PatternLen = 512
  private val NProbes = 511 // pairs at offsets 0..510

  /** Build the probe stream for a literal context mode (0=LSB6,
    * 2=UTF8, 3=Signed). Decoded output: 512 pattern bytes, then for
    * k = 1..511 the byte at offset 512 + 2 + 3·(k-1) is
    * ctx(p1 = pattern[k], p2 = pattern[k-1]). */
  def buildProbeStream(mode: Int): Array[Byte] = {
    val w = new LsbBitWriter
    w.putBits(0, 1) // WBITS = 16
    val pattern = new Array[Byte](PatternLen)
    for (b <- 0 until 256) { pattern(2 * b) = b.toByte; pattern(2 * b + 1) = 0 }
    w.putBits(0, 1) // ISLAST = 0
    w.putBits(0, 2) // 4 nibbles
    w.putBits(pattern.length - 1, 16)
    w.putBits(1, 1) // ISUNCOMPRESSED
    w.putBytes(pattern, 0, pattern.length)
    // meta-block 2: compressed, ISLAST
    w.putBits(1, 1) // ISLAST
    w.putBits(0, 1) // ISLASTEMPTY = 0
    w.putBits(0, 2) // 4 nibbles
    val mlen = 2 + (NProbes - 1) * 3 + 1 // cmd0 copies 2; then +3 each; last +1
    w.putBits(mlen - 1, 16)
    // NBLTYPES L, I, D = 1
    w.putBits(0, 1); w.putBits(0, 1); w.putBits(0, 1)
    w.putBits(0, 2) // NPOSTFIX = 0
    w.putBits(0, 4) // NDIRECT = 0
    w.putBits(mode, 2) // context mode for the single literal block type
    // NTREESL = 64: "1", k=5, extra=31
    w.putBits(1, 1); w.putBits(5, 3); w.putBits(31, 5)
    // CMAPL: identity over 64 contexts
    w.putBits(0, 1) // no RLE
    putUniform6bitCode(w) // 64 map symbols, 6 bits each, code == value
    for (ctx <- 0 until 64) w.putCode(ctx, 6)
    w.putBits(0, 1) // IMTF = 0
    w.putBits(0, 1) // NTREESD = 1
    // 64 literal trees: simple, single symbol = tree index
    for (t <- 0 until 64) {
      w.putBits(1, 2) // simple form
      w.putBits(0, 2) // NSYM = 1
      w.putBits(t, 8) // the symbol
    }
    // 1 insert-and-copy tree: simple two-symbol {128 (i0,c2,+dist),
    // 136 (i1,c2,+dist)}; canonical: '0'→128, '1'→136
    w.putBits(1, 2); w.putBits(1, 2) // simple, NSYM = 2
    w.putBits(128, 10); w.putBits(136, 10)
    // 1 distance tree: uniform 6-bit over the 64-symbol alphabet
    putUniform6bitCode(w)
    // commands. Global positions: meta-block 2 starts at PatternLen.
    // cmd0: insert 0, copy pair 0 (abs 0..1): distance PatternLen
    w.putCode(0, 1) // symbol 128
    // insert code 0 → length 0, copy code 0 → length 2: no extra bits
    putDistance(w, PatternLen)
    // cmds k = 1..NProbes-1: insert 1 probe literal (zero bits — the
    // single-symbol tree), copy pair k at distance PatternLen + 2k
    for (k <- 1 until NProbes) {
      w.putCode(1, 1) // symbol 136: insert 1, copy 2
      putDistance(w, PatternLen + 2 * k)
    }
    // final cmd: insert 1 probe literal; MLEN reached → no distance read
    w.putCode(1, 1)
    w.result()
  }

  private val modes = Seq(("lsb6", 0), ("utf8", 2), ("signed", 3))

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("streams")
    val dir = java.nio.file.Paths.get(if (args.length > 1) args(1) else "/tmp/brotli_ctx")
    java.nio.file.Files.createDirectories(dir)
    cmd match {
      case "streams" =>
        for ((name, mode) <- modes) {
          val f = dir.resolve(s"$name.br")
          java.nio.file.Files.write(f, buildProbeStream(mode))
          println(s"wrote $f")
        }
      case "tables" =>
        val mlen = 2 + (NProbes - 1) * 3 + 1
        def probes(name: String): Array[Int] = {
          val out = java.nio.file.Files.readAllBytes(dir.resolve(s"$name.out"))
          require(out.length == PatternLen + mlen,
            s"$name.out: got ${out.length} bytes, want ${PatternLen + mlen}")
          (0 until 256).foreach { b =>
            require((out(2 * b) & 0xff) == b && out(2 * b + 1) == 0,
              s"$name.out: pattern pair $b corrupt")
          }
          // probe k (1-based) = ctx(p1 = pattern[k], p2 = pattern[k-1]);
          // index the result by the PAIR OFFSET j = k-1
          (1 to NProbes).map(k => out(PatternLen + 2 + 3 * (k - 1)) & 0xff).toArray
        }
        // self-test: LSB6 ctx = p1 & 63: even pair (b,0) → 0; odd pair
        // (0,b+1) → (b+1) & 63
        val lsb = probes("lsb6")
        for (j <- 0 until NProbes) {
          val want = if (j % 2 == 0) 0 else ((j + 1) / 2) & 0x3f
          require(lsb(j) == want, s"LSB6 self-test failed at pair $j: got ${lsb(j)}, want $want")
        }
        println("LSB6 self-test passed: probe machinery is sound")
        // UTF8: even pair j=2b → lut0[0]|lut1[b]; odd j=2b+1 →
        // lut0[b+1]|lut1[0]. Pair 0 is (0,0): its probe pins
        // lut0[0]|lut1[0] == 0, making both recoveries direct.
        val utf = probes("utf8")
        require(utf(0) == 0, s"UTF8 pair (0,0) context ${utf(0)} != 0; cannot decompose")
        val lut0 = new Array[Int](256)
        val lut1 = new Array[Int](256)
        for (b <- 0 until 256) lut1(b) = utf(2 * b)
        for (b <- 0 until 255) lut0(b + 1) = utf(2 * b + 1)
        lut0(0) = 0
        // Signed: ctx = lut2[p1] << 3 | lut2[p2]; with lut2[0] pinned 0
        // by pair (0,0), even pairs give lut2[b] directly and odd pairs
        // re-derive lut2[b+1] — the two recoveries must agree
        val sgn = probes("signed")
        require(sgn(0) == 0, s"Signed pair (0,0) context ${sgn(0)} != 0; cannot decompose")
        val lut2 = new Array[Int](256)
        for (b <- 0 until 256) lut2(b) = sgn(2 * b) & 7
        for (b <- 0 until 256) require((sgn(2 * b) >> 3) == 0,
          s"Signed even pair $b has nonzero p1 slot")
        for (b <- 0 until 255) {
          require((sgn(2 * b + 1) & 7) == 0, s"Signed odd pair $b has nonzero p2 slot")
          require((sgn(2 * b + 1) >> 3) == lut2(b + 1),
            s"Signed-mode LUT2 recoveries disagree at byte ${b + 1}")
        }
        val lut2a = lut2
        def fmt(a: Array[Int]): String =
          a.grouped(16).map(_.mkString(", ")).mkString(",\n    ")
        val src =
          s"""package graft.operators
             |
             |/** RFC 7932 literal-context lookup tables, DERIVED EMPIRICALLY by
             |  * `tools/BrotliCtxExtract`: a crafted probe stream (64 single-symbol
             |  * literal trees under an identity context map — every decoded
             |  * literal IS the context id) was decoded with a reference decoder
             |  * (Node.js zlib's bundled brotli), and these arrays are what it
             |  * computed. The LSB6-mode probe self-tests the machinery against
             |  * its closed form; the Signed-mode tables are recovered twice (p1
             |  * and p2 slots) and cross-checked. Regenerate: see the tool's
             |  * scaladoc. NOT transcribed from the RFC's table listings.
             |  */
             |private[graft] object BrotliContext {
             |  /** UTF8-mode p1 table. */
             |  val lut0: Array[Int] = Array(
             |    ${fmt(lut0)})
             |
             |  /** UTF8-mode p2 table. */
             |  val lut1: Array[Int] = Array(
             |    ${fmt(lut1)})
             |
             |  /** Signed-mode table (values 0..7). */
             |  val lut2: Array[Int] = Array(
             |    ${fmt(lut2a)})
             |}
             |""".stripMargin
        val out = dir.resolve("BrotliContext.scala")
        java.nio.file.Files.write(out, src.getBytes("UTF-8"))
        println(s"wrote $out")
      case other => sys.error(s"unknown command $other")
    }
  }
}
