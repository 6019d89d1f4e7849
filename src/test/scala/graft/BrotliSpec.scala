package graft

import java.nio.charset.StandardCharsets
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Fixtures
import graft.operators.Brotli
import graft.tools.BrotliCtxExtract

/** Brotli decoder pins. The embedded fixtures are reference-encoder
  * output (Node.js zlib's bundled brotli, BROTLI_PARAM_QUALITY as
  * named) captured once; the `reference encoder sweep` test re-runs
  * the full cross-check live whenever `node` is on PATH. */
class BrotliSpec extends AnyFunSuite {

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val t1 = "the quick brown fox jumps over the lazy dog. " * 40
  private val t2 = "key agg row scan slow fast table value part hash " * 100
  private val t5 = "abcdefgh" * 3
  /** JS `(i * 2654435761 >>> 13) & 0xff` (ToUint32 then shift). */
  private val t3: Array[Byte] = Array.tabulate(5000)(i =>
    ((((i.toLong * 2654435761L) & 0xFFFFFFFFL) >>> 13) & 0xff).toByte)

  private val t1q1 = unhex(
    "8b83030080aaaaaaeaff74e5c3498ff76d175d76d8807b700b371c0807a4e160cc19629d4ea32d2f2344a75360e822ac5c0768eb8e449df87f506499f1231d06")
  private val t2q1 = unhex(
    "8b91090080aaaaaaeaff74a5f39555415415c004541554c44cc1e0002e7ea5891477d860cc3382fac77ed43b675da26a12be2e4d91a48a1b9ffc35b64e321483e955050003")
  private val t5q5 = unhex("1b170000c401c780b83ef40987a09cee")
  private val t1q11 = unhex(
    "1b0707888c946ee622d083a5ba905e13148d807c430b830d387048206f24bf41a715ce66c7e34485a560239c4aab3f4c0a0c")
  private val t3q11 = unhex(
    "1b8713f0af0bb873bd002f5ce18e0c6ce49edf6db9a1d2babdcb6363770a38f64d407b8e1c9c9742b830fae230bdd5003680cf7ff0b1b1f1a641a4620cbabb8f3c23ca1d88c77dc80a197477fc6703d3a840645df4dcecc92884796a45f95cbf03185a23e07f767e6dfbffa7dcf66a013170673fa065c20d5a8908f4f738b1e7d28f7a85291ede79d12854988c9a3022feebe659ea385b0de524031ec1caa4c56e99a0c4f155aa6d5e9d8e4b5a833ee3c695cded856272dadfa5f575f706a9d952e509ed433b7cb01baeb2ba6943ec67000fcbb7a95ff998c685d0e984becdef98a67987f8f2e2b8f6999ce7f544e40ed21478772debf3c65447793dfcde5eb7f74b98494a0ed0fff0c930570f4c8129011686eca9e88c5a0fe0caa0b35080955e8106101ae16865421c8ab9f254406384ac099e9e8d81ec2cbc7220b019492c2b144fa17c95ad0466842ca86dba728893475dc294512b9ad9302bae714817c2958101361cb4af08b7887b2462fadab1c28193ce292f45a62596ad6cc841c24e6a85c8a44fa1ec95aa5c04ed264e4722575285239b960c8d02065b41dad118575fb11e92f592bd95cf95ab3c857a6a2c8e3842c14fa567706e935f7928451db552afd1b25a8fd3ca43bb5e5e9dd7b29a1e7bbdf47cdecb2a7df67a79745ecbf274f47a6979decb0ae9eaf5e2ed97dff37d69d7ebe571be2fadf77ae1a6f01e")

  test("reference q1 text stream decodes exactly") {
    assert(new String(Brotli.decode(t1q1), UTF_8) == t1)
    assert(new String(Brotli.decode(t2q1), UTF_8) == t2)
  }

  test("reference q5 stream: distance ring short codes (initial 4,11,15,16 order)") {
    assert(new String(Brotli.decode(t5q5), UTF_8) == t5)
  }

  test("reference q11 high-entropy stream: complex codes + context modeling") {
    assert(java.util.Arrays.equals(Brotli.decode(t3q11), t3))
  }

  test("q11 stream with static-dictionary references decodes exactly") {
    // t1q11 was the round-11..16 fence pin: node's q11 output for t1
    // references the static dictionary. Since round 17 it must decode.
    assert(new String(Brotli.decode(t1q11), UTF_8) == t1)
  }

  test("structurally invalid dictionary reference throws the NAMED exception") {
    // Valid crafted stream, then corrupt the transform id beyond 120:
    // distance addressing transform id 121 for a length-4 word.
    val good = Brotli.craftDictReference(4, 0, 120)
    assert(new String(Brotli.decode(good), UTF_8) ==
      "A" + new String(graft.operators.BrotliDict.transformed(4, 0, 120), UTF_8))
    // craft with transformId forced out of range by hand: reuse the
    // crafter's framing at tid=120 but bump the distance by one full
    // transform stride via a direct stream build is intricate; instead
    // pin the guard through the decoder by synthesizing the distance
    // for tid=121 with the same single-symbol framing.
    intercept[Brotli.DictionaryReferenceException] {
      Brotli.decode(BrotliSpec.craftRawDictStream(len = 4, wordIdx = 0, tid = 121, mlen = 5))
    }
  }

  test("every (transform id x word length) decodes to the dictionary expansion") {
    // 121 transforms x lengths 4..24 x {first, last} word index: crafted
    // single-reference streams must decode to 'A' ++ transformed word.
    // This pins the §8 word addressing, all 21 transform kinds, and the
    // ferment rule against the embedded table; the node sweep below
    // pins that same table against the reference decoder.
    import graft.operators.BrotliDict
    for (tid <- 0 until BrotliDict.NumTransforms; len <- 4 to 24;
         widx <- Seq(0, (1 << BrotliDict.NdBits(len - 4)) - 1)) {
      val want = "A" + new String(BrotliDict.transformed(len, widx, tid), StandardCharsets.ISO_8859_1)
      val got = new String(Brotli.decode(Brotli.craftDictReference(len, widx, tid)),
        StandardCharsets.ISO_8859_1)
      assert(got == want, s"tid=$tid len=$len widx=$widx")
    }
  }

  test("crafted dictionary streams match the reference decoder (live when node is available)") {
    assume(BrotliSpec.nodeOnPath, "node not on PATH")
    // All 121 transforms at a spread of lengths/indexes, decoded by
    // Node's bundled brotli: the embedded transform table and ferment
    // rule must be byte-exact vs the reference decoder.
    import graft.operators.BrotliDict
    // Empty-expansion combos (omit-k >= word length, no affixes) are
    // excluded: their copy command never executes — MLEN is reached by
    // the literal alone — so the unused distance bits become nonzero
    // trailing padding that the strict reference decoder rejects
    // (PADDING_2), and there is no dictionary output to verify anyway.
    val combos = (for {
      tid <- 0 until BrotliDict.NumTransforms
      len <- Seq(4, 5, 7, 10, 13, 16, 20, 24)
      widx <- Seq(0, (1 << BrotliDict.NdBits(len - 4)) - 1)
    } yield (tid, len, widx))
      .filter { case (tid, len, widx) => BrotliDict.transformed(len, widx, tid).nonEmpty }
    val dir = java.nio.file.Paths.get(Fixtures.scratchDir("brotli_dict_oracle"))
    for (((tid, len, widx), i) <- combos.zipWithIndex)
      java.nio.file.Files.write(dir.resolve(s"$i.br"), Brotli.craftDictReference(len, widx, tid))
    val script =
      """const z = require('zlib'), fs = require('fs');
        |const dir = process.argv[2], n = parseInt(process.argv[3]);
        |for (let i = 0; i < n; i++) {
        |  const out = z.brotliDecompressSync(fs.readFileSync(dir + '/' + i + '.br'));
        |  fs.writeFileSync(dir + '/' + i + '.out', out);
        |}""".stripMargin
    java.nio.file.Files.write(dir.resolve("dec.js"), script.getBytes(UTF_8))
    val rc = new ProcessBuilder("node", dir.resolve("dec.js").toString,
      dir.toString, combos.size.toString).inheritIO().start().waitFor()
    assert(rc == 0, "node decode failed on a crafted dictionary stream")
    for (((tid, len, widx), i) <- combos.zipWithIndex) {
      val ref = java.nio.file.Files.readAllBytes(dir.resolve(s"$i.out"))
      val ours = Brotli.decode(Brotli.craftDictReference(len, widx, tid))
      assert(java.util.Arrays.equals(ref, ours), s"tid=$tid len=$len widx=$widx")
    }
  }

  test("stored encoder round-trips with the closed-form size") {
    for (n <- Seq(0, 1, 100, 65535, 65536, 65537, 200000)) {
      val raw = Array.tabulate(n)(i => (i * 31 + 7).toByte)
      val enc = Brotli.encodeStored(raw)
      val want = 3 * ((n + 65535) / 65536) + n + 1
      assert(enc.length == want, s"n=$n: ${enc.length} != $want")
      assert(java.util.Arrays.equals(Brotli.decode(enc), raw), s"n=$n round trip")
    }
  }

  test("encodeWithDictWord round-trips through a real dictionary reference") {
    val html = graft.operators.WebArchive.synthesizeHtml(7, "hello world " * 50)
    val raw = html.getBytes(UTF_8)
    val enc = Brotli.encodeWithDictWord(raw)
    // the 24-byte `<script type="text/javas` span costs a handful of
    // bits as a dictionary reference instead of 24 stored bytes
    assert(enc.length < Brotli.encodeStored(raw).length)
    assert(java.util.Arrays.equals(Brotli.decode(enc), raw))
    // no dictionary word present -> plain stored fallback
    val noword = "plain text body".getBytes(UTF_8)
    assert(java.util.Arrays.equals(Brotli.encodeWithDictWord(noword), Brotli.encodeStored(noword)))
    if (BrotliSpec.nodeOnPath) {
      val dir = java.nio.file.Paths.get(Fixtures.scratchDir("brotli_dictword"))
      java.nio.file.Files.write(dir.resolve("s.br"), enc)
      val script =
        """const z = require('zlib'), fs = require('fs');
          |fs.writeFileSync(process.argv[2] + '/s.out',
          |  z.brotliDecompressSync(fs.readFileSync(process.argv[2] + '/s.br')));""".stripMargin
      java.nio.file.Files.write(dir.resolve("dec.js"), script.getBytes(UTF_8))
      val rc = new ProcessBuilder("node", dir.resolve("dec.js").toString, dir.toString)
        .inheritIO().start().waitFor()
      assert(rc == 0, "node failed to decode the dictionary-word stream")
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(dir.resolve("s.out")), raw))
    }
  }

  test("probe streams decode to the context ids of our own tables") {
    // BrotliCtxExtract's crafted streams (the ones the reference
    // decoder derived BrotliContext from — node-validated when the
    // tables were extracted): our decoder replays them and must emit
    // exactly the context ids our embedded tables produce, pinning the
    // whole context plumbing (identity map, 64 trees, modes) without
    // an external decoder.
    for ((mode, name) <- Seq((0, "lsb6"), (2, "utf8"), (3, "signed"))) {
      val out = Brotli.decode(BrotliCtxExtract.buildProbeStream(mode))
      assert(out.length == 512 + 1533, s"$name length")
      for (b <- 0 until 256) {
        assert((out(2 * b) & 0xff) == b && out(2 * b + 1) == 0, s"$name pattern $b")
      }
      def ctx(p1: Int, p2: Int): Int = mode match {
        case 0 => p1 & 0x3f
        case 2 => graft.operators.BrotliContext.lut0(p1) | graft.operators.BrotliContext.lut1(p2)
        case _ => (graft.operators.BrotliContext.lut2(p1) << 3) | graft.operators.BrotliContext.lut2(p2)
      }
      for (j <- 0 until 511) {
        val (p2, p1) = if (j % 2 == 0) (j / 2, 0) else (0, j / 2 + 1)
        assert((out(512 + 2 + 3 * j) & 0xff) == ctx(p1, p2), s"$name probe $j")
      }
    }
  }

  test("truncations and garbage fail loudly") {
    intercept[IllegalArgumentException](Brotli.decode(Array[Byte]()))
    intercept[IllegalArgumentException](Brotli.decode(t1q1.take(10)))
    // oversized-output guard
    intercept[IllegalArgumentException](Brotli.decode(t2q1, maxOut = 16))
  }

  // ---- full compressor (round 18) ----------------------------------------

  private def encCorpora: Seq[(String, Array[Byte])] = Seq(
    ("text", (t1 + t2).getBytes(UTF_8)),
    ("entropy", t3),
    ("runs", ("ab" * 4000).getBytes(UTF_8)),
    ("same", Array.fill(10000)('z'.toByte)),
    ("tiny", "x".getBytes(UTF_8)),
    ("empty", Array.emptyByteArray),
    ("short", "abcd".getBytes(UTF_8)),
    ("html", graft.operators.WebArchive.synthesizeHtml(7,
      "crawl body with <script type=\"text/javascript\"> spans " * 30).getBytes(UTF_8)),
    ("mixed", Array.tabulate(30000)(i =>
      if ((i / 100) % 3 == 0) ('a' + i % 7).toByte
      else ((i * 2654435761L >>> 11) & 0xff).toByte)))

  test("full compressor round-trips through our own decoder") {
    for ((name, raw) <- encCorpora) {
      val enc = Brotli.encode(raw)
      assert(java.util.Arrays.equals(Brotli.decode(enc), raw), name)
    }
  }

  test("full compressor: multi-meta-block segmentation (> 16 MiB)") {
    val big = new Array[Byte](20 * 1024 * 1024)
    val unit = (t2 + t1).getBytes(UTF_8)
    var off = 0
    while (off < big.length) {
      val n = math.min(unit.length, big.length - off)
      System.arraycopy(unit, 0, big, off, n); off += n
    }
    val enc = Brotli.encode(big)
    assert(enc.length < big.length / 20, s"repetitive 20 MiB should crush (got ${enc.length})")
    assert(java.util.Arrays.equals(Brotli.decode(enc, maxOut = big.length + 16), big))
  }

  test("full compressor output decodes with the reference decoder (live when node is available)") {
    assume(BrotliSpec.nodeOnPath, "node not on PATH")
    val dir = java.nio.file.Paths.get(Fixtures.scratchDir("brotli_enc"))
    val names = encCorpora.map(_._1)
    for ((name, raw) <- encCorpora)
      java.nio.file.Files.write(dir.resolve(s"$name.br"), Brotli.encode(raw))
    val script =
      """const z = require('zlib'), fs = require('fs');
        |const dir = process.argv[2];
        |for (const name of process.argv.slice(3)) {
        |  const c = fs.readFileSync(dir + '/' + name + '.br');
        |  fs.writeFileSync(dir + '/' + name + '.out', z.brotliDecompressSync(c));
        |}""".stripMargin
    java.nio.file.Files.write(dir.resolve("dec.js"), script.getBytes(UTF_8))
    val rc = new ProcessBuilder(
      (Seq("node", dir.resolve("dec.js").toString, dir.toString) ++ names): _*)
      .inheritIO().start().waitFor()
    assert(rc == 0, "reference decoder rejected our compressor's output")
    for ((name, raw) <- encCorpora) {
      val out = java.nio.file.Files.readAllBytes(dir.resolve(s"$name.out"))
      assert(java.util.Arrays.equals(out, raw), s"$name content via reference decoder")
    }
  }

  test("full compressor ratio within 1.4x of the reference encoder at q5 (live when node)") {
    assume(BrotliSpec.nodeOnPath, "node not on PATH")
    val dir = java.nio.file.Paths.get(Fixtures.scratchDir("brotli_ratio"))
    val corpora = Seq(
      ("text", (t1 + t2 + t1 + t2).getBytes(UTF_8)),
      ("runs", ("ab" * 4000).getBytes(UTF_8)),
      ("html", graft.operators.WebArchive.synthesizeHtml(7,
        "crawl body with repeated spans of boilerplate " * 60).getBytes(UTF_8)))
    for ((name, raw) <- corpora)
      java.nio.file.Files.write(dir.resolve(s"$name.raw"), raw)
    val script =
      """const z = require('zlib'), fs = require('fs');
        |const dir = process.argv[2];
        |for (const name of process.argv.slice(3)) {
        |  const raw = fs.readFileSync(dir + '/' + name + '.raw');
        |  const c = z.brotliCompressSync(raw, {params: {[z.constants.BROTLI_PARAM_QUALITY]: 5}});
        |  fs.writeFileSync(dir + '/' + name + '.q5', c);
        |}""".stripMargin
    java.nio.file.Files.write(dir.resolve("gen.js"), script.getBytes(UTF_8))
    val rc = new ProcessBuilder(
      (Seq("node", dir.resolve("gen.js").toString, dir.toString) ++ corpora.map(_._1)): _*)
      .inheritIO().start().waitFor()
    assert(rc == 0)
    for ((name, raw) <- corpora) {
      val ours = Brotli.encode(raw).length
      val ref = java.nio.file.Files.readAllBytes(dir.resolve(s"$name.q5")).length
      info(f"$name%-6s ours $ours%6d  ref-q5 $ref%6d  ratio ${ours.toDouble / ref}%.3f")
      assert(ours <= ref * 1.4 + 64,
        s"$name: ours $ours vs reference q5 $ref exceeds the 1.4x bound")
      assert(ours < raw.length, s"$name: compressor failed to compress")
    }
  }

  test("reference encoder sweep (live when node is available)") {
    assume(BrotliSpec.nodeOnPath, "node not on PATH; embedded fixtures above still cover the pins")
    val dir = java.nio.file.Paths.get(Fixtures.scratchDir("brotli_sweep"))
    val raws = Seq(
      ("text", t2.getBytes(UTF_8)),
      ("entropy", t3),
      ("runs", ("ab" * 4000).getBytes(UTF_8)))
    for ((name, raw) <- raws)
      java.nio.file.Files.write(dir.resolve(s"$name.raw"), raw)
    val script =
      """const z = require('zlib'), fs = require('fs');
        |const dir = process.argv[2];
        |for (const name of ['text', 'entropy', 'runs']) {
        |  const raw = fs.readFileSync(dir + '/' + name + '.raw');
        |  for (const q of [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11]) {
        |    const c = z.brotliCompressSync(raw, {params: {[z.constants.BROTLI_PARAM_QUALITY]: q}});
        |    fs.writeFileSync(dir + '/' + name + '_q' + q + '.br', c);
        |  }
        |}""".stripMargin
    java.nio.file.Files.write(dir.resolve("gen.js"), script.getBytes(UTF_8))
    val rc = new ProcessBuilder("node", dir.resolve("gen.js").toString, dir.toString)
      .inheritIO().start().waitFor()
    assert(rc == 0, "node fixture generation failed")
    // With the static dictionary shipped (round 17), EVERY stream the
    // reference encoder emits at any quality must decode byte-exactly —
    // no fenced subset remains.
    for ((name, raw) <- raws; q <- 0 to 11) {
      val br = java.nio.file.Files.readAllBytes(dir.resolve(s"${name}_q$q.br"))
      assert(java.util.Arrays.equals(Brotli.decode(br), raw), s"$name q$q content")
    }
    info("sweep: 36/36 matched (dictionary references included)")
  }
}

object BrotliSpec {

  def nodeOnPath: Boolean = new java.io.File("/usr/bin/node").exists() ||
    sys.env.getOrElse("PATH", "").split(':').exists(p => new java.io.File(p, "node").exists())

  /** Like [[Brotli.craftDictReference]] but with no validity checks, so
    * the spec can address out-of-range transform ids and pin the
    * decoder's structural guard. */
  def craftRawDictStream(len: Int, wordIdx: Int, tid: Int, mlen: Int): Array[Byte] = {
    val CopyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
    val CopyBase = {
      val b = new Array[Int](24); b(0) = 2
      for (i <- 1 until 24) b(i) = b(i - 1) + (1 << CopyExtra(i - 1))
      b
    }
    val nb = graft.operators.BrotliDict.NdBits(len - 4)
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Int, n: Int): Unit = { var i = 0; while (i < n) { bits += (v >> i) & 1; i += 1 } }
    val wordId = (tid << nb) | wordIdx
    val d = wordId + 2
    val v = d + 3
    val ndistbits = 31 - Integer.numberOfLeadingZeros(v) - 1
    val hbit = (v >> ndistbits) & 1
    val dextra = v - ((2 + hbit) << ndistbits)
    val dsym = 16 + 2 * (ndistbits - 1) + hbit
    val cc = (0 until 24).find(c =>
      CopyBase(c) <= len && len - CopyBase(c) < (1 << CopyExtra(c))).get
    val cell = (cc >> 3) match { case 0 => 2; case 1 => 3; case _ => 6 }
    val cmd = (cell << 6) | (1 << 3) | (cc & 7)
    put(0, 1); put(1, 1); put(0, 1); put(0, 2); put(mlen - 1, 16)
    put(0, 1); put(0, 1); put(0, 1)
    put(0, 2); put(0, 4); put(0, 2); put(0, 1); put(0, 1)
    put(1, 2); put(0, 2); put('A'.toInt, 8)
    put(1, 2); put(0, 2); put(cmd, 10)
    put(1, 2); put(0, 2); put(dsym, 6)
    put(len - CopyBase(cc), CopyExtra(cc))
    put(dextra, ndistbits)
    val out = new Array[Byte]((bits.length + 7) / 8)
    for (i <- bits.indices if bits(i) != 0)
      out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
    out
  }
}
