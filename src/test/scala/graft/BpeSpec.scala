package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe
import graft.operators.Bpe.Merge

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("applyMerge: left-to-right single pass, repeated to fixpoint") {
    assert(Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
    // alternating occurrences need the fixpoint (single replace-style
    // pass would leave the middle pair)
    assert(Bpe.applyMerge(Array("b", "a", "n", "a", "n", "a", "</w>"), "a", "n").toSeq ==
      Seq("b", "an", "an", "a", "</w>"))
    assert(Bpe.applyMerge(Array("x", "y"), "p", "q").toSeq == Seq("x", "y"))
    assert(Bpe.initSymbols("ab").toSeq == Seq("a", "b", "</w>"))
  }

  test("train learns the classic low/lower/newest merges with deterministic ties") {
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lower"),
      (3L, "newest")).toDF("doc_id", "text")
    val ms = Bpe.train(docs, "text", k = 3)
    // round 1: (l,o) and (o,w) tie at 5; 'l o' < 'o w' lexicographically
    assert(ms == Seq(Merge(0, "l", "o"), Merge(1, "lo", "w"), Merge(2, "low", "</w>")))
  }

  test("encodeWord applies merges in rank order") {
    val ms = Seq(Merge(0, "l", "o"), Merge(1, "lo", "w"), Merge(2, "low", "</w>"))
    assert(Bpe.encodeWord("low", ms).toSeq == Seq("low</w>")) // fully merged incl. </w>
    assert(Bpe.encodeWord("lowest", ms).toSeq == Seq("low", "e", "s", "t", "</w>"))
    assert(Bpe.encodeWord("zz", ms).toSeq == Seq("z", "z", "</w>"))
  }

  test("tokenCounts: per-doc counts under a merge list; empty text counts zero") {
    val ms = Seq(Merge(0, "l", "o"), Merge(1, "lo", "w"), Merge(2, "low", "</w>"))
    val docs = Seq(
      (1L, "low lowest"),
      (2L, ""),
      (3L, "LOW")) // lowercased before encoding
      .toDF("doc_id", "text")
    val out = Bpe.tokenCounts(docs, "doc_id", "text", ms).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 6L), (2L, 0L), (3L, 1L)))
  }

  test("trainBatched == train on the classic corpus at every batch size") {
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lower"),
      (3L, "newest")).toDF("doc_id", "text")
    val seq = Bpe.train(docs, "text", k = 5)
    for (b <- Seq(1, 2, 3, 8)) {
      assert(Bpe.trainBatched(docs, "text", k = 5, batch = b) == seq,
        s"batched(batch=$b) diverged from sequential")
    }
  }

  test("trainBatched stops the batch on overlapping candidates (chain case)") {
    // 'aaaa...' words make every top candidate share symbols: round 1
    // candidates are (a,a) then pairs involving the new 'aa' symbol —
    // the safe prefix must be size 1 each round, batched must still
    // equal sequential exactly
    val docs = Seq(
      (1L, "aaaaaa aaaaaa aaaa"),
      (2L, "aaaa aa")).toDF("doc_id", "text")
    val seq = Bpe.train(docs, "text", k = 4)
    assert(Bpe.trainBatched(docs, "text", k = 4, batch = 4) == seq)
  }

  test("trainBatched == train on a mixed-frequency corpus where created pairs matter") {
    // 'th' merges create ('th','e') pairs with high counts — the
    // triple bound must keep any candidate the creation could outrank
    // out of the batch
    val docs = Seq(
      (1L, "the the the the then then there is is is in in on"),
      (2L, "the then there these those them is in on at it"),
      (3L, "is it at on in the")).toDF("doc_id", "text")
    val seq = Bpe.train(docs, "text", k = 8, localBound = 0)
    for (b <- Seq(2, 4, 8)) {
      assert(Bpe.trainBatched(docs, "text", k = 8, batch = b,
        localBound = 0) == seq,
        s"batched(batch=$b) diverged from sequential")
      // driver-local dispatch: same merges (r20)
      assert(Bpe.trainBatched(docs, "text", k = 8, batch = b) == seq,
        s"local batched(batch=$b) diverged from distributed sequential")
    }
  }

  test("pairDelta: -f old adjacencies, +f new, zero-sum keys dropped") {
    val d = Bpe.pairDelta(
      Array("l", "o", "w", "</w>"), Array("lo", "w", "</w>"), 3L)
      .map { case (l, r, n) => ((l, r), n) }.toMap
    // ("w","</w>") is unchanged -> dropped; ("l","o")/("o","w") leave,
    // ("lo","w") arrives
    assert(d == Map(("l", "o") -> -3L, ("o", "w") -> -3L, ("lo", "w") -> 3L))
    assert(Bpe.pairDelta(Array("a", "b"), Array("a", "b"), 5L).isEmpty)
  }

  test("trainIncremental == train on the classic corpus at every batch size") {
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lower"),
      (3L, "newest")).toDF("doc_id", "text")
    val seq = Bpe.train(docs, "text", k = 5)
    for (b <- Seq(1, 2, 3, 8)) {
      assert(Bpe.trainIncremental(docs, "text", k = 5, batch = b) == seq,
        s"incremental(batch=$b) diverged from sequential")
    }
  }

  test("trainIncremental == train on the adversarial corpora (chain + created pairs)") {
    val chain = Seq(
      (1L, "aaaaaa aaaaaa aaaa"),
      (2L, "aaaa aa")).toDF("doc_id", "text")
    assert(Bpe.trainIncremental(chain, "text", k = 4, batch = 4) ==
      Bpe.train(chain, "text", k = 4))
    val mixed = Seq(
      (1L, "the the the the then then there is is is in in on"),
      (2L, "the then there these those them is in on at it"),
      (3L, "is it at on in the")).toDF("doc_id", "text")
    val seq = Bpe.train(mixed, "text", k = 8)
    for (b <- Seq(2, 4, 8)) {
      assert(Bpe.trainIncremental(mixed, "text", k = 8, batch = b) == seq,
        s"incremental(batch=$b) diverged from sequential")
    }
  }

  test("trainIncremental == train on a pseudo-random corpus, deep k") {
    // deterministic LCG corpus (no fixture dependency): 60 "words"
    // over a 4-letter alphabet with skewed repetition so merges both
    // create pairs and drain old ones across many rounds
    var st = 12345L
    def nextInt(n: Int): Int = {
      st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33) % n).toInt + n) % n
    }
    val letters = "abcd"
    val words = (0 until 60).map { _ =>
      val len = 1 + nextInt(6)
      (0 until len).map(_ => letters(nextInt(4))).mkString
    }
    val docs = words.grouped(12).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    // DISTRIBUTED rounds pinned (localBound = 0): the incremental
    // delta maintenance and batched safe-prefix machinery must keep
    // coverage now that small word tables dispatch to the driver
    val seq = Bpe.train(docs, "text", k = 20, localBound = 0)
    assert(Bpe.trainIncremental(docs, "text", k = 20, batch = 6,
      localBound = 0) == seq)
    assert(Bpe.trainBatched(docs, "text", k = 20, batch = 6,
      localBound = 0) == seq)
    // and the driver-local dispatch must be bit-identical to them (r20)
    assert(Bpe.train(docs, "text", k = 20) == seq)
    assert(Bpe.trainIncremental(docs, "text", k = 20, batch = 6) == seq)
    assert(Bpe.trainBatched(docs, "text", k = 20, batch = 6) == seq)
  }

  test("driver-local dispatch == distributed rounds where UTF-8 and UTF-16 order disagree") {
    // after (b, </w>), the U+1F600 and U+FF41 pairs tie at count 3.
    // Spark orders strings by UTF-8 bytes (EF.. < F0..), so the U+FF41
    // pair wins; UTF-16 code units (D83D < FF41) would pick U+1F600.
    // Combining-mark and CJK words drain through the later rounds.
    val docs = Seq(
      (1L, "\uD83D\uDE00b \uFF41b caf\u00E9 \u6771\u4EAC \uD83D\uDE00b"),
      (2L, "\uFF41b cafe\u0301 \u4EAC\u6771 \uFF41b \uD83D\uDE00b")).toDF("doc_id", "text")
    val dist = Bpe.train(docs, "text", k = 10, localBound = 0)
    assert(dist.take(3) == Seq(Merge(0, "b", "</w>"),
      Merge(1, "\uFF41", "b</w>"), Merge(2, "\uD83D\uDE00", "b</w>")))
    assert(Bpe.train(docs, "text", k = 10) == dist)
    assert(Bpe.trainIncremental(docs, "text", k = 10, batch = 3) == dist)
    assert(Bpe.trainBatched(docs, "text", k = 10, batch = 3) == dist)
  }

  test("train+encode round-trip on a corpus slice agrees with direct word-table math") {
    val docs = Seq(
      (1L, "spark spark spark row row table"),
      (2L, "spark table row")).toDF("doc_id", "text")
    val ms = Bpe.train(docs, "text", k = 2)
    // freqs: spark:4 row:3 table:2 -> round-1 max count is 4, a
    // five-way tie among spark's pairs; 'a r' is lexicographically
    // least, so the deterministic tie-break picks it
    assert(ms.head == Merge(0, "a", "r"))
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", ms)
      .agg(sum("n_tokens")).as[Long].head()
    val direct = Seq("spark" -> 4, "row" -> 3, "table" -> 2).map { case (w, f) =>
      Bpe.encodeWord(w, ms).length.toLong * f
    }.sum
    assert(counts == direct)
  }

  test("bytes->unicode table: bijective, printable identity, pinned non-printables") {
    val t = Bpe.byteToUnicode
    assert(t.length === 256)
    assert(t.distinct.length === 256, "table must be a bijection")
    // printable ranges map to themselves (as Latin-1 code points)
    (Seq(33, 126, 161, 172, 174, 255) ++ ('a' to 'z').map(_.toInt))
      .foreach(b => assert(t(b) === b.toChar.toString, s"byte $b"))
    // non-printables walk 256+n in ascending byte order (GPT-2 spec)
    assert(t(0) === 256.toChar.toString)
    assert(t(32) === 288.toChar.toString)   // space is the 33rd
    assert(t(127) === 289.toChar.toString)  // DEL starts the next run
    assert(t(160) === 322.toChar.toString)
    assert(t(173) === 323.toChar.toString)  // soft hyphen, the last
  }

  test("initByteSymbols: UTF-8 decomposition through the table, ASCII identity") {
    // pure printable ASCII: byte symbols == char symbols
    assert(Bpe.initByteSymbols("low").toSeq === Bpe.initSymbols("low").toSeq)
    // 'é' U+00E9 -> 0xC3 0xA9, both printable -> Latin-1 identity chars
    assert(Bpe.initByteSymbols("é").toSeq ===
      Seq(0xC3.toChar.toString, 0xA9.toChar.toString, "</w>"))
    // 'א' U+05D0 -> 0xD7 0x90; 0x90 = 144 is non-printable -> chr(306)
    assert(Bpe.initByteSymbols("א").toSeq ===
      Seq(0xD7.toChar.toString, 306.toChar.toString, "</w>"))
  }

  test("byte-level training: ASCII parity with char-level, multi-byte merge learning") {
    val docs = (Seq.fill(6)("low") ++ Seq.fill(4)("lower") ++
      Seq.fill(5)("newest") ++ Seq.fill(3)("widest"))
      .map(Tuple1(_)).toDF("text")
    // parity on pure-ASCII: identical merges at every rank
    val charMs = Bpe.train(docs, "text", k = 5)
    val byteMs = Bpe.train(docs, "text", k = 5, init = Bpe.initByteSymbols)
    assert(charMs === byteMs)
    // a multi-byte word's byte pairs are learnable merge targets
    val heb = Seq.fill(9)("אב").map(Tuple1(_)).toDF("text")
    val ms = Bpe.trainIncremental(heb, "text", k = 2, batch = 2,
      init = Bpe.initByteSymbols)
    val enc = Bpe.encodeWord("אב", ms, Bpe.initByteSymbols)
    // 4 bytes + </w> = 5 symbols collapse under 2 merges to 3
    assert(enc.length === 3, enc.mkString("|"))
  }

  test("gpt2Split: hand-pinned GPT-2 pre-tokenization incl. the lookahead") {
    def toks(s: String) = Bpe.gpt2Split(s).toSeq
    // the canonical cases: space joins the FOLLOWING token
    assert(toks("Hello world") === Seq("Hello", " world"))
    assert(toks("isn't it's") === Seq("isn", "'t", " it", "'s"))
    assert(toks("abc123 45") === Seq("abc", "123", " 45"))
    assert(toks("x, y!") === Seq("x", ",", " y", "!"))
    // (?!\S): a multi-space run donates its LAST space to the next
    // token; the rest is its own token
    assert(toks("Hello  world") === Seq("Hello", " ", " world"))
    assert(toks("a\n\n b") === Seq("a", "\n\n", " b"))
    // trailing whitespace is one token
    assert(toks("Hello world  ") === Seq("Hello", " world", "  "))
    // tiling: every char lands in exactly one token
    for (s <- Seq("Hello  world", "a\n\n b", "x,  y! 12", " lead", "é ж 漢"))
      assert(toks(s).mkString === s, s"tiling broke on '$s'")
    assert(toks("") === Seq.empty)
    assert(toks(null) === Seq.empty)
  }

  test("gpt2 RE2 pattern == Java pattern on whitespace-normalized text") {
    // the oracle's theorem: with no whitespace run of length >= 2 the
    // lookahead-free RE2 form is exact. Checked on the planted gate
    // corpus shape (Hebrew + punctuation + numbers), normalized.
    val re2 = java.util.regex.Pattern.compile(Bpe.Gpt2PretokPatternRe2)
    def toksRe2(s: String) = {
      val m = re2.matcher(s)
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    val raw = Seq("Hello,  world! 12  ", "isn't\tthe  END", "אבג אבג 7even",
      "a  b   c", "", "  x")
    for (s <- raw) {
      val norm = s.replaceAll("\\s+", " ").trim
      assert(Bpe.gpt2Split(norm).toSeq === toksRe2(norm), s"diverged on '$norm'")
    }
    // and NOT on raw multi-space text (the normalization is load-bearing)
    assert(Bpe.gpt2Split("a  b").toSeq !== toksRe2("a  b"))
  }

  test("gpt2PreTokens column == gpt2Split row-local; initGpt2Symbols has no terminal") {
    val docs = Seq((0L, "Hello, world! It's 42"), (1L, "abc ABC אב"), (2L, ""))
      .toDF("doc_id", "text")
    val viaCol = docs.select(col("doc_id"), Bpe.gpt2PreTokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for ((id, txt) <- Seq(0L -> "Hello, world! It's 42", 1L -> "abc ABC אב", 2L -> ""))
      assert(viaCol(id) === Bpe.gpt2Split(txt).toSeq, s"doc $id")
    // no </w>: " He" → Ġ He bytes, exactly 3 symbols
    assert(Bpe.initGpt2Symbols(" He").toSeq ===
      Seq(Bpe.byteToUnicode(32), "H", "e"))
    // case and the space symbol are distinct model symbols
    assert(Bpe.initGpt2Symbols("A").toSeq !== Bpe.initGpt2Symbols("a").toSeq)
  }

  test("gpt2 trainIncremental merges differ from lowercase-</w> training and encode counts") {
    val docs = Seq.tabulate(8)(i =>
      (i.toLong, "the cat The cat THE dog the cat")).toDF("doc_id", "text")
    val gp = Bpe.trainIncremental(docs, "text", k = 4, batch = 4,
      init = Bpe.initGpt2Symbols, tok = Bpe.gpt2PreTokens)
    assert(gp.size === 4 && gp.map(_.rank) === Seq(0, 1, 2, 3))
    // GPT-2 symbols: no merge ever contains </w>; space rides as Ġ
    val g32 = Bpe.byteToUnicode(32)
    assert(gp.forall(m => !m.left.contains("</w>") && !m.right.contains("</w>")))
    assert(gp.exists(m => m.left.startsWith(g32) || m.left == g32 ||
      m.right.startsWith(g32)), gp.mkString(", "))
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", gp,
      Bpe.initGpt2Symbols, pretok = Bpe.gpt2Split)
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(counts.length === 8 && counts.distinct.length === 1)
    // sanity: merges shrink the encoding vs raw byte symbols
    val raw = Bpe.gpt2Split("the cat The cat THE dog the cat")
      .map(w => Bpe.initGpt2Symbols(w).length).sum
    assert(counts.head < raw)
  }
  test("cl100k pretok: number chunking, case-insensitive contractions, lookahead/RE2 theorem") {
    def split(pat: String, text: String): Seq[String] = {
      val m = java.util.regex.Pattern.compile(pat).matcher(text)
      val out = Seq.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }
    // signature divergences from GPT-2
    assert(split(Bpe.Cl100kPretokPattern, "1234567") == Seq("123", "456", "7"))
    assert(split(Bpe.Gpt2PretokPattern, "1234567") == Seq("1234567"))
    assert(split(Bpe.Cl100kPretokPattern, "It'S fine") == Seq("It", "'S", " fine"))
    assert(split(Bpe.Gpt2PretokPattern, "It'S fine") == Seq("It", "'", "S", " fine"))
    // matches tile the input exactly
    val sample = "Hello world! It's 2026: pack 12345 boxes, 'tis fine."
    assert(split(Bpe.Cl100kPretokPattern, sample).mkString == sample)
    // lookahead form == RE2 form on whitespace-normalized text
    val norm = sample.replaceAll("\\s+", " ").trim
    assert(split(Bpe.Cl100kPretokPattern, norm) == split(Bpe.Cl100kPretokPatternRe2, norm))
    // and they genuinely diverge on a multi-space run (the theorem's premise)
    assert(split(Bpe.Cl100kPretokPattern, "a  b") != split(Bpe.Cl100kPretokPatternRe2, "a  b"))
  }
}