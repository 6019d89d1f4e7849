package graft

import graft.operators.Unigram
import graft.operators.Unigram.Piece

class UnigramSpec extends SparkSpec {
  import spark.implicits._

  // ---- Viterbi (the deterministic spec's core) ----

  test("viterbi: picks the higher-probability segmentation") {
    // "abc": pieces ab(6) c(2) vs a(2) bc(4): keys 12/T² vs 8/T² → ab|c
    val counts = Map("a" -> 2L, "b" -> 1L, "c" -> 2L, "ab" -> 6L, "bc" -> 4L)
    val total = counts.values.sum.toDouble
    assert(Unigram.viterbi("abc", counts, total, 4).toSeq == Seq("ab", "c"))
  }

  test("viterbi: exact key tie broken by lexicographic seg") {
    // "aba" with dyadic counts and T=16 so both fold orders are exact:
    // ab|a: ((1·4)/16 · 2)/16 = 0.03125; a|ba: ((1·2)/16 · 4)/16 =
    // 0.03125 — bit-equal keys, equal ntok → seg tie-break:
    // "a ba" < "ab a" (space sorts below 'b') → a|ba wins.
    val counts = Map("a" -> 2L, "b" -> 6L, "ab" -> 4L, "ba" -> 4L)
    val total = 16.0
    assert(Unigram.viterbi("aba", counts, total, 4).toSeq == Seq("a", "ba"))
  }

  test("viterbi: unknown single chars act as count-0 pieces (always segmentable)") {
    val counts = Map("a" -> 5L)
    val segs = Unigram.viterbi("axa", counts, 5.0, 4)
    assert(segs.toSeq == Seq("a", "x", "a"))
  }

  test("viterbi: zero-count char used only when nothing else covers") {
    // "ab" with ab(5) available and b(0): ab wins (key 5/T > 0)
    val counts = Map("a" -> 3L, "b" -> 0L, "ab" -> 5L)
    val total = 8.0
    assert(Unigram.viterbi("ab", counts, total, 4).toSeq == Seq("ab"))
  }

  // ---- training end-to-end on a tiny planted corpus ----

  test("trainOnce: counts are exact integers and rank by (count desc, piece asc)") {
    val docs = Seq(
      (1L, "abab abab cd"),
      (2L, "abab cd cd")).toDF("doc_id", "text")
    val vocab = Unigram.trainOnce(docs, "text",
      seedMultis = 8, vocabMultis = 4, emRounds = 2, maxPieceLen = 4)
    // ranked: counts non-increasing; within equal counts pieces ascending
    val ranked = vocab.map(p => (p.count, p.piece))
    assert(ranked == ranked.sortBy { case (c, p) => (-c, p) })
    // every single char of the corpus survives pruning
    val pieces = vocab.map(_.piece).toSet
    for (c <- Seq("a", "b", "c", "d")) assert(pieces.contains(c))
    // the dominant word "abab" yields a dominant multi-char piece
    assert(vocab.filter(_.piece.length > 1).exists(_.count > 0))
  }

  /** Trains `docs` once with the driver-local dispatch and once forced
    * distributed (`localBound = 0`); both must agree bit-for-bit. */
  private def assertLocalMatchesDistributed(docs: org.apache.spark.sql.DataFrame): Unit = {
    val dist = Unigram.trainOnce(docs, "text",
      seedMultis = 10, vocabMultis = 5, emRounds = 2, maxPieceLen = 4,
      localBound = 0)
    val loc = Unigram.trainOnce(docs, "text",
      seedMultis = 10, vocabMultis = 5, emRounds = 2, maxPieceLen = 4)
    assert(loc == dist)
    val distT = Unigram.train(docs, "text", vocabMultis = 3,
      seedMultis = 10, emRounds = 1, maxPieceLen = 4, pruneBy = "count",
      localBound = 0)
    val locT = Unigram.train(docs, "text", vocabMultis = 3,
      seedMultis = 10, emRounds = 1, maxPieceLen = 4, pruneBy = "count")
    assert(locT == distT)
  }

  test("driver-local dispatch == distributed trainOnce/train (r20)") {
    // mixed-frequency corpus with tie candidates: seeding order, EM
    // recounts and pruning must all agree bit-for-bit
    assertLocalMatchesDistributed(Seq(
      (1L, "abab abab cd dcba bacd"),
      (2L, "abab cd cd abba baba"),
      (3L, "dd dd cc bb aa abab")).toDF("doc_id", "text"))
  }

  test("driver-local dispatch == distributed on supplementary-plane characters") {
    // an emoji (U+1F600) and a CJK Extension B ideograph (U+20000) are
    // one code point but two UTF-16 units: Spark's substring/length
    // count them as one char, so the driver-local seeding must too
    val (emoji, cjk) = ("\uD83D\uDE00", "\uD840\uDC00")
    assertLocalMatchesDistributed(Seq(
      (1L, s"a${emoji}b a${emoji}b $cjk$cjk x$emoji"),
      (2L, s"a${emoji}b ${cjk}c ${cjk}c ab"),
      (3L, s"$emoji$emoji ${cjk}c ba")).toDF("doc_id", "text"))
  }

  test("trainOnce: maxWordLen excludes long words from training") {
    val docs = Seq(
      (1L, "aaaa aaaa aaaa " + "a" * 40)).toDF("doc_id", "text")
    val vocab = Unigram.trainOnce(docs, "text",
      seedMultis = 4, vocabMultis = 2, emRounds = 1, maxPieceLen = 2,
      maxWordLen = 16)
    // "aaaa" ×3 Viterbi-segments as aa|aa (key (9/21)² beats chars-only
    // (12/21)⁴ and mixed) → count 6. Had the 40-char word trained, both
    // the seed counts and the E-step would differ — count 6 pins its
    // exclusion.
    val aa = vocab.find(_.piece == "aa")
    assert(aa.nonEmpty && aa.get.count == 6L, vocab.toString)
  }

  // ---- likelihood-loss pruning (Kudo's criterion; driver-side) ----

  test("pruneLoss: redundant piece has lower loss than irreplaceable one despite higher count") {
    // vocab: chars x(50) y(50) z(2); multis xy(40), zz(10).
    // xy's alternative (x y) is cheap → small loss despite count 40.
    // zz's alternative (z z) is expensive (z is rare) → large loss at
    // count 10. Loss must rank zz above xy; count ranks them opposite.
    val chars = Map("x" -> 50L, "y" -> 50L, "z" -> 2L)
    val total = (chars.values.sum + 40L + 10L).toDouble
    val all = chars ++ Map("xy" -> 40L, "zz" -> 10L)
    val lossXy = Unigram.pruneLoss(Piece("xy", 40L), all - "xy", total, 4)
    val lossZz = Unigram.pruneLoss(Piece("zz", 10L), all - "zz", total, 4)
    assert(lossZz > lossXy,
      s"loss(zz)=$lossZz should exceed loss(xy)=$lossXy")
  }

  test("pruneLoss: zero-count piece has zero loss") {
    val all = Map("a" -> 5L, "aa" -> 0L)
    assert(Unigram.pruneLoss(Piece("aa", 0L), all - "aa", 5.0, 4) == 0.0)
  }

  test("train: loss pruning reaches the target and keeps all chars") {
    val docs = Seq(
      (1L, "stream stream stream window window table"),
      (2L, "stream window table stream")).toDF("doc_id", "text")
    val vocab = Unigram.train(docs, "text", vocabMultis = 6,
      seedMultis = 24, emRounds = 1, maxPieceLen = 4, pruneBy = "loss")
    assert(vocab.count(_.piece.length > 1) <= 6)
    val pieces = vocab.map(_.piece).toSet
    for (c <- "streamwindobl".map(_.toString)) assert(pieces.contains(c), c)
  }

  test("train: count pruning matches trainOnce when one cycle suffices") {
    val docs = Seq(
      (1L, "abab abab cd"),
      (2L, "abab cd cd")).toDF("doc_id", "text")
    // shrink 0.5 takes 8 multis → 4 in one prune, same as trainOnce
    val once = Unigram.trainOnce(docs, "text",
      seedMultis = 8, vocabMultis = 4, emRounds = 2, maxPieceLen = 4)
    val loop = Unigram.train(docs, "text", vocabMultis = 4,
      seedMultis = 8, emRounds = 2, maxPieceLen = 4, pruneBy = "count",
      shrink = 0.5)
    // one EM cycle + one prune in both paths → identical vocabularies
    assert(once == loop)
  }

  // ---- encoding ----

  test("tokenCounts: multi-char pieces compress vs chars-only") {
    val docs = Seq((1L, "stream stream stream")).toDF("doc_id", "text")
    val vocab = Seq(Piece("stream", 10L)) ++
      "stream".distinct.map(c => Piece(c.toString, 1L))
    val n = Unigram.tokenCounts(docs, "doc_id", "text", vocab, maxPieceLen = 6)
      .collect()(0).getInt(1)
    assert(n == 3, s"expected 3 whole-word tokens, got $n")
  }

  test("tokenCounts: empty and null text yield zero") {
    val docs = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val vocab = Seq(Piece("a", 1L))
    val rows = Unigram.tokenCounts(docs, "doc_id", "text", vocab, 4)
      .orderBy("doc_id").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 0))
  }
}
