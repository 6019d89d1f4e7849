package graft

import graft.operators.WordPiece
import graft.operators.WordPiece.Merge

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  test("initSymbols: first char plain, rest ##-prefixed; no terminal marker") {
    assert(WordPiece.initSymbols("abc").toSeq == Seq("a", "##b", "##c"))
    assert(WordPiece.initSymbols("a").toSeq == Seq("a"))
  }

  test("applyMerge strips the right side's continuation prefix") {
    assert(WordPiece.applyMerge(Array("a", "##b", "##c"), "a", "##b").toSeq ==
      Seq("ab", "##c"))
    assert(WordPiece.applyMerge(Array("a", "##b", "##c"), "##b", "##c").toSeq ==
      Seq("a", "##bc"))
    // fixpoint on repeats: 'x ##x ##x' merging (x, ##x) -> 'xx ##x'
    // (first pass) -> no further (xx != x)
    assert(WordPiece.applyMerge(Array("x", "##x", "##x"), "x", "##x").toSeq ==
      Seq("xx", "##x"))
    assert(Merge(0, "th", "##e").merged == "the")
    assert(Merge(0, "##t", "##h").merged == "##th")
  }

  test("train maximizes cnt(pair)/(cnt(l)*cnt(r)) — not raw pair count") {
    // 'aa' x10: pair (a,##a) cnt=10, syms a=10, ##a=10 -> score 0.1
    // 'bc' x4:  pair (b,##c) cnt=4,  syms b=4,  ##c=4  -> score 0.25
    // BPE's count argmax would pick (a,##a); WordPiece must pick (b,##c).
    val docs = Seq(
      (1L, Seq.fill(10)("aa").mkString(" ")),
      (2L, Seq.fill(4)("bc").mkString(" "))).toDF("doc_id", "text")
    val ms = WordPiece.train(docs, "text", k = 1)
    assert(ms == Seq(Merge(0, "b", "##c")))
  }

  test("score ties break by the pair's lexicographic form") {
    // 'ab' x2 and 'cd' x2: both score 2/(2*2); 'a ##b' < 'c ##d'
    val docs = Seq((1L, "ab ab cd cd")).toDF("doc_id", "text")
    val ms = WordPiece.train(docs, "text", k = 1)
    assert(ms == Seq(Merge(0, "a", "##b")))
  }

  test("trainWithCounts returns the winner's integer evidence") {
    val docs = Seq(
      (1L, Seq.fill(10)("aa").mkString(" ")),
      (2L, Seq.fill(4)("bc").mkString(" "))).toDF("doc_id", "text")
    val out = WordPiece.trainWithCounts(docs, "text", k = 1)
    assert(out == Seq((Merge(0, "b", "##c"), 4L, 4L, 4L)))
  }

  test("driver-local dispatch == distributed rounds (r20)") {
    // score ties and multi-round drain: the local mirror must pick the
    // same winners with the same integer evidence at every rank
    val docs = Seq(
      (1L, "the the the then there"),
      (2L, "this that then the at it"),
      (3L, "is it at on in the then")).toDF("doc_id", "text")
    val dist = WordPiece.trainWithCounts(docs, "text", k = 6, localBound = 0)
    val loc = WordPiece.trainWithCounts(docs, "text", k = 6)
    assert(loc == dist)
    assert(WordPiece.train(docs, "text", k = 6) ==
      WordPiece.train(docs, "text", k = 6, localBound = 0))
  }

  test("driver-local dispatch == distributed rounds where UTF-8 and UTF-16 order disagree") {
    // the U+1F600 and U+FF41 pairs score 1.0 alike; Spark orders the
    // tie by UTF-8 bytes (EF.. < F0..), UTF-16 code units the other
    // way (D83D < FF41). Combining-mark and CJK words tie with them.
    val docs = Seq(
      (1L, "\uD83D\uDE00x \uFF41y caf\u00E9 \u6771\u4EAC"),
      (2L, "cafe\u0301 \u4EAC\u90FD")).toDF("doc_id", "text")
    val dist = WordPiece.trainWithCounts(docs, "text", k = 8, localBound = 0)
    val lefts = dist.map(_._1.left)
    assert(lefts.contains("\uFF41") && lefts.contains("\uD83D\uDE00"), dist)
    assert(lefts.indexOf("\uFF41") < lefts.indexOf("\uD83D\uDE00"), dist)
    assert(WordPiece.trainWithCounts(docs, "text", k = 8) == dist)
  }

  test("encodeWord: greedy longest-match-first, whole-word [UNK] on any miss") {
    val v = Set("un", "##able", "u", "n", "a", "##b", "##l", "##e", "##a")
    assert(WordPiece.encodeWord("unable", v, 5).toSeq == Seq("un", "##able"))
    // greedy, NOT optimal: 'ab' matches at pos 0 (longest), leaving
    // '##c' unmatched -> the whole word is one [UNK] even though
    // 'a ##bc' would have covered it
    val v2 = Set("ab", "a", "##bc")
    assert(WordPiece.encodeWord("abc", v2, 2).toSeq == Seq("[UNK]"))
    assert(WordPiece.encodeWord("", v, 5).toSeq == Seq.empty)
    // continuation pieces never match at position 0
    assert(WordPiece.encodeWord("b", Set("##b"), 2).toSeq == Seq("[UNK]"))
  }

  test("vocab = sorted corpus alphabet + merged symbols in rank order") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val ms = WordPiece.train(docs, "text", k = 1)
    assert(ms == Seq(Merge(0, "a", "##b")))
    assert(WordPiece.vocab(docs, "text", ms) == Seq("##b", "a", "ab"))
  }

  test("tokenCounts: greedy per-doc counts with unk accounting") {
    val docs = Seq(
      (1L, "ab ab zq"), // 'ab' merged piece; 'zq' has no 'z' in vocab
      (2L, ""),
      (3L, "a")).toDF("doc_id", "text")
    val vocab = Seq("a", "##b", "ab")
    val out = WordPiece.tokenCounts(docs, "doc_id", "text", vocab, maxPieceLen = 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // doc 1: ab=1 tok, ab=1 tok, zq=[UNK]=1 tok (1 unk) -> 3 toks
    assert(out == Seq((1L, 3L, 1L), (2L, 0L, 0L), (3L, 1L, 0L)))
  }
}
