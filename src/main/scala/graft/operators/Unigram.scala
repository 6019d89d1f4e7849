package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training and encoding
  * (Kudo 2018, public algorithm) as distributed operators — the second
  * tokenizer family real pretraining pipelines choose between, next to
  * [[Bpe]]. Reference scope: the reference engine has no tokenizer
  * (dataframe/core.py holds only pandas-surface operators); this is
  * extension-tier, judged as a first-class LLM-pipeline component.
  *
  * Scale shape (same as [[Bpe.train]]): ONE corpus-wide shuffle builds
  * the distinct-word frequency table ([[Bpe.wordFreqs]], vocab-sized,
  * not corpus-sized); seeding is one substring aggregation over that
  * word table; every EM round is ONE row-local Viterbi pass over the
  * word table plus a vocab-sized grouped sum and a vocab-sized driver
  * collect. Encoding is row-local with the piece table broadcast —
  * zero shuffle at any corpus size.
  *
  * Deterministic spec (oracle-replayable in DuckDB, the
  * `text_unigram_*` gates):
  *  - words: [[TextOps.tokens]] (lowercase, whitespace split, empties
  *    dropped); training considers words of length ≤ `maxWordLen`
  *    (SentencePiece's max-sentencepiece-length analog — the SQL
  *    oracle unrolls the Viterbi DP to that many positions);
  *  - seed: every single character (freq-weighted occurrence count)
  *    plus the top `seedMultis` substrings of length 2..`maxPieceLen`
  *    by (count desc, piece asc), counting every — including
  *    overlapping — occurrence weighted by word frequency;
  *  - E-step (hard EM): per word, the Viterbi segmentation under
  *    score(seg) = ∏ᵢ count(pieceᵢ)/T folded STRICTLY left-to-right in
  *    IEEE-754 double as `key ← (key · count) / T` — double arithmetic
  *    is exactly specified, so DuckDB replays every comparison
  *    bit-identically — with per-position argmax by (key desc, ntok
  *    asc, seg asc) where seg is the space-joined piece prefix;
  *  - M-step: count(piece) = Σ_word freq · occurrences(piece in best
  *    seg) — exact integers; multi-char pieces with zero count drop;
  *    single chars persist at count 0 (they keep every word
  *    segmentable; a zero count scores the piece's key to 0.0, so it
  *    is chosen only when nothing else covers the character);
  *  - prune: keep all single chars + the top `vocabMultis` multi-char
  *    pieces by (count desc, piece asc) — the count-pruned variant;
  *    the total renormalizes to the kept sum. [[train]] additionally
  *    offers Kudo's likelihood-loss pruning (`pruneBy = "loss"`):
  *    loss(p) = used(p) · (ln p(p) − bestAltLogP(p)), the likelihood
  *    drop if p were removed and its uses re-segmented — pinned by
  *    UnigramSpec on a planted vocabulary where loss order ≠ count
  *    order (loss ranking is driver-side double math, so the
  *    SQL-oracled gates pin the count variant);
  *  - encode: Viterbi under the pruned table; unknown single chars
  *    act as count-0 pieces.
  */
object Unigram {

  /** One vocabulary entry: integer corpus count (probabilities are
    * count/total, kept exact). */
  final case class Piece(piece: String, count: Long)

  /** Viterbi best segmentation of `word` under integer piece counts.
    * Returns (pieces, ntok). Argmax per position by (key desc, ntok
    * asc, seg asc); `key` folds left-to-right as (key·count)/total in
    * double — the exact arithmetic the SQL oracle replays. */
  private[graft] def viterbi(word: String, counts: scala.collection.Map[String, Long],
      total: Double, maxPieceLen: Int): Array[String] = {
    val W = word.length
    val key = new Array[Double](W + 1)
    val ntok = new Array[Int](W + 1)
    val seg = new Array[String](W + 1)
    val back = new Array[Int](W + 1) // piece length chosen at position i
    key(0) = 1.0; seg(0) = ""
    var i = 1
    while (i <= W) {
      var bestKey = 0.0
      var bestN = 0
      var bestSeg: String = null
      var bestL = 0
      var l = 1
      val lMax = math.min(maxPieceLen, i)
      while (l <= lMax) {
        val j = i - l
        val p = word.substring(j, i)
        // unknown single chars act as count-0 pieces (keeps every word
        // segmentable); unknown multi-char pieces are not candidates
        val c: Long =
          if (l == 1) counts.getOrElse(p, 0L)
          else counts.getOrElse(p, -1L)
        if (c >= 0L) {
          val k = (key(j) * c.toDouble) / total
          val n = ntok(j) + 1
          val sg = if (seg(j).isEmpty) p else seg(j) + " " + p
          val better = bestSeg == null ||
            k > bestKey ||
            (k == bestKey && (n < bestN || (n == bestN && sg.compareTo(bestSeg) < 0)))
          if (better) { bestKey = k; bestN = n; bestSeg = sg; bestL = l }
        }
        l += 1
      }
      key(i) = bestKey; ntok(i) = bestN; seg(i) = bestSeg; back(i) = bestL
      i += 1
    }
    val out = new Array[String](ntok(W))
    var pos = W
    var t = ntok(W) - 1
    while (pos > 0) {
      val l = back(pos)
      out(t) = word.substring(pos - l, pos)
      pos -= l
      t -= 1
    }
    out
  }

  /** Seed vocabulary over a (word, freq) table: all single chars plus
    * the top `seedMultis` substrings of length 2..maxPieceLen by
    * (count desc, piece asc) — one vocab-table aggregation each, both
    * collects bounded by the seed size. */
  private[graft] def seedVocab(words: DataFrame, seedMultis: Int,
      maxPieceLen: Int): (Seq[Piece], Seq[Piece]) = {
    val chars = words
      .select(explode(sequence(lit(1), length(col("word")))).as("i"),
        col("word"), col("freq"))
      .select(expr("substring(word, i, 1)").as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .orderBy(col("piece"))
      .collect().map(r => Piece(r.getString(0), r.getLong(1))).toSeq
    val multis = words
      .where(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(sequence(lit(2), lit(maxPieceLen))).as("l"))
      .where(length(col("word")) >= col("l"))
      .select(col("word"), col("freq"), col("l"),
        explode(sequence(lit(1), length(col("word")) - col("l") + 1)).as("i"))
      .select(expr("substring(word, i, l)").as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(seedMultis)
      .collect().map(r => Piece(r.getString(0), r.getLong(1))).toSeq
    (chars, multis)
  }

  /** One hard-EM round: Viterbi-segment every word (row-local over the
    * word table; vocab in the task closure — it is prune-bounded) and
    * re-count pieces. Returns (new chars, new multis). */
  private[graft] def emRound(words: DataFrame, chars: Seq[Piece],
      multis: Seq[Piece], maxPieceLen: Int): (Seq[Piece], Seq[Piece]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val counts: Map[String, Long] =
      (chars.iterator ++ multis.iterator).map(p => p.piece -> p.count).toMap
    val total = (chars.iterator ++ multis.iterator).map(_.count).sum.toDouble
    val mpl = maxPieceLen
    val newCounts = words.select(col("word"), col("freq")).as[(String, Long)]
      .flatMap { case (w, f) =>
        viterbi(w, counts, total, mpl).iterator.map(p => (p, f))
      }
      .toDF("piece", "freq")
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val chars2 = chars.map(p => Piece(p.piece, newCounts.getOrElse(p.piece, 0L)))
    val multis2 = multis.flatMap(p => newCounts.get(p.piece).map(Piece(p.piece, _)))
    (chars2, multis2)
  }

  private def ranked(chars: Seq[Piece], multis: Seq[Piece]): Seq[Piece] =
    (chars ++ multis).sortBy(p => (-p.count, p.piece))

  // ---- driver-local small-vocabulary dispatch (r20 optimization) ----
  // The [[Bpe.SmallWordTableBound]] dispatch: when the distinct-word
  // table is model-sized, seeding and every EM round run on the driver
  // over one bounded collect instead of per-round distributed
  // aggregations. Bit-identical: substring/char counts are exact long
  // sums (order-free), selection orders replicate Spark's UTF-8 string
  // order, the Viterbi is the SAME shared function, and the prune code
  // was always driver-side. Pinned by UnigramSpec parity tests.

  /** The training word table: collected rows when it fits the bound,
    * the cached DataFrame otherwise. */
  private type WordsE = Either[DataFrame, Array[(String, Long)]]

  private def probeLocal(words: DataFrame, localBound: Int): WordsE =
    OpUtil.collectIfSmall(words, localBound) match {
      case Some(rows) => Right(rows.map(r => (r.getString(0), r.getLong(1))))
      case None => Left(words)
    }

  private def localSeedVocab(rows: Array[(String, Long)], seedMultis: Int,
      maxPieceLen: Int): (Seq[Piece], Seq[Piece]) = {
    val charCnt = scala.collection.mutable.HashMap.empty[String, Long]
    val multiCnt = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (w, f) =>
      // Spark's substring/length count code points, so windows do too:
      // at(k) is the UTF-16 offset of code point k (at(n) = w.length)
      val n = w.codePointCount(0, w.length)
      val at = new Array[Int](n + 1)
      var k = 1
      while (k <= n) { at(k) = w.offsetByCodePoints(at(k - 1), 1); k += 1 }
      var i = 0
      while (i < n) {
        val c = w.substring(at(i), at(i + 1))
        charCnt.update(c, charCnt.getOrElse(c, 0L) + f)
        var l = 2
        while (l <= maxPieceLen && i + l <= n) {
          val p = w.substring(at(i), at(i + l))
          multiCnt.update(p, multiCnt.getOrElse(p, 0L) + f)
          l += 1
        }
        i += 1
      }
    }
    val chars = charCnt.toSeq
      .sortWith((a, b) => Bpe.utf8Compare(a._1, b._1) < 0)
      .map { case (p, c) => Piece(p, c) }
    val multis = multiCnt.toSeq
      .sortWith((a, b) =>
        if (a._2 != b._2) a._2 > b._2 else Bpe.utf8Compare(a._1, b._1) < 0)
      .take(seedMultis)
      .map { case (p, c) => Piece(p, c) }
    (chars, multis)
  }

  private def localEmRound(rows: Array[(String, Long)], chars: Seq[Piece],
      multis: Seq[Piece], maxPieceLen: Int): (Seq[Piece], Seq[Piece]) = {
    val counts: Map[String, Long] =
      (chars.iterator ++ multis.iterator).map(p => p.piece -> p.count).toMap
    val total = (chars.iterator ++ multis.iterator).map(_.count).sum.toDouble
    val newCounts = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (w, f) =>
      viterbi(w, counts, total, maxPieceLen).foreach(p =>
        newCounts.update(p, newCounts.getOrElse(p, 0L) + f))
    }
    val chars2 = chars.map(p => Piece(p.piece, newCounts.getOrElse(p.piece, 0L)))
    val multis2 = multis.flatMap(p => newCounts.get(p.piece).map(Piece(p.piece, _)))
    (chars2, multis2)
  }

  private def seedVocabE(words: WordsE, seedMultis: Int,
      maxPieceLen: Int): (Seq[Piece], Seq[Piece]) = words match {
    case Left(df)    => seedVocab(df, seedMultis, maxPieceLen)
    case Right(rows) => localSeedVocab(rows, seedMultis, maxPieceLen)
  }

  private def emRoundE(words: WordsE, chars: Seq[Piece], multis: Seq[Piece],
      maxPieceLen: Int): (Seq[Piece], Seq[Piece]) = words match {
    case Left(df)    => emRound(df, chars, multis, maxPieceLen)
    case Right(rows) => localEmRound(rows, chars, multis, maxPieceLen)
  }

  /** Seed → `emRounds` hard-EM rounds → one count prune to all chars +
    * top `vocabMultis` multis. The `text_unigram_train` gate's exact
    * shape; DuckDB replays it CTE-for-CTE. */
  def trainOnce(docs: DataFrame, textCol: String, seedMultis: Int,
      vocabMultis: Int, emRounds: Int, maxPieceLen: Int,
      maxWordLen: Int = 16,
      localBound: Int = Bpe.SmallWordTableBound): Seq[Piece] = {
    require(emRounds >= 1 && seedMultis >= vocabMultis)
    val words = Bpe.wordFreqs(docs, textCol)
      .where(length(col("word")) <= maxWordLen)
      .cache()
    try {
      val w = probeLocal(words, localBound)
      var (chars, multis) = seedVocabE(w, seedMultis, maxPieceLen)
      var r = 0
      while (r < emRounds) {
        val next = emRoundE(w, chars, multis, maxPieceLen)
        chars = next._1; multis = next._2
        r += 1
      }
      val kept = multis.sortBy(p => (-p.count, p.piece)).take(vocabMultis)
      ranked(chars, kept)
    } finally words.unpersist()
  }

  /** Likelihood loss of removing `p`: used(p) · (ln p(p) − bestAltLogP)
    * where bestAltLogP is the best segmentation of p's own string using
    * the REST of the vocabulary (Kudo 2018 §3.2's lattice alternative,
    * restricted to the piece's span). Driver-side over the vocab —
    * vocab-sized work, no cluster pass. Infinite when no alternative
    * covers the string (never: single chars always remain). */
  private[graft] def pruneLoss(p: Piece, rest: Map[String, Long], total: Double,
      maxPieceLen: Int): Double = {
    if (p.count == 0L) return 0.0
    val alt = viterbi(p.piece, rest, total, maxPieceLen)
    val altLogP = alt.iterator.map { q =>
      val c = rest.getOrElse(q, 0L)
      if (c == 0L) Double.NegativeInfinity else math.log(c / total)
    }.sum
    val own = math.log(p.count / total)
    if (altLogP == Double.NegativeInfinity) Double.PositiveInfinity
    else p.count.toDouble * (own - altLogP)
  }

  /** Production trainer: seed, then (EM ×`emRounds` → prune to
    * max(target, ⌊n·shrink⌋)) cycles until the multi-char vocabulary
    * reaches `vocabMultis` — SentencePiece's outer loop. `pruneBy`:
    * "count" ranks survivors by (count desc, piece asc) — the
    * SQL-replayable variant the gates pin; "loss" ranks by likelihood
    * loss (loss desc, piece asc) — Kudo's criterion, pinned by
    * UnigramSpec on a planted vocabulary. */
  def train(docs: DataFrame, textCol: String, vocabMultis: Int,
      seedMultis: Int, emRounds: Int = 2, maxPieceLen: Int = 4,
      maxWordLen: Int = 16, pruneBy: String = "loss",
      shrink: Double = 0.75,
      localBound: Int = Bpe.SmallWordTableBound): Seq[Piece] = {
    require(pruneBy == "loss" || pruneBy == "count", s"pruneBy=$pruneBy")
    val words = Bpe.wordFreqs(docs, textCol)
      .where(length(col("word")) <= maxWordLen)
      .cache()
    try {
      val w = probeLocal(words, localBound)
      var (chars, multis) = seedVocabE(w, seedMultis, maxPieceLen)
      var done = false
      while (!done) {
        var r = 0
        while (r < emRounds) {
          val next = emRoundE(w, chars, multis, maxPieceLen)
          chars = next._1; multis = next._2
          r += 1
        }
        if (multis.length <= vocabMultis) done = true
        else {
          val target = math.max(vocabMultis, (multis.length * shrink).toInt)
          multis =
            if (pruneBy == "count") multis.sortBy(p => (-p.count, p.piece)).take(target)
            else {
              val total = (chars.iterator ++ multis.iterator).map(_.count).sum.toDouble
              val all: Map[String, Long] =
                (chars.iterator ++ multis.iterator).map(p => p.piece -> p.count).toMap
              multis
                .map(p => (p, pruneLoss(p, all - p.piece, total, maxPieceLen)))
                .sortBy { case (p, loss) => (-loss, p.piece) }
                .take(target).map(_._1)
            }
          if (multis.length <= vocabMultis) done = true
        }
      }
      ranked(chars, multis)
    } finally words.unpersist()
  }

  /** Per-doc Viterbi token counts under a trained vocabulary —
    * row-local, piece table in the task closure, zero shuffle. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[Piece], maxPieceLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts: Map[String, Long] = vocab.iterator.map(p => p.piece -> p.count).toMap
    val total = vocab.iterator.map(_.count).sum.toDouble
    val mpl = maxPieceLen
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        // same local pre-tokenization as Bpe.tokenCounts (TextOps.tokens
        // semantics: lowercase, whitespace split, empties dropped)
        var n = 0
        Option(text).getOrElse("").toLowerCase.trim
          .split("\\s+").iterator.filter(_.nonEmpty)
          .foreach { w => n += viterbi(w, counts, total, mpl).length }
        (id, n)
      }
      .toDF(idCol, "n_tokens")
  }
}
