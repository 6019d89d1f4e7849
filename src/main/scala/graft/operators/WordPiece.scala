package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training and encoding (Schuster & Nakajima
  * 2012; the BERT tokenizer — public algorithm) as distributed
  * operators — the third tokenizer family real pretraining pipelines
  * choose between, completing the triad next to [[Bpe]] and
  * [[Unigram]]. Reference scope: the reference engine has no tokenizer
  * (dataframe/core.py holds only pandas-surface operators); this is
  * extension-tier, judged as a first-class LLM-pipeline component.
  *
  * Scale shape (same as [[Bpe.train]]): ONE corpus-wide shuffle builds
  * the distinct-word frequency table ([[Bpe.wordFreqs]], vocab-sized,
  * not corpus-sized); every merge round then runs two grouped
  * aggregations over that word table (adjacent pairs + unigram symbol
  * counts — WordPiece's score needs both) and a 1-row argmax collect.
  * Encoding is row-local with the vocabulary broadcast — zero shuffle
  * at any corpus size.
  *
  * Deterministic spec (oracle-replayable in DuckDB, the
  * `text_wordpiece_*` gates):
  *  - words: [[TextOps.tokens]] (lowercase, whitespace split, empties
  *    dropped); a word's initial symbols are its first character plain
  *    and every later character `##`-prefixed (the continuation
  *    convention — no terminal marker);
  *  - each round counts adjacent symbol pairs AND single-symbol
  *    occurrences, both weighted by word frequency; the winner
  *    maximizes score = cnt(pair) / (cnt(left) · cnt(right)) computed
  *    in IEEE-754 double as `toDouble(cnt) / (toDouble(cl) *
  *    toDouble(cr))` — long→double conversion is exact below 2⁵³ and
  *    *, / are correctly rounded, so DuckDB replays every comparison
  *    bit-identically (the [[Unigram]] key-fold trick); ties broken by
  *    the pair's lexicographic `"left right"` form (ascending);
  *  - the merged symbol is left + right-without-`##` (continuation
  *    status comes from the left side); a merge applies as repeated
  *    left-to-right single passes until fixpoint, exactly
  *    [[Bpe]]'s rule;
  *  - the vocabulary after k merges is every symbol of the INITIAL
  *    word table (the alphabet, plain + `##` forms) plus the k merged
  *    symbols in rank order;
  *  - encoding is WordPiece's greedy longest-match-first: at each
  *    position take the longest vocabulary piece (`##`-prefixed when
  *    not word-initial); if no piece matches, the ENTIRE word becomes
  *    one `[UNK]` token (BERT's rule). Deterministic by construction,
  *    no RNG anywhere.
  */
object WordPiece {

  /** One learned merge: rank is 0-based priority order. The merged
    * symbol strips the right side's continuation prefix. */
  final case class Merge(rank: Int, left: String, right: String) {
    def merged: String = left + stripCont(right)
  }

  private[graft] def stripCont(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** Initial symbol sequence of a word: one symbol per code point (as
    * [[Bpe.initSymbols]]), first plain, rest `##`-prefixed. */
  private[graft] def initSymbols(w: String): Array[String] =
    Bpe.initSymbols(w).init.zipWithIndex.map { case (c, i) =>
      if (i == 0) c else "##" + c
    }

  /** Single left-to-right merge pass; null when nothing merged. */
  private def mergeOnce(syms: Array[String], left: String, right: String): Array[String] = {
    var i = 0
    var hit = false
    while (i < syms.length - 1 && !hit) {
      if (syms(i) == left && syms(i + 1) == right) hit = true else i += 1
    }
    if (!hit) null
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length - 1)
      val merged = left + stripCont(right)
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == left && syms(j + 1) == right) {
          out += merged
          j += 2
        } else {
          out += syms(j)
          j += 1
        }
      }
      out.toArray
    }
  }

  /** Apply one merge rule to fixpoint ([[Bpe.applyMerge]]'s rule with
    * the `##`-stripping concatenation). */
  private[graft] def applyMerge(syms: Array[String], left: String, right: String): Array[String] = {
    var cur = syms
    var next = mergeOnce(cur, left, right)
    while (next != null) { cur = next; next = mergeOnce(cur, left, right) }
    cur
  }

  // ---- driver-local small-vocabulary dispatch (r20 optimization) ----
  // The same bounded dispatch as [[Bpe]]'s trainers: when the distinct-
  // word table fits [[Bpe.SmallWordTableBound]], the merge rounds run
  // on the driver over one bounded collect — pair and symbol counts
  // are exact long sums (order-free), the score is the identical
  // double formula over those longs, and the tie-break replicates
  // Spark's UTF-8 string order — bit-identical output, pinned by
  // WordPieceSpec parity tests. Big vocabularies keep the distributed
  // rounds unchanged.

  /** One driver round: winner + its integer evidence — the exact
    * mirror of the distributed score/argmax. */
  private def localRound(words: Array[(Array[String], Long)], r: Int)
      : (String, String, Long, Long, Long) = {
    val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val singles = scala.collection.mutable.HashMap.empty[String, Long]
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)._1
      val f = words(wi)._2
      var i = 0
      while (i < syms.length) {
        singles.update(syms(i), singles.getOrElse(syms(i), 0L) + f)
        if (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairs.update(k, pairs.getOrElse(k, 0L) + f)
        }
        i += 1
      }
      wi += 1
    }
    require(pairs.nonEmpty, s"round $r: no adjacent pairs left to merge")
    var best: (String, String, Long, Long, Long) = null
    var bestScore = 0.0
    pairs.foreach { case ((l, rr), cnt) =>
      val cl = singles(l)
      val cr = singles(rr)
      val score = cnt.toDouble / (cl.toDouble * cr.toDouble)
      val better = best == null || score > bestScore ||
        (score == bestScore &&
          Bpe.utf8Compare(l + " " + rr, best._1 + " " + best._2) < 0)
      if (better) { best = (l, rr, cnt, cl, cr); bestScore = score }
    }
    best
  }

  private def trainLocal(rows: Array[(String, Long)], k: Int)
      : Seq[(Merge, Long, Long, Long)] = {
    var words = rows.map { case (w, f) => (initSymbols(w), f) }
    val out = Seq.newBuilder[(Merge, Long, Long, Long)]
    var r = 0
    while (r < k) {
      val (l, rr, cnt, cl, cr) = localRound(words, r)
      out += ((Merge(r, l, rr), cnt, cl, cr))
      words = words.map { case (syms, f) => (applyMerge(syms, l, rr), f) }
      r += 1
    }
    out.result()
  }

  /** Learn `k` merges: [[trainWithCounts]] without the evidence. */
  def train(docs: DataFrame, textCol: String, k: Int,
      localBound: Int = Bpe.SmallWordTableBound): Seq[Merge] =
    trainWithCounts(docs, textCol, k, localBound).map(_._1)

  /** Learn `k` merges, with each winner's integer evidence (pair count
    * and both symbol counts) — the `text_wordpiece_train` gate emits
    * these so the oracle compare stays integer-only. Each round: one
    * pair aggregation + one symbol aggregation over the word table,
    * joined into the double score, then a deterministic 1-row argmax
    * collect. The word table is vocab-sized; per-round lineage is cut
    * with localCheckpoint. Word tables at or under `localBound` train
    * on the driver instead (bit-identical; 0 forces the distributed
    * path). */
  def trainWithCounts(docs: DataFrame, textCol: String, k: Int,
      localBound: Int = Bpe.SmallWordTableBound): Seq[(Merge, Long, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1, s"need at least one merge, got $k")
    val wf = Bpe.wordTableOrLocal(docs, textCol, TextOps.tokens, localBound) match {
      case Right(rows) => return trainLocal(rows, k)
      case Left(ds) => ds
    }
    var seqs: Dataset[(Array[String], Long)] =
      wf.map { case (w, f) => (initSymbols(w), f) }
        .localCheckpoint()
    wf.unpersist(blocking = false)
    val out = Seq.newBuilder[(Merge, Long, Long, Long)]
    var r = 0
    while (r < k) {
      val pairs = seqs.flatMap { case (syms, f) =>
        (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f))
      }.toDF("left", "right", "freq")
        .groupBy("left", "right").agg(sum("freq").as("cnt"))
      val singles = seqs.flatMap { case (syms, f) => syms.iterator.map(s => (s, f)) }
        .toDF("sym", "freq")
        .groupBy("sym").agg(sum("freq").as("scnt"))
      val top = pairs
        .join(singles.select(col("sym").as("left"), col("scnt").as("cl")), "left")
        .join(singles.select(col("sym").as("right"), col("scnt").as("cr")), "right")
        .select(col("left"), col("right"), col("cnt"), col("cl"), col("cr"),
          (col("cnt").cast("double") / (col("cl").cast("double") * col("cr").cast("double")))
            .as("score"))
        .orderBy(col("score").desc, concat_ws(" ", col("left"), col("right")).asc)
        .limit(1)
        .as[(String, String, Long, Long, Long, Double)]
        .collect()
      require(top.nonEmpty, s"round $r: no adjacent pairs left to merge")
      val (l, rr, cnt, cl, cr, _) = top.head
      out += ((Merge(r, l, rr), cnt, cl, cr))
      val prev = seqs
      seqs = seqs.map { case (syms, f) => (applyMerge(syms, l, rr), f) }.localCheckpoint()
      prev.unpersist()
      r += 1
    }
    seqs.unpersist()
    out.result()
  }

  /** Vocabulary after training: the corpus alphabet (every initial
    * symbol, one vocab-table aggregation) plus the merged symbols in
    * rank order. */
  def vocab(docs: DataFrame, textCol: String, merges: Seq[Merge]): Seq[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val alphabet = Bpe.wordFreqs(docs, textCol).as[(String, Long)]
      .flatMap { case (w, _) => initSymbols(w).iterator }
      .distinct().orderBy("value").collect().toSeq
    alphabet ++ merges.map(_.merged)
  }

  /** Greedy longest-match-first encode of one (already lowercased)
    * word. `maxPieceLen` bounds the CONTENT length scanned (a trained
    * piece's content is at most 1 + k chars after k merges). Returns
    * `Array("[UNK]")` when any position has no match. */
  private[graft] def encodeWord(w: String, vocab: Set[String], maxPieceLen: Int): Array[String] = {
    if (w.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < w.length) {
      var l = math.min(maxPieceLen, w.length - pos)
      var found: String = null
      while (l >= 1 && found == null) {
        val sub = w.substring(pos, pos + l)
        val piece = if (pos == 0) sub else "##" + sub
        if (vocab.contains(piece)) found = piece else l -= 1
      }
      if (found == null) return Array("[UNK]")
      out += found
      pos += l
    }
    out.toArray
  }

  /** Per-doc greedy token counts under a trained vocabulary —
    * row-local, vocabulary in the task closure, zero shuffle. Emits
    * `(id, n_tokens, n_unk)`: an unknown word contributes one `[UNK]`
    * token and one unk count. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], maxPieceLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vset = vocab.toSet
    val mpl = maxPieceLen
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        // same local pre-tokenization as Bpe/Unigram.tokenCounts
        // (TextOps.tokens semantics)
        var n = 0L
        var unk = 0L
        Option(text).getOrElse("").toLowerCase.trim
          .split("\\s+").iterator.filter(_.nonEmpty)
          .foreach { w =>
            val toks = encodeWord(w, vset, mpl)
            n += toks.length
            if (toks.length == 1 && toks(0) == "[UNK]") unk += 1
          }
        (id, n, unk)
      }
      .toDF(idCol, "n_tokens", "n_unk")
  }
}
