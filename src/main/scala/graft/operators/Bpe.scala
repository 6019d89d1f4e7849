package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and encoding (Sennrich et
  * al. 2016, public algorithm) as distributed operators — "train the
  * tokenizer on the cluster" is a standard step of a large-scale
  * pretraining pipeline.
  *
  * Scale shape: ONE corpus-wide shuffle builds the distinct-word
  * frequency table (vocab-sized, not corpus-sized); every merge round
  * then runs one grouped aggregation over that word table plus a
  * 1-row argmax collect — k merges cost k vocab-table shuffles and
  * k driver rows, never a second corpus pass. Encoding is row-local
  * with the merge list broadcast.
  *
  * Deterministic spec (oracle-replayable):
  *  - pre-tokenize with [[TextOps.tokens]] (lowercase, whitespace
  *    split, empties dropped); a word is its characters plus a
  *    terminal `</w>` symbol;
  *  - each round counts adjacent symbol pairs weighted by word
  *    frequency; the winner is max count, ties broken by the pair's
  *    lexicographic `"left right"` form (ascending);
  *  - a merge applies as repeated left-to-right single passes until
  *    fixpoint — equivalently, until no adjacent (left, right)
  *    remains; the merged symbol is `left + right`;
  *  - encoding applies the merge list in rank order, each rule to
  *    fixpoint. Deterministic by construction, no RNG anywhere.
  */
object Bpe {

  /** One learned merge: rank is 0-based priority order. */
  final case class Merge(rank: Int, left: String, right: String) {
    def merged: String = left + right
  }

  /** Single left-to-right merge pass; returns null when nothing
    * merged (avoids allocating for the common stable case). */
  private def mergeOnce(syms: Array[String], left: String, right: String): Array[String] = {
    var i = 0
    var hit = false
    while (i < syms.length - 1 && !hit) {
      if (syms(i) == left && syms(i + 1) == right) hit = true else i += 1
    }
    if (!hit) null
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length - 1)
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == left && syms(j + 1) == right) {
          out += left + right
          j += 2
        } else {
          out += syms(j)
          j += 1
        }
      }
      out.toArray
    }
  }

  /** Apply one merge rule to fixpoint. */
  private[graft] def applyMerge(syms: Array[String], left: String, right: String): Array[String] = {
    var cur = syms
    var next = mergeOnce(cur, left, right)
    while (next != null) { cur = next; next = mergeOnce(cur, left, right) }
    cur
  }

  /** Initial symbol sequence of a word: one symbol per code point, as
    * Spark's string functions count them (a UTF-16 split would hand
    * Spark lone surrogates, which its UTF-8 encoding turns into '?'). */
  private[graft] def initSymbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp))) :+ "</w>"

  /** GPT-2's bytes→unicode table (public algorithm, Radford et al.
    * 2019 `encoder.py::bytes_to_unicode`): every byte gets a PRINTABLE
    * unicode char so merge rules stay plain strings. Printable bytes
    * (33–126, 161–172, 174–255) map to themselves (as Latin-1 code
    * points); the 67 others (controls, space, DEL, 0x7F–0xA0, 0xAD)
    * map to 256+n in ascending byte order. Bijective by
    * construction. */
  private[graft] val byteToUnicode: Array[String] = {
    val out = new Array[String](256)
    var n = 0
    for (b <- 0 until 256) {
      val printable = (b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
        (b >= 174 && b <= 255)
      if (printable) out(b) = (b.toChar).toString
      else { out(b) = ((256 + n).toChar).toString; n += 1 }
    }
    out
  }

  /** Inverse of [[byteToUnicode]] (each mapped symbol is one char —
    * bijective, so a plain char→byte map suffices). Used by the
    * pretrained-vocab renderers to turn symbols back into raw token
    * bytes ([[PretrainedVocab.renderTiktoken]]). */
  private[graft] val unicodeToByte: Map[Char, Int] =
    byteToUnicode.iterator.zipWithIndex.map { case (s, b) => s.charAt(0) -> b }.toMap

  /** BYTE-LEVEL initial symbol sequence (the GPT-2 tokenizer family):
    * the word's UTF-8 bytes through [[byteToUnicode]], plus the same
    * terminal `</w>` the char-level spec uses — so on a pure-ASCII
    * corpus (printable bytes map to themselves) byte-level training
    * coincides with char-level training symbol-for-symbol, and on
    * multi-byte text the vocabulary stays closed over 256 base
    * symbols instead of the open char set. */
  private[graft] def initByteSymbols(w: String): Array[String] = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length + 1)
    var i = 0
    while (i < bytes.length) { out(i) = byteToUnicode(bytes(i) & 0xff); i += 1 }
    out(bytes.length) = "</w>"
    out
  }

  /** GPT-2's pre-tokenization pattern, verbatim (public algorithm,
    * Radford et al. 2019 `encoder.py::pat`): contractions, optionally
    * space-prefixed letter / number / punctuation runs, then
    * whitespace — the `(?!\S)` lookahead makes a whitespace run
    * before a non-space donate its final char as the next token's
    * leading space. No lowercasing and no `</w>` terminal: the word
    * boundary IS the leading-space byte (`Ġ` after bytes→unicode). */
  val Gpt2PretokPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** Lookahead-free (RE2-compatible) variant of [[Gpt2PretokPattern]]:
    * provably identical output on text with no whitespace run of
    * length ≥ 2 — the lookahead branch only diverges inside multi-char
    * runs followed by a non-space (it splits off all but the last
    * char; plain `\s+` swallows the whole run). The DuckDB oracles
    * whitespace-normalize first and use this form; BpeSpec pins the
    * equivalence theorem in-engine on the gate corpus. */
  val Gpt2PretokPatternRe2: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** cl100k_base's pre-tokenization pattern, verbatim (public,
    * openai/tiktoken registry). Differences from GPT-2 that real
    * corpora hit constantly: case-insensitive contractions (`It'S`),
    * digit runs chunked in threes (`1234567` → `123 456 7` — the
    * number-tokenization change), punctuation swallowing trailing
    * newlines, and grouped newline runs. */
  val Cl100kPretokPattern: String =
    "(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\\r\\n\\p{L}\\p{N}]?\\p{L}+|\\p{N}{1,3}" +
      "| ?[^\\s\\p{L}\\p{N}]+[\\r\\n]*|\\s*[\\r\\n]+|\\s+(?!\\S)|\\s+"

  /** Lookahead-free (RE2-compatible) variant of [[Cl100kPretokPattern]]
    * — identical output on whitespace-normalized text by the same
    * theorem as [[Gpt2PretokPatternRe2]] (the lookahead and the
    * newline branches only act on whitespace runs ≥ 2 or `\r\n`,
    * neither of which survive normalization). */
  val Cl100kPretokPatternRe2: String =
    "(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\\r\\n\\p{L}\\p{N}]?\\p{L}+|\\p{N}{1,3}" +
      "| ?[^\\s\\p{L}\\p{N}]+[\\r\\n]*|\\s*[\\r\\n]+|\\s+"

  /** Column form of cl100k pre-tokenization (codegen'd Java regex —
    * the verbatim pattern with its lookahead). */
  def cl100kPreTokens(c: Column): Column =
    regexp_extract_all(c, lit(Cl100kPretokPattern), lit(0))

  private lazy val gpt2Regex = java.util.regex.Pattern.compile(Gpt2PretokPattern)

  /** Row-local GPT-2 pre-tokenization (for the encode path). The
    * matches tile the input exactly: every char lands in one token. */
  def gpt2Split(text: String): Iterator[String] = {
    val m = gpt2Regex.matcher(Option(text).getOrElse(""))
    new Iterator[String] {
      private var has = m.find()
      def hasNext: Boolean = has
      def next(): String = { val g = m.group(); has = m.find(); g }
    }
  }

  /** Column form of GPT-2 pre-tokenization — native
    * `regexp_extract_all` (codegen'd, Java regex so the lookahead is
    * the original pattern verbatim). */
  def gpt2PreTokens(c: Column): Column =
    regexp_extract_all(c, lit(Gpt2PretokPattern), lit(0))

  /** GPT-2 byte-level initial symbols: the pre-token's UTF-8 bytes
    * through [[byteToUnicode]], NO terminal marker (see
    * [[Gpt2PretokPattern]] — the leading-space symbol is the
    * boundary). */
  private[graft] def initGpt2Symbols(w: String): Array[String] = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = byteToUnicode(bytes(i) & 0xff); i += 1 }
    out
  }

  /** Distinct-word frequency table of a corpus column — the ONE
    * corpus-wide shuffle. `tok` is the pre-tokenizer (default: the
    * lowercase whitespace split every pre-GPT-2 gate uses; pass
    * [[gpt2PreTokens]] for the GPT-2 family). */
  def wordFreqs(docs: DataFrame, textCol: String,
      tok: Column => Column = TextOps.tokens): DataFrame =
    docs.select(explode(tok(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  // ---- driver-local small-vocabulary dispatch (r20 optimization) ----
  //
  // Every trainer's distributed rounds aggregate the WORD table, never
  // the corpus — so when that table is model-sized the rounds are pure
  // per-job fixed cost (scheduling + AQE + codegen, ~0.15 s each at any
  // data size). The dispatch below collects a bounded word table ONCE
  // and replays the identical algorithm on the driver: counts are
  // exact long sums (order-free), the argmax tie-break is a total
  // order replicated byte-for-byte (UTF-8 comparison, matching Spark's
  // UTF8String ordering), and the merge rule is the same applyMerge —
  // bit-identical output, pinned by BpeSpec parity tests. Above the
  // bound (real production vocabularies) the distributed path runs
  // unchanged; the probe costs one bounded read of checkpoint blocks.

  /** Distinct-word count at or below which training runs on the
    * driver. 2^17 words ≈ a few MB of driver state — model-sized,
    * like any collected centroid table or merge list. */
  val SmallWordTableBound: Int = 1 << 17

  /** Spark's string ordering is UTF8String's unsigned byte-wise UTF-8
    * comparison; Java's String.compareTo orders by UTF-16 code unit
    * and disagrees on supplementary characters. The driver tie-break
    * must compare encoded bytes to replicate the distributed
    * `orderBy(string.asc)` exactly. */
  private[operators] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Candidate order of the trainers: count desc, then the pair's
    * `"left right"` form ascending in UTF-8 byte order. */
  private def pairBefore(aCnt: Long, aL: String, aR: String,
      bCnt: Long, bL: String, bR: String): Boolean =
    if (aCnt != bCnt) aCnt > bCnt
    else utf8Compare(aL + " " + aR, bL + " " + bR) < 0

  /** The (word, freq) table for training: ONE localCheckpoint job (the
    * same materialization every trainer already pays) plus one bounded
    * read of the local blocks. Small tables come back Right for the
    * driver-local rounds; big ones keep the checkpointed Dataset so
    * the distributed path never recomputes the corpus aggregation. */
  private[operators] def wordTableOrLocal(docs: DataFrame, textCol: String,
      tok: Column => Column, bound: Int)
      : Either[Dataset[(String, Long)], Array[(String, Long)]] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = wordFreqs(docs, textCol, tok).as[(String, Long)].localCheckpoint()
    OpUtil.collectIfSmall(wf, bound) match {
      case Some(rows) => wf.unpersist(blocking = false); Right(rows)
      case None => Left(wf)
    }
  }

  /** Exact pair counts over a local word table — the driver mirror of
    * the trainers' `flatMap(adjacent pairs) → groupBy → sum(freq)`
    * (long sums, order-free). */
  private def localPairCounts(words: Array[(Array[String], Long)])
      : scala.collection.mutable.HashMap[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)._1
      val f = words(wi)._2
      var i = 0
      while (i < syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        m.update(k, m.getOrElse(k, 0L) + f)
        i += 1
      }
      wi += 1
    }
    m
  }

  /** Top-m candidates in the trainers' exact order — the driver mirror
    * of `orderBy(cnt desc, concat_ws(" ", left, right) asc).limit(m)`. */
  private def localTopM(counts: scala.collection.mutable.HashMap[(String, String), Long],
      m: Int): Array[(String, String, Long)] = {
    if (counts.isEmpty) return Array.empty
    if (m == 1) {
      var best: ((String, String), Long) = null
      counts.foreach { e =>
        if (best == null ||
          pairBefore(e._2, e._1._1, e._1._2, best._2, best._1._1, best._1._2))
          best = e
      }
      Array((best._1._1, best._1._2, best._2))
    } else {
      counts.toArray
        .sortWith((a, b) => pairBefore(a._2, a._1._1, a._1._2, b._2, b._1._1, b._1._2))
        .take(m)
        .map { case ((l, r), c) => (l, r, c) }
    }
  }

  /** Driver mirror of [[tripleBounds]]: max pre-batch count of any
    * (·,a,b) / (a,b,·) triple per candidate — exact long sums over the
    * same filtered triple set. */
  private def localTripleBounds(words: Array[(Array[String], Long)],
      top: Array[(String, String, Long)]): Map[(String, String), Long] = {
    if (top.length == 1) return Map.empty.withDefaultValue(0L)
    val cand = top.iterator.map { case (l, r, _) => (l, r) }.toSet
    val tc = scala.collection.mutable.HashMap.empty[(String, String, String), Long]
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)._1
      val f = words(wi)._2
      var i = 0
      while (i < syms.length - 2) {
        val a = syms(i); val b = syms(i + 1); val c = syms(i + 2)
        if (cand((a, b)) || cand((b, c)))
          tc.update((a, b, c), tc.getOrElse((a, b, c), 0L) + f)
        i += 1
      }
      wi += 1
    }
    val mb = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def bump(k: (String, String), cnt: Long): Unit =
      mb.update(k, math.max(mb.getOrElse(k, 0L), cnt))
    tc.foreach { case ((a, b, c), cnt) => bump((a, b), cnt); bump((b, c), cnt) }
    mb.toMap.withDefaultValue(0L)
  }

  /** Driver-local sequential rounds — bit-identical to [[train]]'s
    * distributed rounds (same counts, same order, same merge rule). */
  private def trainLocalSeq(rows: Array[(String, Long)], k: Int,
      init: String => Array[String]): Seq[Merge] = {
    var words = rows.map { case (w, f) => (init(w), f) }
    val out = Seq.newBuilder[Merge]
    var r = 0
    while (r < k) {
      val top = localTopM(localPairCounts(words), 1)
      require(top.nonEmpty, s"round $r: no adjacent pairs left to merge")
      val (l, rr, _) = top.head
      out += Merge(r, l, rr)
      words = words.map { case (syms, f) => (applyMerge(syms, l, rr), f) }
      r += 1
    }
    out.result()
  }

  /** Driver-local batched rounds — the same candidate order, triple
    * bounds and safe-prefix rule as [[trainBatched]] /
    * [[trainIncremental]] (whose maintained pair table provably equals
    * the full recount, so ONE local mirror serves both). `onRound`
    * fires with the same (rank, accepted) pairs. */
  private def trainLocalBatched(rows: Array[(String, Long)], k: Int,
      batch: Int, onRound: (Int, Int) => Unit,
      init: String => Array[String]): Seq[Merge] = {
    var words = rows.map { case (w, f) => (init(w), f) }
    val out = Seq.newBuilder[Merge]
    var rank = 0
    while (rank < k) {
      val m = math.min(batch, k - rank)
      val top = localTopM(localPairCounts(words), m)
      require(top.nonEmpty, s"rank $rank: no adjacent pairs left to merge")
      val bounds = localTripleBounds(words, top)
      val acc = safePrefix(top, bounds)
      onRound(rank, acc.length)
      acc.foreach { case (l, r) => out += Merge(rank, l, r); rank += 1 }
      words = words.map { case (syms, f) =>
        var cur = syms
        var j = 0
        while (j < acc.length) { cur = applyMerge(cur, acc(j)._1, acc(j)._2); j += 1 }
        (cur, f)
      }
    }
    out.result()
  }

  /** Learn `k` merges. Each round: pair-count aggregation over the
    * word table + a deterministic 1-row argmax collect. The word
    * table is cached; per-round lineage is cut with localCheckpoint
    * so round r does not replay rounds 1..r-1. Word tables at or
    * under `localBound` train on the driver instead (bit-identical —
    * see the dispatch comment above; 0 forces the distributed path). */
  def train(docs: DataFrame, textCol: String, k: Int,
      init: String => Array[String] = initSymbols,
      tok: Column => Column = TextOps.tokens,
      localBound: Int = SmallWordTableBound): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1, s"need at least one merge, got $k")
    val wf = wordTableOrLocal(docs, textCol, tok, localBound) match {
      case Right(rows) => return trainLocalSeq(rows, k, init)
      case Left(ds) => ds
    }
    var seqs: Dataset[(Array[String], Long)] =
      wf.map { case (w, f) => (init(w), f) }.localCheckpoint()
    wf.unpersist(blocking = false)
    val out = Seq.newBuilder[Merge]
    var r = 0
    while (r < k) {
      val top = seqs.flatMap { case (syms, f) =>
        (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f))
      }
        .toDF("left", "right", "freq")
        .groupBy("left", "right").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, concat_ws(" ", col("left"), col("right")).asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      require(top.nonEmpty, s"round $r: no adjacent pairs left to merge")
      val (l, rr, _) = top.head
      out += Merge(r, l, rr)
      val prev = seqs
      seqs = seqs.map { case (syms, f) => (applyMerge(syms, l, rr), f) }.localCheckpoint()
      prev.unpersist()
      r += 1
    }
    seqs.unpersist()
    out.result()
  }

  /** Learn `k` merges with BATCHED rounds — the production-parameter
    * shape of [[train]]: a 32k-merge vocabulary as k sequential driver
    * round-trips is hours of scheduler overhead on a vocab-sized
    * table, so each round here accepts a maximal SAFE PREFIX of the
    * top candidates and applies it in one distributed pass, collapsing
    * k driver rounds to ~k/batch while provably preserving sequential
    * semantics.
    *
    * Safety rule (exact, not heuristic): scanning candidates in the
    * sequential order (count desc, lexicographic asc), candidate i is
    * accepted only if, for every already-accepted merge j = (a, b):
    *  - i's symbols are disjoint from {a, b} and from the merged
    *    symbol a+b — so applying j cannot create or destroy any
    *    occurrence of i (rewrites only create adjacencies involving
    *    the new symbol, and only destroy adjacencies overlapping the
    *    "a b" site), hence i's count is invariant; and
    *  - count(i) > maxTriple(j), where maxTriple(j) is the largest
    *    pre-batch count of any symbol triple of the form (·, a, b) or
    *    (a, b, ·) — every occurrence of every pair j's application can
    *    create maps injectively onto such a pre-batch triple site
    *    (even when earlier batch members rewrote the neighbor, the
    *    neighbor's last/first pre-batch symbol still witnesses the
    *    triple), so no created pair can outrank i when the sequential
    *    trainer would pick i.
    * The scan STOPS at the first unsafe candidate (a skipped candidate
    * would leave the true next winner unknown), so the accepted batch
    * is exactly the merges sequential training would produce, in
    * order. Worst case the batch degenerates to size 1 = sequential.
    *
    * Each round costs one pair aggregation + one candidate-filtered
    * triple aggregation over the vocab-sized word table and two
    * bounded collects (≤ batch rows each). */
  def trainBatched(docs: DataFrame, textCol: String, k: Int, batch: Int = 64,
      onRound: (Int, Int) => Unit = (_, _) => (),
      init: String => Array[String] = initSymbols,
      tok: Column => Column = TextOps.tokens,
      localBound: Int = SmallWordTableBound): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1, s"need at least one merge, got $k")
    require(batch >= 1, s"batch must be positive, got $batch")
    val wf = wordTableOrLocal(docs, textCol, tok, localBound) match {
      case Right(rows) => return trainLocalBatched(rows, k, batch, onRound, init)
      case Left(ds) => ds
    }
    var seqs: Dataset[(Array[String], Long)] =
      wf.map { case (w, f) => (init(w), f) }
        .localCheckpoint()
    wf.unpersist(blocking = false)
    val out = Seq.newBuilder[Merge]
    var rank = 0
    while (rank < k) {
      val m = math.min(batch, k - rank)
      val top = seqs.flatMap { case (syms, f) =>
        (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f))
      }
        .toDF("left", "right", "freq")
        .groupBy("left", "right").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, concat_ws(" ", col("left"), col("right")).asc)
        .limit(m)
        .as[(String, String, Long)]
        .collect()
      require(top.nonEmpty, s"rank $rank: no adjacent pairs left to merge")
      val bounds = tripleBounds(seqs, top)
      val acc = safePrefix(top, bounds)
      onRound(rank, acc.length)
      acc.foreach { case (l, r) => out += Merge(rank, l, r); rank += 1 }
      val prev = seqs
      seqs = seqs.map { case (syms, f) =>
        var cur = syms
        var j = 0
        while (j < acc.length) { cur = applyMerge(cur, acc(j)._1, acc(j)._2); j += 1 }
        (cur, f)
      }.localCheckpoint()
      prev.unpersist()
    }
    seqs.unpersist()
    out.result()
  }

  /** Pre-batch triple-count upper bounds for the safe-prefix rule:
    * for each candidate pair (a, b), the largest count of any symbol
    * triple (·, a, b) or (a, b, ·) in the current word table. One
    * map-side-filtered scan; the shuffle carries only triples touching
    * a candidate. */
  private def tripleBounds(seqs: Dataset[(Array[String], Long)],
      top: Array[(String, String, Long)]): Map[(String, String), Long] = {
    val spark = seqs.sparkSession
    import spark.implicits._
    if (top.length == 1) Map.empty.withDefaultValue(0L)
    else {
      // NUL separator, written as an escape so the file stays
      // reviewable text. A NUL inside a corpus symbol can only
      // collide keys in this pre-filter, which widens the candidate
      // set; the bounds map below groups on exact (a,b,c) tuples.
      val SEP = "\u0000"
      val keys = top.map { case (l, r, _) => l + SEP + r }.toSeq
      val keyPrefix = concat_ws(SEP, col("a"), col("b"))
      val keySuffix = concat_ws(SEP, col("b"), col("c"))
      val rel = seqs.flatMap { case (syms, f) =>
        (0 until syms.length - 2).iterator
          .map(i => (syms(i), syms(i + 1), syms(i + 2), f))
      }
        .toDF("a", "b", "c", "freq")
        .where(keyPrefix.isin(keys: _*) || keySuffix.isin(keys: _*))
        .groupBy("a", "b", "c").agg(sum("freq").as("cnt"))
        .as[(String, String, String, Long)]
        .collect()
      val mb = new scala.collection.mutable.HashMap[(String, String), Long]()
      def bump(key: (String, String), cnt: Long): Unit =
        mb.update(key, math.max(mb.getOrElse(key, 0L), cnt))
      rel.foreach { case (a, b, c, cnt) =>
        bump((a, b), cnt); bump((b, c), cnt)
      }
      mb.toMap.withDefaultValue(0L)
    }
  }

  /** Maximal safe prefix of the sequential-order candidates (see
    * [[trainBatched]] doc for the exact safety rule). Stops at the
    * first unsafe candidate. */
  private def safePrefix(top: Array[(String, String, Long)],
      bounds: Map[(String, String), Long]): Array[(String, String)] = {
    val accepted = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var stop = false
    var i = 0
    while (i < top.length && !stop) {
      val (cl, cr, cc) = top(i)
      val safe = accepted.forall { case (al, ar) =>
        val merged = al + ar
        cl != al && cl != ar && cr != al && cr != ar &&
          cl != merged && cr != merged &&
          cc > bounds((al, ar))
      }
      if (safe) accepted += ((cl, cr)) else stop = true
      i += 1
    }
    accepted.toArray
  }

  /** Per-word pair-count delta between an old and a new symbol
    * sequence, weighted by word frequency: old adjacencies count -f,
    * new adjacencies +f, zero-sum keys dropped. */
  private[graft] def pairDelta(oldS: Array[String], newS: Array[String],
      f: Long): Array[(String, String, Long)] = {
    val m = new scala.collection.mutable.HashMap[(String, String), Long]()
    var i = 0
    while (i < oldS.length - 1) {
      val k = (oldS(i), oldS(i + 1))
      m.update(k, m.getOrElse(k, 0L) - f)
      i += 1
    }
    i = 0
    while (i < newS.length - 1) {
      val k = (newS(i), newS(i + 1))
      m.update(k, m.getOrElse(k, 0L) + f)
      i += 1
    }
    m.iterator.filter(_._2 != 0L)
      .map { case ((l, r), d) => (l, r, d) }.toArray
  }

  /** [[trainBatched]] with INCREMENTAL pair-count maintenance — the
    * production-vocabulary shape. The batched trainer still recounted
    * every adjacent pair of the whole word table each round (the
    * corpus-symbols-sized shuffle); here that aggregation runs ONCE to
    * seed a persisted pair-count table, and every later round folds
    * per-word deltas emitted by the SAME pass that rewrites merged
    * words: a word untouched by the batch contributes nothing, and a
    * rewritten word contributes -f for its old adjacencies and +f for
    * its new ones. Long-integer sums are exact, so the maintained
    * table equals the full recount after every round and candidate
    * selection (count desc, lexicographic asc) is bit-identical to
    * [[train]] / [[trainBatched]] — the delta fold is a
    * chunk/combine/aggregate reduction in the reference's own blueprint
    * sense (reference `core.py:38-46`).
    *
    * Per-round cost: a top-m collect from the PAIR table (vocab-of-
    * pairs-sized, no corpus scan), the candidate-filtered triple scan,
    * and one rewrite pass that emits (new word, delta rows) together.
    * The pair table and word table are both lineage-cut per round. */
  def trainIncremental(docs: DataFrame, textCol: String, k: Int, batch: Int = 64,
      onRound: (Int, Int) => Unit = (_, _) => (),
      init: String => Array[String] = initSymbols,
      tok: Column => Column = TextOps.tokens,
      localBound: Int = SmallWordTableBound): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1, s"need at least one merge, got $k")
    require(batch >= 1, s"batch must be positive, got $batch")
    val wf = wordTableOrLocal(docs, textCol, tok, localBound) match {
      // the incremental pair table provably equals the full recount
      // after every round, so the driver-local batched mirror IS the
      // incremental result (pinned in BpeSpec)
      case Right(rows) => return trainLocalBatched(rows, k, batch, onRound, init)
      case Left(ds) => ds
    }
    val seeded: Dataset[(Array[String], Long)] =
      wf.map { case (w, f) => (init(w), f) }
        .localCheckpoint()
    wf.unpersist(blocking = false)
    // the ONE full pair aggregation; afterwards only deltas shuffle
    var pairs: DataFrame = seeded.flatMap { case (syms, f) =>
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f))
    }.toDF("left", "right", "freq")
      .groupBy("left", "right").agg(sum("freq").as("cnt"))
      .where(col("cnt") > 0)
      .localCheckpoint()
    var seqs: Dataset[(Array[String], Long)] = seeded
    var cached: Dataset[_] = seeded
    val out = Seq.newBuilder[Merge]
    var rank = 0
    while (rank < k) {
      val m = math.min(batch, k - rank)
      val top = pairs
        .orderBy(col("cnt").desc, concat_ws(" ", col("left"), col("right")).asc)
        .limit(m)
        .as[(String, String, Long)]
        .collect()
      require(top.nonEmpty, s"rank $rank: no adjacent pairs left to merge")
      val bounds = tripleBounds(seqs, top)
      val acc = safePrefix(top, bounds)
      onRound(rank, acc.length)
      acc.foreach { case (l, r) => out += Merge(rank, l, r); rank += 1 }
      // ONE pass rewrites the words AND emits their pair-count deltas;
      // an untouched word (applyMerge returns the same array reference)
      // emits none
      val rewritten: Dataset[(Array[String], Long, Array[(String, String, Long)])] =
        seqs.map { case (syms, f) =>
          var cur = syms
          var j = 0
          while (j < acc.length) { cur = applyMerge(cur, acc(j)._1, acc(j)._2); j += 1 }
          val deltas =
            if (cur eq syms) Array.empty[(String, String, Long)]
            else pairDelta(syms, cur, f)
          (cur, f, deltas)
        }.localCheckpoint()
      val prevCached = cached
      cached = rewritten
      seqs = rewritten.map { case (sy, f, _) => (sy, f) }
      val deltaRows = rewritten.flatMap(_._3).toDF("left", "right", "cnt")
      val prevPairs = pairs
      pairs = pairs.unionByName(deltaRows)
        .groupBy("left", "right").agg(sum("cnt").as("cnt"))
        .where(col("cnt") > 0)
        .localCheckpoint()
      prevPairs.unpersist()
      prevCached.unpersist()
    }
    pairs.unpersist()
    cached.unpersist()
    out.result()
  }

  /** Encode one word with a rank-ordered merge list (each rule to
    * fixpoint — see object doc). */
  def encodeWord(w: String, merges: Seq[Merge],
      init: String => Array[String] = initSymbols): Array[String] = {
    var syms = init(w)
    merges.foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }

  /** docs(idCol, textCol) → (idCol, n_tokens): per-doc BPE token
    * count under the given merge list. Row-local; the merge list
    * ships in the closure (broadcast-by-task-binary, bounded: k
    * rows). */
  /** The default row-local pre-tokenizer: [[TextOps.tokens]]' exact
    * semantics (lowercase, whitespace split, empties dropped). */
  private[graft] def whitespaceLowerSplit(text: String): Iterator[String] =
    Option(text).getOrElse("").toLowerCase.trim
      .split("\\s+").iterator.filter(_.nonEmpty)

  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge],
      init: String => Array[String] = initSymbols,
      pretok: String => Iterator[String] = whitespaceLowerSplit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.sortBy(_.rank)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        var n = 0L
        pretok(text).foreach(w => n += encodeWord(w, ms, init).length)
        (id, n)
      })
      .toDF(idCol, "n_tokens")
  }
}
