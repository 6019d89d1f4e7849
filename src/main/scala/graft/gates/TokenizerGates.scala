package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, PretrainedVocab, Unigram, WordPiece}

import Fixtures._

/** Tokenizer training and encoding: BPE (word, byte-level, GPT-2,
  * pretrained), Unigram and WordPiece. */
object TokenizerGates {

  val gates: Seq[Gate] = Seq(
    // Distributed BPE training: one corpus shuffle builds the
    // distinct-word table, then 3 merge rounds of vocab-sized
    // pair-count aggregation + 1-row argmax collects. The oracle
    // replays all three rounds symbol-by-symbol in SQL (fixpoint
    // merging via chained replaces), so count weighting, the
    // lexicographic tie-break AND the merge application rule are all
    // pinned.
    Gate("text_bpe_train")((s, dir) => {
      val ms = Bpe.train(tbl(s, dir, "documents"), "text", k = 3)
      import s.implicits._
      ms.map(m => (m.rank, m.left, m.right)).toDF("rank", "lhs", "rhs").orderBy("rank")
    }) {
      s"""$bpeCtes
         |SELECT rank, split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs
         |FROM (
         |  SELECT 0 AS rank, pr FROM m1
         |  UNION ALL SELECT 1, pr FROM m2
         |  UNION ALL SELECT 2, pr FROM m3)
         |ORDER BY rank""".stripMargin
    },
    // Batched trainer against the SAME independent symbol-table oracle
    // as text_bpe_train: the safe-prefix machinery (triple bounds,
    // disjointness, stop-on-unsafe) must reproduce the sequential
    // merges exactly.
    Gate("text_bpe_train_batched")((s, dir) => {
      val ms = Bpe.trainBatched(tbl(s, dir, "documents"), "text", k = 3, batch = 3)
      import s.implicits._
      ms.map(m => (m.rank, m.left, m.right)).toDF("rank", "lhs", "rhs").orderBy("rank")
    }) {
      s"""$bpeCtes
         |SELECT rank, split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs
         |FROM (
         |  SELECT 0 AS rank, pr FROM m1
         |  UNION ALL SELECT 1, pr FROM m2
         |  UNION ALL SELECT 2, pr FROM m3)
         |ORDER BY rank""".stripMargin
    },
    // Incremental trainer (delta-maintained pair-count table — the
    // production 32k-vocab shape: only ONE corpus-pairs shuffle ever
    // runs; later rounds fold per-word ±freq deltas emitted by the
    // same pass that rewrites merged words) against the same
    // independent symbol-table oracle.
    Gate("text_bpe_train_incremental")((s, dir) => {
      val ms = Bpe.trainIncremental(tbl(s, dir, "documents"), "text", k = 3, batch = 3)
      import s.implicits._
      ms.map(m => (m.rank, m.left, m.right)).toDF("rank", "lhs", "rhs").orderBy("rank")
    }) {
      s"""$bpeCtes
         |SELECT rank, split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs
         |FROM (
         |  SELECT 0 AS rank, pr FROM m1
         |  UNION ALL SELECT 1, pr FROM m2
         |  UNION ALL SELECT 2, pr FROM m3)
         |ORDER BY rank""".stripMargin
    },
    // Incremental == batched merge-for-merge at k=16/batch=8; the
    // batched_deep gate pins batched == sequential at the same shape,
    // so this transitively pins incremental == sequential without a
    // third 16-round sequential run in the gate.
    Gate("text_bpe_train_incremental_deep")((s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 2000)
      val batMs = Bpe.trainBatched(docs, "text", k = 16, batch = 8)
      val incMs = Bpe.trainIncremental(docs, "text", k = 16, batch = 8)
      import s.implicits._
      batMs.zip(incMs).map { case (a, b) =>
        (a.rank, a.left == b.left && a.right == b.right && a.rank == b.rank)
      }.toDF("rank", "same").orderBy("rank")
    }) {
      """SELECT CAST(x AS INTEGER) AS rank, TRUE AS same
        |FROM range(16) t(x) ORDER BY rank""".stripMargin
    },
    // Deeper equivalence at production-like shape: 16 merges in
    // batches of 8 must match 16 sequential driver rounds merge-for-
    // merge (the per-rank equality is computed in-engine; the oracle
    // pins that every rank agrees).
    Gate("text_bpe_train_batched_deep")((s, dir) => {
      // cap bounds the 2×16 driver rounds at bench scale; the
      // equivalence property is corpus-size-independent
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 2000)
      val seqMs = Bpe.train(docs, "text", k = 16)
      val batMs = Bpe.trainBatched(docs, "text", k = 16, batch = 8)
      import s.implicits._
      seqMs.zip(batMs).map { case (a, b) =>
        (a.rank, a.left == b.left && a.right == b.right && a.rank == b.rank)
      }.toDF("rank", "same").orderBy("rank")
    }) {
      """SELECT CAST(x AS INTEGER) AS rank, TRUE AS same
        |FROM range(16) t(x) ORDER BY rank""".stripMargin
    },
    // Train + encode end-to-end: per-doc token counts under the 3
    // learned merges. The oracle re-derives the merges AND re-encodes
    // every word from the round-3 symbol table.
    Gate("text_bpe_encode")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val ms = Bpe.train(docs, "text", k = 3)
      Bpe.tokenCounts(docs, "doc_id", "text", ms).orderBy("doc_id")
    }) {
      s"""$bpeCtes, wordtok AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
         |  FROM seq3
         |), docwords AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents
         |), sums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM docwords JOIN wordtok ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN sums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // BYTE-LEVEL BPE (the GPT-2 tokenizer family): words become their
    // UTF-8 bytes through the public bytes→unicode table, so the base
    // vocabulary is closed over 256 symbols. The corpus plants a
    // repeated Hebrew token on every 5th doc — its bytes hit the
    // NON-identity rows of the table (continuation bytes 0x90–0x92 →
    // U+0132..U+0134) — and the planted pairs win the merges. The
    // oracle re-derives the byte decomposition (code point → UTF-8
    // bytes arithmetically), the table, and all 3 training rounds.
    Gate("text_bpe_bytes_train")((s, dir) => {
      val ms = Bpe.trainIncremental(bpeBytesCorpus(s, dir), "text",
        k = 3, batch = 3, init = Bpe.initByteSymbols)
      import s.implicits._
      ms.map(m => (m.rank, m.left, m.right)).toDF("rank", "lhs", "rhs")
        .orderBy("rank")
    }) {
      s"""$bpeBytesCtes
         |SELECT rank, split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs
         |FROM (
         |  SELECT 0 AS rank, pr FROM bbm1
         |  UNION ALL SELECT 1, pr FROM bbm2
         |  UNION ALL SELECT 2, pr FROM bbm3)
         |ORDER BY rank""".stripMargin
    },
    // Byte-level train + encode: per-doc token counts under the byte
    // merges (row-local, merge list in the task closure).
    Gate("text_bpe_bytes_encode")((s, dir) => {
      val docs = bpeBytesCorpus(s, dir)
      val ms = Bpe.trainIncremental(docs, "text", k = 3, batch = 3,
        init = Bpe.initByteSymbols)
      Bpe.tokenCounts(docs, "doc_id", "text", ms, Bpe.initByteSymbols)
        .orderBy("doc_id")
    }) {
      s"""$bpeBytesCtes, bb_wordtok AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
         |  FROM bbseq3
         |), bb_docwords AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM bb_docs
         |), bb_sums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM bb_docwords JOIN bb_wordtok ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN bb_sums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // ASCII-parity theorem check: printable-ASCII bytes map to
    // themselves, so on the pure-ASCII fixture corpus byte-level
    // training must equal char-level training MERGE-FOR-MERGE (both
    // append the same terminal). In-engine comparison over 8 ranks;
    // the oracle pins every rank agrees.
    Gate("text_bpe_bytes_ascii_parity")((s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 2000)
      val charMs = Bpe.trainIncremental(docs, "text", k = 8, batch = 4)
      val byteMs = Bpe.trainIncremental(docs, "text", k = 8, batch = 4,
        init = Bpe.initByteSymbols)
      import s.implicits._
      charMs.zip(byteMs).map { case (a, b) =>
        (a.rank, a.left == b.left && a.right == b.right && a.rank == b.rank)
      }.toDF("rank", "same").orderBy("rank")
    }) {
      """SELECT CAST(x AS INTEGER) AS rank, TRUE AS same
        |FROM range(8) t(x) ORDER BY rank""".stripMargin
    },
    // GPT-2 pre-tokenization census over the normalized planted
    // corpus: token count, space-prefixed count, distinct pre-tokens,
    // and total chars — the last one pins the TILING property (the
    // matches partition the text exactly, no char lost or doubled).
    Gate("text_gpt2_pretok")((s, dir) => {
      gpt2Corpus(s, dir)
        .select(explode(Bpe.gpt2PreTokens(col("text"))).as("t"))
        .agg(count(lit(1)).as("n_pretok"),
          sum(when(col("t").startsWith(" "), 1L).otherwise(0L)).as("n_spaced"),
          countDistinct(col("t")).as("n_distinct"),
          sum(length(col("t"))).as("n_chars"))
    }) {
      s"""WITH $gpt2WordsCtes, gp_toks AS (
         |  SELECT unnest(regexp_extract_all(text, '$duckGpt2Pat')) AS t
         |  FROM gp_docs)
         |SELECT CAST(count(*) AS BIGINT) AS n_pretok,
         |  CAST(sum(CASE WHEN t LIKE ' %' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_spaced,
         |  CAST(count(DISTINCT t) AS BIGINT) AS n_distinct,
         |  CAST(sum(len(t)) AS BIGINT) AS n_chars
         |FROM gp_toks""".stripMargin
    },
    // cl100k_base pre-tokenization (tiktoken registry, verbatim Java
    // lookahead pattern; the oracle runs the RE2 form on the same
    // normalized text — equal by the Gpt2PretokPatternRe2 theorem).
    // Digits planted on every third doc pin the signature cl100k
    // behavior: number runs chunk in threes, "'S" is a contraction.
    Gate("text_cl100k_pretok")((s, dir) => {
      gpt2Corpus(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" It'S 1234567 99"))).otherwise(col("text")).as("text"))
        .select(explode(Bpe.cl100kPreTokens(col("text"))).as("t"))
        .agg(count(lit(1)).as("n_pretok"),
          sum(when(col("t").startsWith(" "), 1L).otherwise(0L)).as("n_spaced"),
          countDistinct(col("t")).as("n_distinct"),
          sum(length(col("t"))).as("n_chars"),
          sum(when(col("t").rlike("^\\p{N}{1,3}$"), 1L).otherwise(0L)).as("n_numchunks"))
    }) {
      s"""WITH $gpt2WordsCtes, cl_docs AS (
         |  SELECT CASE WHEN doc_id % 3 = 0
         |    THEN text || ' It''S 1234567 99' ELSE text END AS text
         |  FROM gp_docs),
         |cl_toks AS (
         |  SELECT unnest(regexp_extract_all(text, '$duckCl100kPat')) AS t
         |  FROM cl_docs)
         |SELECT CAST(count(*) AS BIGINT) AS n_pretok,
         |  CAST(sum(CASE WHEN t LIKE ' %' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_spaced,
         |  CAST(count(DISTINCT t) AS BIGINT) AS n_distinct,
         |  CAST(sum(len(t)) AS BIGINT) AS n_chars,
         |  CAST(sum(CASE WHEN regexp_full_match(t, '\\p{N}{1,3}')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_numchunks
         |FROM cl_toks""".stripMargin
    },
    // GPT-2-shape byte-level BPE: the regex pre-tokenizer (case and
    // leading space KEPT — the boundary is the Ġ space byte) + byte
    // symbols with NO </w> terminal. The oracle re-derives the
    // pre-tokenization (RE2 form on the normalized corpus), the
    // bytes→unicode table, and all 3 training rounds CTE-for-CTE.
    Gate("text_bpe_gpt2_train")((s, dir) => {
      val ms = Bpe.trainIncremental(gpt2Corpus(s, dir), "text",
        k = 3, batch = 3, init = Bpe.initGpt2Symbols,
        tok = Bpe.gpt2PreTokens)
      import s.implicits._
      ms.map(m => (m.rank, m.left, m.right)).toDF("rank", "lhs", "rhs")
        .orderBy("rank")
    }) {
      s"""$bpeGpt2Ctes
         |SELECT rank, split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs
         |FROM (
         |  SELECT 0 AS rank, pr FROM gpm1
         |  UNION ALL SELECT 1, pr FROM gpm2
         |  UNION ALL SELECT 2, pr FROM gpm3)
         |ORDER BY rank""".stripMargin
    },
    // GPT-2 train + encode: per-doc token counts under the GPT-2
    // merges (row-local, Java-regex pre-tokenizer in the closure).
    Gate("text_bpe_gpt2_encode")((s, dir) => {
      val docs = gpt2Corpus(s, dir)
      val ms = Bpe.trainIncremental(docs, "text", k = 3, batch = 3,
        init = Bpe.initGpt2Symbols, tok = Bpe.gpt2PreTokens)
      Bpe.tokenCounts(docs, "doc_id", "text", ms, Bpe.initGpt2Symbols,
        pretok = Bpe.gpt2Split).orderBy("doc_id")
    }) {
      s"""$bpeGpt2Ctes, gp_wordtok AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
         |  FROM gpseq3
         |), gp_docwords AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$duckGpt2Pat')) AS w
         |  FROM gp_docs
         |), gp_sums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM gp_docwords JOIN gp_wordtok ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN gp_sums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // Pretrained-vocab tokenization (round-16 VERDICT item 4): the
    // merge list goes THROUGH the published GPT-2 file formats —
    // serialized to merges.txt + vocab.json text, parsed back with the
    // format loaders — and the corpus tokenizes under the LOADED vocab
    // via the O(len²) rank-map encoder (the path that stays feasible
    // at 50k merges, where the fixpoint pass is O(k·len)). Counts are
    // provably identical to text_bpe_gpt2_encode (PretrainedVocabSpec
    // pins encoder equivalence on well-formed lists), so the oracle is
    // the same 3-round CTE replay — what the gate adds is that the
    // serialize→load→encode path changes nothing.
    Gate("text_bpe_pretrained_encode")((s, dir) => {
      val docs = gpt2Corpus(s, dir)
      val trained = Bpe.trainIncremental(docs, "text", k = 3, batch = 3,
        init = Bpe.initGpt2Symbols, tok = Bpe.gpt2PreTokens)
      val loaded = PretrainedVocab.parseMergesTxt(
        PretrainedVocab.renderMergesTxt(trained))
      require(loaded == trained, "merges.txt round-trip drifted")
      // vocab.json leg: ids 0..255 for base byte symbols, 256+rank for
      // merged tokens — render and re-load must be identity
      val vocab = (0 until 256).map(b => Bpe.byteToUnicode(b) -> b) ++
        trained.map(m => m.merged -> (256 + m.rank))
      require(PretrainedVocab.parseVocabJson(
        PretrainedVocab.renderVocabJson(vocab)) == vocab.toMap,
        "vocab.json round-trip drifted")
      PretrainedVocab.tokenCountsMerges(docs, "doc_id", "text", loaded)
        .orderBy("doc_id")
    }) {
      // identical replay to text_bpe_gpt2_encode: the pretrained gates
      // prove the serialize→load→rank-map-encode path changes NOTHING,
      // so the oracle is the same 3-round training + encode re-derivation
      s"""$bpeGpt2Ctes, gp_wordtok AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
         |  FROM gpseq3
         |), gp_docwords AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$duckGpt2Pat')) AS w
         |  FROM gp_docs
         |), gp_sums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM gp_docwords JOIN gp_wordtok ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN gp_sums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // Token IDS under the loaded vocab (what a pipeline actually
    // materializes): ids 0..255 are the byte alphabet, 256+rank the
    // merged tokens. The oracle REBUILDS the id table in SQL — the
    // bytes→unicode mapping from its printable-range definition and
    // the merge ranks from the 3-round replay — and sums ids per doc,
    // so a single wrong id anywhere breaks the hash.
    Gate("text_bpe_pretrained_ids")((s, dir) => {
      val docs = gpt2Corpus(s, dir)
      val trained = Bpe.trainIncremental(docs, "text", k = 3, batch = 3,
        init = Bpe.initGpt2Symbols, tok = Bpe.gpt2PreTokens)
      val loaded = PretrainedVocab.parseMergesTxt(
        PretrainedVocab.renderMergesTxt(trained))
      val ids = ((0 until 256).map(b => Bpe.byteToUnicode(b) -> b) ++
        loaded.map(m => m.merged -> (256 + m.rank))).toMap
      PretrainedVocab.tokenIdSums(docs, "doc_id", "text", loaded, ids)
        .orderBy("doc_id")
    }) {
      // ids replay: the byte alphabet from its printable-range
      // definition (non-printables get 256+n in ascending byte order),
      // merged-token ids 256+rank from the 3-round replay, summed per
      // word then per doc
      s"""$bpeGpt2Ctes, gp_b2u AS (
         |  SELECT b,
         |    CASE WHEN pr THEN chr(CAST(b AS INT))
         |         ELSE chr(256 + CAST(row_number() OVER
         |           (PARTITION BY pr ORDER BY b) - 1 AS INT)) END AS sym
         |  FROM (SELECT range AS b,
         |      ((range BETWEEN 33 AND 126) OR (range BETWEEN 161 AND 172)
         |        OR (range BETWEEN 174 AND 255)) AS pr
         |    FROM range(256))
         |), gp_symid AS (
         |  SELECT replace(pr, ' ', '') AS sym, 256 + rank AS id FROM (
         |    SELECT 0 AS rank, pr FROM gpm1
         |    UNION ALL SELECT 1, pr FROM gpm2
         |    UNION ALL SELECT 2, pr FROM gpm3)
         |  UNION ALL
         |  SELECT sym, b AS id FROM gp_b2u
         |), gp_wsyms AS (
         |  SELECT word, unnest(string_split(trim(seq), ' ')) AS s FROM gpseq3
         |), gp_wordids AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS ntok,
         |    CAST(sum(si.id) AS BIGINT) AS idsum
         |  FROM gp_wsyms JOIN gp_symid si ON si.sym = gp_wsyms.s
         |  GROUP BY word
         |), gp_docwords AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$duckGpt2Pat')) AS w
         |  FROM gp_docs
         |), gp_idsums AS (
         |  SELECT doc_id, sum(ntok) AS n, sum(idsum) AS ids
         |  FROM gp_docwords JOIN gp_wordids ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(s.ids, 0) AS BIGINT) AS id_sum
         |FROM documents d LEFT JOIN gp_idsums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // tiktoken-format leg: the same vocabulary expressed as a base64
    // `.tiktoken` rank file (ranks follow creation order), loaded back
    // and encoded with tiktoken's merged-rank algorithm — again equal
    // to classic BPE by construction, same oracle.
    Gate("text_tiktoken_pretrained")((s, dir) => {
      val docs = gpt2Corpus(s, dir)
      val trained = Bpe.trainIncremental(docs, "text", k = 3, batch = 3,
        init = Bpe.initGpt2Symbols, tok = Bpe.gpt2PreTokens)
      val entries = (0 until 256).map(b => Bpe.byteToUnicode(b) -> b) ++
        trained.map(m => m.merged -> (256 + m.rank))
      val ranks = PretrainedVocab.parseTiktoken(
        PretrainedVocab.renderTiktoken(entries))
      require(ranks == entries.toMap, ".tiktoken round-trip drifted")
      PretrainedVocab.tokenCountsVocabRanks(docs, "doc_id", "text", ranks)
        .orderBy("doc_id")
    }) {
      s"""$bpeGpt2Ctes, gp_wordtok AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
         |  FROM gpseq3
         |), gp_docwords AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$duckGpt2Pat')) AS w
         |  FROM gp_docs
         |), gp_sums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM gp_docwords JOIN gp_wordtok ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN gp_sums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // Unigram-LM tokenizer (Kudo 2018, SentencePiece family): seed 40
    // substrings + all chars, 2 hard-EM Viterbi rounds, count-prune to
    // 20 multis. The oracle replays the ENTIRE training — seeding,
    // both Viterbi DPs position-by-position (the score key folds
    // (key·cnt)/total left-to-right in IEEE double, exactly specified
    // arithmetic, so every argmax comparison replays bit-identically),
    // integer M-step counts, and the prune — CTE-for-CTE.
    Gate("text_unigram_train")((s, dir) => {
      val ps = Unigram.trainOnce(tbl(s, dir, "documents"), "text",
        seedMultis = 40, vocabMultis = 20, emRounds = 2, maxPieceLen = 4)
      import s.implicits._
      ps.zipWithIndex.map { case (p, i) => (i + 1, p.piece, p.count) }
        .toDF("rank", "piece", "cnt").orderBy("rank")
    }) {
      s"""WITH $wordsCte,
         |$uniCtes
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS INT) AS rank,
         |  piece, cnt
         |FROM ukeep ORDER BY rank""".stripMargin
    },
    // Train + Viterbi-encode end-to-end: per-doc token counts under
    // the pruned table (row-local, piece table broadcast). The oracle
    // re-derives the vocabulary AND re-segments every distinct word
    // through a third unrolled DP.
    Gate("text_unigram_encode")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = Unigram.trainOnce(docs, "text",
        seedMultis = 40, vocabMultis = 20, emRounds = 2, maxPieceLen = 4)
      Unigram.tokenCounts(docs, "doc_id", "text", vocab, maxPieceLen = 4)
        .orderBy("doc_id")
    }) {
      s"""WITH $wordsCte,
         |$uniCtes,
         |docwords AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents
         |), usums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM docwords JOIN segenc ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(u.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN usums u USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // The tokenizer-family comparison a real pipeline runs before
    // committing to a vocabulary: per-doc token counts under BPE(k=3)
    // vs unigram(20 multis) side by side, both oracle-rederived.
    Gate("text_unigram_vs_bpe")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val uni = Unigram.trainOnce(docs, "text",
        seedMultis = 40, vocabMultis = 20, emRounds = 2, maxPieceLen = 4)
      val ms = Bpe.train(docs, "text", k = 3)
      Bpe.tokenCounts(docs, "doc_id", "text", ms)
        .withColumnRenamed("n_tokens", "n_bpe")
        .join(Unigram.tokenCounts(docs, "doc_id", "text", uni, maxPieceLen = 4)
          .withColumnRenamed("n_tokens", "n_uni"), "doc_id")
        .orderBy("doc_id")
    }) {
      s"""$bpeCtes,
         |$uniCtes,
         |wordtok AS (
         |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
         |  FROM seq3
         |), docwords AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents
         |), bsums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM docwords JOIN wordtok ON w = word GROUP BY doc_id
         |), usums AS (
         |  SELECT doc_id, sum(ntok) AS n
         |  FROM docwords JOIN segenc ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(b.n, 0) AS BIGINT) AS n_bpe,
         |  CAST(coalesce(u.n, 0) AS BIGINT) AS n_uni
         |FROM documents d
         |LEFT JOIN bsums b USING (doc_id) LEFT JOIN usums u USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // WordPiece training (Schuster & Nakajima 2012, the BERT
    // tokenizer — third family of the triad): k=3 merge rounds over
    // the ##-prefixed symbol table; each winner maximizes
    // cnt(pair)/(cnt(left)·cnt(right)) computed in IEEE-754 double
    // (exactly-specified arithmetic, so DuckDB replays every argmax
    // comparison bit-identically — the unigram key-fold trick), ties
    // by the pair's lexicographic form. The gate emits each winner's
    // INTEGER evidence so the driver compare stays integer-only; the
    // oracle re-derives all three rounds CTE-for-CTE.
    Gate("text_wordpiece_train")((s, dir) => {
      import s.implicits._
      WordPiece.trainWithCounts(tbl(s, dir, "documents"), "text", k = 3)
        .map { case (m, cnt, cl, cr) =>
          (m.rank, m.left, m.right, m.merged, cnt, cl, cr)
        }
        .toDF("rank", "lhs", "rhs", "merged", "cnt", "cnt_left", "cnt_right")
        .orderBy("rank")
    }) {
      s"""WITH $wordsCte,
         |$wpCtes
         |SELECT rank, split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs,
         |  mg AS merged, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(cl AS BIGINT) AS cnt_left, CAST(cr AS BIGINT) AS cnt_right
         |FROM (
         |  SELECT 0 AS rank, pr, mg, cnt, cl, cr FROM wp_m1
         |  UNION ALL SELECT 1, pr, mg, cnt, cl, cr FROM wp_m2
         |  UNION ALL SELECT 2, pr, mg, cnt, cl, cr FROM wp_m3)
         |ORDER BY rank""".stripMargin
    },
    // Train + greedy longest-match-first encode end-to-end (BERT's
    // inference rule: no match at a position makes the ENTIRE word one
    // [UNK]); vocabulary = corpus alphabet + the 3 merged symbols,
    // minus any piece containing the letter 'q' — the corpus is pure
    // a-z and 'q' is its rarest letter, so every q-bearing word
    // becomes [UNK] and the UNK path is exercised on real rows — all
    // broadcast row-local. The oracle re-derives the vocabulary and
    // replays the greedy scan as an 8-step unrolled loop (corpus max
    // word length is 8 at every SF).
    Gate("text_wordpiece_encode")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val ms = WordPiece.train(docs, "text", k = 3)
      val v = WordPiece.vocab(docs, "text", ms)
        .filterNot(_.contains('q'))
      WordPiece.tokenCounts(docs, "doc_id", "text", v, maxPieceLen = 4)
        .orderBy("doc_id")
    }) {
      s"""WITH $wordsCte,
         |$wpCtes,
         |$wpEncCtes,
         |docwords AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents
         |), wsums AS (
         |  SELECT doc_id, sum(ntok) AS n, sum(unk) AS nu
         |  FROM docwords JOIN wp_enc ON w = word GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(s.nu, 0) AS BIGINT) AS n_unk
         |FROM documents d LEFT JOIN wsums s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
  )

  /** Corpus for the byte-level BPE gates: every 5th document gets a
    * repeated Hebrew token whose UTF-8 continuation bytes (0x90–0x92)
    * hit the NON-identity rows of the bytes→unicode table. */
  private def bpeBytesCorpus(s: SparkSession, dir: String): DataFrame = {
    val planted = Seq.fill(60)("אבג").mkString(" ")
    tbl(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + planted)))
        .otherwise(col("text")).as("text"))
  }

  /** Corpus for the GPT-2 pre-tokenizer gates: [[bpeBytesCorpus]]
    * whitespace-NORMALIZED (runs → one space, trimmed) — on such text
    * the `(?!\S)` lookahead branch never fires differently from plain
    * `\s+`, so the RE2-based DuckDB oracle replays the Java-regex
    * pre-tokenization exactly (theorem pinned in BpeSpec). */
  private def gpt2Corpus(s: SparkSession, dir: String): DataFrame =
    bpeBytesCorpus(s, dir).select(col("doc_id"),
      trim(regexp_replace(col("text"), "\\s+", " ")).as("text"))

  /** Fixpoint merge for the BPE oracles: `' l r ' → ' lr '` on the
    * space-joined symbol string, chained 4 deep. One replace() pass
    * merges non-overlapping occurrences left-to-right, so each pass at
    * least halves what an alternating run leaves behind; corpus words
    * are far under the 2⁴ occurrence bound, so the chain reaches the
    * same fixpoint as the engine's repeated single pass
    * ([[graft.operators.Bpe.applyMerge]]). */
  private def bpeMergeFix(expr: String, mergeCte: String): String = {
    def once(e: String) =
      s"replace($e, ' ' || $mergeCte.pr || ' ', ' ' || replace($mergeCte.pr, ' ', '') || ' ')"
    once(once(once(once(expr))))
  }

  /** Pair-count CTE body over a symbol-sequence CTE: adjacent symbol
    * pairs of every word, weighted by word frequency. */
  private def bpePairCte(seqCte: String): String =
    s"""SELECT pr, sum(freq) AS cnt FROM (
       |    SELECT unnest(list_transform(range(1, len(a)),
       |      i -> a[i] || ' ' || a[i + 1])) AS pr, freq
       |    FROM (SELECT string_split(trim(seq), ' ') AS a, freq FROM $seqCte))
       |  GROUP BY pr""".stripMargin

  /** Shared CTE chain for the BPE oracles: the distinct-word table,
    * then three rounds of pair-count → deterministic argmax
    * (count DESC, pair ASC — the engine's tie-break) → fixpoint
    * merge. `seq3` is the post-round-3 symbol table. */
  /** The distinct-word frequency table (Bpe.wordFreqs' SQL mirror) —
    * shared by the BPE and unigram oracle chains. */
  private lazy val wordsCte: String =
    s"""words AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> len(x) > 0)) AS w
       |    FROM documents) GROUP BY w
       |)""".stripMargin

  private lazy val bpeCtes: String =
    s"""WITH $wordsCte, seq0 AS (
       |  SELECT word, freq,
       |    ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' </w> ' AS seq
       |  FROM words
       |), p1 AS (${bpePairCte("seq0")}
       |), m1 AS (SELECT pr FROM p1 ORDER BY cnt DESC, pr LIMIT 1
       |), seq1 AS (SELECT word, freq, ${bpeMergeFix("seq", "m1")} AS seq
       |  FROM seq0 CROSS JOIN m1
       |), p2 AS (${bpePairCte("seq1")}
       |), m2 AS (SELECT pr FROM p2 ORDER BY cnt DESC, pr LIMIT 1
       |), seq2 AS (SELECT word, freq, ${bpeMergeFix("seq", "m2")} AS seq
       |  FROM seq1 CROSS JOIN m2
       |), p3 AS (${bpePairCte("seq2")}
       |), m3 AS (SELECT pr FROM p3 ORDER BY cnt DESC, pr LIMIT 1
       |), seq3 AS (SELECT word, freq, ${bpeMergeFix("seq", "m3")} AS seq
       |  FROM seq2 CROSS JOIN m3
       |)""".stripMargin

  /** Byte-level BPE oracle chain (prefix `bb`): the planted corpus of
    * [[bpeBytesCorpus]], word table, then the GPT-2 bytes→unicode
    * symbolization replayed ARITHMETICALLY — each char's code point
    * decomposes to UTF-8 bytes (1/2/3-byte forms), each byte maps
    * through the printable-identity / 256+n CASE — then three
    * pair-count → argmax → fixpoint-merge rounds identical to
    * [[bpeCtes]]. Ends with `bbseq3`. */
  // byte b → its bytes→unicode table char: printable bytes are
  // identity; bytes 0..32 → chr(256+b); 127..160 → chr(b+162);
  // 173 → chr(323). Shared by the byte-level and GPT-2 BPE oracles.
  private def duckByteMap(b: String) =
    s"""CASE WHEN ($b BETWEEN 33 AND 126) OR ($b BETWEEN 161 AND 172)
       |      OR ($b BETWEEN 174 AND 255) THEN chr($b)
       |      WHEN $b <= 32 THEN chr(256 + $b)
       |      WHEN $b BETWEEN 127 AND 160 THEN chr($b + 162)
       |      ELSE chr(323) END""".stripMargin

  /** char `c` → its UTF-8 bytes through [[duckByteMap]], as a DuckDB
    * list expression (1/2/3-byte forms, arithmetically). */
  private lazy val duckCharToSyms: String = {
    def bmap(b: String) = duckByteMap(b)
    s"""CASE WHEN ord(c) < 128 THEN [${bmap("ord(c)")}]
       |    WHEN ord(c) < 2048 THEN
       |      [${bmap("192 + ord(c) // 64")}, ${bmap("128 + ord(c) % 64")}]
       |    ELSE [${bmap("224 + ord(c) // 4096")},
       |      ${bmap("128 + (ord(c) // 64) % 64")}, ${bmap("128 + ord(c) % 64")}]
       |    END""".stripMargin
  }

  private lazy val bpeBytesCtes: String = {
    val charToSyms = duckCharToSyms
    val planted = Seq.fill(60)("אבג").mkString(" ")
    s"""WITH bb_docs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN text || ' $planted'
       |         ELSE text END AS text
       |  FROM documents
       |), bb_words AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> len(x) > 0)) AS w
       |    FROM bb_docs) GROUP BY w
       |), bbseq0 AS (
       |  SELECT word, freq, concat(' ', array_to_string(flatten(list_transform(
       |      regexp_extract_all(word, '.'), c -> $charToSyms)),
       |    ' '), ' </w> ') AS seq
       |  FROM bb_words
       |), bbp1 AS (${bpePairCte("bbseq0")}
       |), bbm1 AS (SELECT pr FROM bbp1 ORDER BY cnt DESC, pr LIMIT 1
       |), bbseq1 AS (SELECT word, freq, ${bpeMergeFix("seq", "bbm1")} AS seq
       |  FROM bbseq0 CROSS JOIN bbm1
       |), bbp2 AS (${bpePairCte("bbseq1")}
       |), bbm2 AS (SELECT pr FROM bbp2 ORDER BY cnt DESC, pr LIMIT 1
       |), bbseq2 AS (SELECT word, freq, ${bpeMergeFix("seq", "bbm2")} AS seq
       |  FROM bbseq1 CROSS JOIN bbm2
       |), bbp3 AS (${bpePairCte("bbseq2")}
       |), bbm3 AS (SELECT pr FROM bbp3 ORDER BY cnt DESC, pr LIMIT 1
       |), bbseq3 AS (SELECT word, freq, ${bpeMergeFix("seq", "bbm3")} AS seq
       |  FROM bbseq2 CROSS JOIN bbm3
       |)""".stripMargin
  }

  /** The GPT-2 pre-tokenizer in its RE2 (lookahead-free) form, SQL-
    * escaped — exact on the whitespace-normalized gate corpus (see
    * [[graft.operators.Bpe.Gpt2PretokPatternRe2]]). */
  private lazy val duckGpt2Pat: String =
    graft.operators.Bpe.Gpt2PretokPatternRe2.replace("'", "''")

  private lazy val duckCl100kPat: String =
    graft.operators.Bpe.Cl100kPretokPatternRe2.replace("'", "''")

  /** Normalized planted corpus + GPT-2 pre-token word table (case and
    * leading spaces kept, no `</w>`), shared by the GPT-2 BPE oracle
    * chains. Ends with `gp_words`. */
  private lazy val gpt2WordsCtes: String = {
    val planted = Seq.fill(60)("אבג").mkString(" ")
    s"""gp_docs AS (
       |  SELECT doc_id, trim(regexp_replace(
       |    CASE WHEN doc_id % 5 = 0 THEN text || ' $planted'
       |         ELSE text END, '\\s+', ' ', 'g')) AS text
       |  FROM documents
       |), gp_words AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(text, '$duckGpt2Pat')) AS w
       |    FROM gp_docs) GROUP BY w
       |)""".stripMargin
  }

  /** GPT-2 byte-level BPE oracle chain (prefix `gp`): normalized
    * corpus, regex pre-token word table, bytes→unicode symbolization
    * with NO terminal, then three pair-count → argmax → fixpoint-merge
    * rounds identical to [[bpeCtes]]. Ends with `gpseq3`. */
  private lazy val bpeGpt2Ctes: String =
    s"""WITH $gpt2WordsCtes, gpseq0 AS (
       |  SELECT word, freq, concat(' ', array_to_string(flatten(list_transform(
       |      regexp_extract_all(word, '.'), c -> $duckCharToSyms)),
       |    ' '), ' ') AS seq
       |  FROM gp_words
       |), gpp1 AS (${bpePairCte("gpseq0")}
       |), gpm1 AS (SELECT pr FROM gpp1 ORDER BY cnt DESC, pr LIMIT 1
       |), gpseq1 AS (SELECT word, freq, ${bpeMergeFix("seq", "gpm1")} AS seq
       |  FROM gpseq0 CROSS JOIN gpm1
       |), gpp2 AS (${bpePairCte("gpseq1")}
       |), gpm2 AS (SELECT pr FROM gpp2 ORDER BY cnt DESC, pr LIMIT 1
       |), gpseq2 AS (SELECT word, freq, ${bpeMergeFix("seq", "gpm2")} AS seq
       |  FROM gpseq1 CROSS JOIN gpm2
       |), gpp3 AS (${bpePairCte("gpseq2")}
       |), gpm3 AS (SELECT pr FROM gpp3 ORDER BY cnt DESC, pr LIMIT 1
       |), gpseq3 AS (SELECT word, freq, ${bpeMergeFix("seq", "gpm3")} AS seq
       |  FROM gpseq2 CROSS JOIN gpm3
       |)""".stripMargin

  // ---- unigram-LM oracle (Unigram.scala's deterministic spec) ----
  // Gate shape: seed 40 substrings (len 2..4) + all chars, 2 hard-EM
  // Viterbi rounds, count-prune to 20 multis. The Viterbi DP unrolls
  // position-by-position to maxW=16 CTEs per round; the score key folds
  // (key·cnt)/total left-to-right in DOUBLE — IEEE-754 ops are exactly
  // specified, so DuckDB reproduces Spark's comparisons bit-for-bit.
  private val uniMaxW = 16

  private val uniMaxL = 4

  private val uniSeedMultis = 40

  private val uniVocabMultis = 20

  /** Viterbi DP CTE chain over `wordsCte` (word, freq) with vocabulary
    * `vCte` (piece, cnt) and total `tCte` (total): emits
    * `dp{tag}_0..maxW` and `seg{tag}` (word, freq, ntok, seg). Per
    * position the argmax is (key desc, ntok asc, seg asc) — exactly
    * [[graft.operators.Unigram.viterbi]]'s tie-break. */
  private def uniDpCtes(tag: String, wordsCte: String, vCte: String,
      tCte: String): String = {
    val sb = new StringBuilder
    sb ++= s"dp${tag}_0 AS MATERIALIZED (SELECT word, freq, CAST(1.0 AS DOUBLE) AS key, " +
      s"0 AS ntok, '' AS seg FROM $wordsCte)"
    for (i <- 1 to uniMaxW) {
      val legs = (1 to math.min(uniMaxL, i)).map { l =>
        s"""SELECT p.word, p.freq,
           |      (p.key * CAST(v.cnt AS DOUBLE)) / CAST(t.total AS DOUBLE) AS key,
           |      p.ntok + 1 AS ntok,
           |      CASE WHEN p.seg = '' THEN v.piece ELSE p.seg || ' ' || v.piece END AS seg
           |    FROM dp${tag}_${i - l} p CROSS JOIN $tCte t
           |    JOIN $vCte v ON len(p.word) >= $i AND v.piece = substr(p.word, ${i - l + 1}, $l)""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      sb ++= s""",
         |dp${tag}_$i AS MATERIALIZED (
         |  SELECT word, freq, key, ntok, seg FROM (
         |    SELECT word, freq, key, ntok, seg,
         |      row_number() OVER (PARTITION BY word
         |        ORDER BY key DESC, ntok ASC, seg ASC) AS rn
         |    FROM (
         |    $legs)) WHERE rn = 1)""".stripMargin
    }
    sb ++= s""",
       |seg$tag AS (
       |  ${(1 to uniMaxW).map(i =>
             s"SELECT word, freq, ntok, seg FROM dp${tag}_$i WHERE len(word) = $i")
             .mkString("\n  UNION ALL\n  ")})""".stripMargin
    sb.toString
  }

  /** M-step CTEs: piece counts from a seg table, then the next-round
    * vocabulary (chars persist at 0; zero-count multis drop). */
  private def uniMStep(cntCte: String, segCte: String, nextV: String): String =
    s"""$cntCte AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM $segCte)
       |  GROUP BY piece),
       |$nextV AS MATERIALIZED (
       |  SELECT ch.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       |  FROM uchars ch LEFT JOIN $cntCte c USING (piece)
       |  UNION ALL
       |  SELECT piece, cnt FROM $cntCte WHERE len(piece) > 1)""".stripMargin

  /** Full unigram training replay: seed → EM round 1 → EM round 2 →
    * count prune → (encoding DP over the pruned table as `segenc`).
    * Chains onto the bpe oracle's `words` CTE. */
  private lazy val uniCtes: String =
    s"""uwords AS MATERIALIZED (SELECT word, freq FROM words WHERE len(word) <= $uniMaxW),
       |uchars AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(word, '.')) AS piece, freq FROM uwords)
       |  GROUP BY piece),
       |umultis AS (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(flatten(list_transform(range(2, ${uniMaxL + 1}), l ->
       |        list_transform(range(1, len(word) - l + 2),
       |          i -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece, freq
       |      FROM uwords WHERE len(word) >= 2)
       |    GROUP BY piece)
       |  ORDER BY cnt DESC, piece LIMIT $uniSeedMultis),
       |uv1 AS MATERIALIZED (SELECT piece, cnt FROM uchars UNION ALL SELECT piece, cnt FROM umultis),
       |ut1 AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uv1),
       |${uniDpCtes("r1", "uwords", "uv1", "ut1")},
       |${uniMStep("uc1", "segr1", "uv2")},
       |ut2 AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uv2),
       |${uniDpCtes("r2", "uwords", "uv2", "ut2")},
       |${uniMStep("uc2", "segr2", "uv3")},
       |ukeep AS MATERIALIZED (
       |  SELECT piece, cnt FROM uv3 WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM uv3 WHERE len(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT $uniVocabMultis)),
       |utf AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ukeep),
       |${uniDpCtes("enc", "uwords", "ukeep", "utf")}""".stripMargin

  // ---- WordPiece oracle (WordPiece.scala's deterministic spec) ----
  // k=3 merge rounds over the ##-prefixed symbol table; the score
  // cnt(pair)/(cnt(l)·cnt(r)) is computed in DOUBLE — IEEE-754 ops are
  // exactly specified, so DuckDB reproduces Spark's argmax comparisons
  // bit-for-bit. The merged symbol strips the right side's ## prefix.
  /** Fixpoint merge for the WordPiece oracles: `' l r ' → ' mg '`
    * using the merge CTE's precomputed merged symbol; chained 4 deep
    * (same occurrence bound argument as [[bpeMergeFix]]). */
  private def wpMergeFix(expr: String, mergeCte: String): String = {
    def once(e: String) =
      s"replace($e, ' ' || $mergeCte.pr || ' ', ' ' || $mergeCte.mg || ' ')"
    once(once(once(once(expr))))
  }

  /** One WordPiece training round over symbol-sequence CTE `seqPrev`:
    * pair counts, single-symbol counts, the double-score argmax (with
    * its integer evidence), and the fixpoint-merged next sequence. */
  private def wpRound(i: Int, seqPrev: String): String =
    s"""wp_p$i AS (${bpePairCte(seqPrev)}
       |), wp_s$i AS (
       |  SELECT sym, sum(freq) AS cnt FROM (
       |    SELECT unnest(string_split(trim(seq), ' ')) AS sym, freq FROM $seqPrev)
       |  GROUP BY sym
       |), wp_m$i AS (
       |  SELECT pr,
       |    split_part(pr, ' ', 1) ||
       |      CASE WHEN starts_with(split_part(pr, ' ', 2), '##')
       |           THEN substr(split_part(pr, ' ', 2), 3)
       |           ELSE split_part(pr, ' ', 2) END AS mg,
       |    cnt, cl, cr
       |  FROM (
       |    SELECT p.pr, p.cnt, sl.cnt AS cl, sr.cnt AS cr,
       |      CAST(p.cnt AS DOUBLE) / (CAST(sl.cnt AS DOUBLE) * CAST(sr.cnt AS DOUBLE)) AS score
       |    FROM wp_p$i p
       |    JOIN wp_s$i sl ON sl.sym = split_part(p.pr, ' ', 1)
       |    JOIN wp_s$i sr ON sr.sym = split_part(p.pr, ' ', 2))
       |  ORDER BY score DESC, pr ASC LIMIT 1
       |), wp_seq$i AS (SELECT word, freq, ${wpMergeFix("seq", s"wp_m$i")} AS seq
       |  FROM $seqPrev CROSS JOIN wp_m$i
       |)""".stripMargin

  /** Shared WordPiece training chain: ##-prefixed initial symbols,
    * then three rounds. Chains onto the `words` CTE. */
  private lazy val wpCtes: String =
    s"""wp_seq0 AS (SELECT word, freq,
       |  ' ' || array_to_string(list_transform(range(1, len(word) + 1),
       |    i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
       |              ELSE '##' || substr(word, CAST(i AS INT), 1) END), ' ') || ' ' AS seq
       |  FROM words),
       |${wpRound(1, "wp_seq0")},
       |${wpRound(2, "wp_seq1")},
       |${wpRound(3, "wp_seq2")}""".stripMargin

  /** Greedy longest-match-first encode replay: vocabulary = alphabet +
    * merged symbols minus q-bearing pieces, then an 8-step
    * unrolled scan (corpus max word length is 8 at every SF; each step
    * consumes ≥1 char). A step either extends by the longest matching
    * piece, carries a finished/unk word through, or marks a stuck word
    * [UNK] — exactly [[graft.operators.WordPiece.encodeWord]]. */
  private lazy val wpEncCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""wpvocab AS MATERIALIZED (
       |  SELECT sym FROM (
       |    SELECT DISTINCT sym FROM (
       |      SELECT unnest(string_split(trim(seq), ' ')) AS sym FROM wp_seq0)
       |    UNION SELECT mg FROM wp_m1
       |    UNION SELECT mg FROM wp_m2
       |    UNION SELECT mg FROM wp_m3)
       |  WHERE sym NOT LIKE '%q%'),
       |wp_g0 AS (SELECT word, freq, 0 AS pos, 0 AS ntok, 0 AS unk FROM words)""".stripMargin
    for (i <- 1 to 8) {
      val matchCase =
        s"""CASE WHEN g.pos = 0 THEN substr(g.word, 1, CAST(ll.l AS INT))
           |           ELSE '##' || substr(g.word, CAST(g.pos + 1 AS INT), CAST(ll.l AS INT)) END""".stripMargin
      sb ++= s""",
         |wp_g$i AS MATERIALIZED (
         |  SELECT word, freq, pos, ntok, unk FROM (
         |    SELECT word, freq, pos + l AS pos, ntok + 1 AS ntok, 0 AS unk,
         |      row_number() OVER (PARTITION BY word ORDER BY l DESC) AS rn
         |    FROM (
         |      SELECT g.word, g.freq, g.pos, g.ntok, ll.l
         |      FROM wp_g${i - 1} g
         |      CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) ll
         |      JOIN wpvocab v
         |        ON g.pos + ll.l <= len(g.word)
         |       AND v.sym = $matchCase
         |      WHERE g.pos < len(g.word) AND g.unk = 0))
         |  WHERE rn = 1
         |  UNION ALL
         |  SELECT word, freq, pos, ntok, unk FROM wp_g${i - 1}
         |  WHERE pos >= len(word) OR unk = 1
         |  UNION ALL
         |  SELECT g.word, g.freq, g.pos, g.ntok, 1 AS unk
         |  FROM wp_g${i - 1} g
         |  WHERE g.pos < len(g.word) AND g.unk = 0 AND NOT EXISTS (
         |    SELECT 1 FROM wpvocab v, (SELECT unnest([1, 2, 3, 4]) AS l) ll
         |    WHERE g.pos + ll.l <= len(g.word)
         |      AND v.sym = $matchCase))""".stripMargin
    }
    sb ++= s""",
       |wp_enc AS (SELECT word, freq,
       |  CASE WHEN unk = 1 THEN 1 ELSE ntok END AS ntok, unk
       |  FROM wp_g8)""".stripMargin
    sb.toString
  }
}
