package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline, QualityClassifier, TextOps}

import Fixtures._

/** Training-data pipeline steps and the composed curation pipelines. */
object PipelineGates {

  val gates: Seq[Gate] = Seq(
    // Composed curation pass — the end-to-end training-data shape:
    // language filter → cheap quality gates → content-hash dedup →
    // per-source accounting. One scan + one agg shuffle.
    Gate("pipeline_curate")((s, dir) => {
      // tokenize ONCE into a column; referencing the expression three
      // times would re-split per use (subexpr elimination is
      // best-effort, a materialized column is guaranteed).
      val kept = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          TextOps.tokens(col("text")).as("toks"),
          TextOps.fingerprint(col("text")).as("fp"))
        .select(col("doc_id"), col("source"), col("lang"), col("fp"),
          size(col("toks")).as("n_tokens"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double")).as("distinct_ratio"))
        .where(col("lang") === "en" && col("n_tokens") >= 30 &&
          col("distinct_ratio") >= 0.2)
      kept.groupBy("source")
        .agg(
          count(lit(1)).as("n_kept"),
          countDistinct(col("fp")).as("n_unique"),
          sum("n_tokens").as("sum_tokens"))
        .orderBy("source")
    }) {
      """WITH t AS (
        |  SELECT doc_id, source, lang, text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents
        |), kept AS (
        |  SELECT source, lower(trim(text)) AS norm, len(toks) AS n_tokens
        |  FROM t
        |  WHERE lang = 'en' AND len(toks) >= 30
        |    AND len(list_distinct(toks))::DOUBLE / len(toks) >= 0.2
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(count(DISTINCT norm) AS BIGINT) AS n_unique,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM kept GROUP BY source ORDER BY source""".stripMargin
    },

    // COMPOSED curation v2 (round 10): the new unit-dedup ops chained
    // end-to-end — paragraph dedup (first-occurrence winners) → text
    // flattened → span-level dedup (8-token windows; copies whose
    // truncated tail chunk survived stage 1 lose it here when ≥8
    // tokens) → minimum-length gate → census. The oracle replays the
    // WHOLE chain; any stage interaction bug breaks the census.
    Gate("pipeline_curate_v2")((s, dir) => {
      val corpus = nearDupCorpus(tbl(s, dir, "documents"))
      val toks = split(col("text"), " ")
      val lastChunk = greatest(
        floor((size(toks) + 9) / 10).cast("int") - 1, lit(0))
      val chunked = corpus.select(col("doc_id"),
        array_join(transform(sequence(lit(0), lastChunk),
          i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")), "\n\n")
          .as("text"))
      val s1 = Dedup.dedupParagraphs(chunked, "doc_id", "text")
        .select(col("doc_id"),
          regexp_replace(col("text"), "\n+", " ").as("text"))
      val s2 = TextOps.removeDupSpans(s1, "doc_id", "text", n = 8)
      s2.where(col("n_tokens_kept") >= 20)
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("n_tokens_kept").as("sum_tokens"))
    }) {
      // Replays the FULL composed chain: paragraph winner rule + rebuild,
      // \n-flatten, span winner + coverage + rebuild, length gate, census.
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(string_split(text, ' ')) >= 30
        |), corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      len(string_split(text, ' ')) - 5), ' ')
        |  FROM base
        |), chunked AS (
        |  SELECT doc_id,
        |    list_transform(range(0, greatest((len(w) + 9) // 10, 1)),
        |      i -> array_to_string(w[i*10+1:i*10+10], ' ')) AS ps
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        |), pt AS (
        |  SELECT doc_id, u.pos AS pos, u.p AS p,
        |    lower(trim(u.p,
        |      ' ' || chr(9) || chr(13) || chr(10))) AS norm
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |      i -> {'pos': i - 1, 'p': ps[i]})) AS u
        |    FROM chunked)
        |), pwin AS (
        |  SELECT norm, min(doc_id * 1000000 + pos) AS wkey
        |  FROM pt WHERE norm != '' GROUP BY norm
        |), pkept AS (
        |  SELECT pt.doc_id, pt.pos, pt.p FROM pt
        |  LEFT JOIN pwin ON pwin.norm = pt.norm
        |  WHERE pt.norm = '' OR pt.doc_id * 1000000 + pt.pos = pwin.wkey
        |), preb AS (
        |  SELECT doc_id, string_agg(p, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM pkept GROUP BY doc_id
        |), flat AS (
        |  SELECT c.doc_id,
        |    string_split(regexp_replace(coalesce(r.text, ''),
        |      '\n+', ' ', 'g'), ' ') AS t
        |  FROM chunked c LEFT JOIN preb r ON r.doc_id = c.doc_id
        |), g AS (
        |  SELECT doc_id, u.p AS p, u.g AS g
        |  FROM (SELECT doc_id, unnest(list_transform(range(0, greatest(len(t) - 7, 0)),
        |    p -> {'p': p, 'g': array_to_string(t[p+1:p+8], ' ')})) AS u
        |    FROM flat)
        |), swin AS (
        |  SELECT g, min(doc_id) AS wid
        |  FROM (SELECT DISTINCT g, doc_id FROM g)
        |  GROUP BY g HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, u AS tp
        |  FROM (SELECT g.doc_id AS doc_id, unnest(range(g.p, g.p + 8)) AS u
        |        FROM g JOIN swin ON g.g = swin.g WHERE g.doc_id != swin.wid)
        |), tokt AS (
        |  SELECT doc_id, u.tpos AS tpos
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> {'tpos': i - 1})) AS u FROM flat)
        |), nk AS (
        |  SELECT tokt.doc_id, count(*) AS n_kept
        |  FROM tokt
        |  LEFT JOIN cov ON cov.doc_id = tokt.doc_id AND cov.tp = tokt.tpos
        |  WHERE cov.doc_id IS NULL
        |  GROUP BY tokt.doc_id
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_kept) AS BIGINT) AS sum_tokens
        |FROM nk WHERE n_kept >= 20""".stripMargin
    },

    // COMPOSED curation v3 (round 14): the MODERN four-stage pipeline
    // — length gate → distilled classifier flag → KN perplexity tail
    // cut → exact dedup over the surviving pool — with first-fail
    // accounting. Every-7th doc is planted as an exact duplicate so
    // the dedup stage fires on real rows; the oracle replays BOTH
    // model trainings (5 GD rounds + the full KN derivation) over
    // the same planted corpus and the whole stage cascade. Gate-scale
    // GD is 5 rounds (r19 bench-budget trim — the oracle replays
    // whatever round count is configured, so the check stays exact;
    // the 10-round path keeps its own coverage via the lrModel gates).
    Gate("pipeline_curate_v3")((s, dir) => {
      val docs0 = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = docs0.unionAll(docs0.where(col("doc_id") % 7 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val m = QualityClassifier.trainLogistic(
        docs.withColumn("y",
          array_contains(split(lower(col("text")), "\\s+"), "dup").cast("int")),
        "text", "y", numBuckets = 64, ns = Seq(1), seed = 13L, rounds = 5,
        lr = 0.25, posWeight = 32L, binary = true)
      Pipeline.curateV3(docs, "doc_id", "text", m, minTokens = 30,
          pplTailMax = -3.07, hotK = 128)
        .groupBy("stage").agg(count(lit(1)).as("n_docs"))
        .orderBy("stage")
    }) {
      s"""WITH cv_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 7 = 2
         |), ${lrOracleCteFor(64, 5, "cv_docs").stripPrefix("WITH ")},
         |${knOracleCteFor("cv_docs").stripPrefix("WITH ")},
         |cv_base AS (
         |  SELECT d.doc_id,
         |    len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
         |      t -> len(t) > 0)) AS n_tokens,
         |    lower(trim(d.text)) AS norm, s.p, k.n_scored, k.lp_sum
         |  FROM cv_docs d
         |  JOIN scored s ON s.doc_id = d.doc_id
         |  LEFT JOIN kn_doc k ON k.doc_id = d.doc_id
         |), cv_staged AS (
         |  SELECT doc_id, norm, CASE
         |    WHEN n_tokens < 30 THEN 'len'
         |    WHEN p >= 0.5 THEN 'flagged'
         |    WHEN n_scored > 0
         |      AND (lp_sum / CAST(n_scored AS DOUBLE)) < -3.07 THEN 'ppl_tail'
         |    END AS drop0
         |  FROM cv_base
         |), cv_min AS (
         |  SELECT norm, min(doc_id) AS keeper FROM cv_staged
         |  WHERE drop0 IS NULL GROUP BY 1
         |), cv_final AS (
         |  SELECT b.doc_id, coalesce(b.drop0,
         |    CASE WHEN b.doc_id <> m.keeper THEN 'dup' ELSE 'kept' END) AS stage
         |  FROM cv_staged b LEFT JOIN cv_min m ON m.norm = b.norm
         |)
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs
         |FROM cv_final GROUP BY 1 ORDER BY stage""".stripMargin
    },

    // ----- §2.10 training-data pipeline --------------------------------
    // Token-window chunking: row-local sequence+explode, no shuffle.
    Gate("pipeline_chunk")((s, dir) =>
      Pipeline.chunkDocuments(
        tbl(s, dir, "documents").where(col("doc_id") < 100),
        "doc_id", "text", maxTokens = 40, overlap = 10)
        .orderBy("doc_id", "chunk_idx")) {
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 100
        |), c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 40 THEN 1
        |         ELSE 1 + CAST(ceil((len(toks) - 40) / 30.0) AS INT) END AS nc
        |  FROM t
        |)
        |, e AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(nc), i -> struct_pack(
        |      chunk_idx := CAST(i AS INT),
        |      chunk_text := array_to_string(toks[(i*30 + 1):(i*30 + 40)], ' ')))) AS s
        |  FROM c
        |)
        |SELECT doc_id, s.chunk_idx AS chunk_idx, s.chunk_text AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin
    },
    // Deterministic hash split: pure projection, reproducible per row.
    Gate("pipeline_split")((s, dir) =>
      Pipeline.trainTestSplit(tbl(s, dir, "documents"), "doc_id", testPerMille = 100)
        .groupBy("split")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
        .orderBy("split")) {
      """SELECT
        |  CASE WHEN xor(xor(doc_id, doc_id // 2147483648) % 2147483647 * 1103515245 % 2147483647, 101)
        |         * 1103515245 % 2147483647 % 1000 < 100
        |       THEN 'test' ELSE 'train' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
    },
    // Per-source uniform sample via k-bounded partial aggregate (never
    // a per-group window); the oracle replays hash order + row_number.
    Gate("pipeline_stratified")((s, dir) =>
      Pipeline.stratifiedSample(
          tbl(s, dir, "documents"), "source", "doc_id", k = 25, seed = 77)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("sum_ids"))
        .orderBy("source")) {
      """WITH h AS (
        |  SELECT source, doc_id,
        |    xor(xor(doc_id, doc_id // 2147483648) % 2147483647 * 1103515245 % 2147483647, 77)
        |      * 1103515245 % 2147483647 AS hv
        |  FROM documents
        |), ranked AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
        |  FROM h
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM ranked WHERE rn <= 25 GROUP BY source ORDER BY source""".stripMargin
    },
    // Exact-k global sample: TakeOrderedAndProject by seeded hash —
    // per-partition heaps, no global sort (PlanAuditSpec pins it).
    Gate("pipeline_sample_global")((s, dir) =>
      Pipeline.uniformSample(tbl(s, dir, "documents"), "doc_id", k = 100, seed = 55)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")) {
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source FROM documents
        |  ORDER BY xor(xor(doc_id, doc_id // 2147483648) % 2147483647
        |      * 1103515245 % 2147483647, 55) * 1103515245 % 2147483647,
        |    doc_id
        |  LIMIT 100
        |) ORDER BY doc_id""".stripMargin
    },
    // Best-N-per-domain curation: k-bounded partial aggregate on the
    // score (same shape as the stratified sample, real score column).
    Gate("pipeline_topn_group")((s, dir) =>
      Pipeline.topNPerGroup(tbl(s, dir, "documents"), "source", "doc_id",
          "n_chars", k = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy("source", "doc_id")) {
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin
    },
    // Source re-weighting: row-local hash-rate filter.
    Gate("pipeline_mixture")((s, dir) =>
      Pipeline.mixtureSample(
        tbl(s, dir, "documents"), "doc_id", "source",
        weights = Map("src0" -> 1000, "src1" -> 250), defaultPerMille = 500)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("source")) {
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows
        |FROM documents
        |WHERE xor(xor(doc_id, doc_id // 2147483648) % 2147483647 * 1103515245 % 2147483647, 202)
        |    * 1103515245 % 2147483647 % 1000 <
        |  CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 250 ELSE 500 END
        |GROUP BY source ORDER BY source""".stripMargin
    },
    // Temperature rebalancing: keep-rates derived from the source
    // counts (alpha=0.5 → sqrt law; IEEE sqrt makes the rate
    // computation bit-reproducible in SQL), then the same row-local
    // hash filter as pipeline_mixture.
    Gate("pipeline_temperature")((s, dir) =>
      Pipeline.temperatureMixture(
        tbl(s, dir, "documents"), "doc_id", "source", alpha = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")) {
      """WITH c AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n) AS nmin FROM c
        |), r AS (
        |  SELECT source,
        |    greatest(1, CAST(floor(1000 * sqrt(nmin::DOUBLE / n::DOUBLE)) AS BIGINT))
        |      AS rate
        |  FROM c CROSS JOIN m
        |)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE xor(xor(doc_id, doc_id // 2147483648) % 2147483647 * 1103515245 % 2147483647, 202)
        |    * 1103515245 % 2147483647 % 1000 < rate
        |GROUP BY d.source ORDER BY d.source""".stripMargin
    },
    // Global shuffle: ONE range-partitioned sort. Uses the arithmetic
    // key (not xxhash64) so the oracle reproduces the permutation
    // bit-for-bit; the emitted key column verifies the assignment.
    Gate("pipeline_shuffle")((s, dir) =>
      Pipeline.globalShuffleBy(
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            Pipeline.hashBucket(col("doc_id"), 1 << 20).as("shuffle_key")),
        col("shuffle_key"), col("doc_id"))) {
      """SELECT doc_id, n_chars,
        |  xor(xor(doc_id, doc_id // 2147483648) % 2147483647 * 1103515245 % 2147483647, 0)
        |    * 1103515245 % 2147483647 % 1048576 AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id""".stripMargin
    },
    // Sequence packing: running-total window sharded by source.
    Gate("pipeline_pack")((s, dir) =>
      Pipeline.packSequences(
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "n_tokens", budget = 2000, orderCol = "doc_id",
        partitionCols = Seq("source"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("source", "bin")) {
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), w AS (
        |  SELECT source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t
        |)
        |SELECT source, CAST(floor(prior / 2000) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM w GROUP BY source, bin ORDER BY source, bin""".stripMargin
    },
  )

}
