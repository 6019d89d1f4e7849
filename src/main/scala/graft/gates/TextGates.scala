package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Blocklist, Dsir, HeavyHitters, KneserNey, Mojibake, TextOps}

import Fixtures._

/** Per-document text analysis: language, quality heuristics, LM
  * scores, DSIR, TF-IDF, blocklists and sentence splitting. */
object TextGates {

  val gates: Seq[Gate] = Seq(
    // Misra–Gries heavy hitters, audited: the sketch's three guarantees
    // (no overestimate, undercount ≤ n/(k+1), full recall of the
    // > n/(k+1) head) are checked against exact counts — the exact
    // groupBy exists for the AUDIT; at corpus scale the sketch replaces
    // it (the shuffle carries ≤ k rows per partition, not the vocab).
    Gate("text_heavyhitters")((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), " ")).as("tok"))
      val sk = HeavyHitters.heavyHitters(toks, "tok", 50)
      val ex = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      ex.join(sk, Seq("tok"), "left").crossJoin(broadcast(tot))
        .agg(
          sum(when(col("cnt") > col("n") / 51.0, 1L).otherwise(0L)).as("n_heavy"),
          (sum(when(col("cnt") > col("n") / 51.0 && col("est").isNull, 1L)
            .otherwise(0L)) === 0).as("all_heavy_found"),
          (sum(when(col("est").isNotNull &&
              (col("est") > col("cnt") ||
                (col("cnt") - col("est")) > col("n") / 51.0), 1L)
            .otherwise(0L)) === 0).as("bounds_ok"))
    }) {
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok FROM documents
        |), ex AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT CAST((SELECT count(*) FROM ex, tot WHERE cnt > n / 51.0) AS BIGINT)
        |    AS n_heavy,
        |  true AS all_heavy_found, true AS bounds_ok""".stripMargin
    },

    // ----- §2.10 text analysis -----------------------------------------
    Gate("text_langid")((s, dir) => {
      tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }) {
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id < 200
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','que','y','es'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','les','une','et','est'))) AS s_fr
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE
        |    WHEN s_en >= greatest(s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
        |    WHEN s_de >= greatest(s_es, s_fr) AND s_de > 0 THEN 'de'
        |    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
        |    WHEN s_fr > 0 THEN 'fr'
        |    ELSE 'unknown'
        |  END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin
    },
    Gate("text_quality")((s, dir) => {
      val metrics = TextOps.qualityMetrics(col("text")).map { case (n, c) => c.as(n) }
      tbl(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id") +: metrics: _*)
        .orderBy("doc_id")
    }) {
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> len(x) > 0) AS toks,
        |    CAST(length(text) AS INTEGER) AS n_chars
        |  FROM documents WHERE doc_id < 100
        |)
        |SELECT doc_id, n_chars,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(round(list_sum(list_transform(toks, x -> len(x)))
        |    / len(toks)::DOUBLE, 6) AS DOUBLE) AS avg_token_chars,
        |  CAST(round(len(list_filter(toks, x -> x IN ('the','a','of','and','is')))
        |    / len(toks)::DOUBLE, 6) AS DOUBLE) AS stopword_ratio,
        |  CAST(round(len(list_distinct(toks)) / len(toks)::DOUBLE, 6) AS DOUBLE)
        |    AS distinct_ratio
        |FROM t ORDER BY doc_id""".stripMargin
    },
    Gate("text_tokens")((s, dir) => {
      tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0)) AS INTEGER) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |    AS INTEGER) AS n_bpe
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    },
    Gate("text_fingerprint")((s, dir) => {
      tbl(s, dir, "documents")
        .select(TextOps.fingerprint(col("text")).as("fp"))
        .agg(countDistinct(col("fp")).as("n_fp"))
    }) {
      """SELECT CAST(count(DISTINCT lower(trim(text))) AS BIGINT) AS n_fp
        |FROM documents""".stripMargin
    },
    // Unigram log-prob fluency score: corpus-estimated token frequencies
    // broadcast back onto the token stream, per-doc mean log prob.
    Gate("text_logprob")((s, dir) => {
      TextOps.unigramLogProb(
          tbl(s, dir, "documents").where(col("doc_id") < 300), "doc_id", "text")
        .select(col("doc_id"), round(col("unigram_logprob"), 6).as("unigram_logprob"))
        .orderBy("doc_id")
    }) {
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents WHERE doc_id < 300
        |), f AS (
        |  SELECT tok, count(*) AS cnt FROM t GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f
        |), s AS (
        |  SELECT doc_id, ln(CAST(cnt AS DOUBLE)) - ln(total) AS lp
        |  FROM t JOIN f USING (tok) CROSS JOIN tot
        |)
        |SELECT d.doc_id, CAST(round(avg(s.lp), 6) AS DOUBLE) AS unigram_logprob
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |LEFT JOIN s USING (doc_id)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },
    // Gopher-style repetition signals. The fixture text is clean, so
    // even ids get their whole body repeated (text + '\n' + text) —
    // planting known line- and n-gram-level duplication the metrics
    // must detect; odd ids stay as-is as the control group.
    Gate("text_repetition")((s, dir) => {
      val planted = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"), lit("\n"), col("text")))
            .otherwise(col("text")).as("t"))
      val metrics = TextOps.repetitionMetrics(col("t")).map { case (n, c) => c.as(n) }
      planted.select(col("doc_id") +: metrics: _*).orderBy("doc_id")
    }) {
      // Mirrors repetitionMetrics with DuckDB list functions: same planted
      // doubling, same trim/lowercase, same excess-occurrence fractions
      // (1 - distinct/total) rounded at 6. Tokenization caveat shared with
      // the simhash/minhash oracles: WordNGrams splits on
      // Character.isWhitespace, a SUPERSET of this oracle's '\s+' —
      // equivalent on the fixture's ASCII whitespace, divergent on exotic
      // separators (U+2028 etc.), which the fixture does not contain.
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text || chr(10) || text
        |         ELSE text END AS t
        |  FROM documents WHERE doc_id < 200
        |), l AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |        x -> trim(x, ' ' || chr(9) || chr(13))),
        |      x -> len(x) > 0) AS ls,
        |    list_filter(string_split_regex(lower(t), '\s+'),
        |      x -> len(x) > 0) AS tk
        |  FROM base
        |), g AS (
        |  SELECT doc_id, ls,
        |    list_sum(list_transform(ls, x -> len(x))) AS lc,
        |    list_sum(list_transform(list_distinct(ls), x -> len(x))) AS dlc,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS g2,
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g3
        |  FROM l
        |)
        |SELECT doc_id,
        |  CASE WHEN len(ls) > 0 THEN CAST(round(
        |    (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 6) AS DOUBLE)
        |  END AS dup_line_frac,
        |  CASE WHEN lc > 0 THEN CAST(round(
        |    (lc - dlc)::DOUBLE / lc, 6) AS DOUBLE)
        |  END AS dup_line_char_frac,
        |  CASE WHEN len(g2) > 0 THEN CAST(round(
        |    (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2), 6) AS DOUBLE)
        |  END AS dup_2gram_frac,
        |  CASE WHEN len(g3) > 0 THEN CAST(round(
        |    (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3), 6) AS DOUBLE)
        |  END AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin
    },

    // PII scrub over a corpus with deterministically injected emails/
    // URLs/numbers (the fixture text is clean, so the query plants one
    // of each): the gate compares the full scrubbed text.
    Gate("text_scrub")((s, dir) =>
      tbl(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"),
          TextOps.scrubPii(concat(
            col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com via https://ex.com/p/"), col("doc_id").cast("string"),
            lit(" or call 0123 456 7890"))).as("scrubbed"))
        .orderBy("doc_id")) {
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact u' || doc_id ||
        |          '@example.com via https://ex.com/p/' || doc_id ||
        |          ' or call 0123 456 7890',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9][0-9 ()\-]{6,}[0-9]', '<NUMBER>', 'g') AS scrubbed
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin
    },
    // Gopher quality-rule verdicts (Rae et al. 2021, table A1) with
    // planted spam shapes: %5==0 docs get their body doubled (trips the
    // dup-line/5-gram rules), %5==1 get symbol spam appended (trips the
    // symbol ratio), %5==2 get extra Gopher stopwords (the fixture soup
    // usually has only 'the', so these become the kept class when long
    // enough). The gate compares the per-rule measured metrics AND the
    // composed keep verdict; everything is row-local.
    Gate("text_gopher")((s, dir) => {
      val planted = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit("\n"), col("text")))
            .when(col("doc_id") % 5 === 1,
              concat(col("text"), lit(" # # # # # # # # # #")))
            .when(col("doc_id") % 5 === 2, concat(col("text"), lit(" of that have")))
            .otherwise(col("text")).as("t"))
      val m = TextOps.gopherMetrics(col("t")).toMap
      planted.select(col("doc_id"),
        m("n_tokens").as("n_tokens"),
        m("symbol_ratio").as("symbol_ratio"),
        m("gopher_stopword_hits").as("stopword_hits"),
        m("dup_line_frac").as("dup_line_frac"),
        m("top_2gram_char_frac").as("top_2gram_char_frac"),
        m("dup_5gram_char_frac").as("dup_5gram_char_frac"),
        TextOps.gopherKeep(col("t")).as("keep"))
        .orderBy("doc_id")
    }) {
      // Full mirror of the Gopher rule set: same planted spam, same
      // tokenization ('\s+' on lower(trim) — the WordNGrams whitespace
      // caveat shared with text_repetition), same round-6 metrics, and
      // the same null-coalesced conjunction for the keep verdict.
      // Character-coverage gram stats divide by len(t) (the raw text
      // length; ASCII fixture, so code units == code points).
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || text
        |         WHEN doc_id % 5 = 1 THEN text || ' # # # # # # # # # #'
        |         WHEN doc_id % 5 = 2 THEN text || ' of that have'
        |         ELSE text END AS t
        |  FROM documents WHERE doc_id < 200
        |), l AS (
        |  SELECT doc_id, t,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |        x -> trim(x, ' ' || chr(9) || chr(13))),
        |      x -> len(x) > 0) AS ls,
        |    list_filter(string_split_regex(lower(trim(t)), '\s+'),
        |      x -> len(x) > 0) AS tk
        |  FROM base
        |), g AS (
        |  SELECT doc_id, t, ls, tk,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS g2,
        |    list_transform(range(1, len(tk) - 3),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |           tk[i+3] || ' ' || tk[i+4]) AS g5
        |  FROM l
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS INTEGER) AS n_tokens,
        |    CASE WHEN len(tk) > 0 THEN round(
        |      list_sum(list_transform(tk, x -> len(x)))::DOUBLE / len(tk), 6)
        |    END AS avg_token_chars,
        |    CASE WHEN len(tk) > 0 THEN round(
        |      len(regexp_extract_all(t, '#|\.\.\.'))::DOUBLE / len(tk), 6)
        |    END AS symbol_ratio,
        |    CASE WHEN len(ls) > 0 THEN round(
        |      len(list_filter(ls, x -> regexp_matches(x, '^[-*•‣▪]')))::DOUBLE
        |        / len(ls), 6)
        |    END AS bullet_line_frac,
        |    CASE WHEN len(ls) > 0 THEN round(
        |      len(list_filter(ls, x -> regexp_matches(x, '\.\.\.$')))::DOUBLE
        |        / len(ls), 6)
        |    END AS ellipsis_line_frac,
        |    CASE WHEN len(tk) > 0 THEN round(
        |      len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))::DOUBLE
        |        / len(tk), 6)
        |    END AS alpha_word_frac,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      sw -> list_contains(tk, sw))) AS INTEGER) AS stopword_hits,
        |    CASE WHEN len(ls) > 0 THEN round(
        |      (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 6)
        |    END AS dup_line_frac,
        |    CASE WHEN list_sum(list_transform(ls, x -> len(x))) > 0 THEN round(
        |      (list_sum(list_transform(ls, x -> len(x))) -
        |       list_sum(list_transform(list_distinct(ls), x -> len(x))))::DOUBLE
        |        / list_sum(list_transform(ls, x -> len(x))), 6)
        |    END AS dup_line_char_frac,
        |    CASE WHEN len(g2) > 0 AND len(t) > 0 THEN round(
        |      list_max(list_transform(list_distinct(g2),
        |        x -> len(list_filter(g2, y -> y = x)) * len(x)))::DOUBLE / len(t), 6)
        |    END AS top_2gram_char_frac,
        |    CASE WHEN len(g5) > 0 AND len(t) > 0 THEN round(
        |      coalesce(list_sum(list_transform(list_distinct(g5),
        |        x -> CASE WHEN len(list_filter(g5, y -> y = x)) > 1
        |             THEN len(list_filter(g5, y -> y = x)) * len(x) ELSE 0 END)), 0)
        |        ::DOUBLE / len(t), 6)
        |    END AS dup_5gram_char_frac
        |  FROM g
        |)
        |SELECT doc_id, n_tokens, symbol_ratio, stopword_hits, dup_line_frac,
        |  top_2gram_char_frac, dup_5gram_char_frac,
        |  (n_tokens BETWEEN 50 AND 100000)
        |    AND coalesce(avg_token_chars BETWEEN 3.0 AND 10.0, false)
        |    AND coalesce(symbol_ratio <= 0.1, true)
        |    AND coalesce(bullet_line_frac <= 0.9, true)
        |    AND coalesce(ellipsis_line_frac <= 0.3, true)
        |    AND coalesce(alpha_word_frac >= 0.8, false)
        |    AND stopword_hits >= 2
        |    AND coalesce(dup_line_frac <= 0.30, true)
        |    AND coalesce(dup_line_char_frac <= 0.20, true)
        |    AND coalesce(top_2gram_char_frac <= 0.20, true)
        |    AND coalesce(dup_5gram_char_frac <= 0.15, true) AS keep
        |FROM m ORDER BY doc_id""".stripMargin
    },

    // C4 page cleaning (Raffel et al. 2020 §2.2). The fixture text is a
    // single line of unpunctuated word soup, so the gate builds a
    // deterministic multi-line page per doc: one sentence cut from the
    // doc's own text, two planted good sentences, three planted bad
    // lines (short / javascript / no terminal punct), and lorem-ipsum /
    // curly-brace poison on %7 / %11 ids. Compares the cleaned text
    // itself plus the line/sentence counts and the document verdict.
    Gate("text_c4")((s, dir) => {
      val page = concat(
        substring(col("text"), 1, 60), lit(".\n"),
        lit("Second proper sentence built for the cleaning gate.\n"),
        lit("Third full sentence completes the page nicely today!\n"),
        lit("Short line.\n"),
        lit("Please enable javascript to continue reading.\n"),
        substring(col("text"), 61, 40))
      val poisoned = when(col("doc_id") % 7 === 0,
          concat(page, lit("\nmore Lorem Ipsum filler text.")))
        .when(col("doc_id") % 11 === 0, concat(page, lit("\n{ code block }")))
        .otherwise(page)
      val planted = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), poisoned.as("t"))
      val cols = TextOps.c4Clean(col("t")).map { case (n, c) => c.as(n) }
      planted.select(col("doc_id") +: cols: _*).orderBy("doc_id")
    }) {
      // Same page construction, same line predicates (terminal punct +
      // >= 5 words + no 'javascript'), same document verdict.
      """WITH base AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) || '.' || chr(10) ||
        |    'Second proper sentence built for the cleaning gate.' || chr(10) ||
        |    'Third full sentence completes the page nicely today!' || chr(10) ||
        |    'Short line.' || chr(10) ||
        |    'Please enable javascript to continue reading.' || chr(10) ||
        |    substr(text, 61, 40) AS page
        |  FROM documents WHERE doc_id < 200
        |), p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |           THEN page || chr(10) || 'more Lorem Ipsum filler text.'
        |         WHEN doc_id % 11 = 0
        |           THEN page || chr(10) || '{ code block }'
        |         ELSE page END AS t
        |  FROM base
        |), l AS (
        |  SELECT doc_id, t,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |        x -> trim(x, ' ' || chr(9) || chr(13))),
        |      x -> len(x) > 0) AS ls
        |  FROM p
        |), k AS (
        |  SELECT doc_id, t, ls,
        |    list_filter(ls, x ->
        |      regexp_matches(x, '[.!?]["'']?$')
        |      AND len(list_filter(string_split_regex(x, '\s+'),
        |            w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM l
        |), c AS (
        |  SELECT doc_id, t, ls, kept,
        |    array_to_string(kept, chr(10)) AS clean_text
        |  FROM k
        |)
        |SELECT doc_id, clean_text,
        |  CAST(len(ls) AS INTEGER) AS n_lines,
        |  CAST(len(kept) AS INTEGER) AS n_lines_kept,
        |  CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INTEGER)
        |    AS n_sentences,
        |  NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{')
        |    AND len(regexp_extract_all(clean_text, '[.!?]')) >= 3 AS keep_doc
        |FROM c ORDER BY doc_id""".stripMargin
    },

    // Bigram stupid-backoff LM score (Brants et al. 2007): counts from
    // the held-out half of the corpus (doc_id >= 150), scores on the
    // other half — held-out counting is what makes the backoff branch
    // reachable. The oracle replays the whole model: unigram/bigram
    // count tables, N and V, the seen-bigram ML ratio and the smoothed
    // backoff floor, then the per-document mean.
    Gate("text_bigram_lm")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // The fixture's vocabulary is tiny, so a raw split would see every
      // bigram; appending a per-doc OOV token forces the backoff branch
      // (unseen bigram AND unseen unigram) through the gate too.
      val scored = docs.where(col("doc_id") < 150)
        .withColumn("text",
          concat(col("text"), lit(" oovtok"), col("doc_id").cast("string")))
      TextOps.bigramLogProb(
          scored, docs.where(col("doc_id") >= 150), "doc_id", "text")
        .select(col("doc_id"), round(col("bigram_logprob"), 6).as("bigram_logprob"))
        .orderBy("doc_id")
    }) {
      // Replays the stupid-backoff model end-to-end: unigram/bigram count
      // tables from the held-out half, N and V scalars, seen-bigram ML
      // ratio vs smoothed backoff floor, per-document mean. Bigram keys
      // ride as 'w1 w2' strings (tokens cannot contain whitespace), which
      // is the same join the Scala side does on the (w1, w2) pair.
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0) AS tk
        |  FROM documents
        |), cn AS (
        |  SELECT tk FROM d WHERE doc_id >= 150
        |), sc AS (
        |  SELECT doc_id, list_append(tk, 'oovtok' || doc_id) AS tk
        |  FROM d WHERE doc_id < 150
        |), uni AS (
        |  SELECT w, count(*) AS cnt_u
        |  FROM (SELECT unnest(tk) AS w FROM cn) GROUP BY w
        |), tot AS (
        |  SELECT sum(cnt_u)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni
        |), bi AS (
        |  SELECT bg, count(*) AS cnt_b
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS bg
        |    FROM cn WHERE len(tk) >= 2)
        |  GROUP BY bg
        |), spx AS (
        |  SELECT doc_id, pr[1] AS w1, pr[2] AS w2, pr[3] AS bg
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> [tk[i], tk[i+1], tk[i] || ' ' || tk[i+1]])) AS pr
        |    FROM sc WHERE len(tk) >= 2)
        |), scored AS (
        |  SELECT doc_id,
        |    CASE WHEN b.cnt_b IS NOT NULL
        |      THEN ln(b.cnt_b::DOUBLE) - ln(u1.cnt_u::DOUBLE)
        |      ELSE ln(0.4) + ln(coalesce(u2.cnt_u, 0)::DOUBLE + 1.0)
        |           - ln(t.n + t.v)
        |    END AS lp
        |  FROM spx
        |  LEFT JOIN bi b USING (bg)
        |  LEFT JOIN uni u1 ON spx.w1 = u1.w
        |  LEFT JOIN uni u2 ON spx.w2 = u2.w
        |  CROSS JOIN tot t
        |)
        |SELECT ids.doc_id, CAST(round(avg(s.lp), 6) AS DOUBLE) AS bigram_logprob
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 150) ids
        |LEFT JOIN scored s USING (doc_id)
        |GROUP BY ids.doc_id ORDER BY ids.doc_id""".stripMargin
    },

    // Okapi BM25 against a fixed keyword query. The scale story IS the
    // gate: term frequencies and doc length are row-local array math,
    // the only distributed step is one corpus-stats aggregate (N,
    // avgdl, per-term document frequencies in a single row) broadcast
    // back — two jobs at any corpus size, no explode, no per-term join.
    Gate("text_bm25")((s, dir) => {
      TextOps.bm25Score(
          tbl(s, dir, "documents").where(col("doc_id") < 200),
          "doc_id", "text", Seq("spark", "join", "window"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy("doc_id")
    }) {
      // Replays BM25 with the same association order (left-assoc products,
      // (1-b) + (b·dl)/avgdl) so the doubles match before the round-6;
      // avgdl = exact-integer sum / exact-integer count on both sides.
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0) AS tk
        |  FROM documents WHERE doc_id < 200
        |), st AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum(len(tk))::DOUBLE / count(*) AS avgdl,
        |    sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |    sum(CASE WHEN list_contains(tk, 'join') THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |    sum(CASE WHEN list_contains(tk, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
        |  FROM t
        |), f AS (
        |  SELECT doc_id, len(tk)::DOUBLE AS dl,
        |    len(list_filter(tk, x -> x = 'spark'))::DOUBLE AS f0,
        |    len(list_filter(tk, x -> x = 'join'))::DOUBLE AS f1,
        |    len(list_filter(tk, x -> x = 'window'))::DOUBLE AS f2
        |  FROM t
        |)
        |SELECT doc_id, CAST(round(
        |  (CASE WHEN f0 > 0 THEN ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
        |     * f0 * 2.2 / (f0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |   ELSE 0.0 END) +
        |  (CASE WHEN f1 > 0 THEN ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
        |     * f1 * 2.2 / (f1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |   ELSE 0.0 END) +
        |  (CASE WHEN f2 > 0 THEN ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
        |     * f2 * 2.2 / (f2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |   ELSE 0.0 END), 6) AS DOUBLE) AS bm25
        |FROM f CROSS JOIN st ORDER BY doc_id""".stripMargin
    },

    // Character-distribution entropy with planted low-entropy spam
    // (every 4th doc gets 500 'z's — its entropy must drop): the
    // oracle recomputes per-char counts and folds −Σ p·ln p in the
    // same ascending-char order, so the doubles match bit-for-bit
    // before the shared round-6.
    Gate("text_entropy")((s, dir) =>
      tbl(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" "), repeat(lit("z"), 500)))
            .otherwise(col("text")).as("t"))
        .select(col("doc_id"),
          round(TextOps.charEntropy(col("t")), 6).as("char_entropy"))
        .orderBy("doc_id")) {
      // Per-doc char histogram → −Σ p·ln p folded over chars in
      // ascending binary-collation order = the expression's ascending
      // code-unit order (identical on the ASCII fixture). Each term
      // computes p = c/n once and multiplies by ln(c/n) — the exact IEEE
      // sequence the Scala kernel runs.
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' ' || repeat('z', 500)
        |         ELSE text END AS t
        |  FROM documents WHERE doc_id < 300
        |), chars AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)+1), i -> t[i])) AS ch
        |  FROM base
        |), cnts AS (
        |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
        |), ordered AS (
        |  SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY ch) AS cs
        |  FROM cnts GROUP BY doc_id
        |), lens AS (
        |  SELECT doc_id, CAST(length(t) AS DOUBLE) AS n FROM base
        |)
        |SELECT o.doc_id,
        |  CAST(round(list_reduce(
        |    list_prepend(0.0, list_transform(o.cs, c -> (c / l.n) * ln(c / l.n))),
        |    (a, x) -> a - x), 6) AS DOUBLE) AS char_entropy
        |FROM ordered o JOIN lens l ON o.doc_id = l.doc_id
        |ORDER BY o.doc_id""".stripMargin
    },
    // Unicode NFC normalization: planted decomposed sequences —
    // e+combining-acute (composes to U+00E9), a+combining-ring
    // (U+00E5), and the composition-EXCLUDED U+1E9B+U+0323 (stays
    // decomposed under NFC) — appended to ASCII text (identity fast
    // path). Oracle = DuckDB's own nfc_normalize (same UAX #15
    // tables), comparing the normalized string AND codepoint counts.
    Gate("text_nfc")((s, dir) =>
      tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" e\u0301 a\u030A \u1E9B\u0323")))
            .otherwise(col("text")).as("t"))
        .select(col("doc_id"),
          TextOps.nfcNormalize(col("t")).as("norm_text"),
          length(col("t")).as("n_raw"),
          length(TextOps.nfcNormalize(col("t"))).as("n_norm"))
        .orderBy("doc_id")) {
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' ' || chr(101) || chr(769) || ' ' || chr(97) ||
        |           chr(778) || ' ' || chr(7835) || chr(803)
        |      ELSE text END AS t
        |  FROM documents WHERE doc_id < 200
        |)
        |SELECT doc_id,
        |  nfc_normalize(t) AS norm_text,
        |  CAST(length(t) AS INT) AS n_raw,
        |  CAST(length(nfc_normalize(t)) AS INT) AS n_norm
        |FROM base ORDER BY doc_id""".stripMargin
    },
    // Cross-doc duplicated-span fraction (the RefinedWeb/Dolma
    // "duplicate n-gram fraction"): every third doc gets the SAME
    // 12-token boilerplate tail (5 fully-shared 8-grams each; the
    // grams straddling the splice stay doc-unique), the rest are the
    // control group. The oracle recomputes per-(gram, doc) counts,
    // document frequencies, and the occurrence-weighted fraction.
    Gate("text_dupspans")((s, dir) => {
      val planted = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(dupSpanTail))).otherwise(col("text")).as("t"))
      TextOps.crossDocDupNgramFraction(planted, "doc_id", "t", n = 8,
          hashKeys = false)
        .select(col("doc_id"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"))
        .orderBy("doc_id")
    }) {
      dupSpansOracle
    },
    // Same computation in the scale-default hashed-key mode: shuffle
    // and join keys are xxhash64(gram) longs instead of gram strings.
    // The fractions are identical absent a 64-bit collision, so the
    // SAME DuckDB oracle gates both modes — a collision (or any key
    // plumbing bug) breaks the hash match.
    Gate("text_dupspans_hashed")((s, dir) => {
      val planted = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(dupSpanTail))).otherwise(col("text")).as("t"))
      TextOps.crossDocDupNgramFraction(planted, "doc_id", "t", n = 8)
        .select(col("doc_id"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"))
        .orderBy("doc_id")
    }) {
      dupSpansOracle
    },
    // DSIR importance weights (Xie et al. 2023): target = the English
    // slice, raw = the whole corpus; hashed unigram+bigram histograms →
    // per-bucket nano-scaled log-likelihood ratios → exact integer
    // per-doc sums. The oracle refits the model from scratch in SQL
    // (FNV-1a gram hashing, same ln arithmetic) and re-scores every
    // doc — a single count drift or hash divergence breaks it.
    Gate("text_dsir")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = Dsir.fit(docs.where(col("lang") === "en"), docs, "text",
        ns = Seq(1, 2), numBuckets = 2048, seed = 7L, alpha = 1.0)
      docs.where(col("doc_id") < 300)
        .select(col("doc_id"),
          Dsir.scoreNano(col("text"), model).as("nano_weight"),
          Dsir.score(col("text"), model).as("weight"))
        .orderBy("doc_id")
    }) {
      s"""$dsirOracleCte
         |SELECT doc_id, nano_weight,
         |  CAST(nano_weight AS DOUBLE) / 1e9 AS weight
         |FROM scored WHERE doc_id < 300 ORDER BY doc_id""".stripMargin
    },
    // The resample step: deterministic top-50 by (weight, id) over the
    // full corpus — integer weights make the cut line exactly
    // replayable, including ties.
    Gate("text_dsir_sample")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = Dsir.fit(docs.where(col("lang") === "en"), docs, "text",
        ns = Seq(1, 2), numBuckets = 2048, seed = 7L, alpha = 1.0)
      Dsir.resampleTopN(docs, "doc_id", "text", model, n = 50)
        .select("doc_id").orderBy("doc_id")
    }) {
      s"""$dsirOracleCte
         |SELECT doc_id FROM (
         |  SELECT doc_id FROM scored
         |  ORDER BY nano_weight DESC, doc_id LIMIT 50
         |) ORDER BY doc_id""".stripMargin
    },
    // Stochastic Gumbel-top-k resample (the paper's §2 sampler): the
    // oracle refits the model, then replays the seeded Gumbel keys —
    // hashBucket's integer arithmetic, the (b + 0.5)/2^30 uniform, and
    // −ln(−ln u) — and must select the exact same 50 documents.
    Gate("text_dsir_gumbel")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = Dsir.fit(docs.where(col("lang") === "en"), docs, "text",
        ns = Seq(1, 2), numBuckets = 2048, seed = 7L, alpha = 1.0)
      Dsir.resampleGumbel(docs, "doc_id", "text", model, n = 50, seed = 99L)
        .select("doc_id").orderBy("doc_id")
    }) {
      s"""$dsirOracleCte
         |, keys AS (
         |  SELECT doc_id,
         |    nano_weight / 1e9 + -ln(-ln(
         |      (xor(xor(doc_id, doc_id // 2147483648) % 2147483647
         |         * 1103515245 % 2147483647, 99)
         |         * 1103515245 % 2147483647 % 1073741824 + 0.5) / 1073741824
         |    )) AS gk
         |  FROM scored
         |)
         |SELECT doc_id FROM (
         |  SELECT doc_id FROM keys ORDER BY gk DESC, doc_id LIMIT 50
         |) ORDER BY doc_id""".stripMargin
    },

    // SQL front-end: the injected native expressions are first-class in
    // spark.sql — same codegen'd WordNGrams as the DataFrame path.
    Gate("sql_native_fns")((s, dir) => {
      tbl(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""
        SELECT doc_id, size(word_ngrams(text, 3)) AS n_shingles
        FROM graft_docs WHERE doc_id < 100 ORDER BY doc_id
      """)
    }) {
      """SELECT doc_id,
        |  CAST(CASE WHEN len(w) >= 3 THEN len(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]))
        |  ELSE 0 END AS INTEGER) AS n_shingles
        |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |      FROM documents WHERE doc_id < 100)
        |ORDER BY doc_id""".stripMargin
    },

    // TF-IDF top terms: two grouped shuffles + a broadcast of the
    // vocabulary-sized document-frequency table.
    Gate("text_tfidf")((s, dir) =>
      TextOps.tfIdfTopTerms(
        tbl(s, dir, "documents").where(col("doc_id") < 50), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"),
          round(col("tfidf"), 6).as("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")) {
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 50
        |), tf AS (
        |  SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
        |  FROM d, unnest(d.toks) AS u(term)
        |  GROUP BY doc_id, u.term
        |), dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * (ln((1.0 + (SELECT count(*) FROM d)) / (1.0 + dfreq.df)) + 1.0)
        |      AS tfidf
        |  FROM tf JOIN dfreq USING (term)
        |), ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
        |      AS rank
        |  FROM scored
        |)
        |SELECT doc_id, term, CAST(round(tfidf, 6) AS DOUBLE) AS tfidf,
        |  CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },
    // Top-20 PMI collocations (Church & Hanks 1990) over adjacent
    // word pairs, minCount=3: PMI rounded BEFORE the rank so the
    // ordering replays across engines; TakeOrderedAndProject top-k.
    Gate("text_pmi_collocations")((s, dir) =>
      TextOps.pmiCollocations(tbl(s, dir, "documents"), "text",
        k = 20, minCount = 3L)) {
      """WITH pmi_tk AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0) AS tk
        |  FROM documents
        |), pmi_uni AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt_u
        |  FROM (SELECT unnest(tk) AS w FROM pmi_tk) GROUP BY 1
        |), pmi_bi AS MATERIALIZED (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        |  FROM (SELECT tk[i] AS w1, tk[i + 1] AS w2
        |        FROM (SELECT tk, unnest(range(1, len(tk))) AS i
        |              FROM pmi_tk WHERE len(tk) >= 2))
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), pmi_tot AS (
        |  SELECT (SELECT CAST(sum(cnt_u) AS DOUBLE) FROM pmi_uni) AS n,
        |         (SELECT CAST(sum(greatest(len(tk) - 1, 0)) AS DOUBLE)
        |          FROM pmi_tk) AS b
        |)
        |SELECT b2.w1, b2.w2, b2.n_pair,
        |  round(ln((CAST(b2.n_pair AS DOUBLE) / t.b)
        |    / ((CAST(u1.cnt_u AS DOUBLE) / t.n)
        |      * (CAST(u2.cnt_u AS DOUBLE) / t.n))), 6) AS pmi
        |FROM pmi_bi b2
        |JOIN pmi_uni u1 ON u1.w = b2.w1
        |JOIN pmi_uni u2 ON u2.w = b2.w2
        |CROSS JOIN pmi_tot t
        |ORDER BY pmi DESC, b2.w1, b2.w2 LIMIT 20""".stripMargin
    },
    // Hashed TF-IDF sparse document vectors (the scikit-learn
    // "hashing vectorizer" shape): FNV-bucketed tokens, map-side-
    // collapsed term counts, dim-bounded broadcast idf. The oracle
    // replays the hashing, census, and the pinned idf arithmetic.
    Gate("text_tfidf_sparse")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextOps.hashedTfidf(docs, "doc_id", "text", dim = 256, seed = 13L)
        .where(col("doc_id") < 50)
        .select(col("doc_id"), col("bucket"), round(col("w"), 6).as("w"))
        .orderBy("doc_id", "bucket")
    }) {
      s"""$tfvOracleCte
         |SELECT doc_id, bucket, round(w, 6) AS w FROM tfv_w
         |WHERE doc_id < 50 ORDER BY doc_id, bucket""".stripMargin
    },
    // Exact-cosine nearest neighbor over the sparse vectors via the
    // stop-bucket-pruned inverted-index join; cosine rounded BEFORE
    // the argmax so the ranking replays across engines.
    Gate("text_tfidf_nn")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val sparse = TextOps.hashedTfidf(docs, "doc_id", "text",
        dim = 256, seed = 13L)
      TextOps.tfidfNearestNeighbor(
          sparse.where(col("doc_id") < 30), sparse, "doc_id", maxDf = 450L)
        .orderBy("doc_id")
    }) {
      s"""$tfvOracleCte
         |, tfv_keep AS (SELECT bucket FROM tfv_df WHERE df <= 450),
         |tfv_c AS MATERIALIZED (
         |  SELECT doc_id, bucket, w FROM tfv_w JOIN tfv_keep USING (bucket)
         |), tfv_norm AS MATERIALIZED (
         |  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM tfv_c GROUP BY 1
         |), tfv_dot AS (
         |  SELECT p.doc_id AS a, c.doc_id AS b, sum(p.w * c.w) AS dot
         |  FROM tfv_c p JOIN tfv_c c USING (bucket)
         |  WHERE p.doc_id < 30 AND c.doc_id <> p.doc_id
         |  GROUP BY 1, 2
         |), tfv_cos AS (
         |  SELECT a, b, round(dot / (na.nrm * nb.nrm), 6) AS cos
         |  FROM tfv_dot
         |  JOIN tfv_norm na ON na.doc_id = a
         |  JOIN tfv_norm nb ON nb.doc_id = b
         |)
         |SELECT a AS doc_id, b AS nn_id, cos FROM (
         |  SELECT a, b, cos,
         |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rn
         |  FROM tfv_cos
         |) WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    // Interpolated Kneser–Ney trigram LM (the KenLM/CCNet shape):
    // self-score every document against the corpus-trained model.
    // Counts are exact longs from the ONE trigram type table; the
    // probability ladder is a pinned association of +,−,·,/ and
    // greatest, so per-position doubles are bit-identical across
    // engines; only ln and the per-doc Σ carry ~1e−13 noise, absorbed
    // by the 6-decimal rounding. Each stat attach is de-skewed via a
    // broadcast hot slice + salted-passenger residual join.
    Gate("text_kn_trigram_score")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      KneserNey.trigramLogProb(docs, docs, "doc_id", "text", hotK = 256)
        .select(col("doc_id"), col("n_scored"),
          round(col("lp_sum"), 6).as("lp_sum"),
          round(exp(-(col("lp_sum") / col("n_scored").cast("double"))), 6)
            .as("ppl"))
        .orderBy("doc_id")
    }) {
      s"""$knOracleCte
         |SELECT doc_id, n_scored, round(lp_sum, 6) AS lp_sum,
         |  round(exp(-(lp_sum / CAST(n_scored AS DOUBLE))), 6) AS ppl
         |FROM kn_doc ORDER BY doc_id""".stripMargin
    },
    // CCNet head/middle/tail perplexity split by FIXED mean-logprob
    // thresholds (CCNet's precomputed percentile cutoffs — one scan,
    // no global sort). Thresholds sit at the sf-stable terciles of
    // the corpus distribution; outputs are exact integer censuses.
    Gate("text_kn_ppl_split")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      KneserNey.perplexitySplit(docs, docs, "doc_id", "text",
          headMin = -2.99, middleMin = -3.07, hotK = 256)
        .groupBy("label")
        .agg(count(lit(1)).as("n_docs"), sum("n_scored").as("n_tokens"))
        .orderBy("label")
    }) {
      s"""$knOracleCte
         |, kn_m AS (
         |  SELECT doc_id, n_scored,
         |    lp_sum / CAST(n_scored AS DOUBLE) AS mean_lp
         |  FROM kn_doc WHERE n_scored > 0)
         |SELECT CASE WHEN mean_lp >= -2.99 THEN 'head'
         |            WHEN mean_lp >= -3.07 THEN 'middle'
         |            ELSE 'tail' END AS label,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_scored) AS BIGINT) AS n_tokens
         |FROM kn_m GROUP BY 1 ORDER BY label""".stripMargin
    },
    // The model's own structure: top-20 trigrams with every KN count
    // column (occurrences, context mass, continuation counts) — pure
    // integer evidence that all five stat tables derive correctly.
    Gate("text_kn_model_top")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val t = KneserNey.countTables(docs, "text")
      t.t3.join(t.ctx2, Seq("w1", "w2")).join(t.b23, Seq("w2", "w3"))
        .join(t.mid2, Seq("w2")).join(t.u3, Seq("w3"))
        .orderBy(desc("c3"), col("w1"), col("w2"), col("w3"))
        .limit(20)
        .select("w1", "w2", "w3", "c3", "c2ctx", "n3", "n1p23",
          "n1p2mid", "n2", "n1p3")
    }) {
      s"""$knOracleCte
         |SELECT t.w1, t.w2, t.w3, t.c3, x.c2ctx, x.n3, b.n1p23,
         |  m.n1p2mid, m.n2, u.n1p3
         |FROM kn_t3 t
         |JOIN kn_ctx2 x ON x.w1 = t.w1 AND x.w2 = t.w2
         |JOIN kn_b23 b ON b.w2 = t.w2 AND b.w3 = t.w3
         |JOIN kn_mid2 m ON m.w2 = t.w2
         |JOIN kn_u3 u ON u.w3 = t.w3
         |ORDER BY t.c3 DESC, t.w1, t.w2, t.w3 LIMIT 20""".stripMargin
    },
    // Aho-Corasick blocklist scan: one linear pass per doc regardless
    // of pattern count (vs K substring scans). Patterns include a
    // cross-word phrase; all three occur in the corpus only as whole
    // tokens (checked), so the oracle's non-overlapping replace
    // arithmetic equals the automaton's all-occurrences count exactly.
    Gate("text_blocklist")((s, dir) =>
      Blocklist.annotate(tbl(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "fast table", "merge"))
        .orderBy("doc_id")) {
      """WITH t AS (
        |  SELECT doc_id,
        |    (strlen(lower(text)) - strlen(replace(lower(text), 'slow', ''))) // 4 AS c1,
        |    (strlen(lower(text)) - strlen(replace(lower(text), 'fast table', ''))) // 10 AS c2,
        |    (strlen(lower(text)) - strlen(replace(lower(text), 'merge', ''))) // 5 AS c3
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(c1 + c2 + c3 AS BIGINT) AS n_hits,
        |  CAST((CASE WHEN c1 > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN c3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms,
        |  (c1 + c2 + c3) = 0 AS clean
        |FROM t ORDER BY doc_id""".stripMargin
    },
    // Encoding repair: per doc, prepend a non-ASCII header and corrupt
    // it per bucket — doc_id%3==0 double-mojibake (UTF-8 bytes read as
    // Latin-1, twice), ==1 single, ==2 left clean — then run the
    // repairer. It must detect depth exactly: decode the right number
    // of rounds and leave the clean bucket byte-identical (its
    // Latin-1 byte view is invalid UTF-8). The oracle replays the
    // repaired text and round counts in closed form.
    Gate("text_fix_mojibake")((s, dir) => {
      import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
      import s.implicits._
      val corrupted = tbl(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val clean = "café — naïve " + text
          def garble(x: String) = new String(x.getBytes(UTF_8), ISO_8859_1)
          val c = (id % 3) match {
            case 0 => garble(garble(clean))
            case 1 => garble(clean)
            case _ => clean
          }
          (id, c)
        }).toDF("doc_id", "text")
      Mojibake.repair(corrupted, "doc_id", "text").orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS INTEGER) AS rounds,
        |  'caf' || chr(233) || ' ' || chr(8212) || ' na' || chr(239) || 've ' || text
        |    AS fixed
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Sentence segmentation: the corpus has no sentence punctuation,
    // so each doc is framed as k+1 synthetic sentences — k numbered
    // ones plus an abbreviation-trap closer ("Dr. … Mrs. … p.m. …")
    // that must stay ONE sentence. Counts and total lengths are
    // closed-form; any boundary or guard drift breaks them.
    Gate("text_sentences")((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val k = (2 + id % 4).toInt
          val body = (1 to k).map(i => s"Sentence $i of doc $id ends here.")
            .mkString(" ")
          val trap = "Dr. Smith met Mrs. Jones at 5 p.m. sharp."
          val sents = TextOps.splitSentences(body + " " + trap)
          (id, sents.size, sents.map(_.length.toLong).sum, sents.last.length.toLong)
        })
        .toDF("doc_id", "n_sent", "total_chars", "last_len")
        .orderBy("doc_id")
    }) {
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(2 + doc_id % 4 AS BIGINT) AS k,
        |    strlen(CAST(doc_id AS VARCHAR)) AS d,
        |    strlen('Dr. Smith met Mrs. Jones at 5 p.m. sharp.') AS trap
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(k + 1 AS INTEGER) AS n_sent,
        |  CAST(k * (29 + d) + trap AS BIGINT) AS total_chars,
        |  CAST(trap AS BIGINT) AS last_len
        |FROM t ORDER BY doc_id""".stripMargin
    },
  )

  /** The planted boilerplate for the text_dupspans gate: 12 tokens →
    * five 8-grams fully inside the tail, shared by every planted doc. */
  private val dupSpanTail: String =
    " shared boilerplate tail one two three four five six seven eight nine"

  /** DuckDB oracle for [[graft.operators.TextOps.crossDocDupNgramFraction]]
    * over the planted corpus: same tokenization caveats as the other
    * text oracles (ASCII whitespace), 8-grams with multiplicity,
    * occurrence-weighted dup fraction, null for gram-less docs. */
  private lazy val dupSpansOracle: String = {
    val g8 = (0 until 8).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || '$dupSpanTail'
       |         ELSE text END AS t
       |  FROM documents WHERE doc_id < 200
       |), tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(t), '\\s+'), x -> len(x) > 0) AS tk
       |  FROM base
       |), grams AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk) - 6), i -> $g8)) AS gram
       |  FROM tk
       |), perdoc AS (
       |  SELECT gram, doc_id, count(*) AS cnt FROM grams GROUP BY gram, doc_id
       |), freq AS (
       |  SELECT gram, count(*) AS n_docs FROM perdoc GROUP BY gram
       |)
       |SELECT b.doc_id,
       |  CAST(round(CAST(sum(CASE WHEN freq.n_docs >= 2 THEN p.cnt ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(p.cnt) AS DOUBLE), 6) AS DOUBLE) AS dup_ngram_frac
       |FROM (SELECT doc_id FROM base) b
       |LEFT JOIN perdoc p ON p.doc_id = b.doc_id
       |LEFT JOIN freq ON freq.gram = p.gram
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
  }

  /** Shared replay CTEs for the hashed-TF-IDF oracles: FNV-hash
    * unigrams into 256 buckets ([[Fixtures.fnvSql]] — the proven dsirBuckets
    * replay), per-doc term counts, the dim-bounded df census, and the
    * pinned idf arithmetic `ln((N+1)/(df+1)) + 1`. Ends with `tfv_w`
    * (doc_id, bucket, w) and `tfv_df`. */
  private lazy val tfvOracleCte: String =
    s"""WITH tfv_tk AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> len(t) > 0)) AS tok
       |  FROM documents
       |), tfv_tf AS MATERIALIZED (
       |  SELECT doc_id, CAST(${fnvSql("tok", 13L)} % 256 AS INTEGER) AS bucket,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tfv_tk GROUP BY 1, 2
       |), tfv_df AS MATERIALIZED (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS df FROM tfv_tf GROUP BY 1
       |), tfv_n AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
       |), tfv_w AS MATERIALIZED (
       |  SELECT t.doc_id, t.bucket,
       |    CAST(t.tf AS DOUBLE)
       |      * (ln((tfv_n.n + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)) + 1.0) AS w
       |  FROM tfv_tf t JOIN tfv_df d USING (bucket) CROSS JOIN tfv_n
       |)""".stripMargin

  /** Shared replay CTEs for the Kneser–Ney oracles: re-derive the
    * whole trigram model in SQL — tokenize exactly like
    * [[graft.operators.TextOps.tokens]], explode trigrams once, build
    * all five count tables from the trigram TYPE table (occurrence
    * counts, context mass c(w1w2·), continuation counts N1+), then
    * score every position with the IDENTICAL pinned association of
    * the interpolated-KN ladder (D = 0.75, Laplace-floored
    * continuation unigram). Multi-referenced CTEs are MATERIALIZED
    * (DuckDB inlines plain CTEs — the stat tables each feed several
    * consumers). Ends with `kn_doc` (doc_id, n_scored, lp_sum). */
  private lazy val knOracleCte: String = knOracleCteFor("documents")

  /** Shared replay CTEs for the DSIR oracles: refit the whole model in
    * SQL — tokenize, build unigram+bigram strings, FNV-hash each gram
    * into 2048 buckets, histogram target (lang='en') and raw (all)
    * corpora, form nano-scaled log-likelihood ratios with the exact
    * Scala association (((ln ct − ln Tt) − ln cr) + ln Tr), and
    * re-score every document as the integer sum of its grams' nanos. */
  private lazy val dsirOracleCte: String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS tk
       |  FROM documents
       |), grams AS (
       |  SELECT doc_id, lang, unnest(tk) AS gram FROM tk
       |  UNION ALL
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
       |  FROM tk
       |), hashed AS (
       |  SELECT doc_id, lang,
       |    CAST(${fnvSql("gram", 7L)} % 2048 AS INTEGER) AS bucket
       |  FROM grams
       |), ct AS (
       |  SELECT bucket, count(*) AS c FROM hashed WHERE lang = 'en' GROUP BY bucket
       |), cr AS (
       |  SELECT bucket, count(*) AS c FROM hashed GROUP BY bucket
       |), tot AS (
       |  SELECT (SELECT sum(c) FROM ct) AS tt, (SELECT sum(c) FROM cr) AS tr
       |), lam AS (
       |  SELECT r.range AS bucket,
       |    CAST(round((ln(coalesce(ct.c, 0) + 1.0) - ln(tt + 1.0 * 2048)
       |      - ln(coalesce(cr.c, 0) + 1.0) + ln(tr + 1.0 * 2048)) * 1e9) AS BIGINT) AS nano
       |  FROM range(0, 2048) r
       |  LEFT JOIN ct ON ct.bucket = r.range
       |  LEFT JOIN cr ON cr.bucket = r.range
       |  CROSS JOIN tot
       |), scored AS (
       |  SELECT d.doc_id, CAST(coalesce(sum(l.nano), 0) AS BIGINT) AS nano_weight
       |  FROM documents d
       |  LEFT JOIN hashed h ON h.doc_id = d.doc_id
       |  LEFT JOIN lam l ON l.bucket = h.bucket
       |  GROUP BY d.doc_id
       |)""".stripMargin
}
