package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{MultiClass, QualityClassifier, TextOps}

import Fixtures._

/** Trained classifiers: logistic quality, multi-class topic, and
  * trained language ID. */
object ClassifierGates {

  val gates: Seq[Gate] = Seq(
    // Quality-classifier training (fastText linear shape, Joulin et
    // al. 2017): distil the heuristic rare-positive label "doc
    // mentions 'dup'" (5% of rows — the realistic imbalance of
    // quality/toxicity flags) into a 64-bucket hashed-unigram model —
    // 10 full-batch GD rounds, lr=1/4, ×32 positive-class weight,
    // binary presence features, intercept as sentinel bucket −1.
    // Weights ride the 2^30 grid, residuals the 2^20 grid, link =
    // ALGEBRAIC sigmoid (no exp — every step is correctly-rounded
    // IEEE arithmetic both engines share). Featurization is row-local;
    // each round is one scan + one (numBuckets+1)-bounded gradient
    // shuffle. The oracle replays all 10 rounds CTE-for-CTE; at this
    // shape the model separates the label perfectly (see _eval).
    // All five gates share the memoized model (one training per
    // (dir, shape) per JVM) and every cached model is rebuilt through
    // the modelFrame → parquet → modelFromRows round-trip.
    Gate("text_quality_lr_train")((s, dir) =>
      QualityClassifier.modelFrame(lrDocs(s, dir), lrModel(s, dir, 64))
        .orderBy("bucket")) {
      s"""$lrOracleCte
         |SELECT bucket, wq AS w_q FROM w10 WHERE wq <> 0
         |ORDER BY bucket""".stripMargin
    },
    // Train + score every document with the learned model: score =
    // the algebraic sigmoid of the exact integer margin (bit-identical
    // across engines), pred from the UNROUNDED score.
    Gate("text_quality_lr_score")((s, dir) =>
      QualityClassifier.score(lrDocs(s, dir), "text", lrModel(s, dir, 64))
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("pred"))
        .orderBy("doc_id")) {
      s"""$lrOracleCte
         |SELECT doc_id, round(p, 6) AS score,
         |  CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    // Confusion census of the trained model against its own labels —
    // the fit-quality gate (deterministic, so the counts are exact;
    // at sf0.01 the model separates the 25 positives with zero
    // errors, which the oracle independently re-derives).
    Gate("text_quality_lr_eval")((s, dir) =>
      QualityClassifier.score(lrDocs(s, dir), "text", lrModel(s, dir, 64))
        .groupBy(col("y"), col("pred")).count().withColumnRenamed("count", "n")
        .orderBy("y", "pred")) {
      s"""$lrOracleCte
         |SELECT CAST(y AS INTEGER) AS y,
         |  CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY y, pred""".stripMargin
    },
    // Classifier evaluation census: confusion cells, precision/
    // recall/F1, and the EXACT Mann–Whitney AUC (u2 = 2·concordant +
    // tied, all longs; one pinned division at the end). The model is
    // deliberately UNDERSIZED (16 buckets — hash collisions) so every
    // confusion cell is non-zero and AUC sits strictly between 0.5
    // and 1. The AUC prefix sum runs as a distributed per-range
    // window, never a single global sort.
    Gate("text_quality_lr_metrics")((s, dir) => {
      val docs = lrDocs(s, dir)
      val m = lrModel(s, dir, 16)
      QualityClassifier.evalMetrics(QualityClassifier.score(docs, "text", m))
        .select(col("tp"), col("fp"), col("tn"), col("fn"),
          // u2 accumulates in decimal (overflow-proof past 3e9 rows);
          // the gate output stays the exact long it always was
          col("u2").cast("long").as("u2"), col("p_cnt"), col("n_cnt"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"),
          round(col("auc"), 6).as("auc"))
    }) {
      s"""${lrOracleCteFor(16, 10)}
         |, lrm_conf AS (
         |  SELECT
         |    CAST(sum(CASE WHEN y = 1.0 AND p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN y = 0.0 AND p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN y = 0.0 AND p < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN y = 1.0 AND p < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM scored
         |), lrm_ps AS (
         |  SELECT p AS s,
         |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS p_s,
         |    CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_s
         |  FROM scored GROUP BY 1
         |), lrm_pb AS (
         |  SELECT p_s, n_s,
         |    (sum(n_s) OVER (ORDER BY s
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_s) AS n_below
         |  FROM lrm_ps
         |), lrm_u AS (
         |  SELECT CAST(sum((p_s * 2) * n_below + p_s * n_s) AS BIGINT) AS u2,
         |    CAST(sum(p_s) AS BIGINT) AS p_cnt,
         |    CAST(sum(n_s) AS BIGINT) AS n_cnt
         |  FROM lrm_pb
         |)
         |SELECT tp, fp, tn, fn, u2, p_cnt, n_cnt,
         |  round(CAST(tp AS DOUBLE) / CAST((tp + fp) AS DOUBLE), 6) AS precision,
         |  round(CAST(tp AS DOUBLE) / CAST((tp + fn) AS DOUBLE), 6) AS recall,
         |  round((2.0 * ((CAST(tp AS DOUBLE) / CAST((tp + fp) AS DOUBLE))
         |      * (CAST(tp AS DOUBLE) / CAST((tp + fn) AS DOUBLE))))
         |    / ((CAST(tp AS DOUBLE) / CAST((tp + fp) AS DOUBLE))
         |      + (CAST(tp AS DOUBLE) / CAST((tp + fn) AS DOUBLE))), 6) AS f1,
         |  round(CAST(u2 AS DOUBLE)
         |    / ((2.0 * CAST(p_cnt AS DOUBLE)) * CAST(n_cnt AS DOUBLE)), 6) AS auc
         |FROM lrm_conf CROSS JOIN lrm_u""".stripMargin
    },
    // Calibration buckets of the undersized 16-bucket model: fixed-
    // width score bins → per-bin count / positives / observed rate.
    // Bin assignment is deterministic (bit-exact algebraic-sigmoid
    // scores); the rate is one pinned division over exact longs.
    Gate("text_quality_lr_calibration")((s, dir) => {
      QualityClassifier.calibrationBuckets(
          QualityClassifier.score(lrDocs(s, dir), "text",
            lrModel(s, dir, 16)), bins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("pos_rate"), 6).as("pos_rate"))
        .orderBy("bin")
    }) {
      s"""${lrOracleCteFor(16, 10)}
         |SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
         |  round(CAST(sum(CAST(y AS BIGINT)) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS pos_rate
         |FROM scored GROUP BY 1 ORDER BY bin""".stripMargin
    },
    // K-class one-vs-rest training (fastText multi-class shape): the
    // 3-class topic model over word-unigram presence features. All 3
    // classes ride ONE scan + ONE (numBuckets+1)-row gradient shuffle
    // per round; the oracle replays every round CTE-for-CTE with the
    // identical integer-grid arithmetic. Output = the persistable
    // model frame (label, bucket, w_q).
    Gate("text_multiclass_train")((s, dir) =>
      MultiClass.modelFrame(mcDocs(s, dir), mcModel(s, dir))
        .orderBy("label", "bucket")) {
      s"""$mc3BaseCte
         |SELECT * FROM (
         |  SELECT 'dup' AS label, bucket, wq0 AS w_q FROM mc3_w5 WHERE wq0 <> 0
         |  UNION ALL
         |  SELECT 'agg' AS label, bucket, wq1 AS w_q FROM mc3_w5 WHERE wq1 <> 0
         |  UNION ALL
         |  SELECT 'other' AS label, bucket, wq2 AS w_q FROM mc3_w5 WHERE wq2 <> 0
         |) ORDER BY label, bucket""".stripMargin
    },
    // Per-doc multi-class scores + argmax label: scores are the
    // algebraic sigmoid rounded to 6dp, the label is argmax with
    // first-label-wins ties (round-BEFORE-argmax, so the prediction
    // replays bit-for-bit in any engine).
    Gate("text_multiclass_predict")((s, dir) =>
      MultiClass.scored(mcDocs(s, dir), mcFeats, mcModel(s, dir),
          predCol = "pred_label")
        .select(col("doc_id"), col("score_dup"), col("score_agg"),
          col("score_other"), col("pred_label"))
        .orderBy("doc_id")) {
      s"""$mc3BaseCte
         |SELECT doc_id, p0 AS score_dup, p1 AS score_agg, p2 AS score_other,
         |  CASE WHEN p0 = greatest(p0, p1, p2) THEN 'dup'
         |       WHEN p1 = greatest(p1, p2) THEN 'agg'
         |       ELSE 'other' END AS pred_label
         |FROM mc3_scored ORDER BY doc_id""".stripMargin
    },
    // K-class evaluation census: per-class tp / support / predicted
    // counts with precision/recall/F1 — one corpus scan to the
    // K²-bounded confusion table, per-class arithmetic on that tiny
    // frame (zero-division → 0, the scikit-learn convention). The
    // oracle re-derives the census from its own replayed predictions.
    Gate("text_multiclass_metrics")((s, dir) => {
      val docs = mcDocs(s, dir)
      val scored = MultiClass.scored(docs, mcFeats, mcModel(s, dir),
        predCol = "pred_label")
      MultiClass.evalMetrics(scored, mcLabels, "topic", "pred_label")
        .orderBy("label")
    }) {
      s"""$mc3BaseCte$mc3MetricsCte
         |SELECT label, tp, n_true, n_pred, precision, recall, f1
         |FROM mcm_f ORDER BY label""".stripMargin
    },
    // One-row macro summary: unweighted class means with a PINNED
    // left-to-right association (plain avg over K floats is partition-
    // order-sensitive in the last ulp) + exact-integer accuracy.
    Gate("text_multiclass_macro")((s, dir) => {
      val docs = mcDocs(s, dir)
      val scored = MultiClass.scored(docs, mcFeats, mcModel(s, dir),
        predCol = "pred_label")
      MultiClass.macroSummary(
        MultiClass.evalMetrics(scored, mcLabels, "topic", "pred_label"),
        mcLabels)
    }) {
      s"""$mc3BaseCte$mc3MetricsCte
         |SELECT
         |  round((((SELECT precision FROM mcm_f WHERE label = 'dup')
         |    + (SELECT precision FROM mcm_f WHERE label = 'agg'))
         |    + (SELECT precision FROM mcm_f WHERE label = 'other')) / 3.0, 6)
         |    AS macro_precision,
         |  round((((SELECT recall FROM mcm_f WHERE label = 'dup')
         |    + (SELECT recall FROM mcm_f WHERE label = 'agg'))
         |    + (SELECT recall FROM mcm_f WHERE label = 'other')) / 3.0, 6)
         |    AS macro_recall,
         |  round((((SELECT f1 FROM mcm_f WHERE label = 'dup')
         |    + (SELECT f1 FROM mcm_f WHERE label = 'agg'))
         |    + (SELECT f1 FROM mcm_f WHERE label = 'other')) / 3.0, 6)
         |    AS macro_f1,
         |  round(CAST((SELECT sum(tp) FROM mcm_f) AS DOUBLE)
         |    / CAST((SELECT sum(n_true) FROM mcm_f) AS DOUBLE), 6)
         |    AS accuracy""".stripMargin
    },
    // TRAINED language ID (CCNet's actual stage: a fastText-shaped
    // char-n-gram multi-class linear model) on the deterministic
    // synthetic multilingual corpus: char-bigram features hashed into
    // 256 buckets, 4-way one-vs-rest, 5 GD rounds. The oracle
    // re-trains the whole model in SQL and replays the argmax.
    Gate("text_langid_trained")((s, dir) => {
      val corpus = langidCorpus(s, dir)
      TextOps.langIdPredict(corpus, "text", langidModel(s, dir), "lang_pred")
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          col("score_en"), col("score_de"), col("score_es"), col("score_fr"))
        .orderBy("doc_id")
    }) {
      s"""$lidBaseCte
         |SELECT s.doc_id, s.lang,
         |  CASE WHEN z.p0 = greatest(z.p0, z.p1, z.p2, z.p3) THEN 'en'
         |       WHEN z.p1 = greatest(z.p1, z.p2, z.p3) THEN 'de'
         |       WHEN z.p2 = greatest(z.p2, z.p3) THEN 'es'
         |       ELSE 'fr' END AS lang_pred,
         |  z.p0 AS score_en, z.p1 AS score_de, z.p2 AS score_es,
         |  z.p3 AS score_fr
         |FROM lid_src s JOIN lid_scored z USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // CCNet confidence rejection: predictions whose best (rounded)
    // score sits below the threshold become 'unknown' instead of a
    // guess — the census shows which classes survive the cut at 0.55.
    Gate("text_langid_threshold")((s, dir) => {
      val corpus = langidCorpus(s, dir)
      TextOps.langIdPredict(corpus, "text", langidModel(s, dir),
          "lang_pred", minScore = 0.55)
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }) {
      s"""$lidBaseCte
         |SELECT s.lang,
         |  CASE WHEN greatest(z.p0, z.p1, z.p2, z.p3) >= 0.55 THEN
         |    CASE WHEN z.p0 = greatest(z.p0, z.p1, z.p2, z.p3) THEN 'en'
         |         WHEN z.p1 = greatest(z.p1, z.p2, z.p3) THEN 'de'
         |         WHEN z.p2 = greatest(z.p2, z.p3) THEN 'es'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS lang_pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM lid_src s JOIN lid_scored z USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
    },
    // Confusion census: the stopword HEURISTIC vs the TRAINED model on
    // the same multilingual corpus — the heuristic's en-priority bleeds
    // non-English rows into 'en' (every tail is English text), the
    // trained model separates on the phrase bigrams. The census is the
    // standard evidence a trained langid stage earns its keep.
    Gate("text_langid_confusion")((s, dir) => {
      val corpus = langidCorpus(s, dir)
      TextOps.langIdPredict(corpus, "text", langidModel(s, dir), "lang_pred")
        .withColumn("lang_heur", TextOps.langId(col("text")))
        .groupBy("lang_heur", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_heur", "lang_pred")
    }) {
      s"""$lidBaseCte, lid_heur AS (
         |  SELECT doc_id,
         |    CASE
         |      WHEN s_en >= greatest(s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
         |      WHEN s_de >= greatest(s_es, s_fr) AND s_de > 0 THEN 'de'
         |      WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |      WHEN s_fr > 0 THEN 'fr'
         |      ELSE 'unknown' END AS lang_heur
         |  FROM (
         |    SELECT doc_id,
         |      len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS s_en,
         |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         |      len(list_filter(toks, x -> x IN ('el','los','que','y','es'))) AS s_es,
         |      len(list_filter(toks, x -> x IN ('le','les','une','et','est'))) AS s_fr
         |    FROM (SELECT doc_id,
         |            string_split_regex(trim(s), '\\s+') AS toks
         |          FROM lid_src))
         |), lid_pred AS (
         |  SELECT doc_id,
         |    CASE WHEN p0 = greatest(p0, p1, p2, p3) THEN 'en'
         |         WHEN p1 = greatest(p1, p2, p3) THEN 'de'
         |         WHEN p2 = greatest(p2, p3) THEN 'es'
         |         ELSE 'fr' END AS lang_pred
         |  FROM lid_scored
         |)
         |SELECT h.lang_heur, p.lang_pred, CAST(count(*) AS BIGINT) AS n
         |FROM lid_heur h JOIN lid_pred p USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang_heur, lang_pred""".stripMargin
    },
    // Streaming language-ID monitor, batch leg (the batch/stream dual:
    // this exact aggregation runs under readStream + watermark —
    // pinned equal in StreamingSpec): synthetic ingest timestamps
    // (doc_id % 180 minutes over a 3-hour span), trained-langid
    // predictions with the 0.55 confidence rejection, tumbling 1h
    // census of predicted labels. The oracle replays the trained
    // scores (lidBaseCte), the rejection, and the hour bucketing.
    Gate("text_langid_stream_census")((s, dir) => {
      val corpus = langidCorpus(s, dir).withColumn("ts",
        expr("timestampadd(MINUTE, CAST(doc_id % 180 AS INT), " +
          "TIMESTAMP '2025-01-01 00:00:00')"))
      graft.streaming.StreamScore.langIdCensus(corpus, "text",
          langidModel(s, dir), "ts", "1 hour", minScore = 0.55)
        .orderBy("window_start", "lang_pred")
    }) {
      s"""$lidBaseCte
         |SELECT CAST(epoch(TIMESTAMP '2025-01-01 00:00:00'
         |    + ((s.doc_id % 180) // 60) * INTERVAL 1 HOUR) AS BIGINT)
         |  AS window_start,
         |  CASE WHEN greatest(z.p0, z.p1, z.p2, z.p3) >= 0.55 THEN
         |    CASE WHEN z.p0 = greatest(z.p0, z.p1, z.p2, z.p3) THEN 'en'
         |         WHEN z.p1 = greatest(z.p1, z.p2, z.p3) THEN 'de'
         |         WHEN z.p2 = greatest(z.p2, z.p3) THEN 'es'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS lang_pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM lid_src s JOIN lid_scored z USING (doc_id)
         |GROUP BY 1, 2 ORDER BY window_start, lang_pred""".stripMargin
    },
  )

  // ---- multi-class classifier + trained language ID ----------------
  /** 3-class topic label over documents (priority dup > agg > other —
    * the first-match rule both engines replay). */
  private def mcDocs(s: SparkSession, dir: String): DataFrame = {
    val tk = split(lower(col("text")), "\\s+")
    tbl(s, dir, "documents").withColumn("topic",
      when(array_contains(tk, "dup"), lit("dup"))
        .when(array_contains(tk, "agg"), lit("agg"))
        .otherwise(lit("other")))
  }

  private val mcLabels = Seq("dup", "agg", "other")

  private def mcFeats: org.apache.spark.sql.Column =
    array_distinct(graft.functions.DsirFeatures.dsirBuckets(
      col("text"), Seq(1), 64, 13L))

  private val mcModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, MultiClass.McModel]()

  private def mcModel(s: SparkSession, dir: String): MultiClass.McModel =
    mcModelCache.computeIfAbsent(dir, { _ =>
      // class weights 32/1/8 ~ inverse class frequency rounded to
      // powers of two (dup 5%, agg 76%, other 19%) — without them the
      // argmax collapses to the majority class
      val docs = mcDocs(s, dir)
      val m = MultiClass.train(docs, mcFeats, "topic", mcLabels,
        numBuckets = 64, rounds = 5, lr = 0.25,
        classWeights = Seq(32L, 1L, 8L))
      // the lrModel persistence round-trip, multiclass edition
      val path = s"${scratchDir("mc_model")}/model"
      MultiClass.modelFrame(docs, m).write.mode("overwrite").parquet(path)
      MultiClass.modelFromRows(s.read.parquet(path), mcLabels, numBuckets = 64)
    })

  /** Deterministic synthetic multilingual corpus: every document gets
    * a language by `doc_id % 4` and that language's stopword phrase
    * prepended — the tail stays English text, so the stopword
    * HEURISTIC (priority en > de > es > fr) keeps voting `en` on many
    * non-English rows while the TRAINED char-bigram model separates
    * the classes: exactly the gap CCNet's trained langid closes. */
  private def langidCorpus(s: SparkSession, dir: String): DataFrame = {
    val m4 = (col("doc_id") % 4).cast("int")
    val lang = when(m4 === 0, "en").when(m4 === 1, "de")
      .when(m4 === 2, "es").otherwise("fr")
    val phrase = when(m4 === 0, "the a of and is")
      .when(m4 === 1, "der die das und ist")
      .when(m4 === 2, "el los que y es")
      .otherwise("le les une et est")
    tbl(s, dir, "documents").select(col("doc_id"), lang.as("lang"),
      concat(phrase, lit(" "), col("text")).as("text"))
  }

  private val langs = Seq("en", "de", "es", "fr")

  private val langidModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, TextOps.LangIdModel]()

  private def langidModel(s: SparkSession, dir: String): TextOps.LangIdModel =
    langidModelCache.computeIfAbsent(dir, { _ =>
      val m = TextOps.langIdTrain(langidCorpus(s, dir), "text", "lang", langs,
        numBuckets = 256, ns = Seq(2), seed = 13L, rounds = 5, lr = 0.25)
      val path = s"${scratchDir("lid_model")}/model"
      MultiClass.modelFrame(langidCorpus(s, dir), m.mc)
        .write.mode("overwrite").parquet(path)
      m.copy(mc = MultiClass.modelFromRows(s.read.parquet(path), langs,
        numBuckets = 256))
    })

  /** Shared replay CTEs for the quality-classifier oracles: re-TRAIN
    * the whole hashed-unigram logistic model in SQL — tokenize, FNV-
    * hash unigrams into 64 buckets, binarize to presence features,
    * then 10 full-batch GD rounds with the exact
    * [[graft.operators.QualityClassifier]] arithmetic: weights (and
    * the intercept, sentinel bucket −1) on the 2^30 long grid,
    * residuals on the 2^20 long grid with the ×32 positive-class
    * weight applied AFTER quantization (all cross-row sums therefore
    * exact integers, order-free), the algebraic sigmoid
    * `0.5 + 0.5·z/(1+|z|)` (only correctly-rounded IEEE ops — no
    * exp), and the identical association order in the update
    * `((lr·(g/2^20))/n)·2^30`. Ends with `w10` (the trained grid) and
    * `scored` (per-doc label + score). */
  private lazy val lrOracleCte: String = lrOracleCteFor(64, 10)

  /** Chained-CTE replay of [[graft.operators.MultiClass.train]]'s
    * one-vs-rest GD rounds. The caller provides `${p}_feats(doc_id,
    * bucket)` — multiplicity = feature count, sentinel −1 exactly once
    * per doc — and `${p}_lab(doc_id, y0..y{k-1})` covering every
    * document; this emits `${p}_n`, the weight ladder
    * `${p}_w0..${p}_w$rounds` (bucket, wq0..wq{k-1}, MATERIALIZED so
    * the replay is linear in rounds) and `${p}_scored(doc_id,
    * p0..p{k-1})` with 6dp-rounded sigmoids — round-BEFORE-argmax,
    * the exact arithmetic of the Spark side. */
  private def mcOracleCte(p: String, k: Int, numBuckets: Int,
      rounds: Int, lrLit: String = "0.25",
      classWeights: Seq[Long] = Seq.empty): String = {
    val cw = if (classWeights.isEmpty) Seq.fill(k)(1L) else classWeights
    def zExpr(zq: String) = s"(CAST($zq AS DOUBLE) / 1073741824.0)"
    def pExpr(z: String) = s"(0.5 + 0.5 * ($z / (1.0 + abs($z))))"
    def cols(f: Int => String) = (0 until k).map(f).mkString(",\n    ")
    def gdRound(r: Int): String =
      s""", ${p}_z$r AS (
         |  SELECT f.doc_id,
         |    ${cols(c => s"CAST(sum(w.wq$c) AS BIGINT) AS zq$c")}
         |  FROM ${p}_feats f JOIN ${p}_w${r - 1} w ON w.bucket = f.bucket
         |  GROUP BY f.doc_id
         |), ${p}_r$r AS (
         |  SELECT l.doc_id,
         |    ${cols(c => s"CAST(floor((${pExpr(zExpr(s"coalesce(z.zq$c, 0)"))} - l.y$c) * 1048576.0 + 0.5) AS BIGINT) * (CASE WHEN l.y$c = 1.0 THEN ${cw(c)} ELSE 1 END) AS rq$c")}
         |  FROM ${p}_lab l LEFT JOIN ${p}_z$r z ON z.doc_id = l.doc_id
         |), ${p}_g$r AS (
         |  SELECT f.bucket,
         |    ${cols(c => s"CAST(sum(r.rq$c) AS BIGINT) AS g$c")}
         |  FROM ${p}_feats f JOIN ${p}_r$r r ON r.doc_id = f.doc_id
         |  GROUP BY f.bucket
         |), ${p}_w$r AS MATERIALIZED (
         |  SELECT w.bucket,
         |    ${cols(c => s"w.wq$c - CAST(floor((($lrLit * (CAST(coalesce(g.g$c, 0) AS DOUBLE) / 1048576.0)) / ${p}_n.n) * 1073741824.0 + 0.5) AS BIGINT) AS wq$c")}
         |  FROM ${p}_w${r - 1} w LEFT JOIN ${p}_g$r g ON g.bucket = w.bucket
         |  CROSS JOIN ${p}_n
         |)""".stripMargin
    s""", ${p}_n AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}_lab
       |), ${p}_w0 AS (
       |  SELECT CAST(b.range AS INTEGER) AS bucket,
       |    ${cols(c => s"CAST(0 AS BIGINT) AS wq$c")}
       |  FROM range(-1, $numBuckets) b
       |)${(1 to rounds).map(gdRound).mkString}, ${p}_zf AS (
       |  SELECT f.doc_id,
       |    ${cols(c => s"CAST(sum(w.wq$c) AS BIGINT) AS zq$c")}
       |  FROM ${p}_feats f JOIN ${p}_w$rounds w ON w.bucket = f.bucket
       |  GROUP BY f.doc_id
       |), ${p}_scored AS (
       |  SELECT l.doc_id,
       |    ${cols(c => s"round(${pExpr(zExpr(s"coalesce(z.zq$c, 0)"))}, 6) AS p$c")}
       |  FROM ${p}_lab l LEFT JOIN ${p}_zf z ON z.doc_id = l.doc_id
       |)""".stripMargin
  }

  /** Word-unigram presence feats + 3-class topic labels for the
    * `text_multiclass_*` oracles (prefix `mc3`). */
  private lazy val mc3BaseCte: String =
    s"""WITH mc3_tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS tk
       |  FROM documents
       |), mc3_lab AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN list_contains(tk, 'dup') THEN 1.0 ELSE 0.0 END AS y0,
       |    CASE WHEN NOT list_contains(tk, 'dup')
       |      AND list_contains(tk, 'agg') THEN 1.0 ELSE 0.0 END AS y1,
       |    CASE WHEN NOT list_contains(tk, 'dup')
       |      AND NOT list_contains(tk, 'agg') THEN 1.0 ELSE 0.0 END AS y2
       |  FROM mc3_tk
       |), mc3_feats AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    CAST(${fnvSql("gram", 13L)} % 64 AS INTEGER) AS bucket
       |  FROM (SELECT doc_id, unnest(tk) AS gram FROM mc3_tk)
       |  UNION ALL
       |  SELECT doc_id, -1 AS bucket FROM mc3_tk
       |)${mcOracleCte("mc3", 3, 64, 5, classWeights = Seq(32L, 1L, 8L))}""".stripMargin

  /** Confusion census + per-class metrics over `mc3_scored` /
    * `mc3_lab` — the [[graft.operators.MultiClass.evalMetrics]]
    * replay: argmax predictions, K²-bounded confusion, per-class
    * tp/support/predicted with the zero-division-→-0 convention and
    * the same pinned round-then-F1 arithmetic. Ends with `mcm_f`. */
  private lazy val mc3MetricsCte: String =
    """, mcm_pred AS (
      |  SELECT doc_id,
      |    CASE WHEN p0 = greatest(p0, p1, p2) THEN 'dup'
      |         WHEN p1 = greatest(p1, p2) THEN 'agg'
      |         ELSE 'other' END AS pred
      |  FROM mc3_scored
      |), mcm_true AS (
      |  SELECT doc_id,
      |    CASE WHEN y0 = 1.0 THEN 'dup' WHEN y1 = 1.0 THEN 'agg'
      |         ELSE 'other' END AS label
      |  FROM mc3_lab
      |), mcm_conf AS MATERIALIZED (
      |  SELECT t.label, p.pred, CAST(count(*) AS BIGINT) AS n
      |  FROM mcm_true t JOIN mcm_pred p USING (doc_id) GROUP BY 1, 2
      |), mcm_per AS MATERIALIZED (
      |  SELECT c.label,
      |    CAST(coalesce((SELECT sum(n) FROM mcm_conf
      |      WHERE label = c.label AND pred = c.label), 0) AS BIGINT) AS tp,
      |    CAST(coalesce((SELECT sum(n) FROM mcm_conf
      |      WHERE label = c.label), 0) AS BIGINT) AS n_true,
      |    CAST(coalesce((SELECT sum(n) FROM mcm_conf
      |      WHERE pred = c.label), 0) AS BIGINT) AS n_pred
      |  FROM (SELECT unnest(['dup', 'agg', 'other']) AS label) c
      |), mcm_met AS MATERIALIZED (
      |  SELECT label, tp, n_true, n_pred,
      |    CASE WHEN n_pred > 0
      |      THEN round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
      |      ELSE 0.0 END AS precision,
      |    CASE WHEN n_true > 0
      |      THEN round(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
      |      ELSE 0.0 END AS recall
      |  FROM mcm_per
      |), mcm_f AS MATERIALIZED (
      |  SELECT label, tp, n_true, n_pred, precision, recall,
      |    CASE WHEN precision + recall > 0.0
      |      THEN round((2.0 * (precision * recall)) / (precision + recall), 6)
      |      ELSE 0.0 END AS f1
      |  FROM mcm_met
      |)""".stripMargin

  /** Synthetic multilingual corpus + char-bigram feats + 4-lang labels
    * for the `text_langid_trained`/`_confusion` oracles (prefix
    * `lid`). The phrase prepend and `doc_id % 4` language assignment
    * mirror [[langidCorpus]]; char bigrams step by character over the
    * LOWERCASED full string (spaces included) and hash FNV-1a exactly
    * like [[graft.functions.CharGramBuckets]]. */
  private lazy val lidBaseCte: String =
    s"""WITH lid_src AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 4 AS INTEGER)
       |      WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'es'
       |      ELSE 'fr' END AS lang,
       |    lower(CASE CAST(doc_id % 4 AS INTEGER)
       |      WHEN 0 THEN 'the a of and is'
       |      WHEN 1 THEN 'der die das und ist'
       |      WHEN 2 THEN 'el los que y es'
       |      ELSE 'le les une et est' END || ' ' || text) AS s
       |  FROM documents
       |), lid_lab AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y0,
       |    CASE WHEN lang = 'de' THEN 1.0 ELSE 0.0 END AS y1,
       |    CASE WHEN lang = 'es' THEN 1.0 ELSE 0.0 END AS y2,
       |    CASE WHEN lang = 'fr' THEN 1.0 ELSE 0.0 END AS y3
       |  FROM lid_src
       |), lid_feats AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    CAST(${fnvSql("g", 13L)} % 256 AS INTEGER) AS bucket
       |  FROM (SELECT doc_id, substring(s, CAST(i AS INTEGER), 2) AS g
       |        FROM (SELECT doc_id, s, unnest(range(1, len(s))) AS i
       |              FROM lid_src))
       |  UNION ALL
       |  SELECT doc_id, -1 AS bucket FROM lid_src
       |)${mcOracleCte("lid", 4, 256, 5)}""".stripMargin
}
