package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Interpolated Kneser–Ney trigram language model — the KenLM shape
  * (Kneser & Ney 1995; Chen & Goodman 1998) CCNet-style pipelines use
  * to perplexity-score every document of a corpus and split it into
  * head/middle/tail quality buckets before training-data selection.
  *
  * Reference scope: cloudbutton/lithops-dataframe `core.py` exposes
  * `apply`/`map_partitions` that users compose into per-document
  * scoring; this is the first-class extension-tier LM on top of the
  * existing unigram/bigram scorers in [[TextOps]].
  *
  * Model (trigram, absolute discount D, interpolated — one fixed
  * associativity everywhere so any engine replays it bit-for-bit):
  * {{{
  *   pU(w3)      = (N1+(·w3) + 1) / ((N1+(··) + V) + 1)        // Laplace-floored continuation unigram
  *   pBi(w3|w2)  = (max(N1+(·w2w3) − D, 0) + (D·N2(w2·))·pU) / N1+(·w2·)   [w2 seen]
  *               = pU                                                        [w2 unseen]
  *   pTri(w3|w1w2) = (max(c(w1w2w3) − D, 0) + (D·N3(w1w2·))·pBi) / c(w1w2·) [ctx seen]
  *               = pBi                                                       [ctx unseen]
  * }}}
  * All count structures derive from the ONE trigram type table (so the
  * model is self-consistent and the whole derivation is four grouped
  * aggregations over types, never a second corpus pass):
  * c(w1w2·) = Σ_w3 c3, N3 = distinct w3 per (w1,w2), N1+(·w2w3) =
  * distinct w1 per (w2,w3), N1+(·w2·)/N2 from the (w2,w3) type table,
  * N1+(·w3) = distinct w2 per w3, N1+(··) = total (w2,w3) types.
  * The unigram floor (+1 / +V+1) replaces KenLM's explicit `<unk>`
  * state: it keeps every ladder value finite and positive (an unseen
  * w3 otherwise scores exactly 0 → −∞ log) — a documented deviation
  * from textbook KN, applied identically in the DuckDB oracle.
  *
  * Determinism: counts are exact longs from grouped aggregations
  * (order-free); the probability ladder uses only +,−,·,/ and
  * `greatest` with one pinned association, each correctly rounded
  * under IEEE 754, so Spark and DuckDB produce identical doubles
  * per position; only the final `ln` and per-doc Σlp carry engine /
  * association noise (~1e−13 absolute), absorbed by the gates'
  * 6-decimal rounding.
  *
  * Scale shape (the point):
  *   - the count corpus is exploded ONCE; everything else aggregates
  *     the trigram TYPE table (vocabulary-sized, not corpus-sized);
  *   - scoring attaches five stat tables to the score-side trigram
  *     stream by key ((w1,w2,w3), (w1,w2), (w2,w3), w2, w3). Each
  *     attach is de-skewed the [[TextOps.bigramLogProb]] way: the
  *     top-`hotK` rows by occurrence mass resolve from a BROADCAST
  *     slice row-locally (zipf hot keys — "the" as w3, "of the" as
  *     context — never shuffle), and already-resolved rows ride the
  *     residual shuffle join as salted passengers (synthetic
  *     space-embedded keys that cannot match a token), so the stream
  *     is evaluated once and every shuffle's hottest key is the
  *     rank-hotK+1 gram;
  *   - totals are a one-row broadcast cross join.
  *   At 100 TB the trigram type table is large but distributed —
  *   that is the honest KenLM cost — and the corpus-sized streams
  *   never shuffle on a skewed key.
  */
object KneserNey {

  /** The model's count tables, all derived from the trigram type
    * table. Eagerly checkpointed: each feeds a broadcast hot slice
    * AND a residual join (plus downstream derivations), and without
    * the cut every consumer would re-run the corpus explode. `local`
    * marks a model whose tables are bounded driver-built relations
    * (see [[KnLocalStatsBound]]) — scoring then attaches them with
    * plain broadcast left joins instead of the hot/residual machinery
    * (no skew is possible in a broadcast probe). */
  final case class KnTables(t3: DataFrame, ctx2: DataFrame, b23: DataFrame,
      mid2: DataFrame, u3: DataFrame, totals: DataFrame,
      local: Boolean = false)

  /** Trigram-type count at or below which [[countTables]] derives the
    * four downstream stat tables (and the totals row) on the DRIVER
    * from one bounded read of the checkpointed trigram table, instead
    * of four more checkpoint jobs — and scoring attaches all five
    * tables as broadcast relations. Everything derived is exact
    * integer arithmetic over the same type rows, so the tables are
    * bit-identical (pinned in KneserNeySpec); 2^18 types ≈ ~15 MB of
    * driver/broadcast state, the same model-sized budget as a
    * collected centroid table. At real scale the type table exceeds
    * the bound and the distributed derivation runs unchanged. */
  val KnLocalStatsBound: Int = 1 << 18

  /** Explode a frame into its trigram stream (one row per position
    * 1..len−2), keeping `extra` passenger columns. */
  private def trigrams(df: DataFrame, textCol: String,
      extra: Seq[Column]): DataFrame = {
    val t = TextOps.tokens(col(textCol))
    df.select(extra :+ t.as("__t"): _*)
      .where(size(col("__t")) >= 3)
      .select(extra :+ explode(transform(
        sequence(lit(1), size(col("__t")) - 2),
        i => struct(
          element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2"),
          element_at(col("__t"), i + 2).as("w3")))).as("__tr"): _*)
      .select(extra ++ Seq(col("__tr.w1").as("w1"), col("__tr.w2").as("w2"),
        col("__tr.w3").as("w3")): _*)
  }

  /** Build the KN count tables from the count corpus: ONE explode,
    * then grouped aggregations over the trigram type table. Type
    * tables at or under `localBound` derive the four stat tables on
    * the driver (bit-identical — see [[KnLocalStatsBound]]; 0 forces
    * the distributed derivation). */
  def countTables(countDocs: DataFrame, textCol: String,
      localBound: Int = KnLocalStatsBound): KnTables = {
    val spark = countDocs.sparkSession
    import spark.implicits._
    val t3 = trigrams(countDocs, textCol, Seq.empty)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
      .localCheckpoint(true)
    // ONE bounded read of the checkpoint blocks decides the path AND
    // feeds the driver derivation
    OpUtil.collectIfSmall(t3, localBound) match {
      case Some(rows) =>
        val probe = rows.map(r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        // exact integer folds over the type rows — the same grouped
        // sums/counts the distributed aggregations compute
        val ctx2m = scala.collection.mutable.HashMap.empty[(String, String), (Long, Long)]
        val b23m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        probe.foreach { case (w1, w2, w3, c3) =>
          val ck = (w1, w2)
          val cv = ctx2m.getOrElse(ck, (0L, 0L))
          ctx2m.update(ck, (cv._1 + c3, cv._2 + 1L))
          val bk = (w2, w3)
          b23m.update(bk, b23m.getOrElse(bk, 0L) + 1L)
        }
        val mid2m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        val u3m = scala.collection.mutable.HashMap.empty[String, Long]
        b23m.foreach { case ((w2, w3), n1p23) =>
          val mv = mid2m.getOrElse(w2, (0L, 0L))
          mid2m.update(w2, (mv._1 + n1p23, mv._2 + 1L))
          u3m.update(w3, u3m.getOrElse(w3, 0L) + 1L)
        }
        // the trigram table itself also becomes a local relation so the
        // scoring attaches can broadcast it (its contents are the probe
        // rows — the checkpointed frame is released to the GC)
        val t3l = probe.toSeq.toDF("w1", "w2", "w3", "c3")
        t3.unpersist(blocking = false)
        val ctx2 = ctx2m.iterator
          .map { case ((w1, w2), (s, n)) => (w1, w2, s, n) }.toSeq
          .toDF("w1", "w2", "c2ctx", "n3")
        val b23 = b23m.iterator
          .map { case ((w2, w3), n) => (w2, w3, n) }.toSeq
          .toDF("w2", "w3", "n1p23")
        val mid2 = mid2m.iterator
          .map { case (w2, (s, n)) => (w2, s, n) }.toSeq
          .toDF("w2", "n1p2mid", "n2")
        val u3 = u3m.iterator.map { case (w3, n) => (w3, n) }.toSeq
          .toDF("w3", "n1p3")
        val totals = Seq((b23m.size.toDouble, u3m.size.toDouble))
          .toDF("__nall", "__v")
        KnTables(t3l, ctx2, b23, mid2, u3, totals, local = true)
      case None =>
        val ctx2 = t3.groupBy("w1", "w2")
          .agg(sum("c3").as("c2ctx"), count(lit(1)).as("n3"))
          .localCheckpoint(true)
        val b23 = t3.groupBy("w2", "w3").agg(count(lit(1)).as("n1p23"))
          .localCheckpoint(true)
        val mid2 = b23.groupBy("w2")
          .agg(sum("n1p23").as("n1p2mid"), count(lit(1)).as("n2"))
          .localCheckpoint(true)
        val u3 = b23.groupBy("w3").agg(count(lit(1)).as("n1p3"))
          .localCheckpoint(true)
        val totals = b23.agg(count(lit(1)).cast(DoubleType).as("__nall"))
          .crossJoin(u3.agg(count(lit(1)).cast(DoubleType).as("__v")))
        KnTables(t3, ctx2, b23, mid2, u3, totals)
    }
  }

  /** Attach `stats` to `probe` by `keys` as a left join, de-skewed:
    * the top-`hotK` stats rows by `hotCol` (deterministic key
    * tiebreak) resolve from a broadcast; rows they hit ride the
    * residual shuffle join as salted passengers — the synthetic key
    * embeds a space, [[TextOps.tokens]] splits on \s+, so a passenger
    * can never match and keeps its broadcast-attached stats. The
    * probe stream is evaluated exactly once and the residual join's
    * hottest key is the rank-hotK+1 gram. `hotK = 0` restores the
    * plain single shuffle join (the audit path). */
  private def attachHot(probe: DataFrame, stats: DataFrame,
      keys: Seq[String], hotCol: String, hotK: Int,
      saltCols: Seq[String]): DataFrame = {
    val statCols = stats.columns.toSeq.filterNot(keys.contains)
    if (hotK == 0) probe.join(stats, keys, "left")
    else {
      val hot = stats
        .orderBy(col(hotCol).desc +: keys.map(col): _*).limit(hotK)
      val hotR = broadcast(statCols.foldLeft(hot)(
        (d, c) => d.withColumnRenamed(c, "__h_" + c))
        .withColumn("__hit", lit(true)))
      val j1 = probe.join(hotR, keys, "left")
      // per-attach synthetic key: original key columns stay intact for
      // the later attaches on overlapping keys. The salt hashes the
      // keys PLUS row-varying passenger columns (the bigramLogProb
      // pattern) so a hot gram's occurrences spread across partitions
      // instead of funneling through one synthetic key.
      val k0 = "__rk"
      val salted = j1.withColumn(k0,
        when(col("__hit").isNotNull,
          concat(lit(" #"), hex(hash((keys ++ saltCols).map(col): _*))))
          .otherwise(col(keys.head)))
      val resStats = stats.withColumnRenamed(keys.head, k0)
      val j2 = salted.join(resStats, k0 +: keys.tail, "left")
      statCols.foldLeft(j2)((d, c) =>
        d.withColumn(c, coalesce(col("__h_" + c), col(c))))
        .drop(statCols.map("__h_" + _): _*)
        .drop("__hit", k0)
    }
  }

  /** The pinned probability ladder over an attached trigram row —
    * ONE association, replicated character-for-character in the
    * oracle SQL. */
  private def ladder(discount: Double): Column = {
    val d = lit(discount)
    val pU = (coalesce(col("n1p3"), lit(0L)).cast(DoubleType) + lit(1.0)) /
      ((col("__nall") + col("__v")) + lit(1.0))
    val pBi = when(col("n1p2mid").isNotNull,
      (greatest(coalesce(col("n1p23"), lit(0L)).cast(DoubleType) - d, lit(0.0))
        + (d * col("n2").cast(DoubleType)) * pU) /
        col("n1p2mid").cast(DoubleType))
      .otherwise(pU)
    when(col("c2ctx").isNotNull,
      (greatest(coalesce(col("c3"), lit(0L)).cast(DoubleType) - d, lit(0.0))
        + (d * col("n3").cast(DoubleType)) * pBi) /
        col("c2ctx").cast(DoubleType))
      .otherwise(pBi)
  }

  /** Per-document interpolated-KN trigram log-probability: returns
    * `(idCol, n_scored, lp_sum)` for EVERY input row — documents with
    * fewer than 3 tokens score `n_scored = 0, lp_sum = null`.
    *
    * @param discount absolute discount D (dyadic 0.75 default — exact
    *                 in binary, the Chen–Goodman standard value)
    * @param hotK     broadcast-slice size per attach (0 = plain joins)
    */
  def trigramLogProb(scoreDocs: DataFrame, countDocs: DataFrame,
      idCol: String, textCol: String, discount: Double = 0.75,
      hotK: Int = 1024, localBound: Int = KnLocalStatsBound): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    require(hotK >= 0, s"hotK must be non-negative, got $hotK")
    val t = countTables(countDocs, textCol, localBound)
    var s = trigrams(scoreDocs, textCol, Seq(col(idCol)))
    def salt(keys: Seq[String]): Seq[String] =
      Seq("w1", "w2", "w3").filterNot(keys.contains) :+ idCol
    // a LOCAL model attaches as plain broadcast left joins — same rows
    // as attachHot (whose contract is exactly the left join), but the
    // score stream takes five map-side probes and zero stat shuffles;
    // skew de-skewing is moot when the whole table rides the broadcast
    def attach(probe: DataFrame, stats: DataFrame, keys: Seq[String],
        hotCol: String, saltCols: Seq[String]): DataFrame =
      if (t.local) probe.join(broadcast(stats), keys, "left")
      else attachHot(probe, stats, keys, hotCol, hotK, saltCols)
    s = attach(s, t.t3, Seq("w1", "w2", "w3"), "c3", Seq(idCol))
    s = attach(s, t.ctx2, Seq("w1", "w2"), "c2ctx", salt(Seq("w1", "w2")))
    s = attach(s, t.b23, Seq("w2", "w3"), "n1p23", salt(Seq("w2", "w3")))
    s = attach(s, t.mid2, Seq("w2"), "n1p2mid", salt(Seq("w2")))
    s = attach(s, t.u3, Seq("w3"), "n1p3", salt(Seq("w3")))
    val lp = log(ladder(discount))
    val perDoc = s.crossJoin(broadcast(t.totals))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_scored"), sum(lp).as("lp_sum"))
    scoreDocs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_scored"), lit(0L)).cast(LongType).as("n_scored"),
        col("lp_sum"))
  }

  /** CCNet-style perplexity split: label every scoreable document
    * head / middle / tail by FIXED mean-log-probability thresholds
    * (CCNet uses precomputed percentile cutoffs from a reference LM
    * the same way — a fixed threshold, not a per-batch rank, so the
    * operator is one scan over per-doc scores with no global sort).
    * Higher mean lp = lower perplexity = better = head. */
  def perplexitySplit(scoreDocs: DataFrame, countDocs: DataFrame,
      idCol: String, textCol: String, headMin: Double, middleMin: Double,
      discount: Double = 0.75, hotK: Int = 1024,
      localBound: Int = KnLocalStatsBound): DataFrame = {
    require(headMin > middleMin,
      s"headMin ($headMin) must exceed middleMin ($middleMin)")
    val scored = trigramLogProb(scoreDocs, countDocs, idCol, textCol,
      discount, hotK, localBound)
    scored.where(col("n_scored") > 0L)
      .withColumn("mean_lp", col("lp_sum") / col("n_scored").cast(DoubleType))
      .withColumn("label",
        when(col("mean_lp") >= lit(headMin), lit("head"))
          .when(col("mean_lp") >= lit(middleMin), lit("middle"))
          .otherwise(lit("tail")))
  }
}
