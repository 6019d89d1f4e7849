package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.functions.DsirFeatures

/** Distributed quality-classifier training: logistic-style regression
  * over hashed word-n-gram features (the fastText linear-classifier
  * shape, Joulin et al. 2017, "Bag of Tricks for Efficient Text
  * Classification") — the standard LLM-pipeline stage that distils a
  * cheap heuristic label (keyword / length / domain rules) into a
  * model scoring every document of a 100 TB corpus. Supports the
  * machinery real quality classifiers need: an intercept (absorbs the
  * base rate), binary presence features (CCNet-style — robust to
  * length variation), and a positive-class weight (quality/toxicity
  * positives are always the rare class).
  *
  * Reference scope: cloudbutton/lithops-dataframe `core.py` exposes
  * `apply`/`map_partitions` that users compose into exactly this kind
  * of per-document scoring; this operator is the first-class
  * extension-tier version with a distributed trainer.
  *
  * Scale shape (the whole point):
  *   - featurization is ROW-LOCAL ([[DsirFeatures.dsirBuckets]], a
  *     codegen expression) — the corpus never shuffles;
  *   - each training round is ONE scan: per-doc margin with the
  *     current weights embedded in the expression (a task-closure
  *     broadcast of a `numBuckets`-sized array), then a gradient
  *     `groupBy(bucket)` whose map-side partial aggregation caps the
  *     shuffle at `numBuckets + 1` rows per partition regardless of
  *     corpus size (the intercept rides the same aggregation as the
  *     sentinel bucket −1);
  *   - the only collect is the `numBuckets + 1`-row gradient
  *     (bounded, same pattern as the k-means centroid collect).
  *   At 1000 executors × 100 TB this is fastText's training loop with
  *   the feature matrix left in place and only the model moving.
  *
  * Determinism (what makes the DuckDB oracle replay bit-identical):
  *   - weights and residuals live on fixed power-of-two grids
  *     (`wQ = w·2^30` and `rQ = round(r·2^20)` as longs), so every
  *     cross-partition sum is exact integer arithmetic — order-free;
  *     the class weight is a power-of-two integer multiplied AFTER
  *     quantization (exact);
  *   - the link function is the ALGEBRAIC sigmoid
  *     `σ(z) = 0.5 + 0.5·z/(1+|z|)` — only +,·,/,|x|, each correctly
  *     rounded under IEEE 754, so Spark and any other engine compute
  *     the same double bit-for-bit (a transcendental `exp` would not
  *     be bit-specified across libm implementations; fastText itself
  *     ships a lookup-table sigmoid for the same reason);
  *   - grid↔double conversions are exact by construction: longs stay
  *     below 2^53 (guarded loudly) and the scales are powers of two,
  *     so `toDouble` and the scale divisions are exponent shifts.
  */
object QualityClassifier {

  /** Weight grid: stored weight long = weight · 2^30. */
  val WeightScale: Double = 1073741824.0

  /** Residual grid: transmitted residual long = residual · 2^20. */
  val ResidScale: Double = 1048576.0

  /** The sentinel "bucket" carrying the intercept through the
    * gradient aggregation and the persisted model frame. */
  val BiasBucket: Int = -1

  /** A trained hashed-linear model. `weightsQ(b)` is the bucket-b
    * weight and `biasQ` the intercept, both on the 2^30 grid;
    * `binary` pins the featurization (presence vs counts) so scoring
    * cannot silently diverge from training. */
  final case class LrModel(weightsQ: Array[Long], biasQ: Long, ns: Seq[Int],
      numBuckets: Int, seed: Long, binary: Boolean) {
    require(weightsQ.length == numBuckets,
      s"model has ${weightsQ.length} weights for $numBuckets buckets")
  }

  /** Algebraic sigmoid — IEEE-exact, engine-portable. */
  def sigmoidAlg(z: Double): Double = 0.5 + 0.5 * (z / (1.0 + math.abs(z)))

  /** Featurized-row count at or below which [[trainLogistic]] (and
    * [[MultiClass.train]]) runs its GD rounds on the DRIVER over one
    * bounded collect of the featurized frame, instead of one
    * distributed gradient job per round. Bit-identical by the same
    * exactness argument that makes the distributed sums order-free:
    * margins/residuals are per-row IEEE doubles from exact longs (the
    * identical formula, mirrored in Scala), and gradients are exact
    * long sums — no ordering anywhere (pinned by ClassifierSpec /
    * MultiClassSpec parity tests). The rows bound alone does not bound
    * driver memory — 2^16 long documents carry hundreds of MB of
    * bucket arrays — so the probe ([[OpUtil.collectIfSmall]]) also
    * falls back to the distributed rounds past its byte budget.
    * Production corpora exceed the bound and keep the distributed
    * rounds, paying only one bounded probe read. */
  val SmallTrainDocsBound: Int = 1 << 16

  private[operators] def sigmoidAlgCol(z: Column): Column =
    lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z)))

  /** Per-doc feature buckets: hashed n-grams with multiplicity, or
    * distinct presence buckets in binary mode. */
  private def bucketsCol(text: Column, m: LrModel): Column = {
    val b = DsirFeatures.dsirBuckets(text, m.ns, m.numBuckets, m.seed)
    if (m.binary) array_distinct(b) else b
  }

  /** Margin `z` of `text` under the model, as a double column: the
    * exact integer feature-weight sum plus the intercept grid, divided
    * by the weight scale (an exponent shift — exact). Counts mode
    * rides the codegen [[DsirFeatures.dsirScore]]; binary mode folds
    * the distinct buckets against the weight array literal (exact
    * long arithmetic either way). */
  private def marginCol(text: Column, m: LrModel): Column = {
    val featSum =
      if (m.binary)
        aggregate(bucketsCol(text, m), lit(0L),
          (acc, b) => acc + element_at(lit(m.weightsQ), b + lit(1)))
      else
        DsirFeatures.dsirScore(text, m.weightsQ, m.ns, m.numBuckets, m.seed)
    (featSum + lit(m.biasQ)).cast(DoubleType) / lit(WeightScale)
  }

  /** Full-batch gradient-descent training of a hashed-feature linear
    * classifier with intercept.
    *
    * @param docs      input frame; every row is one document
    * @param textCol   string column to featurize
    * @param labelCol  0/1 integer label column (loud on anything else)
    * @param numBuckets power-of-two hash-bucket count (the model size)
    * @param ns        word-n-gram sizes (default unigrams)
    * @param rounds    full-batch GD rounds
    * @param lr        learning rate — MUST be a power of two so the
    *                  `lr·grad` product stays exact (guarded)
    * @param posWeight integer power-of-two weight on positive-class
    *                  residuals (class imbalance; 1 = unweighted)
    * @param binary    true = presence features (each distinct bucket
    *                  counts once per doc); false = count features
    */
  def trainLogistic(docs: DataFrame, textCol: String, labelCol: String,
      numBuckets: Int, ns: Seq[Int] = Seq(1), seed: Long = 13L,
      rounds: Int = 3, lr: Double = 0.5, posWeight: Long = 1L,
      binary: Boolean = false,
      broadcastThreshold: Int = MultiClass.BroadcastBucketThreshold,
      localBound: Int = SmallTrainDocsBound): LrModel = {
    require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a positive power of two, got $numBuckets")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val lrExp = math.log(lr) / math.log(2.0)
    require(lr > 0 && lrExp == math.rint(lrExp),
      s"lr must be a positive power of two for exact grid arithmetic, got $lr")
    require(posWeight >= 1L && (posWeight & (posWeight - 1L)) == 0L,
      s"posWeight must be a positive power of two, got $posWeight")

    // one head whose positive class is y = 1; y = 0 is class 1, which
    // has no head, so it is a negative; anything else is invalid
    val y = col(labelCol).cast(LongType)
    val rawB = DsirFeatures.dsirBuckets(col(textCol), ns, numBuckets, seed)
    val (wQ, biasQ) = MultiClass.trainHeads(docs,
      if (binary) array_distinct(rawB) else rawB,
      when(y === 1L, 0).when(y === 0L, 1), numBuckets, rounds, lr,
      Seq(posWeight), broadcastThreshold, localBound,
      s"labelCol '$labelCol' must be 0/1 and non-null for every row")
    LrModel(wQ(0), biasQ(0), ns, numBuckets, seed, binary)
  }

  /** The trained model as a frame `(bucket INT, w_q LONG)` — the
    * intercept as bucket −1, zero weights omitted — the persistable
    * artifact (write it to parquet, read it back, [[modelFromRows]]
    * it at scoring time). */
  def modelFrame(docs: DataFrame, m: LrModel): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rows = (BiasBucket, m.biasQ) +:
      m.weightsQ.iterator.zipWithIndex
        .collect { case (w, b) if w != 0L => (b, w) }.toSeq
    rows.filter(_._2 != 0L).toDF("bucket", "w_q")
  }

  /** Rebuild an [[LrModel]] from a persisted `(bucket, w_q)` frame. */
  def modelFromRows(rows: DataFrame, ns: Seq[Int], numBuckets: Int,
      seed: Long, binary: Boolean): LrModel = {
    val wQ = new Array[Long](numBuckets)
    var biasQ = 0L
    rows.select(col("bucket").cast(IntegerType), col("w_q").cast(LongType))
      .collect().foreach { r =>
        if (r.getInt(0) == BiasBucket) biasQ = r.getLong(1)
        else wQ(r.getInt(0)) = r.getLong(1)
      }
    LrModel(wQ, biasQ, ns, numBuckets, seed, binary)
  }

  /** Score every document: `score` = σ(z) (the engine-portable
    * algebraic sigmoid) and `pred` = 1 iff score ≥ 0.5. Row-local —
    * one codegen expression per row, the model rides the task
    * closure. */
  def score(docs: DataFrame, textCol: String, m: LrModel): DataFrame = {
    val p = sigmoidAlgCol(marginCol(col(textCol), m))
    docs.withColumn("score", p)
      .withColumn("pred", (col("score") >= lit(0.5)).cast(IntegerType))
  }

  /** One-row classifier evaluation: the confusion census (tp/fp/tn/fn
    * at the 0.5 threshold), precision/recall/F1, and the EXACT
    * Mann–Whitney AUC.
    *
    * AUC is computed as the integer U-statistic doubled
    * (`u2 = 2·concordant + tied` — ties get the standard half
    * credit without ever leaving exact arithmetic), then
    * `auc = u2 / (2·P·N)` as one pinned IEEE division, so any engine
    * reproduces it bit-for-bit. Scores are the algebraic-sigmoid
    * doubles — bit-identical across engines — so grouping by score
    * value is exact.
    *
    * Scale shape: one `groupBy(score)` shuffle to the distinct-score
    * table (bounded by distinct margin values, ≤ corpus rows but
    * typically far fewer), then a DISTRIBUTED prefix sum over it —
    * `repartitionByRange` by score, per-range window (parallel — the
    * window partitions on the range id, never a single global sort),
    * and a range-count-sized driver collect for the cross-range
    * offsets. No self-join, nothing quadratic, no 1-partition
    * window. */
  def evalMetrics(scored: DataFrame, labelCol: String = "y",
      scoreCol: String = "score", predCol: String = "pred",
      ranges: Int = 32): DataFrame = {
    require(ranges >= 1, s"ranges must be >= 1, got $ranges")
    val spark = scored.sparkSession
    import org.apache.spark.sql.expressions.Window

    val base = scored.select(
      col(scoreCol).cast(DoubleType).as("__s"),
      col(labelCol).cast(LongType).as("__y"),
      col(predCol).cast(LongType).as("__pred"))

    // distinct-score census: p_s positives, n_s negatives per value
    val perScore = base.groupBy("__s").agg(
      sum(col("__y")).as("p_s"),
      sum(lit(1L) - col("__y")).as("n_s"))

    // distributed exclusive prefix sum of n_s in score order:
    // range-partition by score, rank ranges via their minimum score
    // (a `ranges`-row collect), window WITHIN each range only
    val ranged = perScore
      .repartitionByRange(ranges, col("__s"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true) // pin the range assignment for both consumers
    val rangeTotals = ranged.groupBy("__pid")
      .agg(sum("n_s").as("tot_n"), min("__s").as("min_s"))
      .collect().sortBy(_.getAs[Double]("min_s"))
    val offsets = rangeTotals.scanLeft(0L)(_ + _.getAs[Long]("tot_n"))
    val offsetMap = rangeTotals.map(_.getAs[Int]("__pid"))
      .zip(offsets).toMap
    val offsetCol = offsetMap.foldLeft(lit(0L)) { case (acc, (pid, off)) =>
      when(col("__pid") === pid, lit(off)).otherwise(acc)
    }
    val w = Window.partitionBy("__pid").orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withBelow = ranged
      .withColumn("__n_upto", sum("n_s").over(w))
      .withColumn("n_below", (col("__n_upto") - col("n_s")) + offsetCol)

    // u2 = 2·Σ p_s·n_below(s) + Σ p_s·n_s — accumulated in 38-digit
    // decimal, NOT long: for a balanced corpus past ~3e9 rows P·N
    // exceeds 2^63 and Spark's non-ANSI long sum would wrap silently.
    // Decimal keeps the value exact to 10^38 (enough for 10^19 rows);
    // the final cast to double only happens inside the AUC division.
    val dec = DecimalType(38, 0)
    val u = withBelow.agg(
      sum((col("p_s").cast(dec) * lit(2L)) * col("n_below").cast(dec)
        + col("p_s").cast(dec) * col("n_s").cast(dec))
        .as("u2"),
      sum("p_s").as("p_cnt"), sum("n_s").as("n_cnt"))

    val confusion = base.agg(
      sum(when(col("__y") === 1L && col("__pred") === 1L, 1L).otherwise(0L)).as("tp"),
      sum(when(col("__y") === 0L && col("__pred") === 1L, 1L).otherwise(0L)).as("fp"),
      sum(when(col("__y") === 0L && col("__pred") === 0L, 1L).otherwise(0L)).as("tn"),
      sum(when(col("__y") === 1L && col("__pred") === 0L, 1L).otherwise(0L)).as("fn"))

    confusion.crossJoin(broadcast(u))
      .withColumn("precision",
        col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType))
      .withColumn("recall",
        col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType))
      .withColumn("f1",
        (lit(2.0) * (col("precision") * col("recall"))) /
          (col("precision") + col("recall")))
      .withColumn("auc",
        col("u2").cast(DoubleType) /
          ((lit(2.0) * col("p_cnt").cast(DoubleType)) * col("n_cnt").cast(DoubleType)))
  }

  /** Calibration (reliability) buckets: fixed-width score bins with
    * per-bin counts, positives, and the observed positive rate — the
    * standard check that a classifier's scores mean what they say.
    * One grouped aggregation (bin count-bounded); the bin assignment
    * `floor(score·bins)` is deterministic because the algebraic-
    * sigmoid scores are bit-exact, and the rate is one pinned
    * division over exact longs. `score = 1.0` folds into the top
    * bin. */
  def calibrationBuckets(scored: DataFrame, labelCol: String = "y",
      scoreCol: String = "score", bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val bin = least(floor(col(scoreCol).cast(DoubleType) * lit(bins))
      .cast(IntegerType), lit(bins - 1))
    scored.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast(LongType)).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
  }
}
