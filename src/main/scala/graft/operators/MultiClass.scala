package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** K-class one-vs-rest linear classifier over hashed features — the
  * multi-class extension of [[QualityClassifier]]'s integer-grid
  * trainer, and the shape of CCNet's actual language-ID stage (a
  * fastText char-n-gram linear model; Joulin et al. 2017).
  *
  * Reference scope: cloudbutton/lithops-dataframe `core.py` exposes
  * `apply`/`map_partitions` users compose into per-document scoring;
  * this is the extension-tier trained variant.
  *
  * One-vs-rest keeps the exact-arithmetic story intact: each class k
  * trains the SAME full-batch GD as the binary trainer (weights on the
  * 2^30 grid, residuals quantized to the 2^20 grid, algebraic sigmoid
  * — every cross-row sum an exact integer, order-free), and all K
  * classes ride ONE corpus scan and ONE gradient shuffle per round:
  * the per-doc residual is a K-vector computed row-locally, the
  * gradient `groupBy(bucket)` carries K sum columns, so the shuffle
  * stays capped at `numBuckets + 1` rows × K columns per partition
  * regardless of corpus size. The only collect is that bounded
  * gradient. At 1000 executors × 100 TB the corpus never moves — only
  * the K·(numBuckets+1) model does.
  *
  * Prediction is argmax with ROUNDED scores (6dp) and first-label-wins
  * tiebreak, so any engine replays the label bit-for-bit (the
  * round-before-argmax rule the TF-IDF NN oracle established).
  *
  * The featurizer is pluggable: pass any `Column` producing
  * `array<int>` buckets in `[0, numBuckets)` — word n-grams
  * ([[graft.functions.DsirFeatures.dsirBuckets]], `array_distinct` for
  * presence mode) or char n-grams
  * ([[graft.functions.CharGramBuckets.charGramBuckets]], the langid
  * featurization). Multiplicity in the array IS the feature count.
  */
object MultiClass {

  /** A trained K-class model: `weightsQ(k)` are class k's bucket
    * weights and `biasQ(k)` its intercept, on the 2^30 grid; `labels`
    * pins the class order (argmax ties resolve to the earliest). */
  final case class McModel(labels: Seq[String], weightsQ: Array[Array[Long]],
      biasQ: Array[Long], numBuckets: Int) {
    require(labels.nonEmpty && labels.size == weightsQ.length &&
      labels.size == biasQ.length,
      s"model shape mismatch: ${labels.size} labels, " +
        s"${weightsQ.length} weight rows, ${biasQ.length} intercepts")
    require(weightsQ.forall(_.length == numBuckets),
      "every class must have numBuckets weights")
  }

  /** Margin z_k of a feature array under class k's weights: exact
    * integer fold over the bucket array plus the intercept grid,
    * divided by the weight scale (an exponent shift — exact). */
  private def marginCol(feats: Column, wQ: Array[Long], biasQ: Long): Column = {
    val featSum = aggregate(feats, lit(0L),
      (acc, b) => acc + element_at(lit(wQ), b + lit(1)))
    (featSum + lit(biasQ)).cast(DoubleType) / lit(QualityClassifier.WeightScale)
  }

  /** Bucket count at or above which the weight matrix is broadcast and
    * folded in a UDF instead of embedded as K plan literals: below it,
    * the codegen'd `element_at(lit(w), …)` fold wins; above it the plan
    * and task binary would grow as K×numBuckets (the round-15 advisory
    * — at 2^20 buckets × 64 classes that is a half-GB plan). */
  private[graft] val BroadcastBucketThreshold: Int = 1 << 12

  /** All K margins as one `array<double>` column via a broadcast of the
    * weight matrix — shipped once per executor, referenced O(1) in the
    * plan. Identical integer arithmetic to [[marginCol]] (Long fold +
    * intercept, one double division), so the two paths are bit-equal
    * (pinned in MultiClassSpec). */
  private def marginsBroadcastCol(docs: DataFrame, feats: Column,
      wQ: Array[Array[Long]], biasQ: Array[Long]): Column = {
    val bcW = docs.sparkSession.sparkContext.broadcast(wQ.map(_.clone()))
    val bcB = docs.sparkSession.sparkContext.broadcast(biasQ.clone())
    val f = udf { (buckets: Seq[Int]) =>
      val w = bcW.value; val b = bcB.value
      val out = new Array[Double](w.length)
      var c = 0
      while (c < w.length) {
        var acc = b(c)
        val it = buckets.iterator
        while (it.hasNext) acc += w(c)(it.next())
        out(c) = acc.toDouble / QualityClassifier.WeightScale
        c += 1
      }
      out
    }
    f(feats)
  }

  /** Full-batch one-vs-rest GD training.
    *
    * @param docs       input frame; every row is one document
    * @param featsCol   `array<int>` bucket column (see object doc)
    * @param labelCol   string class column; every value must be in
    *                   `labels` (loud otherwise)
    * @param labels     the class inventory, order = tiebreak priority
    * @param numBuckets power-of-two bucket count (per-class model size)
    * @param rounds     full-batch GD rounds
    * @param lr         learning rate — power of two (exact grid step)
    * @param classWeights per-class positive-residual weights (class
    *                   imbalance: rare classes get a bigger multiplier,
    *                   the binary trainer's posWeight generalized).
    *                   Powers of two, applied AFTER quantization so the
    *                   arithmetic stays exact. Empty = all 1.
    */
  def train(docs: DataFrame, featsCol: Column, labelCol: String,
      labels: Seq[String], numBuckets: Int, rounds: Int = 5,
      lr: Double = 0.25, classWeights: Seq[Long] = Seq.empty,
      broadcastThreshold: Int = BroadcastBucketThreshold,
      localBound: Int = QualityClassifier.SmallTrainDocsBound): McModel = {
    require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a positive power of two, got $numBuckets")
    require(labels.size >= 2 && labels.size <= 64,
      s"need 2..64 classes, got ${labels.size}")
    require(labels.distinct.size == labels.size,
      s"labels must be distinct, got $labels")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val lrExp = math.log(lr) / math.log(2.0)
    require(lr > 0 && lrExp == math.rint(lrExp),
      s"lr must be a positive power of two for exact grid arithmetic, got $lr")
    val k = labels.size
    val cw = if (classWeights.isEmpty) Seq.fill(k)(1L) else classWeights
    require(cw.size == k, s"classWeights must have $k entries, got ${cw.size}")
    require(cw.forall(w => w >= 1L && (w & (w - 1L)) == 0L),
      s"classWeights must be positive powers of two, got $cw")

    val lab = col(labelCol).cast("string")
    val classIdx = labels.indices.tail.foldLeft(when(lab === lit(labels(0)), 0)) {
      (acc, c) => acc.when(lab === lit(labels(c)), c)
    }
    val (wQ, biasQ) = trainHeads(docs, featsCol, classIdx, numBuckets, rounds,
      lr, cw, broadcastThreshold, localBound,
      s"labelCol '$labelCol' must be one of $labels for every row")
    McModel(labels, wQ, biasQ, numBuckets)
  }

  /** The one hashed-linear GD core behind [[train]] (K heads) and
    * [[QualityClassifier.trainLogistic]] (one head): `cw.size` one-vs-
    * rest heads over `buckets` (`array<int>` in `[0, numBuckets)`).
    * `classIdx` is each row's class: head c's positive rows are those
    * with index c, an index without a head (the binary trainer's
    * negatives) is negative for every head, and a null index is an
    * invalid label (`badLabel`).
    *
    * Featurize ONCE (round-16 VERDICT item 2): the buckets are
    * weight-independent, so evaluating them per round re-tokenizes the
    * corpus `rounds` times for nothing. The slim `(buckets, class)`
    * projection is persisted (disk-spilling) and every GD round scans
    * the cached arrays; one bounded probe of it picks the path — small
    * frames ([[QualityClassifier.SmallTrainDocsBound]]) train on the
    * driver, the rest run one distributed gradient job per round. */
  private[operators] def trainHeads(docs: DataFrame, buckets: Column,
      classIdx: Column, numBuckets: Int, rounds: Int, lr: Double,
      cw: Seq[Long], broadcastThreshold: Int, localBound: Int,
      badLabel: String): (Array[Array[Long]], Array[Long]) = {
    val frame = docs.select(buckets.as("__f"), classIdx.as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the probe's partitions land in the cache either way
      OpUtil.collectIfSmall(frame, localBound) match {
        case Some(rows) =>
          require(rows.forall(!_.isNullAt(1)), badLabel)
          trainLocalGd(rows, numBuckets, rounds, lr, cw)
        case None =>
          // ONE setup scan: row count and label validation together
          // (it also materializes the cached featurization)
          val setup = frame.agg(count(lit(1)),
            coalesce(sum(when(col("__c").isNull, 1L).otherwise(0L)), lit(0L)))
            .collect()(0)
          require(setup.getLong(1) == 0L, badLabel)
          gdRounds(setup.getLong(0), numBuckets, rounds, lr, cw.size) { (wQ, biasQ) =>
            distributedGradient(frame, wQ, biasQ, cw, broadcastThreshold)
          }
      }
    } finally frame.unpersist(blocking = false)
  }

  /** The GD rounds both paths share: zero-initialized weights, the
    * divergence guard, and the grid update from one gradient per round
    * (`(bucket, per-head exact long sum)`, the intercept as
    * [[QualityClassifier.BiasBucket]]). */
  private def gdRounds(n: Long, numBuckets: Int, rounds: Int, lr: Double,
      heads: Int)(gradient: (Array[Array[Long]], Array[Long]) =>
        Iterator[(Int, Array[Long])]): (Array[Array[Long]], Array[Long]) = {
    require(n > 0L, "cannot train on an empty frame")
    val nD = n.toDouble
    val wQ = Array.fill(heads)(new Array[Long](numBuckets))
    val biasQ = new Array[Long](heads)
    var round = 0
    while (round < rounds) {
      // |z_q| must stay below 2^53 for the exact toDouble; a document
      // would need maxAbsW · grams > 2^53 to break it — guard loudly
      // at one million grams per document.
      val maxAbsW = (wQ.iterator.flatMap(_.iterator.map(math.abs)) ++
        biasQ.iterator.map(math.abs)).foldLeft(0L)(math.max)
      require(maxAbsW <= (1L << 33),
        s"weight grid overflow risk (max |w_q| = $maxAbsW): training diverged; lower lr")
      gradient(wQ, biasQ).foreach { case (b, g) =>
        var c = 0
        while (c < heads) {
          val gradD = g(c).toDouble / QualityClassifier.ResidScale
          val step = lr * gradD / nD
          val dq = math.floor(step * QualityClassifier.WeightScale + 0.5).toLong
          if (b == QualityClassifier.BiasBucket) biasQ(c) -= dq
          else wQ(c)(b) -= dq
          c += 1
        }
      }
      round += 1
    }
    (wQ, biasQ)
  }

  /** Driver-local GD rounds over collected `(buckets, class)` rows —
    * the exact Scala mirror of [[distributedGradient]]: per-row IEEE
    * doubles from exact longs, then exact long sums, so no ordering
    * enters (pinned by the ClassifierSpec and MultiClassSpec parity
    * tests). */
  private def trainLocalGd(rows: Array[Row], numBuckets: Int, rounds: Int,
      lr: Double, cw: Seq[Long]): (Array[Array[Long]], Array[Long]) = {
    val k = cw.size
    gdRounds(rows.length, numBuckets, rounds, lr, k) { (wQ, biasQ) =>
      val grad = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
      rows.foreach { r =>
        val buckets = r.getSeq[Int](0)
        val lab = r.getInt(1)
        val rqw = new Array[Long](k)
        var c = 0
        while (c < k) {
          var acc = biasQ(c)
          val it = buckets.iterator
          while (it.hasNext) acc += wQ(c)(it.next())
          val z = acc.toDouble / QualityClassifier.WeightScale
          val p = QualityClassifier.sigmoidAlg(z)
          val y = if (c == lab) 1.0 else 0.0
          val rq = math.floor((p - y) * QualityClassifier.ResidScale + 0.5).toLong
          rqw(c) = rq * (if (c == lab) cw(c) else 1L)
          c += 1
        }
        def bump(b: Int): Unit = {
          val g = grad.getOrElseUpdate(b, new Array[Long](k))
          var i = 0
          while (i < k) { g(i) += rqw(i); i += 1 }
        }
        bump(QualityClassifier.BiasBucket)
        val it = buckets.iterator
        while (it.hasNext) bump(it.next())
      }
      grad.iterator
    }
  }

  /** One distributed GD round's gradient: the per-head quantized
    * residuals computed row-locally in ONE scan of the cached frame,
    * and all heads' sums in ONE `groupBy(bucket)`. */
  private def distributedGradient(frame: DataFrame, wQ: Array[Array[Long]],
      biasQ: Array[Long], cw: Seq[Long], broadcastThreshold: Int)
      : Iterator[(Int, Array[Long])] = {
    val k = cw.size
    // large models read margins from one broadcast-fold array column
    val big = wQ(0).length >= broadcastThreshold
    val src =
      if (big) frame.withColumn("__m",
        marginsBroadcastCol(frame, col("__f"), wQ, biasQ))
      else frame
    val rqCols = (0 until k).map { c =>
      val z = if (big) element_at(col("__m"), c + 1)
        else marginCol(col("__f"), wQ(c).clone(), biasQ(c))
      val p = QualityClassifier.sigmoidAlgCol(z)
      val isPos = col("__c") === lit(c)
      val y = when(isPos, lit(1.0)).otherwise(lit(0.0))
      // class weight applied AFTER quantization: exact integer multiply
      (floor((p - y) * lit(QualityClassifier.ResidScale) + lit(0.5))
        .cast(LongType) * when(isPos, lit(cw(c))).otherwise(lit(1L)))
        .as(s"__r$c")
    }
    // sentinel bucket −1 = the intercept: one occurrence per doc, so
    // all K bias gradients ride the same bounded aggregation
    val withBias = concat(array(lit(QualityClassifier.BiasBucket)), col("__f"))
    src
      .select(rqCols :+ withBias.as("__fb"): _*)
      .select((0 until k).map(c => col(s"__r$c")) :+
        explode(col("__fb")).as("bucket"): _*)
      .groupBy("bucket")
      .agg(sum(s"__r0").as("g0"),
        (1 until k).map(c => sum(s"__r$c").as(s"g$c")): _*)
      .collect()
      .iterator.map(r => (r.getInt(0), Array.tabulate(k)(c => r.getLong(1 + c))))
  }

  /** Attach per-class scores (`score_<label>`, the algebraic sigmoid
    * rounded to 6dp) and the argmax label (`predCol`, earliest label
    * wins ties) to `docs`. The scores are materialized as named
    * columns first so the argmax CASE chain references them by name —
    * a nested-fold expression would double per class (the Hilbert
    * unrolling trap). Row-local, zero shuffles. */
  def scored(docs: DataFrame, featsCol: Column, m: McModel,
      predCol: String = "pred_label",
      broadcastThreshold: Int = BroadcastBucketThreshold): DataFrame = {
    val k = m.labels.size
    val big = m.numBuckets >= broadcastThreshold
    val base0 = docs.withColumn("__f", featsCol)
    val base =
      if (big) base0.withColumn("__m",
        marginsBroadcastCol(base0, col("__f"), m.weightsQ, m.biasQ))
      else base0
    val withScores = m.labels.indices.foldLeft(base) { (d, c) =>
      val z = if (big) element_at(col("__m"), c + 1)
        else marginCol(col("__f"), m.weightsQ(c), m.biasQ(c))
      d.withColumn(s"score_${m.labels(c)}",
        round(QualityClassifier.sigmoidAlgCol(z), 6))
    }
    val pred = (1 until k).foldLeft(
      (lit(m.labels(0)), col(s"score_${m.labels(0)}"))) {
      case ((bl, bs), c) =>
        val s = col(s"score_${m.labels(c)}")
        (when(s > bs, lit(m.labels(c))).otherwise(bl),
          when(s > bs, s).otherwise(bs))
    }._1
    withScores.withColumn(predCol, pred).drop("__f", "__m")
  }

  /** K-class confusion matrix: one row per (true label, predicted
    * label) pair with counts — the K² census every multi-class eval
    * starts from. One grouped aggregation, K²-bounded output. */
  def confusion(scored: DataFrame, labelCol: String,
      predCol: String): DataFrame =
    scored.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Per-class and macro-averaged precision / recall / F1 from a
    * scored frame — the standard multi-class eval summary (macro =
    * unweighted mean over classes, the fastText convention for
    * imbalanced corpora; micro-P/R/F1 all equal accuracy for
    * single-label tasks, so accuracy is reported once).
    *
    * Scale shape: ONE grouped aggregation to the K²-bounded confusion
    * census, then the per-class arithmetic runs on that tiny frame —
    * the corpus is scanned exactly once regardless of K. Every count
    * is an exact long; the divisions are pinned (round 6dp), so any
    * engine replays the metrics from its own census. A class with no
    * predicted rows gets precision 0 (not null) — the scikit-learn
    * zero-division convention; same for recall on an absent class. */
  def evalMetrics(scored: DataFrame, labels: Seq[String],
      labelCol: String, predCol: String): DataFrame = {
    require(labels.nonEmpty, "need the class inventory")
    val conf = confusion(scored, labelCol, predCol)
      .localCheckpoint(true) // three consumers below
    val perTrue = conf.groupBy("label").agg(sum("n").as("n_true"))
    val perPred = conf.groupBy("pred").agg(sum("n").as("n_pred"))
    val diag = conf.where(col("label") === col("pred"))
      .select(col("label"), col("n").as("tp"))
    val s = scored.sparkSession
    import s.implicits._
    val classes = labels.toDF("label")
    val per = classes
      .join(diag, Seq("label"), "left")
      .join(perTrue, Seq("label"), "left")
      .join(perPred.withColumnRenamed("pred", "label"), Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .withColumn("precision", when(col("n_pred") > 0L,
        round(col("tp").cast(DoubleType) / col("n_pred").cast(DoubleType), 6))
        .otherwise(lit(0.0)))
      .withColumn("recall", when(col("n_true") > 0L,
        round(col("tp").cast(DoubleType) / col("n_true").cast(DoubleType), 6))
        .otherwise(lit(0.0)))
      .withColumn("f1", when(col("precision") + col("recall") > 0.0,
        round((lit(2.0) * (col("precision") * col("recall"))) /
          (col("precision") + col("recall")), 6))
        .otherwise(lit(0.0)))
    per
  }

  /** One-row macro summary over [[evalMetrics]]' per-class frame:
    * unweighted class means + overall accuracy. The class means use a
    * PINNED left-to-right association in `labels` order (a plain avg
    * over K floats is partition-order-sensitive in the last ulp —
    * enough to flip a 6dp round on a boundary); accuracy is exact
    * integer sums with one pinned division. K-bounded input. */
  def macroSummary(perClass: DataFrame, labels: Seq[String]): DataFrame = {
    val pivots = labels.flatMap { l =>
      Seq(sum(when(col("label") === lit(l), col("precision"))).as(s"__p_$l"),
        sum(when(col("label") === lit(l), col("recall"))).as(s"__r_$l"),
        sum(when(col("label") === lit(l), col("f1"))).as(s"__f_$l"))
    } ++ Seq(sum("tp").as("__tp"), sum("n_true").as("__nt"))
    val one = perClass.agg(pivots.head, pivots.tail: _*)
    def mean(prefix: String) = round(
      labels.map(l => col(s"__${prefix}_$l")).reduceLeft(_ + _) /
        lit(labels.size.toDouble), 6)
    one.select(
      mean("p").as("macro_precision"),
      mean("r").as("macro_recall"),
      mean("f").as("macro_f1"),
      round(col("__tp").cast(DoubleType) / col("__nt").cast(DoubleType), 6)
        .as("accuracy"))
  }

  /** The trained model as a frame `(label, bucket, w_q)` — intercept
    * as bucket −1, zero weights omitted — the persistable artifact
    * ([[modelFromRows]] rebuilds it). */
  def modelFrame(docs: DataFrame, m: McModel): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rows = m.labels.indices.flatMap { c =>
      val bias =
        if (m.biasQ(c) != 0L)
          Seq((m.labels(c), QualityClassifier.BiasBucket, m.biasQ(c)))
        else Seq.empty
      bias ++ m.weightsQ(c).iterator.zipWithIndex
        .collect { case (w, b) if w != 0L => (m.labels(c), b, w) }
    }
    rows.toDF("label", "bucket", "w_q")
  }

  /** Rebuild an [[McModel]] from a persisted `(label, bucket, w_q)`
    * frame. `labels` pins the class order (the frame doesn't). */
  def modelFromRows(rows: DataFrame, labels: Seq[String],
      numBuckets: Int): McModel = {
    val idx = labels.zipWithIndex.toMap
    val wQ = Array.fill(labels.size)(new Array[Long](numBuckets))
    val biasQ = new Array[Long](labels.size)
    rows.select(col("label").cast("string"), col("bucket").cast("int"),
      col("w_q").cast("long")).collect().foreach { r =>
        val c = idx.getOrElse(r.getString(0),
          throw new IllegalArgumentException(
            s"model frame has unknown label '${r.getString(0)}'"))
        if (r.getInt(1) == QualityClassifier.BiasBucket) biasQ(c) = r.getLong(2)
        else wQ(c)(r.getInt(1)) = r.getLong(2)
      }
    McModel(labels, wQ, biasQ, numBuckets)
  }
}
