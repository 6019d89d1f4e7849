package graft

import org.apache.spark.sql.functions._

import graft.gates.Fixtures
import graft.operators.QualityClassifier
import graft.operators.QualityClassifier.LrModel

/** [[graft.operators.QualityClassifier]] — hashed-feature linear
  * classifier training/scoring: learning on separable toy corpora,
  * bit-determinism across runs, multiplicity semantics, loud
  * contracts, and the persist/rebuild round trip. */
class ClassifierSpec extends SparkSpec {

  private val D = 64

  private def toy() = {
    import spark.implicits._
    // positive docs share "good", negative share "bad"; both share
    // neutral filler so only the signal tokens separate
    Seq(
      (0L, "good fast table scan", 1),
      (1L, "good merge join good", 1),
      (2L, "good window agg row", 1),
      (3L, "bad slow table scan", 0),
      (4L, "bad merge join bad", 0),
      (5L, "bad window agg row", 0)
    ).toDF("doc_id", "text", "y")
  }

  test("learns a separable keyword signal: all positives score above all negatives") {
    val docs = toy()
    val m = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 10)
    val scored = QualityClassifier.score(docs, "text", m)
      .select("doc_id", "score", "pred").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
    val pos = scored.filter(_._1 < 3).map(_._2)
    val neg = scored.filter(_._1 >= 3).map(_._2)
    assert(pos.min > neg.max, s"positives $pos should separate from negatives $neg")
    assert(scored.filter(_._1 < 3).forall(_._3 == 1))
    assert(scored.filter(_._1 >= 3).forall(_._3 == 0))
  }

  test("training is bit-deterministic across runs and partition layouts") {
    val docs = toy()
    val a = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 5,
      localBound = 0)
    val b = QualityClassifier.trainLogistic(docs.repartition(7), "text", "y", D,
      rounds = 5, localBound = 0)
    assert(a.weightsQ.toSeq == b.weightsQ.toSeq)
    // driver-local GD dispatch: bit-identical to the distributed rounds
    // (r20 — exact mirror of the round expressions)
    val c = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 5)
    assert(c.weightsQ.toSeq == a.weightsQ.toSeq && c.biasQ == a.biasQ)
    val d = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 5,
      posWeight = 8L, binary = true)
    val e = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 5,
      posWeight = 8L, binary = true, localBound = 0)
    assert(d.weightsQ.toSeq == e.weightsQ.toSeq && d.biasQ == e.biasQ)
  }

  test("token multiplicity counts: a repeated signal token doubles its gradient pull") {
    import spark.implicits._
    val once = Seq((0L, "sig", 1), (1L, "other", 0)).toDF("doc_id", "text", "y")
    val twice = Seq((0L, "sig sig", 1), (1L, "other", 0)).toDF("doc_id", "text", "y")
    val m1 = QualityClassifier.trainLogistic(once, "text", "y", D, rounds = 1)
    val m2 = QualityClassifier.trainLogistic(twice, "text", "y", D, rounds = 1)
    val b = m1.weightsQ.indexWhere(_ > 0L)
    assert(b >= 0, "signal bucket should get a positive weight")
    // round 1: r_q is ±2^19 for every doc; doubling the occurrence
    // count exactly doubles the bucket's gradient, hence its weight
    assert(m2.weightsQ(b) == 2L * m1.weightsQ(b))
  }

  test("loud contracts: labels, buckets, lr, empty input") {
    import spark.implicits._
    val docs = toy()
    val badLabel = Seq((0L, "a", 2)).toDF("doc_id", "text", "y")
    assert(intercept[IllegalArgumentException] {
      QualityClassifier.trainLogistic(badLabel, "text", "y", D)
    }.getMessage.contains("0/1"))
    assert(intercept[IllegalArgumentException] {
      QualityClassifier.trainLogistic(docs, "text", "y", 48)
    }.getMessage.contains("power of two"))
    assert(intercept[IllegalArgumentException] {
      QualityClassifier.trainLogistic(docs, "text", "y", D, lr = 0.3)
    }.getMessage.contains("power of two"))
    assert(intercept[IllegalArgumentException] {
      QualityClassifier.trainLogistic(docs, "text", "y", D, posWeight = 3L)
    }.getMessage.contains("power of two"))
    assert(intercept[IllegalArgumentException] {
      QualityClassifier.trainLogistic(docs.where(lit(false)), "text", "y", D)
    }.getMessage.contains("empty"))
  }

  test("intercept absorbs the base rate: all-negative corpus drives bias negative, weights stay small") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"tok${i % 5} tok${(i + 1) % 5}", 0))
      .toDF("doc_id", "text", "y")
    val m = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 5)
    assert(m.biasQ < 0L, s"bias should go negative on an all-negative corpus, got ${m.biasQ}")
  }

  test("binary mode: repeating a token changes nothing (presence features)") {
    import spark.implicits._
    val once = Seq((0L, "sig other", 1), (1L, "other", 0)).toDF("doc_id", "text", "y")
    val thrice = Seq((0L, "sig sig sig other", 1), (1L, "other", 0)).toDF("doc_id", "text", "y")
    val m1 = QualityClassifier.trainLogistic(once, "text", "y", D, rounds = 3,
      binary = true)
    val m2 = QualityClassifier.trainLogistic(thrice, "text", "y", D, rounds = 3,
      binary = true)
    assert(m1.weightsQ.toSeq == m2.weightsQ.toSeq && m1.biasQ == m2.biasQ)
  }

  test("posWeight amplifies the rare class: round-1 positive residuals scale exactly") {
    import spark.implicits._
    // n=2 makes every round-1 step an exact power of two, so the ×8
    // class weight scales the grid update with no rounding residue
    val docs = Seq((0L, "sig", 1), (1L, "othera", 0))
      .toDF("doc_id", "text", "y")
    val m1 = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 1)
    val m8 = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 1,
      posWeight = 8L)
    val b = m1.weightsQ.indexWhere(_ > 0L)
    assert(b >= 0)
    // round 1: the signal bucket's gradient is one positive residual;
    // ×8 class weight multiplies it (and thus the update) exactly
    assert(m8.weightsQ(b) == 8L * m1.weightsQ(b))
  }

  test("modelFrame → parquet → modelFromRows scores identically") {
    val docs = toy()
    val m = QualityClassifier.trainLogistic(docs, "text", "y", D, rounds = 5)
    val dir = Fixtures.scratchDir("lrmodel")
    QualityClassifier.modelFrame(docs, m).write.mode("overwrite")
      .parquet(s"$dir/model.parquet")
    val m2 = QualityClassifier.modelFromRows(
      spark.read.parquet(s"$dir/model.parquet"), m.ns, m.numBuckets, m.seed,
      m.binary)
    assert(m.weightsQ.toSeq == m2.weightsQ.toSeq && m.biasQ == m2.biasQ)
  }

  test("algebraic sigmoid: exact IEEE identities the oracle replay relies on") {
    assert(QualityClassifier.sigmoidAlg(0.0) == 0.5)
    assert(QualityClassifier.sigmoidAlg(1.0) == 0.75)
    assert(QualityClassifier.sigmoidAlg(-1.0) == 0.25)
    // symmetric by construction: 0.5 ± the same magnitude
    val z = 0.37
    assert(QualityClassifier.sigmoidAlg(z) - 0.5 == 0.5 - QualityClassifier.sigmoidAlg(-z))
  }

  test("gradient shuffle is bucket-bounded: one partial-aggregated exchange, no cartesian") {
    import spark.implicits._
    // the training scan's physical shape: explode → partial agg →
    // exchange → final agg; assert by running the same plan the
    // trainer builds and checking the executed exchange row count
    val docs = (0L until 200L).map(i => (i, s"tok${i % 7} tok${i % 3} filler", (i % 2).toInt))
      .toDF("doc_id", "text", "y")
    val m = LrModel(new Array[Long](D), 0L, Seq(1), D, 13L, binary = false)
    val grad = docs.select(
      lit(1L).as("__rq"),
      explode(graft.functions.DsirFeatures.dsirBuckets(col("text"), Seq(1), D, 13L))
        .as("bucket"))
      .groupBy("bucket").agg(sum("__rq").as("g"))
    val rows = grad.collect()
    assert(rows.length <= D)
    val plan = grad.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"gradient aggregation must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(m.numBuckets == D)
  }

  test("evalMetrics: hand-computed Mann-Whitney AUC with ties") {
    import spark.implicits._
    // scores: pos {0.9, 0.6, 0.4}, neg {0.6, 0.3, 0.1, 0.1}
    // concordant (pos > neg): 0.9>{all 4}=4, 0.6>{.3,.1,.1}=3, 0.4>{.3,.1,.1}=3 → 10
    // tied: 0.6 vs 0.6 → 1;  u2 = 2·10 + 1 = 21; auc = 21/(2·3·4) = 0.875
    val scored = Seq(
      (1, 0.9, 1), (1, 0.6, 1), (1, 0.4, 0),
      (0, 0.6, 1), (0, 0.3, 0), (0, 0.1, 0), (0, 0.1, 0)
    ).toDF("y", "score", "pred")
    val r = QualityClassifier.evalMetrics(scored).collect().head
    // u2 accumulates in DecimalType(38,0) (long would wrap past ~3e9
    // balanced rows); still an exact integer
    assert(r.getAs[java.math.BigDecimal]("u2").longValueExact === 21L)
    assert(r.getAs[Long]("p_cnt") === 3L && r.getAs[Long]("n_cnt") === 4L)
    assert(r.getAs[Double]("auc") === 21.0 / 24.0)
    // confusion at the given preds: tp=2 fp=1 tn=3 fn=1
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("tn"), r.getAs[Long]("fn")) === ((2L, 1L, 3L, 1L)))
    assert(r.getAs[Double]("precision") === 2.0 / 3.0)
    assert(r.getAs[Double]("recall") === 2.0 / 3.0)
  }

  test("evalMetrics: distributed prefix sum matches across range counts") {
    import spark.implicits._
    // 500 rows, many distinct scores, shuffled input order — the
    // cross-range offset arithmetic must be invariant to how many
    // ranges the prefix sum is split into (1 range = the naive
    // single-window shape)
    val rng = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      val y = if (rng.nextDouble() < 0.3) 1 else 0
      val s = math.rint(rng.nextDouble() * 50) / 50.0 // force ties
      (y, s, if (s >= 0.5) 1 else 0)
    }
    val scored = rng.shuffle(rows).toDF("y", "score", "pred").repartition(7)
    val one = QualityClassifier.evalMetrics(scored, ranges = 1).collect().head
    val many = QualityClassifier.evalMetrics(scored, ranges = 32).collect().head
    assert(one.getAs[java.math.BigDecimal]("u2").longValueExact ===
      many.getAs[java.math.BigDecimal]("u2").longValueExact)
    assert(one.getAs[Double]("auc") === many.getAs[Double]("auc"))
  }

  test("calibrationBuckets: hand-computed bins, top-bin fold, loud contract") {
    import spark.implicits._
    val scored = Seq(
      (1, 0.05), (0, 0.07),      // bin 0: n=2 pos=1
      (1, 0.95), (1, 1.0)        // bin 9 (score 1.0 folds into the top bin)
    ).toDF("y", "score")
    val got = QualityClassifier.calibrationBuckets(scored, bins = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq === Seq((0, 2L, 1L, 0.5), (9, 2L, 2L, 1.0)))
    intercept[IllegalArgumentException] {
      QualityClassifier.calibrationBuckets(scored, bins = 1)
    }
  }

  test("evalMetrics: perfect separation gives auc exactly 1") {
    import spark.implicits._
    val scored = Seq((1, 0.9, 1), (1, 0.8, 1), (0, 0.2, 0), (0, 0.1, 0))
      .toDF("y", "score", "pred")
    val r = QualityClassifier.evalMetrics(scored).collect().head
    assert(r.getAs[Double]("auc") === 1.0)
    assert(r.getAs[Double]("f1") === 1.0)
  }
  test("broadcast-fold GD rounds are bit-identical to the plan-literal fold") {
    val docs = toy()
    // force the broadcast path on the same small model (threshold 1)
    // and compare against the literal path (threshold never reached)
    val lit = QualityClassifier.trainLogistic(docs, "text", "y", D,
      rounds = 5, broadcastThreshold = Int.MaxValue, localBound = 0)
    val bc = QualityClassifier.trainLogistic(docs, "text", "y", D,
      rounds = 5, broadcastThreshold = 1, localBound = 0)
    assert(lit.biasQ == bc.biasQ)
    assert(lit.weightsQ.toSeq == bc.weightsQ.toSeq)
  }
}
