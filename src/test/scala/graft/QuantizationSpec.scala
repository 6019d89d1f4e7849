package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantization

class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  // dim 4, m=2 → subspaces [0:2] and [2:4]; crafted so each half has
  // two well-separated clusters
  private val vecs = Seq(
    (0L, Seq(0.0, 0.0, 10.0, 10.0)),
    (1L, Seq(0.2, 0.0, 10.0, 10.2)),
    (2L, Seq(5.0, 5.0, 0.0, 0.0)),
    (3L, Seq(5.2, 5.0, 0.0, 0.2)))
  private def df = vecs.toDF("id", "v")

  test("pqTrain: hand-computed Lloyd round, empty codes keep seeds") {
    val cb = Quantization.pqTrain(df, "id", "v", m = 2, k = 2, iters = 1)
    assert(cb.length == 2 && cb(0).length == 2 && cb(0)(0).length == 2)
    // seeds (ids 0,1) sub0: [0,0] and [0.2,0]. Assignment: v0→code0,
    // v1,v2,v3→code1 (v2 [5,5]: d=50 vs 48.04; v3 [5.2,5]: 52.04 vs 50)
    assert(cb(0)(0).toSeq == Seq(0.0, 0.0))
    assert(cb(0)(1).toSeq == Seq(
      BigDecimal((0.2 + 5.0 + 5.2) / 3).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(10.0 / 3).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // sub1 seeds: [10,10], [10,10.2]; v0→code0, v1→code1, v2/v3:
    // d0 = 200 vs d1 = 100+104.04 → v2→code0? no: [0,0] to [10,10] is
    // 200, to [10,10.2] is 204.04 → code0; v3 [0,0.2]: 196.04 vs 200 → code0
    assert(cb(1)(0).toSeq == Seq(10.0 / 3, (10.0 + 0.0 + 0.2) / 3).map(x =>
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(cb(1)(1).toSeq == Seq(10.0, 10.2))
  }

  test("pqEncode: codes are the argmin cells; null vector → null codes") {
    val cb = Quantization.pqTrain(df, "id", "v", m = 2, k = 2, iters = 1)
    val withNull = df.union(Seq((9L, null.asInstanceOf[Seq[Double]])).toDF("id", "v"))
    val codes = Quantization.pqEncode(withNull, "id", "v", cb)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    // v0 sub1 [10,10]: updated cb(1)(0) ≈ [3.33,3.4] is now far; the
    // untouched seed cb(1)(1) = [10,10.2] wins → code 1
    assert(codes(0L) == Seq(0, 1))
    assert(codes(2L) == Seq(1, 0))
    assert(codes(9L) == null)
  }

  test("int8: half-up codes, zero-vector safety, near-lossless cosine") {
    import graft.operators.Quantization.{int8Encode, int8Decode}
    val df2 = Seq(
      (1L, Seq(1.0, -0.5, 0.25, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val enc = int8Encode(col("v")).map { case (n, c) => c.as(n) }
    val r = df2.select(col("id") +: col("v") +: enc: _*)
      .select(col("id"), col("codes"), col("scale"),
        graft.functions.CosineSimilarity.cosineSim(
          col("v").cast("array<double>"),
          int8Decode(col("codes"), col("scale"))).as("cos"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // scale = 1/127; codes = floor(x*127 + 0.5)
    assert(r(1L).getSeq[Byte](1) == Seq[Byte](127, -63, 32, 0))
    assert(math.abs(r(1L).getDouble(2) - 1.0 / 127) < 1e-15)
    assert(r(1L).getDouble(3) > 0.9999)
    // all-zero vector: scale 0, all-zero codes, decode is exact zeros
    assert(r(2L).getSeq[Byte](1) == Seq[Byte](0, 0, 0, 0))
    assert(r(2L).getDouble(2) == 0.0)
  }

  test("adcTopK: distances are codebook lookups, ranks ascending, ties to low id") {
    val cb = Quantization.pqTrain(df, "id", "v", m = 2, k = 2, iters = 1)
    val codes = Quantization.pqEncode(df, "id", "v", cb)
    val queries = df.select(col("id").as("qid"), col("v"))
    val got = Quantization.adcTopK(queries, "qid", "v", codes, "id", "codes", cb, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // expected ADC dist for (q=0, c=2): c2's codes are (1,0);
    // dist = |q_sub0 - cb[0][1]|² + |q_sub1 - cb[1][0]|²
    def l2sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = l2sq(Seq(0.0, 0.0), cb(0)(1).toSeq) + l2sq(Seq(10.0, 10.0), cb(1)(0).toSeq)
    val d02 = got.collect { case (0L, 2L, _, d) => d }.head
    assert(math.abs(d02 - want) < 1e-12)
    // per query: 4 ranked rows, distances nondecreasing with rank
    for (q <- 0L to 3L) {
      val rows = got.filter(_._1 == q).sortBy(_._3)
      assert(rows.length == 4)
      assert(rows.map(_._4).sliding(2).forall(p => p.head <= p.last))
    }
    // q=0 and c∈{0,1} share codes (0,0) → identical dists; tie → lower id first
    val q0 = got.filter(_._1 == 0L).sortBy(_._3)
    assert(q0(0)._4 == q0(1)._4 && q0(0)._2 < q0(1)._2)
  }

  test("pqIndex → parquet → adcAgainstIndex is result-identical to adcTopK") {
    val rng = new scala.util.Random(5)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Array.fill(8)(rng.nextDouble()))).toDF("cid", "cv")
    val queries = (0 until 4).map(i =>
      (1000L + i, Array.fill(8)(rng.nextDouble()))).toDF("qid", "qv")
    val cbs = Quantization.pqTrain(corpus, "cid", "cv", m = 2, k = 4, iters = 1)
    val direct = Quantization.adcTopK(queries, "qid", "qv",
        Quantization.pqEncode(corpus, "cid", "cv", cbs), "cid", "codes", cbs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val (codes, cbDf) = Quantization.pqIndex(corpus, "cid", "cv", m = 2, k = 4)
    val tmp = graft.gates.Fixtures.scratchDir("pq_idx_spec") // unique + JVM-exit cleanup
    codes.write.mode("overwrite").parquet(s"$tmp/codes")
    cbDf.write.mode("overwrite").parquet(s"$tmp/cb")
    val viaIndex = Quantization.adcAgainstIndex(queries, "qid", "qv",
        spark.read.parquet(s"$tmp/codes"), "cid", "codes",
        spark.read.parquet(s"$tmp/cb"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == direct)
    // codebook table is the bounded model: exactly m·k rows
    assert(spark.read.parquet(s"$tmp/cb").count() == 8)
    // a codebook table with a missing entry fails loudly
    val gap = spark.read.parquet(s"$tmp/cb")
      .where(!(col("sub") === 1 && col("code") === 2))
    assert(intercept[IllegalArgumentException] {
      Quantization.adcAgainstIndex(queries, "qid", "qv",
        spark.read.parquet(s"$tmp/codes"), "cid", "codes", gap, k = 5)
    }.getMessage.contains("expected"))
  }

  test("ivfPqSearch with nProbe = nCells is result-identical to whole-corpus adcTopK") {
    import graft.operators.Similarity
    // 40 corpus vectors in two obvious half-space clusters + 3 queries
    val corpus = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Seq(0.0, 1.0, 9.0, 8.0) else Seq(7.0, 6.0, 1.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + (i % 5) * 0.1 + d * 0.01 })
    }.toDF("cid", "cv")
    val queries = Seq(
      (100L, Seq(0.1, 1.1, 9.1, 8.1)),
      (101L, Seq(7.1, 6.1, 1.1, 0.1)),
      (102L, Seq(3.0, 3.0, 5.0, 4.0))).toDF("qid", "qv")
    val (asg, cents, cbDf) = Similarity.ivfPqIndex(corpus, "cid", "cv",
      nCells = 4, m = 2, k = 4)
    // probing EVERY cell makes the candidate set the whole corpus, so
    // the composed search must equal plain ADC over the same codes —
    // ranking, tie-break, and distances included
    val composed = Similarity.ivfPqSearch(queries, "qid", "qv",
        asg, cents, cbDf, "cid", k = 7, nProbe = 4)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val cbs = Quantization.codebooksFromDf(cbDf, "spec")
    val plain = Quantization.adcTopK(queries, "qid", "qv",
        asg.select(col("cid"), col("codes")), "cid", "codes", cbs, k = 7)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(composed.toSeq === plain.toSeq)
    // with ONE probe the candidate set shrinks but every returned
    // distance still appears in the full ADC result (same codes)
    val one = Similarity.ivfPqSearch(queries, "qid", "qv",
      asg, cents, cbDf, "cid", k = 7, nProbe = 1)
    assert(one.count() > 0)
    // index round-trip through parquet is identical
    val tmp = graft.gates.Fixtures.scratchDir("ivfpq")
    asg.write.parquet(s"$tmp/a"); cents.write.parquet(s"$tmp/c")
    cbDf.write.parquet(s"$tmp/b")
    val rt = Similarity.ivfPqSearch(queries, "qid", "qv",
        spark.read.parquet(s"$tmp/a"), spark.read.parquet(s"$tmp/c"),
        spark.read.parquet(s"$tmp/b"), "cid", k = 7, nProbe = 4)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(rt.toSeq === composed.toSeq)
  }

  test("residual IVF-PQ: zero-quantizer theorem, planted copy, round-trip, contracts") {
    import graft.operators.Similarity
    val corpus = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Seq(0.0, 1.0, 9.0, 8.0) else Seq(7.0, 6.0, 1.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + (i % 5) * 0.1 + d * 0.01 })
    }.toDF("cid", "cv")
    val queries = Seq(
      (100L, Seq(0.1, 1.1, 9.1, 8.1)),
      (101L, Seq(7.1, 6.1, 1.1, 0.1)),
      (102L, Seq(3.0, 3.0, 5.0, 4.0))).toDF("qid", "qv")

    // THEOREM: with a single all-zero centroid, residual == raw vector,
    // so by_residual search must equal plain whole-corpus ADC exactly
    // (same codebooks, codes, distances, ranks, tie-breaks)
    val zero = Array(Array(0.0, 0.0, 0.0, 0.0))
    val (asg0, cents0, cb0) = Similarity.ivfPqIndexResidual(
      corpus, "cid", "cv", zero, m = 2, k = 4)
    val res0 = Similarity.ivfPqSearchResidual(queries, "qid", "qv",
        asg0, cents0, cb0, "cid", k = 7, nProbe = 1)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val cbs0 = Quantization.codebooksFromDf(cb0, "spec")
    val plain = Quantization.adcTopK(queries, "qid", "qv",
        asg0.select(col("cid"), col("codes")), "cid", "codes", cbs0, k = 7)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(res0.toSeq === plain.toSeq)

    // explicit two-cell quantizer: a planted exact copy of each query
    // lands in the query's own argmin cell and ranks FIRST at nProbe=1
    // (its codes are the per-subspace argmin of the query's own LUT)
    val cents2 = Array(Array(0.0, 1.0, 9.0, 8.0), Array(7.0, 6.0, 1.0, 0.0))
    val planted = queries.select((col("qid") + 1000).as("cid"), col("qv").as("cv"))
    val c2 = corpus.unionByName(planted)
    val (asg2, cdf2, cb2) = Similarity.ivfPqIndexResidual(
      c2, "cid", "cv", cents2, m = 2, k = 4)
    val hit = Similarity.ivfPqSearchResidual(queries, "qid", "qv",
        asg2, cdf2, cb2, "cid", k = 3, nProbe = 1)
      .where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    for (q <- Seq(100L, 101L, 102L)) {
      val (best, d) = hit(q)
      // the copy attains the global LUT minimum; ties break to low id,
      // and no other corpus id collides with qid+1000's distance tier
      // below it
      assert(d <= hit.values.map(_._2).max)
      val all = Similarity.ivfPqSearchResidual(queries, "qid", "qv",
        asg2, cdf2, cb2, "cid", k = 50, nProbe = 1)
        .where(col("qid") === q).collect()
      val copyDist = all.find(_.getLong(1) == q + 1000).map(_.getDouble(3)).get
      assert(all.forall(_.getDouble(3) >= copyDist),
        s"copy of $q is not the ADC minimum")
      assert(best == q + 1000 || copyDist == all.map(_.getDouble(3)).min)
    }

    // parquet round-trip identical
    val tmp = graft.gates.Fixtures.scratchDir("ivfpqr")
    asg2.write.parquet(s"$tmp/a"); cdf2.write.parquet(s"$tmp/c")
    cb2.write.parquet(s"$tmp/b")
    val direct = Similarity.ivfPqSearchResidual(queries, "qid", "qv",
        asg2, cdf2, cb2, "cid", k = 5, nProbe = 2)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val rt2 = Similarity.ivfPqSearchResidual(queries, "qid", "qv",
        spark.read.parquet(s"$tmp/a"), spark.read.parquet(s"$tmp/c"),
        spark.read.parquet(s"$tmp/b"), "cid", k = 5, nProbe = 2)
      .select("qid", "cid", "rank", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(rt2.toSeq === direct.toSeq)

    // loud contracts
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexResidual(corpus, "cid", "cv",
        Array.empty[Array[Double]])
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchResidual(queries, "qid", "qv",
        asg2, cdf2, cb2, "cid", k = 0)
    }
  }
}
