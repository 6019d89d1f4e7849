package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (10L, Array(1.0f, 0.0f, 0.0f)),
    (11L, Array(0.9f, 0.1f, 0.0f)),
    (12L, Array(0.0f, 1.0f, 0.0f)),
    (13L, Array(0.0f, 0.0f, 1.0f)),
    (14L, Array(-1.0f, 0.0f, 0.0f))).toDF("cid", "cvec")

  private def queries = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qvec")

  test("bruteForceTopK ranks by cosine with deterministic tiebreak") {
    val got = Similarity
      .bruteForceTopK(queries, "qid", "qvec", corpus, "cid", "cvec", k = 3)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("cid")).toSeq == Seq(10L, 11L, 12L))
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-6)
    // orthogonal candidates tie at 0.0 → lower cid wins
    assert(got(2).getAs[Double]("sim") == 0.0)
  }

  test("bruteForceTopKAgg matches the window formulation and partial-aggregates") {
    val win = Similarity
      .bruteForceTopK(queries, "qid", "qvec", corpus, "cid", "cvec", k = 3)
      .select("qid", "cid", "rank").orderBy("rank").collect().toSeq
    val agg = Similarity
      .bruteForceTopKAgg(queries, "qid", "qvec", corpus, "cid", "cvec", k = 3)
      .select("qid", "cid", "rank").orderBy("rank").collect().toSeq
    assert(agg == win)
    // the scale contract: a partial (ObjectHashAggregate/SortAggregate)
    // phase exists before the exchange — top-k reduces map-side
    val plan = Similarity
      .bruteForceTopKAgg(queries, "qid", "qvec", corpus, "cid", "cvec", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Aggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("annTopK finds the exact match in its own bucket") {
    val got = Similarity
      .annTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
        k = 1, dim = 3, nPlanes = 4)
      .collect()
    assert(got.nonEmpty)
    assert(got(0).getAs[Long]("cid") == 10L) // identical vector shares every sign bit
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-6)
  }

  test("annTopK scores strictly fewer pairs than brute force") {
    // opposite vector (14) is guaranteed into a different bucket; so ANN
    // candidate count < brute-force count for the same inputs.
    val ann = Similarity.annTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 100, dim = 3, nPlanes = 4).count()
    val brute = Similarity.bruteForceTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 100).count()
    assert(ann < brute)
  }

  test("multi-probe ANN recall is at least single-bucket recall") {
    val brute = Similarity.bruteForceTopK(queries, "qid", "qvec", corpus, "cid", "cvec", k = 5)
      .collect().map(_.getAs[Long]("cid")).toSet
    val single = Similarity.annTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 5, dim = 3, nPlanes = 4).collect().map(_.getAs[Long]("cid")).toSet
    val multi = Similarity.annTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 5, dim = 3, nPlanes = 4, multiProbe = true).collect().map(_.getAs[Long]("cid")).toSet
    assert((single & brute).size <= (multi & brute).size)
    assert(multi.contains(10L)) // exact match always found
  }

  test("ivfTopK finds the exact match when its cell is probed") {
    val got = Similarity.ivfTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 1, nCells = 3, nProbe = 3).collect()
    assert(got.nonEmpty)
    assert(got(0).getAs[Long]("cid") == 10L)
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-6)
  }

  test("ivfTopK with full probing equals brute force (recall 1.0)") {
    val exact = Similarity.bruteForceTopK(queries, "qid", "qvec", corpus, "cid", "cvec", k = 3)
    val ann = Similarity.ivfTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 3, nCells = 2, nProbe = 2) // probe every cell → no misses possible
    val rec = Similarity.recallAtK(ann, exact, "qid", "cid").collect()
    assert(rec.length == 1)
    assert(rec(0).getAs[Double]("recall") == 1.0)
  }

  test("recallAtK reports fractional recall for partial overlap") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "cid", "rank")
    val ann = Seq((1L, 10L, 1), (1L, 99L, 2)).toDF("qid", "cid", "rank")
    val rec = Similarity.recallAtK(ann, exact, "qid", "cid").collect()
    assert(rec(0).getAs[Double]("recall") == 0.5)
  }

  test("cosineNearDupPairs finds scaled copies (cos == 1)") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(2.0f, 4.0f, 6.0f)), // same direction
      (3L, Array(-1.0f, 5.0f, 0.5f))).toDF("id", "vec")
    val got = Similarity.cosineNearDupPairs(df, "id", "vec", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("bucketedCosinePairs matches brute force on exact-direction dups") {
    // 40 pseudo-random base vectors + scaled copies of the first 10:
    // the copies (cos = 1) share every SRP sign bit, so the bucketed
    // path must reproduce the brute-force pair set exactly.
    val dim = 8
    def v(i: Int): Array[Float] =
      Array.tabulate(dim)(d => (((i * 37 + d * 11) % 19) - 9).toFloat)
    val base = (0 until 40).map(i => (i.toLong, v(i)))
    val dups = (0 until 10).map(i => (100L + i, v(i).map(_ * 3.0f)))
    val df = (base ++ dups).toDF("id", "vec")
    val brute = Similarity.cosineNearDupPairs(df, "id", "vec", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.bucketedCosinePairs(df, "id", "vec", 0.99, dim = dim)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == brute)
    assert(brute.size >= 10) // every planted dup found
    // and no pair is emitted twice (single-probe match guarantee)
    val n = Similarity.bucketedCosinePairs(df, "id", "vec", 0.99, dim = dim).count()
    assert(n == bucketed.size)
  }

  test("kmeansAssign separates well-clustered vectors and is deterministic") {
    // Two tight cosine clusters around e1 and e2; ids 0 and 1 land in
    // different clusters so the id-ordered seeds start one per cluster.
    def a(i: Int): (Long, Array[Float]) =
      (i.toLong, Array(1.0f, 0.01f * (i % 5), 0.0f))
    def b(i: Int): (Long, Array[Float]) =
      (i.toLong, Array(0.01f * (i % 5), 1.0f, 0.0f))
    val rows = (0 until 40).map(i => if (i % 2 == 0) a(i) else b(i))
    val df = rows.toDF("id", "vec")
    val got = Similarity.kmeansAssign(df, "id", "vec", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every even id clusters with id 0, every odd id with id 1
    assert((0 until 40).forall(i => got(i.toLong) == got(i.toLong % 2)))
    assert(got(0L) != got(1L))
    // deterministic across partition counts (rounded-centroid contract)
    val again = Similarity.kmeansAssign(df.repartition(7), "id", "vec", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == got)
  }

  test("kmeansAssign: null embeddings don't crash training and get a null cell") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, null: Array[Float]), (3L, Array(0.9f, 0.1f))).toDF("id", "vec")
    val got = Similarity.kmeansAssign(df, "id", "vec", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(2L).isEmpty)           // missing vector → no invented cell
    assert(got(0L) == got(3L))        // real vectors still cluster
    assert(got.size == 4)
  }

  test("kmeansAssign keeps empty cells on their seed centroid") {
    // k=3 but only two real clusters: the third seed's cell may empty
    // out; the operator must not crash and every row keeps a valid cell.
    val df = (0 until 12).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f, 0.0f)) else (i.toLong, Array(0.0f, 1.0f))
    }.toDF("id", "vec")
    val got = Similarity.kmeansAssign(df, "id", "vec", k = 3, iters = 2)
      .collect().map(r => r.getInt(1))
    assert(got.length == 12 && got.forall(c => c >= 0 && c < 3))
  }

  test("semDupPairs finds within-cluster near-dups and never crosses clusters") {
    // two tight clusters around e1 and e2; 0≈1≈2 and 10≈11 are near-dup
    // groups, 3 and 12 sit in the clusters but below tau.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.001f)), (2L, Array(0.999f, 0.0f)),
      (3L, Array(0.8f, 0.45f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.001f, 1.0f)), (12L, Array(0.45f, 0.8f)))
      .toDF("id", "vec")
    val pairs = Similarity.semDupPairs(df, "id", "vec", k = 2, tau = 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L)))
    // candidate generation is an equi-join on cell, never a cross join
    val plan = Similarity.semDupPairs(df, "id", "vec", k = 2, tau = 0.999)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("semDupPairs srpPlanes: hot-cell split is a subset of exact pairs, keeps co-bucketed dups") {
    // One deliberately hot cell: 30 vectors jittered around e1 (all
    // pairwise cos ≈ 1), plus a second small cluster at e2. With
    // srpPlanes > 0 the join key becomes (cell, bucket):
    //  - every reported pair must also be an exact within-cell pair
    //    (splitting can only REMOVE candidates — the recall caveat),
    //  - near-identical vectors land in the same SRP bucket, so the
    //    tight duplicate mass is still found,
    //  - and the candidate join stays an equi-join (no cross join).
    val hot = (0 until 30).map(i =>
      (i.toLong, Array(1.0f, (i * 1e-4f))))
    val rest = Seq((100L, Array(0.0f, 1.0f)), (101L, Array(0.001f, 1.0f)))
    val df = (hot ++ rest).toDF("id", "vec")
    def pairSet(planes: Int) =
      Similarity.semDupPairs(df, "id", "vec", k = 2, tau = 0.999, srpPlanes = planes)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(0)
    val split = pairSet(3)
    assert(split.subsetOf(exact), s"split produced non-exact pairs: ${split -- exact}")
    // the jittered hot mass is nearly parallel — one SRP hyperplane
    // rarely separates it; the bulk of the exact pairs must survive
    assert(split.size >= exact.size / 2, s"split=${split.size} exact=${exact.size}")
    assert(split.exists { case (a, b) => a < 30 && b < 30 })   // hot cell pairs
    assert(split.contains((100L, 101L)) || !exact.contains((100L, 101L)))
    val plan = Similarity.semDupPairs(df, "id", "vec", k = 2, tau = 0.999, srpPlanes = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("semDedup keeps the smallest id of each duplicate group; nulls survive") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.001f)), (2L, Array(0.999f, 0.0f)),
      (5L, null: Array[Float]),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.001f, 1.0f)))
      .toDF("id", "vec")
    val kept = Similarity.semDedup(df, "id", "vec", k = 2, tau = 0.999)
      .select("id").collect().map(_.getLong(0)).toSet
    // 1,2 duplicate 0; 11 duplicates 10; the null-embedding row has no
    // cluster, pairs with nothing, and survives.
    assert(kept == Set(0L, 5L, 10L))
  }

  test("semDedup is deterministic across partition counts") {
    val df = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.map(x => x * (1.0f + (i / 2) * 1e-5f)))
    }.toDF("id", "vec")
    val a = Similarity.semDedup(df, "id", "vec", k = 2, tau = 0.9999)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Similarity.semDedup(df.repartition(7), "id", "vec", k = 2, tau = 0.9999)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a == Set(0L, 1L)) // scaled copies are cos=1 dups of the two bases
  }

  test("ivfIndex → parquet → ivfAgainstIndex is result-identical to ivfTopK") {
    val rng = new scala.util.Random(11)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rng.nextDouble() - 0.5))).toDF("cid", "cv")
    val queries = (0 until 6).map(i =>
      (i.toLong, Array.fill(8)(rng.nextDouble() - 0.5))).toDF("qid", "qv")
    val direct = Similarity.ivfTopK(queries, "qid", "qv",
        corpus, "cid", "cv", k = 5, nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (asg, cents) = Similarity.ivfIndex(corpus, "cid", "cv", nCells = 8)
    val tmp = graft.gates.Fixtures.scratchDir("ivf_idx_spec") // unique + JVM-exit cleanup
    asg.write.mode("overwrite").parquet(s"$tmp/a")
    cents.write.mode("overwrite").parquet(s"$tmp/c")
    val viaIndex = Similarity.ivfAgainstIndex(queries, "qid", "qv",
        spark.read.parquet(s"$tmp/a"), spark.read.parquet(s"$tmp/c"),
        "cid", "cv", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct,
      s"index route diverged: ${viaIndex.diff(direct)} vs ${direct.diff(viaIndex)}")
    // centroid table is the bounded model: exactly nCells rows
    assert(spark.read.parquet(s"$tmp/c").count() == 8)
    // a corrupted centroid table (gap) fails loudly
    val gap = spark.read.parquet(s"$tmp/c").where(col("cell") =!= 3)
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfAgainstIndex(queries, "qid", "qv",
        spark.read.parquet(s"$tmp/a"), gap, "cid", "cv", k = 5, nProbe = 3)
    }.getMessage.contains("gap"))
  }
}
