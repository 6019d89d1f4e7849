package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain groupBy on a hot-key distribution") {
    // 10k rows, 95% on one key — the shape salting exists for
    val df = (1 to 10000).map { i =>
      val k = if (i % 20 == 0) s"cold_${i % 7}" else "hot"
      (k, i.toDouble)
    }.toDF("k", "v").repartition(16)
    val expected = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sum"))
      .orderBy("k").collect()
    val got = Skew.saltedCountSum(df, "k", "v", salts = 8)
      .orderBy("k").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("result is invariant to the salt count") {
    val df = (1 to 500).map(i => ("x", i.toLong)).toDF("k", "v")
    val results = Seq(1, 4, 64).map(s =>
      Skew.saltedCountSum(df, "k", "v", salts = s).collect()(0))
    assert(results.distinct.size == 1)
  }

  test("saltedJoin equals the plain join for inner and left_outer") {
    // hot fact key + keys that miss the build side (left-outer coverage)
    val fact = (1 to 5000).map { i =>
      val k = if (i % 10 == 0) i % 5 else 1 // key 1 is hot; 0,2,3,4 cold
      (k.toLong, i.toLong)
    }.toDF("k", "v").repartition(8)
    val build = Seq((1L, "hot"), (2L, "two"), (9L, "unmatched"))
      .toDF("k", "name")
    for (jt <- Seq("inner", "left_outer")) {
      val plain = fact.join(build, Seq("k"), jt)
        .orderBy("k", "v").collect().toSeq
      val salted = Skew.saltedJoin(fact, build, Seq("k"), jt, salts = 8)
        .select("k", "v", "name")
        .orderBy("k", "v").collect().toSeq
      assert(salted == plain, jt)
    }
  }

  test("saltedJoin salt is content-derived: replay-stable across partitionings") {
    val fact = (1 to 2000).map(i => (1L, i.toLong)).toDF("k", "v")
    val build = Seq((1L, "hot")).toDF("k", "name")
    def run(parts: Int) = Skew.saltedJoin(
        fact.repartition(parts), build, Seq("k"), "inner", salts = 8)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    // same rows regardless of partitioning/scheduling — the salt is a
    // function of row content, never of execution order
    assert(run(3) == run(11) && run(3).length == 2000)
    // explicit saltCols gives the same join result
    val sub = Skew.saltedJoin(fact, build, Seq("k"), "inner", salts = 8,
        saltCols = Seq("v"))
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(sub == run(3))
    val e = intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact.withColumn("__salt", lit(1)), build, Seq("k"))
    }
    assert(e.getMessage.contains("__salt"))
  }

  test("map-typed columns are excluded from the content salt, not a crash") {
    val fact = spark.range(0, 500)
      .select((col("id") % 3).as("k"), col("id").as("v"),
        map(lit("x"), col("id")).as("m"))
    val agg = Skew.saltedCountSum(fact, "k", "v", salts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg.values.sum == 500L)
    val build = Seq((0L, "z")).toDF("k", "name")
    assert(Skew.saltedJoin(fact, build, Seq("k")).count() ==
      fact.where(col("k") === 0).count())
  }

  test("saltedJoin rejects outer-build join types that would duplicate rows") {
    val df = Seq((1L, "a")).toDF("k", "x")
    val e = intercept[IllegalArgumentException] {
      Skew.saltedJoin(df, df, Seq("k"), joinType = "right_outer")
    }
    assert(e.getMessage.contains("saltedJoin supports"))
  }

  /** Per-shuffle-stage (total, max-partition) bytes of an EXECUTED
    * adaptive plan — DedupSpec's mapStats probe, paired form. */
  private def shuffleStageBytes(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def walk(p: SparkPlan): Unit = p.foreach {
      case s: ShuffleQueryStageExec =>
        s.mapStats.foreach(ms =>
          out += ((ms.bytesByPartitionId.sum, ms.bytesByPartitionId.max)))
        walk(s.plan)
      case q: QueryStageExec => walk(q.plan)
      case _ => ()
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => walk(other)
    }
    out.toSeq
  }

  test("zipf(1) hot key: salting bounds the max shuffle partition the raw join can't") {
    // statistically skewed keys (the skew_zipf_stress gate's integer
    // inverse-CDF mapping): key 1 carries ~36.8% of 60k padded rows.
    // The raw shuffle join MUST funnel that through one reduce
    // partition; the salted join must spread it to ~1/salts.
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val pKey = "spark.sql.shuffle.partitions"
    val (prevB, prevP) = (spark.conf.get(bKey), spark.conf.get(pKey))
    try {
      spark.conf.set(bKey, "-1") // force a real fact-side shuffle
      // 32 reduce partitions (the suite default is 4, where uniform
      // already means 25% per partition and the bound would be vacuous)
      spark.conf.set(pKey, "32")
      val fact = spark.range(60000).select(
          graft.gates.Fixtures.zipfKey(col("id") * 48271 % 65536).as("k"),
          col("id").as("v"),
          lpad(lit("x"), 200, "x").as("pad"))
        .repartition(16).cache()
      fact.count()
      val build = spark.range(1, 9).select(col("id").as("k"),
        concat(lit("label"), col("id")).as("name"))
      def maxFrac(df: org.apache.spark.sql.DataFrame): Double = {
        df.collect()
        // the fact exchange is the byte-dominant shuffle stage
        val (total, mx) = shuffleStageBytes(df).maxBy(_._1)
        mx.toDouble / total
      }
      val rawFrac = maxFrac(
        fact.join(build, Seq("k")).select("k", "v", "name", "pad"))
      val saltedFrac = maxFrac(
        Skew.saltedJoin(fact, build, Seq("k"), salts = 16, saltCols = Seq("v"))
          .select("k", "v", "name", "pad"))
      // raw: one partition holds at least the hot key's whole share
      assert(rawFrac > 0.30, f"raw max-partition fraction $rawFrac%.3f")
      // salted: no partition above 15% of the exchange (expected ~3%
      // per (key,salt) cell; 15% allows several cells hashing together)
      assert(saltedFrac < 0.15, f"salted max-partition fraction $saltedFrac%.3f")
      assert(saltedFrac < rawFrac / 2.5,
        f"salting must materially flatten the exchange: $saltedFrac%.3f vs $rawFrac%.3f")
      fact.unpersist()
    } finally { spark.conf.set(bKey, prevB); spark.conf.set(pKey, prevP) }
  }
}
