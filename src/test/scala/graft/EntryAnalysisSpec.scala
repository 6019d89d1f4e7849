package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.gates.Fixtures

/** Round-9 blind-spot closer: every driver gate must at least ANALYZE
  * against the live fixtures.
  *
  * Round 8's failure mode: the driver regenerated `events.parquet` with a
  * different `ts` physical type and 11 gates died at analysis time while
  * `sbt test` stayed green, because no spec ever touched the events
  * fixture. This spec forces `queryExecution.optimizedPlan` (analysis +
  * optimization, no execution) for every `SparkEntry.queries` entry over
  * sf0.001, so any fixture/schema drift turns into a red test at commit
  * time instead of a dead round.
  *
  * Note: a handful of gates run bounded driver-side model fits at frame
  * construction (k-means centroids, PQ codebooks, DSIR histograms); at
  * sf0.001 those are sub-second and acceptable here.
  */
class EntryAnalysisSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every gate analyzes + optimizes against the sf0.001 fixtures") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        try {
          build(spark, dir).queryExecution.optimizedPlan
          None
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            Some(s"$name: ${msg.linesIterator.take(3).mkString(" | ")}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} gate(s) fail analysis:\n${failures.mkString("\n")}")
  }

  test("fan: widens a narrow scan, passes a >=parallelism input through un-exchanged (r20)") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    // single-row-group fixture scan: 1 partition → must gain an Exchange
    val narrow = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    assert(narrow.rdd.getNumPartitions < p, "fixture must be narrower than cores")
    val fanned = graft.operators.OpUtil.fan(narrow)
    assert(fanned.rdd.getNumPartitions == p)
    assert(fanned.queryExecution.optimizedPlan.toString.contains("Repartition"),
      "narrow scan must gain the round-robin exchange")
    // pre-partitioned >= p input: returned WITHOUT a repartition — at
    // 100 TB the scan arrives in thousands of splits and fan() must
    // never full-shuffle it (r19 VERDICT item 2)
    val wide = (0L until 1000L).toDF("doc_id")
      .withColumn("text", lit("x")).repartition(p + 3)
    val kept = graft.operators.OpUtil.fan(wide)
    assert(kept.rdd.getNumPartitions == p + 3)
    assert(kept eq wide, "wide input must pass through untouched")
  }

  test("fan: a frame with an exchange passes through without running a job") {
    // built first: reading the parquet schema runs a job of its own
    val counted = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy((col("doc_id") % 3).as("k")).count()
    val (out, seen) = jobsDuring(graft.operators.OpUtil.fan(counted))
    assert(seen.isEmpty, s"fan ran ${seen.size} job(s) to probe the width")
    assert(out eq counted, "a frame with an exchange must pass through untouched")
  }

  test("every gate has oracle SQL (or is on the documented rows-only list)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"gates without an oracle: ${missing.mkString(", ")}")
  }

  test("deliberate fixture drift fails the suite: a re-typed ts column is rejected") {
    // simulate the round-8 failure mode in reverse: write an events
    // fixture whose ts carries a type the adapter does NOT understand
    // and prove the gate dies loudly at analysis — this is the red
    // test that round 8 lacked
    val dir = Fixtures.scratchDir("drift")
    spark.read.parquet(s"/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("events_window")(spark, dir).queryExecution.optimizedPlan
    }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
  }

  test("events adapter dispatches on the fixture's actual ts dtype") {
    import spark.implicits._
    // The live fixture (whatever generation) must come through as a
    // proper TimestampType instant with plausible epoch values.
    val ev = {
      // events() is private; go through a gate that returns raw ts secs
      val df = SparkEntry.queries("events_dedup")(spark, dir)
      df.collect() // executes: proves the adapter's branch is sound
      spark.read.parquet(s"$dir/events.parquet")
    }
    assert(ev.schema("ts").dataType != LongType ||
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")

    // And the two timestamp branches are value-identical: a synthetic
    // NTZ column cast under the UTC session equals the same micros fed
    // through timestamp_micros (the LongType-branch conversion).
    val micros = Seq(0L, 1700000000000000L, 1700003600123456L)
    val viaNtz = micros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType)
        .cast("timestamp").as("ts"))
      .select(unix_micros(col("ts")).as("us")).as[Long].collect().toSeq
    assert(viaNtz == micros)
  }
}
