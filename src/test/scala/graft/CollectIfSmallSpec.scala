package graft

import org.apache.spark.sql.functions.{concat, lit}

import graft.operators.OpUtil

/** [[graft.operators.OpUtil.collectIfSmall]] — the one bounded probe
  * behind the driver-local dispatches: a row bound, a byte budget
  * counted on the rows already collected, and no job at all for a
  * bound of 0. */
class CollectIfSmallSpec extends SparkSpec {
  import spark.implicits._

  test("under the row bound: the rows come back from one job") {
    // a range, not a local relation: collecting one of those runs no job
    val df = spark.range(10).select($"id", concat(lit("w"), $"id").as("w"))
    val (got, jobs) = jobsDuring(OpUtil.collectIfSmall(df, 10))
    assert(got.map(_.map(r => (r.getLong(0), r.getString(1))).toSeq.sorted) ===
      Some((0L until 10L).map(i => (i, s"w$i"))))
    assert(jobs.size === 1)
  }

  test("over the row bound: None") {
    val df = (0L until 11L).toDF("id")
    assert(OpUtil.collectIfSmall(df, 10).isEmpty)
    assert(OpUtil.collectIfSmall(df.as[Long], 10).isEmpty)
  }

  test("under the row bound but over the byte budget: None") {
    val mib = "x" * (1 << 20)
    val df = (0 until 4).map(i => (i, mib)).toDF("i", "s")
    // four 1 MiB strings are 8 MiB of UTF-16 payload
    assert(OpUtil.collectIfSmall(df, 10, maxBytes = 4L << 20).isEmpty)
    assert(OpUtil.collectIfSmall(df, 10, maxBytes = 16L << 20).map(_.length) === Some(4))
    // typed rows are counted the same way
    assert(OpUtil.collectIfSmall(df.as[(Int, String)], 10, maxBytes = 4L << 20).isEmpty)
  }

  test("bound 0: None, and no job runs") {
    val df = spark.range(3).toDF("id")
    val (got, jobs) = jobsDuring(OpUtil.collectIfSmall(df, 0))
    assert(got.isEmpty)
    assert(jobs.isEmpty)
  }
}
