package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** GraftSession sizes Spark's generated-class cache above the default 100
  * entries, so a warm pass over more distinct classes than that reuses
  * them instead of evicting its own entries and recompiling each one; and
  * it names whole-stage classes without their stage id, so one pipeline
  * is one cache entry wherever it falls in a plan. */
class CodegenCacheSpec extends SparkSpec {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over more than 100 distinct generated classes compiles nothing") {
    // each projection inlines its own long literal, so each query's
    // generated classes are distinct cache keys
    val n = 80
    def pass(): Unit = (0 until n).foreach { i =>
      val got = spark.range(0, 4, 1, 1).select((col("id") + lit(1000L + i)).as("x"))
        .collect().map(_.getLong(0)).toSeq
      assert(got == (0L until 4L).map(_ + 1000L + i))
    }
    val before = compiles
    pass()
    val first = compiles - before
    assert(first > 100, s"the set must outgrow Spark's default 100 entries; got $first")
    val mid = compiles
    pass()
    assert(compiles - mid == 0L,
      s"second pass recompiled ${compiles - mid} of $first classes")
  }

  test("one pipeline is one class whatever its whole-stage codegen id") {
    def arm(k: Long) = spark.range(0, 4, 1, 1).select((col("id") + lit(k)).as("x"))
    // the union plans `id + 2099` as the second codegen stage; alone it
    // is the first, so only the stage id in the class name tells them apart
    assert(arm(2098L).union(arm(2099L)).collect().length == 8)
    val before = compiles
    assert(arm(2099L).collect().map(_.getLong(0)).toSeq == (2099L to 2102L))
    assert(compiles - before == 0L, "the same pipeline compiled again under a new id")
  }
}
