package graft
package gates

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.types.TimestampType

/** The fixture reader infers a file's parquet schema once per session and
  * file stamp: the first read of a file runs Spark's one-task footer job,
  * later reads run none, and a rewritten file is inferred again. */
class FixturesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh directory holding a copy of `table` as `name`.parquet, so no
    * earlier read in this JVM has seen it. */
  private def copyOf(table: String, name: String): String = {
    val d = Fixtures.scratchDir("fixtures_spec")
    Files.copy(Paths.get(s"$sf/$table.parquet"), Paths.get(s"$d/$name.parquet"))
    d
  }

  test("only the first read of a fixture file runs a job, frame and schema included") {
    val d = copyOf("region", "region")
    val (_, first) = jobsDuring(Fixtures.tbl(spark, d, "region").schema)
    assert(first.size === 1, s"the first read infers the schema: $first")
    val (n, second) = jobsDuring {
      val df = Fixtures.tbl(spark, d, "region")
      df.schema
      df
    }
    assert(second.isEmpty, s"a second read of the same file ran ${second.size} job(s)")
    assert(n.count() === 5L)
  }

  test("another session infers the schema again") {
    val d = copyOf("nation", "nation")
    Fixtures.tbl(spark, d, "nation").schema
    val other = spark.newSession()
    val (_, jobs) = jobsDuring(Fixtures.tbl(other, d, "nation").schema)
    assert(jobs.size === 1)
  }

  test("a file rewritten at the same path is read back with its new schema") {
    val d = copyOf("region", "t")
    val before = Fixtures.tbl(spark, d, "t")
    assert(before.columns.toSeq === spark.read.parquet(s"$sf/region.parquet").columns.toSeq)
    Files.copy(Paths.get(s"$sf/nation.parquet"), Paths.get(s"$d/t.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val after = Fixtures.tbl(spark, d, "t")
    assert(after.schema === spark.read.parquet(s"$sf/nation.parquet").schema)
    assert(after.count() === 25L)
    assert(after.where("n_nationkey = 24").count() === 1L)
  }

  test("every sf0.01 table reads with the schema Spark infers, nullability included") {
    tables.foreach { t =>
      val inferred = spark.read.parquet(s"$sf/$t.parquet").schema
      assert(Fixtures.tbl(spark, sf, t).schema === inferred, t)
      assert(Fixtures.tbl(spark, sf, t).schema === inferred, s"$t, second read")
    }
    assert(Fixtures.li(spark, sf).schema === spark.read.parquet(s"$sf/lineitem.parquet").schema)
    assert(Fixtures.events(spark, sf).schema("ts").dataType === TimestampType)
    assert(Fixtures.events(spark, sf).schema("ts").dataType === TimestampType)
  }
}
