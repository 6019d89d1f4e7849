package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{JsonlOptions, JsonlReader}

class JsonlReaderSpec extends SparkSpec {
  import spark.implicits._

  private val dir = graft.gates.Fixtures.scratchDir("jsonl_spec")

  private val rows = Seq(
    (1L, "alpha", 1.5), (2L, "beta", -2.0), (3L, "gamma", 0.25))

  test("roundtrip: write jsonl, read back with explicit schema — values and types survive") {
    val df = rows.toDF("id", "name", "score")
    JsonlReader.writeJsonl(df, s"$dir/plain")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = JsonlReader.readJsonl(spark, s"$dir/plain",
      JsonlOptions(schema = Some(schema)))
    assert(back.schema == schema)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == rows.toSet)
  }

  test("schema inference + usecols pruning + nrows cap") {
    JsonlReader.writeJsonl(rows.toDF("id", "name", "score"), s"$dir/infer")
    val back = JsonlReader.readJsonl(spark, s"$dir/infer",
      JsonlOptions(usecols = Seq("name", "id"), nrows = Some(2)))
    assert(back.columns.toSeq == Seq("name", "id"))
    assert(back.count() == 2)
  }

  test("PERMISSIVE mode survives a corrupt line; schema'd fields come back null") {
    val path = s"$dir/corrupt"
    Seq("""{"id": 1, "name": "ok"}""", """{not json at all""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val back = JsonlReader.readJsonl(spark, path, JsonlOptions(schema = Some(schema)))
    assert(back.count() == 2)
    assert(back.where(col("id").isNull).count() == 1)
  }

  test("compressed write reads back identically") {
    val df = rows.toDF("id", "name", "score")
    JsonlReader.writeJsonl(df, s"$dir/gz", compression = Some("gzip"))
    val back = JsonlReader.readJsonl(spark, s"$dir/gz")
    assert(back.count() == 3)
  }

  test("facade read_jsonl/to_jsonl delegate") {
    new graft.api.GraftFrame(rows.toDF("id", "name", "score")).to_jsonl(s"$dir/facade")
    val back = graft.api.GraftFrame.read_jsonl(spark, s"$dir/facade")
    assert(back.df.count() == 3)
  }
}
