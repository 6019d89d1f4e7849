package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.gates.Fixtures
import graft.sources.{CsvOptions, CsvReader}

class CsvReaderSpec extends SparkSpec {

  /** Every file the suite writes lives under this one directory, which
    * is deleted at JVM exit. */
  private val root = Paths.get(Fixtures.scratchDir("csv_test"))

  private def writeCsv(lines: String*): String = {
    val dir = Files.createTempDirectory(root, "csv")
    val f = dir.resolve("data.csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("header + inference") {
    val p = writeCsv("a,b,c", "1,2.5,x", "2,3.5,y")
    val df = CsvReader.readCsv(spark, p)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.schema("a").dataType == IntegerType)
    assert(df.schema("b").dataType == DoubleType)
    assert(df.count() == 2)
  }

  test("headerless with names (the reference's own smoke shape, test_df.py:14-15)") {
    val p = writeCsv("1,2,3,4,5,6", "7,8,9,10,11,12")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(header = false, names = Seq("A", "B", "C", "D", "E", "F")))
    assert(df.columns.toSeq == Seq("A", "B", "C", "D", "E", "F"))
    assert(df.count() == 2)
  }

  test("mangle_dupe_cols follows the pandas maybe_dedup_names truth table") {
    assert(CsvReader.mangleDupeCols(Seq("a", "b", "c")) == Seq("a", "b", "c"))
    assert(CsvReader.mangleDupeCols(Seq("a", "a", "a")) == Seq("a", "a.1", "a.2"))
    // a mangled name colliding with a later literal keeps incrementing
    assert(CsvReader.mangleDupeCols(Seq("a", "a", "a.1")) == Seq("a", "a.1", "a.1.1"))
    assert(CsvReader.mangleDupeCols(Seq("a.1", "a", "a")) == Seq("a.1", "a", "a.2"))
  }

  test("duplicate names are mangled on read, not silently mis-bound") {
    val p = writeCsv("1,2,3", "4,5,6")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(header = false, names = Seq("x", "x", "y")))
    assert(df.columns.toSeq == Seq("x", "x.1", "y"))
    assert(df.select("`x.1`").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 5))
  }

  test("short names bind to the RIGHTMOST columns (pandas index analog)") {
    // pandas would make the leading column the index; here it keeps its
    // inferred name — the documented divergence.
    val p = writeCsv("1,2,3", "4,5,6")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(header = false, names = Seq("x", "y")))
    assert(df.columns.toSeq == Seq("_c0", "x", "y"))
    assert(df.select("x").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 5))
  }

  test("more names than columns errors like pandas, not a silent bind") {
    val p = writeCsv("1,2", "3,4")
    val e = intercept[IllegalArgumentException] {
      CsvReader.readCsv(spark, p,
        CsvOptions(header = false, names = Seq("a", "b", "c")))
    }
    assert(e.getMessage.contains("Too many columns"))
  }

  test("explicit names + dtype skips inference and applies schema") {
    val p = writeCsv("1,x", "2,y")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(header = false, names = Seq("n", "s"),
        dtype = Map("n" -> LongType, "s" -> StringType)))
    assert(df.schema("n").dataType == LongType)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("na_values: ALL sentinels become null, not just the first") {
    val p = writeCsv("s,t", "NA,keep", "null,x", "ok,null")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(naValues = Seq("NA", "null")))
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).getString(1) == "keep")
    assert(rows(1).isNullAt(0))
    assert(rows(2).getString(0) == "ok" && rows(2).isNullAt(1))
  }

  test("na_values + dtype recovers numeric type past sentinels") {
    val p = writeCsv("x", "1", "NA", "miss", "4")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(naValues = Seq("NA", "miss"), dtype = Map("x" -> DoubleType)))
    assert(df.schema("x").dataType == DoubleType)
    val got = df.collect()
    assert(got(0).getDouble(0) == 1.0)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
    assert(got(3).getDouble(0) == 4.0)
  }

  test("skiprows drops leading lines before the header, like pandas skiprows=N") {
    val p = writeCsv("junk preamble", "more;junk", "k;v", "1;10", "2;20")
    val df = CsvReader.readCsv(spark, p, CsvOptions(sep = ";", skiprows = 2))
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((1, 10), (2, 20)))
  }

  test("skiprows composes with headerless names") {
    val p = writeCsv("title line", "1,2", "3,4")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(header = false, names = Seq("a", "b"), skiprows = 1))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((1, 2), (3, 4)))
  }

  test("skipfooter drops trailing lines; composes with skiprows and header") {
    val p = writeCsv("preamble", "k;v", "1;10", "2;20", "footer junk", "-- end --")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(sep = ";", skiprows = 1, skipfooter = 2))
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((1, 10), (2, 20)))
    // footer alone, no skiprows
    val p2 = writeCsv("x", "1", "2", "trailer")
    val df2 = CsvReader.readCsv(spark, p2, CsvOptions(skipfooter = 1))
    assert(df2.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("dayfirst parses ambiguous slashed/dashed dates day-first; ISO still works") {
    val p = writeCsv("d", "03/02/2021", "3/2/2021 4:05:06", "25-12-2020", "2021-07-01")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(parseDates = Seq("d"), dayfirst = true, inferSchema = false))
    val got = df.collect().map(r =>
      if (r.isNullAt(0)) null else r.getTimestamp(0).toString)
    assert(got(0) == "2021-02-03 00:00:00.0", got(0)) // Feb 3, NOT Mar 2
    assert(got(1) == "2021-02-03 04:05:06.0", got(1))
    assert(got(2) == "2020-12-25 00:00:00.0", got(2))
    assert(got(3) == "2021-07-01 00:00:00.0", got(3)) // ISO fallback
  }

  test("dayfirst parses 2-digit years (the header doc's own example shape)") {
    // strict 'd/M/yyyy' needs 4 year digits, so '03/02/21' must fall
    // through to the 'd/M/yy' pattern → Feb 3 2021, as pandas' dayfirst
    // gives — not null
    val p = writeCsv("d", "03/02/21", "25-12-20", "3/2/99")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(parseDates = Seq("d"), dayfirst = true, inferSchema = false))
    val got = df.collect().map(r =>
      if (r.isNullAt(0)) null else r.getTimestamp(0).toString)
    assert(got(0) == "2021-02-03 00:00:00.0", got(0))
    assert(got(1) == "2020-12-25 00:00:00.0", got(1))
    // 'yy' pivots in 2000-2099 (documented divergence from pandas' 69
    // pivot: 99 → 2099 here, 1999 there)
    assert(got(2) == "2099-02-03 00:00:00.0", got(2))
  }

  test("decimal + thousands parse European-formatted numerics via dtype") {
    // pandas: read_csv(..., sep=';', decimal=',', thousands='.') turns
    // "1.234,56" into 1234.56 and "9.876" (int col) into 9876
    val p = writeCsv("n;x", "9.876;1.234,56", "1;0,5")
    val df = CsvReader.readCsv(spark, p, CsvOptions(
      sep = ";", decimal = ",", thousands = Some("."),
      dtype = Map("n" -> LongType, "x" -> DoubleType)))
    assert(df.schema("n").dataType == LongType)
    assert(df.schema("x").dataType == DoubleType)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ==
      Seq((1L, 0.5), (9876L, 1234.56)))
  }

  test("decimal without dtype leaves raw strings (no silent misparse)") {
    // inference would read "1.234" (thousands='.') as the double 1.234;
    // with separators set and no dtype, columns stay strings instead
    val p = writeCsv("a;b", "1.234;2,5")
    val df = CsvReader.readCsv(spark, p,
      CsvOptions(sep = ";", decimal = ",", thousands = Some(".")))
    assert(df.schema("a").dataType == StringType)
    assert(df.schema("b").dataType == StringType)
    assert(df.head() == org.apache.spark.sql.Row("1.234", "2,5"))
  }

  test("usecols prunes columns") {
    val p = writeCsv("a,b,c", "1,2,3")
    val df = CsvReader.readCsv(spark, p, CsvOptions(usecols = Seq("c", "a")))
    assert(df.columns.toSeq == Seq("c", "a"))
  }

  test("converters transform columns post-read; nrows caps the read") {
    import org.apache.spark.sql.functions._
    val p = writeCsv("a,b", "1,x", "2,y", "3,z")
    val df = CsvReader.readCsv(spark, p, CsvOptions(
      converters = Map("b" -> (c => upper(c)), "a" -> (c => c * 10)),
      nrows = Some(2)))
    val rows = df.orderBy("a").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.length == 2)
    assert(rows(0) == (10, "X") && rows(1) == (20, "Y"))
  }

  test("npartitions reduction uses coalesce (no shuffle), increase repartitions") {
    val p = writeCsv("a" +: (1 to 50).map(_.toString): _*)
    val down = CsvReader.readCsv(spark, p, CsvOptions(npartitions = Some(1)))
    assert(down.rdd.getNumPartitions == 1)
    val up = CsvReader.readCsv(spark, p, CsvOptions(npartitions = Some(5)))
    assert(up.rdd.getNumPartitions == 5)
  }

  test("index_col surfaces the column first; unknown name is loud") {
    val p = writeCsv("a,b,c", "1,2,3", "4,5,6")
    val df = CsvReader.readCsv(spark, p, CsvOptions(indexCol = Some("b")))
    assert(df.columns.toSeq == Seq("b", "a", "c"))
    assert(df.count() == 2)
    intercept[IllegalArgumentException] {
      CsvReader.readCsv(spark, p, CsvOptions(indexCol = Some("zz"))).collect()
    }
  }

  test("true_values/false_values map sentinels on dtype-declared boolean columns") {
    val p = writeCsv("id,flag", "1,yes", "2,no", "3,maybe")
    val df = CsvReader.readCsv(spark, p, CsvOptions(
      dtype = Map("flag" -> BooleanType),
      trueValues = Seq("yes"), falseValues = Seq("no")))
    val got = df.collect().map(r => (r.getInt(0),
      if (r.isNullAt(1)) null else r.getBoolean(1))).sortBy(_._1).toSeq
    assert(got == Seq((1, true), (2, false), (3, null)))
    intercept[IllegalArgumentException] {
      CsvReader.readCsv(spark, p, CsvOptions(
        trueValues = Seq("x"), falseValues = Seq("x")))
    }
  }

  test("skipinitialspace trims the space after the delimiter") {
    val p = writeCsv("a,b", "1, x", "2, y")
    val plain = CsvReader.readCsv(spark, p)
    assert(plain.collect().map(_.getString(1)).sorted.toSeq == Seq(" x", " y"))
    val trimmed = CsvReader.readCsv(spark, p, CsvOptions(skipinitialspace = true))
    assert(trimmed.collect().map(_.getString(1)).sorted.toSeq == Seq("x", "y"))
  }

  test("skip_blank_lines=false keeps blank lines as all-null rows; true drops them") {
    // (a trailing blank segment after the final \n is not a text line,
    // so the second blank sits mid-file)
    val p = writeCsv("a,b", "1,x", "", "2,y", "", "3,z")
    val dropped = CsvReader.readCsv(spark, p)
    assert(dropped.count() == 3)
    val kept = CsvReader.readCsv(spark, p, CsvOptions(skipBlankLines = false))
    assert(kept.count() == 5)
    assert(kept.where("a IS NULL AND b IS NULL").count() == 2)
    // composes with skiprows: the blank-line rewrite sees post-skip lines
    val p2 = writeCsv("junk", "a,b", "1,x", "", "2,y")
    val both = CsvReader.readCsv(spark, p2,
      CsvOptions(skiprows = 1, skipBlankLines = false))
    assert(both.count() == 3)
    assert(both.where("a IS NULL").count() == 1)
    // blank lines BEFORE the header are always skipped (pandas drops
    // blanks preceding the header even with skip_blank_lines=False) —
    // the header must be "a,b", not a rewritten bare-separator line
    val p3 = writeCsv("", "", "a,b", "1,x", "", "2,y")
    val pre = CsvReader.readCsv(spark, p3, CsvOptions(skipBlankLines = false))
    assert(pre.columns.toSeq == Seq("a", "b"))
    assert(pre.count() == 3)
    assert(pre.where("a IS NULL AND b IS NULL").count() == 1)
    // an all-blank file fails loudly, not with a bare first() error
    val p4 = writeCsv("", "", "")
    val ex = intercept[IllegalArgumentException] {
      CsvReader.readCsv(spark, p4, CsvOptions(skipBlankLines = false))
    }
    assert(ex.getMessage.contains("no non-blank lines"))
  }

  test("lineterminator splits records on the given character") {
    val dir = Files.createTempDirectory(root, "ls")
    val f = dir.resolve("data.csv")
    Files.writeString(f, "a,b;1,x;2,y")
    val df = CsvReader.readCsv(spark, f.toString,
      CsvOptions(lineterminator = Some(";")))
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
  }

  test("quoting='none' leaves quote chars as data; doublequote handles RFC-4180") {
    val p = writeCsv("a,b", "1,\"x,ish\"", "2,plain")
    val minimal = CsvReader.readCsv(spark, p)
    assert(minimal.collect().map(_.getString(1)).sorted.toSeq ==
      Seq("plain", "x,ish"))
    val none = CsvReader.readCsv(spark, p, CsvOptions(quoting = "none"))
    // quote chars are plain data: the quoted comma SPLITS the field
    assert(none.collect().map(_.getString(1)).sorted.toSeq ==
      Seq("\"x", "plain"))
    intercept[IllegalArgumentException] {
      CsvReader.readCsv(spark, p, CsvOptions(quoting = "all"))
    }
    // pandas-written CSV: "" inside a quoted field is an escaped quote
    // — and, as in pandas, that is the DEFAULT (doublequote=true)
    val p2 = writeCsv("a,b", "1,\"he said \"\"hi\"\"\"")
    val dq = CsvReader.readCsv(spark, p2)
    assert(dq.collect()(0).getString(1) == "he said \"hi\"")
    // Spark-writer files backslash-escape instead: opt out to read back
    val p3 = writeCsv("a,b", "1,\"he said \\\"hi\\\"\"")
    val bs = CsvReader.readCsv(spark, p3, CsvOptions(doublequote = false))
    assert(bs.collect()(0).getString(1) == "he said \"hi\"")
  }
}
