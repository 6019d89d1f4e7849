package graft

import java.nio.file.Files

import graft.gates.Fixtures
import graft.sources.ParquetNested

/** The Dremel record assembler ([[ParquetNested]]) against Spark's OWN
  * parquet reader on both page versions: struct columns, list<struct>,
  * list<list>, maps, and sibling repeated fields inside one struct —
  * with null structs, null/empty lists, null elements and null fields
  * all planted. */
class ParquetNestedSpec extends SparkSpec {

  private def tmpDir(name: String): String = Fixtures.scratchDir(name)

  private def write(out: String, version: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.writer.version", version)
      .option("parquet.page.size", "2048")
      .parquet(out)

  for (version <- Seq("v1", "v2")) {

    test(s"STRUCT column assembles byte-exact vs Spark's reader ($version)") {
      val out = tmpDir(s"pqnest_struct_$version")
      write(out, version, spark.range(5000).selectExpr("id AS k",
        """CASE WHEN id % 13 = 0 THEN CAST(NULL AS STRUCT<a: BIGINT, s: STRING, d: DOUBLE>)
          |     ELSE named_struct(
          |       'a', IF(id % 7 = 0, CAST(NULL AS BIGINT), id * 3),
          |       's', IF(id % 5 = 0, CAST(NULL AS STRING), concat('v', id % 23)),
          |       'd', CAST(id AS DOUBLE) / 4)
          |END AS st""".stripMargin))
      val got = ParquetNested.scanStructColumn(spark, out, "st")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k").selectExpr("k", "st").collect()
      assert(got.length == 5000)
      want.zipWithIndex.foreach { case (row, i) =>
        val g = got(i)
        if (row.isNullAt(1)) assert(g.getBoolean(2) && g.isNullAt(3), s"null struct at $i")
        else {
          val st = row.getStruct(1)
          assert(!g.getBoolean(2), s"non-null struct at $i")
          val m = g.getMap[String, String](3)
          assert(m("a") == (if (st.isNullAt(0)) null else st.getLong(0).toString), s"a at $i")
          assert(m("s") == (if (st.isNullAt(1)) null else st.getString(1)), s"s at $i")
          assert(m("d") == st.getDouble(2).toString, s"d at $i")
        }
      }
    }

    test(s"LIST<STRUCT> column assembles byte-exact vs Spark's reader ($version)") {
      val out = tmpDir(s"pqnest_ls_$version")
      write(out, version, spark.range(4000).selectExpr("id AS k",
        """CASE WHEN id % 11 = 0 THEN CAST(NULL AS ARRAY<STRUCT<p: BIGINT, q: STRING>>)
          |     WHEN id % 7 = 0 THEN array()
          |     WHEN id % 5 = 0 THEN array(
          |       named_struct('p', id, 'q', 'one'),
          |       CAST(NULL AS STRUCT<p: BIGINT, q: STRING>))
          |     ELSE transform(sequence(1, CAST(id % 4 + 1 AS INT)), i ->
          |       named_struct('p', id * i,
          |                    'q', IF(i = 2, CAST(NULL AS STRING), concat('e', i))))
          |END AS xs""".stripMargin))
      val got = ParquetNested.scanListStructColumn(spark, out, "xs")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k").selectExpr("k", "xs").collect()
      assert(got.length == 4000)
      want.zipWithIndex.foreach { case (row, i) =>
        val g = got(i)
        if (row.isNullAt(1)) assert(g.getLong(2) == -1L && g.isNullAt(3), s"null list at $i")
        else {
          val xs = row.getSeq[org.apache.spark.sql.Row](1)
          assert(g.getLong(2) == xs.length.toLong, s"n_elems at $i")
          val elems = g.getSeq[Map[String, String]](3)
          xs.zip(elems).zipWithIndex.foreach { case ((e, m), j) =>
            if (e == null) assert(m == null, s"null elem at $i/$j")
            else {
              assert(m("p") == (if (e.isNullAt(0)) null else e.getLong(0).toString), s"p at $i/$j")
              assert(m("q") == (if (e.isNullAt(1)) null else e.getString(1)), s"q at $i/$j")
            }
          }
        }
      }
    }

    test(s"LIST<LIST<BIGINT>> column assembles byte-exact vs Spark's reader ($version)") {
      val out = tmpDir(s"pqnest_ll_$version")
      write(out, version, spark.range(4000).selectExpr("id AS k",
        """CASE WHEN id % 13 = 0 THEN CAST(NULL AS ARRAY<ARRAY<BIGINT>>)
          |     WHEN id % 11 = 0 THEN array()
          |     WHEN id % 7 = 0 THEN array(CAST(NULL AS ARRAY<BIGINT>), array(), array(id))
          |     ELSE transform(sequence(1, CAST(id % 3 + 1 AS INT)), i ->
          |       CASE WHEN i = 2 AND id % 5 = 0 THEN CAST(NULL AS ARRAY<BIGINT>)
          |            ELSE transform(sequence(1, i), j ->
          |              IF(j = 3, CAST(NULL AS BIGINT), id * 10 + j)) END)
          |END AS xs""".stripMargin))
      val got = ParquetNested.scanNestedListColumn(spark, out, "xs")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k").selectExpr("k", "xs").collect()
      assert(got.length == 4000)
      want.zipWithIndex.foreach { case (row, i) =>
        val g = got(i)
        if (row.isNullAt(1)) assert(g.getLong(2) == -1L && g.isNullAt(3), s"null outer at $i")
        else {
          val xs = row.getSeq[scala.collection.Seq[Any]](1)
          assert(g.getLong(2) == xs.length.toLong, s"n_outer at $i")
          val elems = g.getSeq[scala.collection.Seq[String]](3)
          xs.zip(elems).zipWithIndex.foreach { case ((inner, gi), j) =>
            if (inner == null) assert(gi == null, s"null inner at $i/$j")
            else {
              val w = inner.map(v => if (v == null) null else v.toString).toSeq
              assert(gi.toSeq == w, s"inner at $i/$j")
            }
          }
        }
      }
    }

    test(s"MAP<STRING,BIGINT> assembles as (key,value) structs ($version)") {
      val out = tmpDir(s"pqnest_map_$version")
      write(out, version, spark.range(3000).selectExpr("id AS k",
        """CASE WHEN id % 9 = 0 THEN CAST(NULL AS MAP<STRING, BIGINT>)
          |     WHEN id % 7 = 0 THEN map()
          |     ELSE map('a', id, 'b', IF(id % 5 = 0, CAST(NULL AS BIGINT), id * 2))
          |END AS m""".stripMargin))
      val got = ParquetNested.scanListStructColumn(spark, out, "m")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k").selectExpr("k", "m").collect()
      want.zipWithIndex.foreach { case (row, i) =>
        val g = got(i)
        if (row.isNullAt(1)) assert(g.getLong(2) == -1L, s"null map at $i")
        else {
          val m = row.getMap[String, Any](1)
          assert(g.getLong(2) == m.size.toLong, s"n at $i")
          val elems = g.getSeq[Map[String, String]](3)
          val gm = elems.map(e => e("key") -> e("value")).toMap
          m.foreach { case (mk, mv) =>
            assert(gm(mk) == (if (mv == null) null else mv.toString), s"$mk at $i")
          }
        }
      }
    }

    test(s"sibling repeated fields inside one struct assemble per leaf ($version)") {
      // struct{xs: list, b: scalar}: leaf entry streams are NOT
      // positionally aligned — the per-leaf span tracking is what makes
      // this correct
      val out = tmpDir(s"pqnest_sib_$version")
      write(out, version, spark.range(3000).selectExpr("id AS k",
        """named_struct(
          |  'xs', CASE WHEN id % 7 = 0 THEN CAST(NULL AS ARRAY<BIGINT>)
          |             WHEN id % 5 = 0 THEN array()
          |             ELSE sequence(CAST(1 AS BIGINT), id % 4 + 1) END,
          |  'b', IF(id % 3 = 0, CAST(NULL AS STRING), concat('s', id % 17))
          |) AS st""".stripMargin))
      val got = ParquetNested.scanStructColumn(spark, out, "st")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k").selectExpr("k", "st").collect()
      want.zipWithIndex.foreach { case (row, i) =>
        val st = row.getStruct(1)
        val m = got(i).getMap[String, String](3)
        val wantXs =
          if (st.isNullAt(0)) null
          else st.getSeq[Long](0).map(_.toString).mkString("[", ",", "]")
        assert(m("xs") == wantXs, s"xs at $i")
        assert(m("b") == (if (st.isNullAt(1)) null else st.getString(1)), s"b at $i")
      }
    }

    test(s"STRUCT<STRUCT> nests through the canonical rendering ($version)") {
      val out = tmpDir(s"pqnest_ss_$version")
      write(out, version, spark.range(2000).selectExpr("id AS k",
        """named_struct(
          |  'inner', CASE WHEN id % 6 = 0
          |             THEN CAST(NULL AS STRUCT<x: BIGINT, y: STRING>)
          |             ELSE named_struct('x', id, 'y',
          |               IF(id % 4 = 0, CAST(NULL AS STRING), concat('y', id % 9))) END,
          |  'z', id * 2
          |) AS st""".stripMargin))
      val got = ParquetNested.scanStructColumn(spark, out, "st")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k").selectExpr("k", "st").collect()
      want.zipWithIndex.foreach { case (row, i) =>
        val st = row.getStruct(1)
        val m = got(i).getMap[String, String](3)
        val wantInner =
          if (st.isNullAt(0)) null
          else {
            val in = st.getStruct(0)
            val y = if (in.isNullAt(1)) "null" else in.getString(1)
            s"{x=${in.getLong(0)},y=$y}"
          }
        assert(m("inner") == wantInner, s"inner at $i")
        assert(m("z") == st.getLong(1).toString, s"z at $i")
      }
    }
  }

  test("multi-row-group files keep row indexing consistent") {
    val out = tmpDir("pqnest_rg")
    spark.range(20000).selectExpr("id AS k",
      "named_struct('a', id, 's', concat('r', id % 31)) AS st")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "65536") // force several row groups
      .option("parquet.page.size", "2048")
      .parquet(out)
    val got = ParquetNested.scanStructColumn(spark, out, "st")
      .orderBy("row_idx").collect()
    assert(got.length == 20000)
    got.zipWithIndex.foreach { case (g, i) =>
      assert(g.getMap[String, String](3)("a") == i.toString, s"a at $i")
    }
  }

  test("mutation fuzz: corrupt data regions fail loudly, never hang or leak index errors") {
    import java.nio.file.{Files => JFiles, Paths}
    val out = tmpDir("pqnest_fuzz")
    spark.range(800).selectExpr("id AS k",
      """CASE WHEN id % 11 = 0 THEN CAST(NULL AS ARRAY<STRUCT<p: BIGINT, q: STRING>>)
        |     WHEN id % 7 = 0 THEN array()
        |     ELSE transform(sequence(1, CAST(id % 3 + 1 AS INT)), i ->
        |       named_struct('p', id * i, 'q', concat('e', i)))
        |END AS xs""".stripMargin)
      .coalesce(1).write.mode("overwrite")
      .option("parquet.page.size", "1024").parquet(out)
    val src = new java.io.File(out).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    val bytes = JFiles.readAllBytes(src.toPath)
    // footer start: 4-byte LE length + "PAR1" at the tail
    val fl = (bytes(bytes.length - 8) & 0xff) | ((bytes(bytes.length - 7) & 0xff) << 8) |
      ((bytes(bytes.length - 6) & 0xff) << 16) | ((bytes(bytes.length - 5) & 0xff) << 24)
    val footerStart = bytes.length - 8 - fl
    val mutDir = tmpDir("pqnest_fuzz_mut")
    val mutFile = Paths.get(mutDir, "part-0.parquet")
    val rnd = new scala.util.Random(0xd43c0)
    (0 until 600).foreach { trial =>
      val m = bytes.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        val i = 4 + rnd.nextInt(footerStart - 4)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      JFiles.write(mutFile, m)
      try {
        graft.sources.ParquetNested.scanListStructColumn(spark, mutDir, "xs")
          .count(); ()
      } catch {
        case e: org.apache.spark.SparkException =>
          var c: Throwable = e
          while (c.getCause != null && !c.isInstanceOf[IllegalArgumentException])
            c = c.getCause
          assert(c.isInstanceOf[IllegalArgumentException],
            s"trial $trial leaked ${c.getClass.getName}: ${c.getMessage}\n" +
              c.getStackTrace.take(8).mkString("\n"))
        case _: IllegalArgumentException => ()
      }
    }
  }

  test("flat column through the nested scanner is rejected loudly") {
    val out = tmpDir("pqnest_flat")
    spark.range(100).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(out)
    val e = intercept[org.apache.spark.SparkException] {
      ParquetNested.scanStructColumn(spark, out, "k").collect()
    }
    assert(e.getCause.getMessage.contains("not a struct"))
  }
}
