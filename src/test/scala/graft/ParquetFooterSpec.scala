package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.gates.Fixtures
import graft.sources.ParquetFooter

/** The hand-written Thrift-compact footer parser, field-for-field against
  * parquet-mr's INDEPENDENT reader (test classpath only — main code never
  * touches parquet-mr) on real Spark-written files, including a
  * multi-row-group file forced via a tiny block size. */
class ParquetFooterSpec extends SparkSpec {

  private def tmpDir(name: String): String = Fixtures.scratchDir(name)

  private def writeSample(out: String, rows: Int, blockBytes: Option[Long]): Unit = {
    val df = spark.range(rows.toLong).selectExpr(
      "id AS k", "CAST(id * 2.5 AS DOUBLE) AS v",
      "concat('s', lpad(CAST(id AS STRING), 6, '0')) AS s",
      "IF(id % 10 = 0, CAST(NULL AS BIGINT), id % 97) AS n")
    val w = df.coalesce(1).write.mode("overwrite")
    blockBytes.fold(w)(b => w.option("parquet.block.size", b.toString)).parquet(out)
  }

  private def onlyFile(dir: String): (String, Long) = {
    val fs = ParquetFooter.listDataFiles(spark, dir)
    assert(fs.size == 1)
    fs.head
  }

  test("footer parse matches parquet-mr field-for-field (single row group)") {
    val out = tmpDir("pqfooter1")
    writeSample(out, 5000, None)
    val (path, len) = onlyFile(out)

    val ours = ParquetFooter.readFooter(new Configuration(), path, len)
    val mr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), new Configuration()))
    try {
      val fm = mr.getFooter
      assert(ours.numRows == mr.getRecordCount)
      assert(ours.rowGroups.size == fm.getBlocks.size())
      assert(ours.createdBy.contains(fm.getFileMetaData.getCreatedBy))
      val ourRg = ours.rowGroups.head
      val mrRg = fm.getBlocks.get(0)
      assert(ourRg.numRows == mrRg.getRowCount)
      assert(ourRg.totalByteSize == mrRg.getTotalByteSize)
      assert(ourRg.columns.size == mrRg.getColumns.size())
      ourRg.columns.zipWithIndex.foreach { case (cc, i) =>
        val mc = mrRg.getColumns.get(i)
        val cm = cc.meta.get
        assert(cm.path == mc.getPath.toDotString)
        // parquet-mr's Java enum says BINARY where the thrift enum (and
        // DuckDB's parquet_metadata) say BYTE_ARRAY
        val mrType = mc.getPrimitiveType.getPrimitiveTypeName.name() match {
          case "BINARY" => "BYTE_ARRAY"; case other => other
        }
        assert(ParquetFooter.TypeNames(cm.typ) == mrType)
        assert(ParquetFooter.CodecNames(cm.codec) == mc.getCodec.name())
        assert(cm.numValues == mc.getValueCount)
        assert(cm.totalCompressedSize == mc.getTotalSize)
        assert(cm.totalUncompressedSize == mc.getTotalUncompressedSize)
        val st = mc.getStatistics
        assert(cm.stats.flatMap(_.nullCount).contains(st.getNumNulls))
      }
      // decoded stats: k is INT64 0..4999; n has 500 nulls
      val k = ourRg.columns.flatMap(_.meta).find(_.path == "k").get
      assert(ParquetFooter.statLong(k.typ, k.stats.get.minBytes.get).contains(0L))
      assert(ParquetFooter.statLong(k.typ, k.stats.get.maxBytes.get).contains(4999L))
      val n = ourRg.columns.flatMap(_.meta).find(_.path == "n").get
      assert(n.stats.flatMap(_.nullCount).contains(500L))
      val v = ourRg.columns.flatMap(_.meta).find(_.path == "v").get
      assert(ParquetFooter.statDouble(v.typ, v.stats.get.maxBytes.get).contains(4999 * 2.5))
      val s = ourRg.columns.flatMap(_.meta).find(_.path == "s").get
      assert(ParquetFooter.statString(s.typ, s.stats.get.minBytes.get).contains("s000000"))
    } finally mr.close()
  }

  test("multi-row-group file: per-group rows and stats match parquet-mr") {
    val out = tmpDir("pqfooterN")
    writeSample(out, 200000, Some(256 * 1024L))
    val (path, len) = onlyFile(out)

    val ours = ParquetFooter.readFooter(new Configuration(), path, len)
    val mr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), new Configuration()))
    try {
      val fm = mr.getFooter
      assert(ours.rowGroups.size == fm.getBlocks.size())
      assert(ours.rowGroups.size >= 2, "tiny block size must force multiple row groups")
      ours.rowGroups.zipWithIndex.foreach { case (rg, i) =>
        assert(rg.numRows == fm.getBlocks.get(i).getRowCount)
      }
      // row groups partition the id range: min/max stats must tile [0, 200000)
      val spans = ours.rowGroups.map { rg =>
        val k = rg.columns.flatMap(_.meta).find(_.path == "k").get
        (ParquetFooter.statLong(k.typ, k.stats.get.minBytes.get).get,
          ParquetFooter.statLong(k.typ, k.stats.get.maxBytes.get).get)
      }
      assert(spans.head._1 == 0L && spans.last._2 == 199999L)
      spans.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) => assert(bMin == aMax + 1)
        case _ => ()
      }
    } finally mr.close()
  }

  test("footers() and columnStats() distributed scans") {
    val out = tmpDir("pqfooterD")
    // three files via explicit range splits
    (0 until 3).foreach { b =>
      spark.range(b * 1000L, (b + 1) * 1000L).selectExpr("id AS k")
        .coalesce(1).write.mode(if (b == 0) "overwrite" else "append").parquet(out)
    }
    val f = ParquetFooter.footers(spark, out)
    assert(f.count() == 3)
    assert(f.agg(sum("num_rows")).head.getLong(0) == 3000L)
    val cs = ParquetFooter.columnStats(spark, out).where(col("column_path") === "k")
    val rows = cs.orderBy("min_long").collect()
    assert(rows.length == 3)
    assert(rows.map(r => (r.getAs[Long]("min_long"), r.getAs[Long]("max_long"))).toSeq ==
      Seq((0L, 999L), (1000L, 1999L), (2000L, 2999L)))
    assert(rows.forall(_.getAs[String]("codec") != null))
  }

  test("pruneCensus skips exactly the row groups outside the bound") {
    val out = tmpDir("pqfooterP")
    (0 until 4).foreach { b =>
      spark.range(b * 1000L, (b + 1) * 1000L).selectExpr("id AS k")
        .coalesce(1).write.mode(if (b == 0) "overwrite" else "append").parquet(out)
    }
    val pc = ParquetFooter.pruneCensus(spark, out, "k", 1500L, 2200L)
    val agg = pc.agg(
      sum(when(col("skipped"), 1L).otherwise(0L)).as("skipped"),
      sum("rows_scanned").as("scanned")).head
    assert(agg.getLong(0) == 2L) // files [0,999] and [3000,3999] pruned
    assert(agg.getLong(1) == 2000L)
  }

  test("page index parse matches parquet-mr's ColumnIndex/OffsetIndex readers") {
    val out = tmpDir("pqpageidx")
    // sorted input + tiny pages => many pages with tiling min/max
    spark.range(50000).selectExpr("id AS k", "CAST(id % 13 AS DOUBLE) AS v")
      .coalesce(1).sortWithinPartitions("k")
      .write.mode("overwrite").option("parquet.page.size", "2048").parquet(out)
    val (path, len) = onlyFile(out)
    val conf = new Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    val mr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
    try {
      fm.rowGroups.zipWithIndex.foreach { case (rg, rgi) =>
        val block = mr.getFooter.getBlocks.get(rgi)
        val cc = rg.columns.find(_.meta.exists(_.path == "k")).get
        val mc = (0 until block.getColumns.size)
          .map(block.getColumns.get).find(_.getPath.toDotString == "k").get
        val mrCi = mr.readColumnIndex(mc)
        val mrOi = mr.readOffsetIndex(mc)
        val ci = ParquetFooter.parseColumnIndex(readRangeForTest(conf, path,
          cc.columnIndexOffset.get, cc.columnIndexLength.get))
        val oi = ParquetFooter.parseOffsetIndex(readRangeForTest(conf, path,
          cc.offsetIndexOffset.get, cc.offsetIndexLength.get))
        assert(oi.pages.size == mrOi.getPageCount)
        assert(oi.pages.size >= 4, "tiny page size must force many pages")
        oi.pages.zipWithIndex.foreach { case (pl, i) =>
          assert(pl.offset == mrOi.getOffset(i))
          assert(pl.compressedPageSize == mrOi.getCompressedPageSize(i))
          assert(pl.firstRowIndex == mrOi.getFirstRowIndex(i))
        }
        assert(ci.nullPages.size == oi.pages.size)
        assert(ci.boundaryOrder == 1, "sorted column must record ASCENDING")
        val mrMins = mrCi.getMinValues; val mrMaxs = mrCi.getMaxValues
        ci.minValues.zipWithIndex.foreach { case (mn, i) =>
          assert(java.util.Arrays.equals(mn, mrMins.get(i).array()))
          assert(java.util.Arrays.equals(ci.maxValues(i), mrMaxs.get(i).array()))
        }
        // decoded page spans tile [0, 50000) contiguously on the sorted key
        val spans = oi.pages.indices.map { i =>
          (ParquetFooter.statLong(2, ci.minValues(i)).get,
            ParquetFooter.statLong(2, ci.maxValues(i)).get)
        }
        assert(spans.head._1 == 0L)
        spans.sliding(2).foreach {
          case Seq((_, aMax), (bMin, _)) => assert(bMin == aMax + 1)
          case _ => ()
        }
      }
    } finally mr.close()
  }

  test("pagePruneCensus narrows to the matching pages only") {
    val out = tmpDir("pqpagepr")
    spark.range(50000).selectExpr("id AS k")
      .coalesce(1).sortWithinPartitions("k")
      .write.mode("overwrite").option("parquet.page.size", "2048").parquet(out)
    val pc = ParquetFooter.pagePruneCensus(spark, out, "k", 10000L, 12000L)
    val agg = pc.agg(
      sum(when(col("skipped"), 0L).otherwise(1L)).as("kept"),
      count(lit(1)).as("total"),
      sum("rows_scanned").as("scanned")).head
    val kept = agg.getLong(0); val total = agg.getLong(1); val scanned = agg.getLong(2)
    assert(total >= 4)
    assert(kept < total, "some pages must be pruned")
    assert(scanned >= 2001L, "kept pages must cover the 2001 matching rows")
    assert(scanned < 50000L, "page filter must narrow the scan")
  }

  private def readRangeForTest(conf: Configuration, path: String,
                               off: Long, len: Int): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    try { val b = new Array[Byte](len); in.readFully(off, b, 0, len); b }
    finally in.close()
  }

  test("corrupt framing fails loudly") {
    intercept[IllegalArgumentException](ParquetFooter.parseFile(Array[Byte](1, 2, 3)))
    val bogus = "PAR1".getBytes ++ new Array[Byte](20) ++
      Array[Byte](-1, -1, -1, 127) ++ "PAR1".getBytes
    intercept[IllegalArgumentException](ParquetFooter.parseFile(bogus))
  }

  test("mutation fuzz: corrupt footers fail with IllegalArgumentException, never hang or OOM") {
    val out = tmpDir("pqfooterFz")
    writeSample(out, 2000, None)
    val (path, _) = onlyFile(out)
    val bytes = Files.readAllBytes(Paths.get(path.stripPrefix("file:")))
    // the footer is the tail; mutate bytes in the last kilobyte
    val rnd = new scala.util.Random(0xf007e4)
    (0 until 3000).foreach { _ =>
      val m = bytes.clone()
      (0 until 3).foreach { _ =>
        val i = m.length - 1 - rnd.nextInt(math.min(1024, m.length))
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      try { ParquetFooter.parseFile(m); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: IndexOutOfBoundsException =>
          fail(s"index error instead of a loud parse failure: $e")
      }
    }
  }

  test("mutation fuzz: corrupt page-index blobs fail loudly") {
    val out = tmpDir("pqpageFz")
    spark.range(20000).selectExpr("id AS k").coalesce(1).sortWithinPartitions("k")
      .write.mode("overwrite").option("parquet.page.size", "2048").parquet(out)
    val (path, len) = onlyFile(out)
    val conf = new Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    val cc = fm.rowGroups.head.columns.head
    val ci = readRangeForTest(conf, path, cc.columnIndexOffset.get, cc.columnIndexLength.get)
    val oi = readRangeForTest(conf, path, cc.offsetIndexOffset.get, cc.offsetIndexLength.get)
    val rnd = new scala.util.Random(0x1d3)
    (0 until 2000).foreach { _ =>
      def mut(b: Array[Byte]): Array[Byte] = {
        val m = b.clone()
        (0 until 3).foreach { _ =>
          val i = rnd.nextInt(m.length)
          m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        m
      }
      try { ParquetFooter.parseColumnIndex(mut(ci)); () }
      catch { case _: IllegalArgumentException => () }
      try { ParquetFooter.parseOffsetIndex(mut(oi)); () }
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("footer scans read through the session's Hadoop conf, on driver and tasks") {
    // The scheme is registered on this session's Hadoop conf only, so a
    // task that builds a fresh `new Configuration()` finds no FileSystem
    // for it. Uncached, so the driver's instance cannot stand in for the
    // tasks' lookup.
    val out = tmpDir("pqfooter_scheme")
    writeSample(out, 3000, None)
    val scheme = SessionOnlyLocalFs.Scheme
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$scheme.impl", classOf[SessionOnlyLocalFs].getName)
    conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    try {
      val files = ParquetFooter.footers(spark, s"$scheme://$out").collect()
      assert(files.length == 1 && files.head.getLong(2) == 3000L)
      assert(files.head.getString(0).startsWith(s"$scheme:"))
      val cols = ParquetFooter.columnStats(spark, s"$scheme://$out").collect()
      assert(cols.map(_.getString(3)).toSet == Set("k", "v", "s", "n"))
    } finally {
      conf.unset(s"fs.$scheme.impl")
      conf.unset(s"fs.$scheme.impl.disable.cache")
    }
  }
}
