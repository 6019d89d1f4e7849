package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._

import graft.gates.Fixtures
import graft.sources.{ParquetFooter, ParquetPages}

/** The hand-written data-page reader against Spark's OWN parquet reader
  * (an independent implementation) across codecs, encodings, nulls,
  * multi-page chunks and dictionary-fallback chunks. */
class ParquetPagesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = Fixtures.scratchDir(name)

  private def readColumn(dir: String, col0: String): Seq[Any] = {
    val (path, len) = ParquetFooter.listDataFiles(spark, dir).head
    val conf = new Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    fm.rowGroups.flatMap { rg =>
      val meta = rg.columns.flatMap(_.meta).find(_.path == col0).get
      val leaf = fm.schema.find(_.name == col0).get
      ParquetPages.readChunk(conf, path, meta, leaf.repetition.getOrElse(0),
        leaf.typeLength.getOrElse(0)).values.toSeq
    }
  }

  private def writeSample(out: String, codec: String): Unit = {
    spark.range(30000).selectExpr(
      "id AS k",
      "IF(id % 7 = 0, CAST(NULL AS BIGINT), id % 50) AS n", // nullable + dict-friendly
      "CAST(id AS DOUBLE) * 1.5 AS v",
      "concat('s', CAST(id % 40 AS STRING)) AS s",          // dict strings
      "id % 3 = 0 AS flag")
      .coalesce(1).write.mode("overwrite")
      .option("compression", codec)
      .option("parquet.page.size", "4096") // many pages per chunk
      .parquet(out)
  }

  for (codec <- Seq("snappy", "gzip", "zstd", "uncompressed")) {
    test(s"hand page reader matches Spark's reader, codec=$codec") {
      val out = tmpDir(s"pqpages_$codec")
      writeSample(out, codec)
      val expected = spark.read.parquet(out).orderBy("k")
        .select("k", "n", "v", "s", "flag").collect()
      val k = readColumn(out, "k").map(_.asInstanceOf[Long])
      val n = readColumn(out, "n")
      val v = readColumn(out, "v").map(_.asInstanceOf[Double])
      val s = readColumn(out, "s").map(_.asInstanceOf[String])
      val f = readColumn(out, "flag")
      assert(k.size == 30000)
      // row order within the single file is the write order = k order
      expected.zipWithIndex.foreach { case (row, i) =>
        assert(k(i) == row.getLong(0), s"k at $i")
        assert((n(i) == null) == row.isNullAt(1), s"n null at $i")
        if (n(i) != null) assert(n(i).asInstanceOf[Long] == row.getLong(1), s"n at $i")
        assert(v(i) == row.getDouble(2), s"v at $i")
        assert(s(i) == row.getString(3), s"s at $i")
        assert(f(i).asInstanceOf[Boolean] == row.getBoolean(4), s"flag at $i")
      }
    }
  }

  test("dictionary-fallback chunk (tiny dictionary page) still decodes") {
    val out = tmpDir("pqpages_fb")
    // high-cardinality strings overflow the dictionary -> later pages PLAIN
    spark.range(20000).selectExpr("concat('val_', CAST(id AS STRING)) AS s", "id AS k")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.dictionary.page.size", "1024")
      .option("parquet.page.size", "8192")
      .parquet(out)
    val s = readColumn(out, "s").map(_.asInstanceOf[String])
    assert(s.size == 20000)
    val expected = spark.read.parquet(out).orderBy("k").select("s").as[String].collect()
    s.zip(expected).zipWithIndex.foreach { case ((a, b), i) => assert(a == b, s"at $i") }
  }

  test("scanTwoColumns zips flat columns across files") {
    val out = tmpDir("pqpages_scan")
    (0 until 3).foreach { b =>
      spark.range(b * 1000L, (b + 1) * 1000L).selectExpr("id AS k", "CAST(id AS DOUBLE)/4 AS q")
        .coalesce(1).write.mode(if (b == 0) "overwrite" else "append").parquet(out)
    }
    val df = ParquetPages.scanTwoColumns(spark, out, "k", "q")
    assert(df.count() == 3000)
    val agg = df.agg(sum("a_long"), round(sum("b_double"), 2), count(lit(1))).head
    assert(agg.getLong(0) == (0L until 3000L).sum)
    assert(agg.getDouble(1) == (0 until 3000).map(_ / 4.0).sum)
    // per-row consistency: q == k/4 after the zip
    assert(df.where(col("b_double") =!= col("a_long") / 4.0).count() == 0)
  }

  test("FIXED_LEN_BYTE_ARRAY decimals decode to exact unscaled longs, negatives included") {
    val out = tmpDir("pqpages_dec")
    // (k - 1000) / 8 is exact in both binary and 3 decimal digits, so the
    // double -> DECIMAL(25,3) cast is unambiguous; precision 25 forces FLBA
    spark.range(2000).selectExpr(
      "id AS k",
      "CAST(CAST(id - 1000 AS DOUBLE) / 8 AS DECIMAL(25, 3)) AS d")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val d = readColumn(out, "d")
    assert(d.size == 2000)
    // unscaled = (k - 1000) * 125 (scale 3 on eighths)
    d.zipWithIndex.foreach { case (v, i) =>
      assert(v.asInstanceOf[Long] == (i - 1000L) * 125L, s"at $i")
    }
    // physical type really was FLBA (precision 25 > 18)
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val fm = ParquetFooter.readFooter(new Configuration(), path, len)
    val meta = fm.rowGroups.head.columns.flatMap(_.meta).find(_.path == "d").get
    assert(ParquetFooter.TypeNames(meta.typ) == "FIXED_LEN_BYTE_ARRAY")
  }

  test("RLE/bit-packed hybrid decodes spec examples") {
    // RLE run: header = count<<1 = 6<<1 = 12 (LEB128 0x0c), value width 1 byte
    val rle = Array[Byte](0x0c, 5)
    assert(ParquetPages.rleHybrid(rle, 0, 3, 6)._1.toSeq == Seq(5, 5, 5, 5, 5, 5))
    // bit-packed: header = (groups<<1)|1 = (1<<1)|1 = 3; bitWidth 1,
    // one byte 0b10110100 -> LSB-first values 0,0,1,0,1,1,0,1
    val bp = Array[Byte](0x03, 0xb4.toByte)
    assert(ParquetPages.rleHybrid(bp, 0, 1, 8)._1.toSeq == Seq(0, 0, 1, 0, 1, 1, 0, 1))
  }

  test("repeated columns fail loudly (flat-only fence)") {
    val out = tmpDir("pqpages_rep")
    Seq((1L, Seq(1, 2, 3)), (2L, Seq(4))).toDF("k", "xs")
      .coalesce(1).write.mode("overwrite").parquet(out)
    intercept[Exception] {
      ParquetPages.scanTwoColumns(spark, out, "k", "xs").collect()
    }
  }

  for (codec <- Seq("snappy", "zstd", "uncompressed")) {
    test(s"V2 data pages match Spark's reader (dictionary on), codec=$codec") {
      // parquet-mr v2 mode: DataPageHeaderV2 layout with raw level
      // sections; low-cardinality columns still dictionary-encode
      val out = tmpDir(s"pqpages_v2_$codec")
      spark.range(25000).selectExpr(
        "id AS k",
        "IF(id % 7 = 0, CAST(NULL AS BIGINT), id % 50) AS n",
        "CAST(id AS DOUBLE) * 1.5 AS v",
        "concat('s', CAST(id % 40 AS STRING)) AS s",
        "id % 3 = 0 AS flag")
        .coalesce(1).write.mode("overwrite")
        .option("compression", codec)
        .option("parquet.writer.version", "v2")
        .option("parquet.page.size", "4096")
        .parquet(out)
      val expected = spark.read.parquet(out).orderBy("k")
        .select("k", "n", "v", "s", "flag").collect()
      val k = readColumn(out, "k").map(_.asInstanceOf[Long])
      val n = readColumn(out, "n")
      val v = readColumn(out, "v").map(_.asInstanceOf[Double])
      val s = readColumn(out, "s").map(_.asInstanceOf[String])
      val f = readColumn(out, "flag")
      assert(k.size == 25000)
      expected.zipWithIndex.foreach { case (row, i) =>
        assert(k(i) == row.getLong(0), s"k at $i")
        assert((n(i) == null) == row.isNullAt(1), s"n null at $i")
        if (n(i) != null) assert(n(i).asInstanceOf[Long] == row.getLong(1), s"n at $i")
        assert(v(i) == row.getDouble(2), s"v at $i")
        assert(s(i) == row.getString(3), s"s at $i")
        assert(f(i).asInstanceOf[Boolean] == row.getBoolean(4), s"flag at $i")
      }
    }
  }

  test("V2 DELTA encodings decode (dictionary off: DELTA_BINARY_PACKED + DELTA_BYTE_ARRAY)") {
    val out = tmpDir("pqpages_v2_delta")
    // dictionary disabled forces v2's direct encodings: ints/longs ->
    // DELTA_BINARY_PACKED, strings -> DELTA_BYTE_ARRAY, bools -> RLE
    spark.range(20000).selectExpr(
      "id * 37 - 300000 AS k", // negative + positive deltas
      "CAST(id % 1000 AS INT) AS i32",
      "concat('value_', CAST(id AS STRING), '_tail') AS s", // shared prefixes
      "id % 5 = 0 AS flag",
      "IF(id % 11 = 0, CAST(NULL AS STRING), concat('n_', CAST(id % 97 AS STRING))) AS sn")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.writer.version", "v2")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.page.size", "4096")
      .parquet(out)
    // pin that DELTA encodings are actually in play
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val fm = ParquetFooter.readFooter(new Configuration(), path, len)
    val encs = fm.rowGroups.head.columns.flatMap(_.meta)
      .map(m => m.path -> m.encodings.toSet).toMap
    assert(encs("k").contains(5), s"k encodings ${encs("k")} lack DELTA_BINARY_PACKED")
    assert(encs("s").contains(7), s"s encodings ${encs("s")} lack DELTA_BYTE_ARRAY")
    val expected = spark.read.parquet(out).orderBy("k")
      .select("k", "i32", "s", "flag", "sn").collect()
    val k = readColumn(out, "k").map(_.asInstanceOf[Long])
    val i32 = readColumn(out, "i32").map(_.asInstanceOf[Long])
    val s = readColumn(out, "s").map(_.asInstanceOf[String])
    val f = readColumn(out, "flag")
    val sn = readColumn(out, "sn")
    assert(k.size == 20000)
    expected.zipWithIndex.foreach { case (row, i) =>
      assert(k(i) == row.getLong(0), s"k at $i")
      assert(i32(i) == row.getInt(1).toLong, s"i32 at $i")
      assert(s(i) == row.getString(2), s"s at $i")
      assert(f(i).asInstanceOf[Boolean] == row.getBoolean(3), s"flag at $i")
      assert((sn(i) == null) == row.isNullAt(4), s"sn null at $i")
      if (sn(i) != null) assert(sn(i).asInstanceOf[String] == row.getString(4), s"sn at $i")
    }
  }

  for (version <- Seq("v1", "v2")) {
    test(s"LIST columns assemble from rep/def levels ($version): null/empty lists, null elements") {
      val out = tmpDir(s"pqpages_list_$version")
      spark.range(5000).selectExpr(
        "id AS k",
        """CASE WHEN id % 13 = 0 THEN CAST(NULL AS ARRAY<STRING>)
          |     WHEN id % 7 = 0 THEN array()
          |     WHEN id % 5 = 0 THEN array(concat('x', id), CAST(NULL AS STRING), 'tail')
          |     ELSE array(concat('a', id), concat('b', id % 19))
          |END AS xs""".stripMargin)
        .coalesce(1).write.mode("overwrite")
        .option("parquet.writer.version", version)
        .option("parquet.page.size", "2048")
        .parquet(out)
      val got = ParquetPages.scanListColumn(spark, out, "xs")
        .orderBy("row_idx").collect()
      val want = spark.read.parquet(out).orderBy("k")
        .selectExpr("k", "xs").collect()
      assert(got.length == 5000)
      want.zipWithIndex.foreach { case (row, i) =>
        val g = got(i)
        if (row.isNullAt(1)) {
          assert(g.getLong(2) == -1L && g.isNullAt(3), s"null list at $i")
        } else {
          val xs = row.getSeq[String](1)
          assert(g.getLong(2) == xs.length.toLong, s"n_elems at $i")
          assert(g.getSeq[String](3) == xs, s"elems at $i")
        }
      }
    }
  }

  test("LIST of longs assembles (element stringification)") {
    val out = tmpDir("pqpages_list_long")
    spark.range(2000).selectExpr("id AS k", "array(id, id * 2, id % 7) AS xs")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val got = ParquetPages.scanListColumn(spark, out, "xs").orderBy("row_idx").collect()
    got.zipWithIndex.foreach { case (g, i) =>
      assert(g.getSeq[String](3) == Seq(s"$i", s"${i * 2L}", s"${i % 7}"), s"at $i")
    }
  }

  test("INT96 legacy timestamps decode to epoch micros") {
    val out = tmpDir("pqpages_int96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      spark.range(3000).selectExpr("id AS k",
        "timestamp_micros(1700000000000000 + id * 1234567) AS ts")
        .coalesce(1).write.mode("overwrite").parquet(out)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val fm = ParquetFooter.readFooter(new Configuration(), path, len)
    val meta = fm.rowGroups.head.columns.flatMap(_.meta).find(_.path == "ts").get
    assert(ParquetFooter.TypeNames(meta.typ) == "INT96")
    val got = readColumn(out, "ts").map(_.asInstanceOf[Long])
    val want = spark.read.parquet(out).orderBy("k").select("ts").collect()
      .map { r =>
        val t = r.getTimestamp(0).toInstant
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      }
    assert(got.size == 3000)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) => assert(g == w, s"at $i") }
  }

  test("BYTE_STREAM_SPLIT layout agrees with parquet-mr's reader") {
    // no writer config exposes BSS through Spark, so the layout is
    // pinned against parquet-mr's OWN ByteStreamSplitValuesReader (the
    // spec-suite cross-oracle precedent): bytes laid out stream-major
    // must decode to the same doubles/floats through both readers.
    val doubles = Array(0.0, -1.5, math.Pi, 1e300, -1e-300, Double.MinPositiveValue, 42.25)
    val n = doubles.length
    val dBytes = new Array[Byte](n * 8)
    for (i <- 0 until n) {
      val bits = java.lang.Double.doubleToLongBits(doubles(i))
      for (j <- 0 until 8) dBytes(j * n + i) = ((bits >>> (8 * j)) & 0xff).toByte
    }
    val ours = ParquetPages.decodePageValues(5, 9, dBytes, 0, n, null, 0)
    assert(ours.map(_.asInstanceOf[Double]).toSeq == doubles.toSeq)
    val mrReader = new org.apache.parquet.column.values.bytestreamsplit.ByteStreamSplitValuesReaderForDouble()
    mrReader.initFromPage(n,
      org.apache.parquet.bytes.ByteBufferInputStream.wrap(java.nio.ByteBuffer.wrap(dBytes)))
    for (i <- 0 until n)
      assert(mrReader.readDouble() == doubles(i), s"parquet-mr double at $i")
    // float leg
    val floats = Array(0.0f, -2.5f, 3.14159f, 1e30f, Float.MinPositiveValue)
    val m = floats.length
    val fBytes = new Array[Byte](m * 4)
    for (i <- 0 until m) {
      val bits = java.lang.Float.floatToIntBits(floats(i))
      for (j <- 0 until 4) fBytes(j * m + i) = ((bits >>> (8 * j)) & 0xff).toByte
    }
    val oursF = ParquetPages.decodePageValues(4, 9, fBytes, 0, m, null, 0)
    assert(oursF.map(_.asInstanceOf[Double]).toSeq == floats.map(_.toDouble).toSeq)
    val mrF = new org.apache.parquet.column.values.bytestreamsplit.ByteStreamSplitValuesReaderForFloat()
    mrF.initFromPage(m,
      org.apache.parquet.bytes.ByteBufferInputStream.wrap(java.nio.ByteBuffer.wrap(fBytes)))
    for (i <- 0 until m)
      assert(mrF.readFloat() == floats(i), s"parquet-mr float at $i")
  }

  test("DELTA_BINARY_PACKED hand vectors: wrapping, zero-width, partial miniblocks") {
    import ParquetPagesSpec.encodeDelta
    val cases = Seq(
      Array(7L), // single value, no blocks
      Array(1L, 2L, 3L, 4L, 5L), // constant delta -> zero-width miniblocks
      Array.tabulate(300)(i => (i * i).toLong - 5000), // multi-block
      Array(Long.MaxValue, Long.MinValue, 0L, -1L, 1L), // wrapping deltas
      Array.tabulate(130)(i => if (i % 2 == 0) 1000L else -1000L))
    for ((vs, ci) <- cases.zipWithIndex) {
      val enc = encodeDelta(vs, 128, 4)
      val (dec, _) = ParquetPages.deltaBinaryPacked(enc, 0, vs.length)
      assert(dec.toSeq == vs.toSeq, s"case $ci")
    }
  }
}

object ParquetPagesSpec {
  /** Mirror of the DELTA_BINARY_PACKED layout for test vectors (also
    * the fuzz seed in DecoderFuzzSpec). */
  def encodeDelta(values: Array[Long], blockSize: Int, numMini: Int): Array[Byte] = {
      val bb = new java.io.ByteArrayOutputStream()
      def uleb(v0: Long): Unit = {
        var v = v0
        do { val b = (v & 0x7f).toInt; v >>>= 7
          bb.write(if (v != 0) b | 0x80 else b) } while (v != 0)
      }
      def zz(v: Long): Unit = uleb((v << 1) ^ (v >> 63))
      uleb(blockSize); uleb(numMini); uleb(values.length)
      zz(values.head)
      val perMini = blockSize / numMini
      var idx = 1
      while (idx < values.length) {
        val blockVals = values.slice(idx, math.min(idx + blockSize, values.length))
        val deltas = blockVals.zipWithIndex.map { case (v, j) =>
          v - (if (j == 0) values(idx - 1) else blockVals(j - 1)) }
        val minD = deltas.min
        zz(minD)
        val adj = deltas.map(_ - minD)
        val miniCount = (blockVals.length + perMini - 1) / perMini
        val widths = (0 until numMini).map { mb =>
          if (mb >= miniCount) 0
          else {
            val sl = adj.slice(mb * perMini, math.min((mb + 1) * perMini, adj.length))
            // adjusted deltas are UNSIGNED 64-bit — width from the
            // unsigned max, not the signed one (wrapping cases)
            val mx = sl.foldLeft(0L)((a, b) =>
              if (java.lang.Long.compareUnsigned(a, b) >= 0) a else b)
            if (mx == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(mx)
          }
        }
        widths.foreach(bb.write)
        for (mb <- 0 until miniCount; w = widths(mb); if w > 0) {
          var bitBuf = 0L; var bitCnt = 0
          for (j <- mb * perMini until (mb + 1) * perMini) {
            val v = if (j < adj.length) adj(j) else 0L
            var got = 0
            while (got < w) {
              val take = math.min(8 - bitCnt, w - got)
              bitBuf |= (((v >>> got) & ((1L << take) - 1)) << bitCnt)
              bitCnt += take; got += take
              if (bitCnt == 8) { bb.write(bitBuf.toInt); bitBuf = 0; bitCnt = 0 }
            }
          }
          if (bitCnt > 0) { bb.write(bitBuf.toInt) }
        }
        idx += blockSize
      }
      bb.toByteArray
    }
}
