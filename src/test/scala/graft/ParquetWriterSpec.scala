package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.gates.Fixtures
import graft.sources.{ParquetFooter, ParquetPages, ParquetWriter}

/** The hand parquet WRITER against Spark's own reader (independent
  * implementation, parquet-mr underneath) and the repo's own hand
  * readers — the three-way cross-check for spec-conformant output. */
class ParquetWriterSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = Fixtures.scratchDir(name)

  private def sample(n: Int) =
    spark.range(n.toLong).selectExpr(
      "id AS k",                                                   // required long
      "IF(id % 7 = 0, CAST(NULL AS BIGINT), id * 3) AS n",         // nullable long
      "CAST(id % 1000 AS INT) AS i",                               // int
      "CAST(id AS DOUBLE) / 8 AS d",                               // double
      "IF(id % 5 = 0, CAST(NULL AS STRING), concat('s', id % 97)) AS s", // nullable string
      "id % 3 = 0 AS f")                                           // boolean

  for ((codecName, codec) <- Seq(("uncompressed", 0), ("snappy", 1))) {
    test(s"Spark's own reader reads our files byte-exact ($codecName)") {
      val out = tmpDir(s"pqw_$codecName")
      val df = sample(30000)
      ParquetWriter.writeDir(df.repartition(3), out, codec = codec, pageRows = 4096)
      val back = spark.read.parquet(out)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
      val a = df.orderBy("k").collect()
      val b = back.orderBy("k").collect()
      assert(b.length == 30000)
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"row $i ($codecName)")
      }
    }
  }

  test("writeDir truncates the target dir: a narrower re-write leaves no stale parts (r20)") {
    // A wide write followed by a narrower one to the SAME dir must not
    // leave the wide run's higher-numbered part files behind (the
    // stale-file mix a 32-core bench before an 8-core rerun produced).
    val out = tmpDir("pqw_rewrite")
    ParquetWriter.writeDir(sample(8000).repartition(8), out, pageRows = 2048)
    assert(spark.read.parquet(out).count() == 8000)
    ParquetWriter.writeDir(sample(3000).repartition(2), out, pageRows = 2048)
    val back = spark.read.parquet(out)
    assert(back.count() == 3000, "stale part files from the wider write survived")
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 2)
  }

  test("writeDir resolves the target through the session's Hadoop conf, on driver and tasks") {
    // The scheme is registered on this session's Hadoop conf only, so a
    // fresh `new Configuration()` has no FileSystem for it. Uncached, so
    // the driver's instance cannot stand in for the tasks' lookup.
    val scheme = SessionOnlyLocalFs.Scheme
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$scheme.impl", classOf[SessionOnlyLocalFs].getName)
    conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    try {
      val out = tmpDir("pqw_scheme")
      assert(ParquetWriter.writeDir(sample(5000).repartition(2), s"$scheme://$out",
        pageRows = 2048) == 2)
      assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 2)
      assert(spark.read.parquet(out).count() == 5000)
    } finally {
      conf.unset(s"fs.$scheme.impl")
      conf.unset(s"fs.$scheme.impl.disable.cache")
    }
  }

  test("our own footer + page readers complete the three-way check") {
    val out = tmpDir("pqw_three")
    ParquetWriter.writeDir(sample(20000).coalesce(1), out, pageRows = 2048)
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    assert(fm.numRows == 20000)
    assert(fm.schema.head.numChildren.contains(6))
    assert(fm.schema.map(_.name) ==
      Seq("graft_schema", "k", "n", "i", "d", "s", "f"))
    val hand = ParquetPages.scanTwoColumns(spark, out, "k", "n")
      .orderBy("row_idx").collect()
    assert(hand.length == 20000)
    hand.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(2) == i.toLong, s"k at $i")
      if (i % 7 == 0) assert(r.isNullAt(5), s"null n at $i")
      else assert(r.getLong(5) == i.toLong * 3, s"n at $i")
    }
  }

  test("multiple row groups split correctly and read back whole") {
    val out = tmpDir("pqw_rg")
    val df = sample(15000).coalesce(1)
    val specs = df.schema.fields.map(fd => ParquetWriter.ColSpec(fd.name,
      fd.dataType match {
        case org.apache.spark.sql.types.BooleanType => 0
        case org.apache.spark.sql.types.IntegerType => 1
        case org.apache.spark.sql.types.LongType => 2
        case org.apache.spark.sql.types.DoubleType => 5
        case _ => 6
      }, fd.nullable)).toSeq
    val rows = df.collect()
    val cols: Seq[(ParquetWriter.ColSpec, Array[Any])] =
      specs.zipWithIndex.map { case (sp, c) =>
        sp -> rows.map(r => if (r.isNullAt(c)) null else r.get(c))
      }.toSeq
    val bytes = ParquetWriter.writeBytes(cols, rows.length,
      pageRows = 1000, rowGroupRows = 4000)
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "f.parquet"), bytes)
    val fm = ParquetFooter.parseFile(bytes)
    assert(fm.rowGroups.size == 4) // 4000+4000+4000+3000
    assert(fm.rowGroups.map(_.numRows) == Seq(4000L, 4000L, 4000L, 3000L))
    val back = spark.read.parquet(out).orderBy("k").collect()
    assert(back.length == 15000)
    assert(back(14999).getLong(0) == 14999L)
  }

  test("written stats feed the repo's own prune census (and match Spark's view)") {
    val out = tmpDir("pqw_stats")
    // range-partitioned by k so per-file min/max spans are disjoint
    ParquetWriter.writeDir(sample(40000).repartitionByRange(4, col("k")), out)
    val stats = ParquetFooter.columnStats(spark, out)
      .where(col("column_path") === "k").collect()
    assert(stats.length == 4)
    stats.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("min_long")) && !r.isNullAt(r.fieldIndex("max_long")))
      assert(r.getAs[Long]("min_long") <= r.getAs[Long]("max_long"))
    }
    // null counts on the optional column are exact
    val nstats = ParquetFooter.columnStats(spark, out)
      .where(col("column_path") === "n")
      .agg(sum("null_count")).head.getLong(0)
    assert(nstats == (0 until 40000).count(_ % 7 == 0).toLong)
    // prune census: a narrow k window must skip 3 of 4 files
    val census = ParquetFooter.pruneCensus(spark, out, "k", 100L, 200L).collect()
    assert(census.count(_.getAs[Boolean]("skipped")) == 3, census.mkString("\n"))
    // the surviving file scans all of its rows (range split is
    // sample-approximate, so assert structure, not an exact 10k)
    val kept = census.filter(!_.getAs[Boolean]("skipped"))
    assert(kept.length == 1)
    assert(kept.head.getAs[Long]("rows_scanned") == kept.head.getAs[Long]("rg_num_rows"))
    assert(kept.head.getAs[Long]("rows_scanned") >= 101L)
    // Spark's own reader agrees with the planned window
    assert(spark.read.parquet(out).where(col("k").between(100, 200)).count() == 101L)
  }

  test("DuckDB reads our files too (third independent reader; live when python3+duckdb present)") {
    val probe = new ProcessBuilder("python3", "-c", "import duckdb").start()
    assume(probe.waitFor() == 0, "python3/duckdb not available")
    val out = tmpDir("pqw_duck")
    ParquetWriter.writeDir(sample(12000).coalesce(1), out, codec = 1, pageRows = 2048)
    val script =
      s"""import duckdb, json
         |r = duckdb.sql("SELECT count(*), sum(k), sum(n), count(s), sum(CASE WHEN f THEN 1 ELSE 0 END), round(sum(d), 2) FROM '$out/*.parquet'").fetchone()
         |print(json.dumps([str(x) for x in r]))""".stripMargin
    val p = new ProcessBuilder("python3", "-c", script).start()
    val outStr = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim
    val err = new String(p.getErrorStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(p.waitFor() == 0, s"duckdb failed: $err")
    val n = 12000
    val sumK = (0 until n).map(_.toLong).sum
    val sumN = (0 until n).filter(_ % 7 != 0).map(_ * 3L).sum
    val cntS = (0 until n).count(_ % 5 != 0)
    val cntF = (0 until n).count(_ % 3 == 0)
    val sumD = BigDecimal((0 until n).map(_ / 8.0).sum).setScale(2,
      BigDecimal.RoundingMode.HALF_EVEN)
    val got = outStr.stripPrefix("[").stripSuffix("]")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
    assert(got(0) == n.toString, s"count: $outStr")
    assert(got(1) == sumK.toString, s"sum k: $outStr")
    assert(got(2) == sumN.toString, s"sum n: $outStr")
    assert(got(3) == cntS.toString, s"count s: $outStr")
    assert(got(4) == cntF.toString, s"count f: $outStr")
    assert(BigDecimal(got(5)) == sumD, s"sum d: $outStr")
  }

  test("LIST columns round-trip through Spark's reader AND our own list scanner") {
    val out = tmpDir("pqw_list")
    val df = spark.range(8000).selectExpr("id AS k",
      """CASE WHEN id % 11 = 0 THEN CAST(NULL AS ARRAY<STRING>)
        |     WHEN id % 7 = 0 THEN array()
        |     WHEN id % 5 = 0 THEN array(concat('x', id), CAST(NULL AS STRING), 'tail')
        |     ELSE array(concat('a', id), concat('b', id % 19))
        |END AS xs""".stripMargin,
      "sequence(CAST(0 AS BIGINT), id % 3) AS ns")
    ParquetWriter.writeDir(df.coalesce(1), out, pageRows = 1024)
    // Spark's own reader
    val back = spark.read.parquet(out).orderBy("k").collect()
    val want = df.orderBy("k").collect()
    assert(back.length == 8000)
    want.zip(back).zipWithIndex.foreach { case ((w, g), i) =>
      assert(w == g, s"row $i")
    }
    // our own Dremel list scanner reads the same file
    val hand = graft.sources.ParquetPages.scanListColumn(spark, out, "xs")
      .orderBy("row_idx").collect()
    want.zipWithIndex.foreach { case (row, i) =>
      val g = hand(i)
      if (row.isNullAt(1)) assert(g.getLong(2) == -1L, s"null list at $i")
      else {
        val xs = row.getSeq[String](1)
        assert(g.getLong(2) == xs.length.toLong, s"n_elems at $i")
        assert(g.getSeq[String](3) == xs, s"elems at $i")
      }
    }
  }

  test("dictionary-encoded string chunks: footer proves enc 8, all three readers agree") {
    val out = tmpDir("pqw_dict")
    // low-cardinality strings: long constant stretches (real RLE runs)
    // interleaved with short alternations (bit-packed runs), null every
    // 5th row — exercises both halves of the hybrid encoder
    val df = spark.range(20000).selectExpr(
      "id AS k",
      """IF(id % 5 = 0, CAST(NULL AS STRING),
        |   IF(id % 4096 < 3000, concat('run', CAST(id / 4096 AS INT)),
        |      concat('alt', CAST(id % 7 AS INT)))) AS s""".stripMargin)
    ParquetWriter.writeDir(df.coalesce(1), out, codec = 1, pageRows = 2048)
    // footer: the string chunk REALLY used RLE_DICTIONARY (a silent
    // PLAIN fallback would pass the value checks below)
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    val metas = fm.rowGroups.head.columns.flatMap(_.meta)
    val sMeta = metas.find(_.path == "s").get
    assert(sMeta.encodings.contains(8), s"encodings ${sMeta.encodings}")
    assert(sMeta.dictionaryPageOffset.isDefined)
    assert(sMeta.dictionaryPageOffset.get < sMeta.dataPageOffset)
    val kMeta = metas.find(_.path == "k").get
    assert(!kMeta.encodings.contains(8) && kMeta.dictionaryPageOffset.isEmpty)
    // Spark's reader (parquet-mr underneath): byte-exact rows
    val want = df.orderBy("k").collect()
    val back = spark.read.parquet(out).orderBy("k").collect()
    assert(back.length == 20000)
    want.zip(back).zipWithIndex.foreach { case ((w, g), i) => assert(w == g, s"row $i") }
    // our own page reader decodes the dict + index pages
    val hand = ParquetPages.scanTwoColumns(spark, out, "k", "s")
      .orderBy("row_idx").collect()
    want.zipWithIndex.foreach { case (row, i) =>
      val g = hand(i)
      assert(g.getLong(2) == row.getLong(0), s"k at $i")
      if (row.isNullAt(1)) assert(g.isNullAt(7), s"null s at $i")
      else assert(g.getString(7) == row.getString(1), s"s at $i")
    }
    // DuckDB as the third reader (live when python3+duckdb present)
    val probe = new ProcessBuilder("python3", "-c", "import duckdb").start()
    if (probe.waitFor() == 0) {
      val script =
        s"""import duckdb, json
           |r = duckdb.sql("SELECT count(*), count(s), count(DISTINCT s), sum(k) FROM '$out/*.parquet'").fetchone()
           |print(json.dumps([str(x) for x in r]))""".stripMargin
      val p = new ProcessBuilder("python3", "-c", script).start()
      val outStr = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      assert(p.waitFor() == 0)
      val got = outStr.stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      assert(got(0) == "20000", outStr)
      assert(got(1) == (0 until 20000).count(_ % 5 != 0).toString, outStr)
      val wantDistinct = (0 until 20000).filter(_ % 5 != 0)
        .map(i => if (i % 4096 < 3000) s"run${i / 4096}" else s"alt${i % 7}")
        .distinct.size
      assert(got(2) == wantDistinct.toString, outStr)
      assert(got(3) == (0 until 20000).map(_.toLong).sum.toString, outStr)
    }
    // the dictionary actually pays: the STRING CHUNK (the thing dict
    // encoding touches) is under half its PLAIN size even after snappy
    val outPlain = tmpDir("pqw_dict_plain")
    ParquetWriter.writeDir(df.coalesce(1), outPlain, codec = 1, pageRows = 2048,
      dictStrings = false)
    val (pPath, pLen) = ParquetFooter.listDataFiles(spark, outPlain).head
    val sPlain = ParquetFooter.readFooter(conf, pPath, pLen)
      .rowGroups.head.columns.flatMap(_.meta).find(_.path == "s").get
    assert(sMeta.totalCompressedSize.toDouble < sPlain.totalCompressedSize * 0.5,
      s"dict chunk ${sMeta.totalCompressedSize} vs plain ${sPlain.totalCompressedSize}")
  }

  test("dictionary cap: high-cardinality chunks fall back to PLAIN") {
    val out = tmpDir("pqw_dict_cap")
    // > DictMaxEntries distinct values → the whole chunk must fall back
    val df = spark.range((ParquetWriter.DictMaxEntries + 1000).toLong)
      .selectExpr("id AS k", "concat('u', id) AS s")
    ParquetWriter.writeDir(df.coalesce(1), out, pageRows = 8192)
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    val sMeta = fm.rowGroups.head.columns.flatMap(_.meta).find(_.path == "s").get
    assert(!sMeta.encodings.contains(8) && sMeta.dictionaryPageOffset.isEmpty)
    val back = spark.read.parquet(out)
    assert(back.count() == ParquetWriter.DictMaxEntries + 1000L)
    assert(back.where(col("s") === s"u${ParquetWriter.DictMaxEntries}").count() == 1L)
  }

  test("MAP columns round-trip through Spark's reader, our Dremel scanner, and DuckDB") {
    val out = tmpDir("pqw_map")
    val df = spark.range(6000).selectExpr("id AS k",
      """CASE WHEN id % 11 = 0 THEN CAST(NULL AS MAP<STRING, BIGINT>)
        |     WHEN id % 7 = 0 THEN map()
        |     WHEN id % 5 = 0 THEN map(concat('a', id % 13), id * 2,
        |                              'nul', CAST(NULL AS BIGINT))
        |     ELSE map(concat('a', id % 13), id * 2, concat('b', id % 3), id)
        |END AS m""".stripMargin)
    ParquetWriter.writeDir(df.coalesce(1), out, codec = 1, pageRows = 1024)
    // Spark's reader: byte-exact rows (null map / empty map / null value)
    val want = df.orderBy("k").collect()
    val back = spark.read.parquet(out).orderBy("k").collect()
    assert(back.length == 6000)
    want.zip(back).zipWithIndex.foreach { case ((w, g), i) =>
      assert(w.getLong(0) == g.getLong(0), s"k at $i")
      val wm = if (w.isNullAt(1)) null else w.getMap[String, Any](1)
      val gm = if (g.isNullAt(1)) null else g.getMap[String, Any](1)
      assert(Option(wm).map(_.toMap) == Option(gm).map(_.toMap), s"m at $i")
    }
    // our own Dremel scanner: maps surface as arrays of key/value structs
    val hand = graft.sources.ParquetNested.scanListStructColumn(spark, out, "m")
      .orderBy("row_idx").collect()
    want.zipWithIndex.foreach { case (row, i) =>
      val g = hand(i)
      if (row.isNullAt(1)) assert(g.getLong(2) == -1L, s"null map at $i")
      else {
        val m = row.getMap[String, Any](1)
        assert(g.getLong(2) == m.size.toLong, s"n_pairs at $i")
        val pairs = g.getSeq[scala.collection.Map[String, String]](3)
          .map(e => e("key") -> e.get("value").orNull).toMap
        val wantPairs = m.map { case (k, v) =>
          k -> (if (v == null) null else String.valueOf(v)) }.toMap
        assert(pairs == wantPairs, s"pairs at $i")
      }
    }
    // DuckDB (third independent reader; live when python3+duckdb present)
    val probe = new ProcessBuilder("python3", "-c", "import duckdb").start()
    if (probe.waitFor() == 0) {
      val script =
        s"""import duckdb, json
           |r = duckdb.sql("SELECT count(*), sum(CASE WHEN m IS NULL THEN 1 ELSE 0 END), sum(cardinality(m)), sum(list_sum(map_values(m))) FROM '$out/*.parquet'").fetchone()
           |print(json.dumps([str(x) for x in r]))""".stripMargin
      val p = new ProcessBuilder("python3", "-c", script).start()
      val outStr = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val err = new String(p.getErrorStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(p.waitFor() == 0, s"duckdb failed: $err")
      val got = outStr.stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      val nNull = (0 until 6000).count(_ % 11 == 0)
      val cardSum = (0 until 6000).map { i =>
        if (i % 11 == 0) 0 else if (i % 7 == 0) 0 else 2 }.sum
      // list_sum(map_values) skips NULL values: 2k+k for full maps,
      // 2k for the null-valued variant, nothing for empty/null maps
      val aSum = (0 until 6000).filter(i => i % 11 != 0 && i % 7 != 0)
        .map(i => if (i % 5 == 0) 2L * i else 3L * i).sum
      assert(got(0) == "6000", outStr)
      assert(got(1) == nNull.toString, outStr)
      assert(got(2) == cardSum.toString, outStr)
      assert(got(3) == aSum.toString, outStr)
    }
  }

  test("bloom sizing + bitset: power-of-two sizes, zero false negatives, fpp in range") {
    import graft.sources.ParquetBloom
    // sizing: power-of-two, monotone in ndv, clamped at both ends
    assert(ParquetBloom.optimalNumBytes(1, 0.01) == 32)
    val sizes = Seq(100L, 1000L, 10000L, 100000L).map(ParquetBloom.optimalNumBytes(_, 0.01))
    sizes.foreach(s => assert(s >= 32 && (s & (s - 1)) == 0, s"size $s"))
    assert(sizes == sizes.sorted)
    assert(ParquetBloom.optimalNumBytes(1L << 40, 0.01) == (1 << 20)) // cap
    // build + probe roundtrip: every inserted hash answers true
    val rnd = new scala.util.Random(42)
    val present = Array.fill(5000)(rnd.nextLong())
    val numBytes = ParquetBloom.optimalNumBytes(5000, 0.01)
    val bloom = new ParquetBloom.SplitBlockBloom(
      ParquetBloom.buildBits(present, numBytes))
    present.foreach(h => assert(bloom.mightContain(h)))
    // false positives on fresh random hashes stay near the target fpp
    val fp = (0 until 20000).count(_ => bloom.mightContain(rnd.nextLong()))
    assert(fp <= 20000 * 0.03, s"$fp false positives of 20000 at fpp 0.01")
  }

  test("bloom filters from OUR writer: parquet-mr and our reader agree probe-for-probe") {
    val out = tmpDir("pqw_bloom")
    // k: sparse longs (absents exist in-range); s: low-cardinality
    // strings — dictionary-encoded AND bloom-filtered in the same chunk
    val df = spark.range(20000).selectExpr("id * 7 AS k", "concat('v', id % 4096) AS s")
    ParquetWriter.writeDir(df.coalesce(1), out, codec = 1, pageRows = 4096,
      bloomColumns = Set("k", "s"))
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    val metas = fm.rowGroups.head.columns.flatMap(_.meta)
    val kMeta = metas.find(_.path == "k").get
    val sMeta = metas.find(_.path == "s").get
    assert(kMeta.bloomFilterOffset.nonEmpty && kMeta.bloomFilterLength.nonEmpty)
    assert(sMeta.bloomFilterOffset.nonEmpty && sMeta.encodings.contains(8),
      "the string chunk must be dict-encoded AND carry a bloom filter")
    val oursK = graft.sources.ParquetBloom
      .readBloomFilter(conf, path, kMeta, kMeta.bloomFilterOffset).get
    val oursS = graft.sources.ParquetBloom
      .readBloomFilter(conf, path, sMeta, sMeta.bloomFilterOffset).get

    val mr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try {
      val block = mr.getFooter.getBlocks.get(0)
      def mrCol(name: String) = (0 until block.getColumns.size).map(block.getColumns.get)
        .find(_.getPath.toDotString == name).get
      val mrK = mr.getBloomFilterDataReader(block).readBloomFilter(mrCol("k"))
      val mrS = mr.getBloomFilterDataReader(block).readBloomFilter(mrCol("s"))
      assert(mrK != null && mrS != null,
        "parquet-mr must parse our BloomFilterHeader + bitset")
      (0 until 2000).foreach { i =>
        val present = i.toLong * 7 * 10 // multiples of 7 in range
        val absent = i.toLong * 7 + 3   // never ≡ 0 (mod 7)
        Seq(present, absent).foreach { k =>
          val oursAns = oursK.mightContain(graft.sources.ParquetBloom.hashLong(k))
          assert(oursAns == mrK.findHash(mrK.hash(k)), s"disagree on k=$k")
        }
        assert(oursK.mightContain(graft.sources.ParquetBloom.hashLong(present)),
          s"false negative k=$present")
      }
      (0 until 4096).foreach { i =>
        val bin = org.apache.parquet.io.api.Binary.fromString(s"v$i")
        val h = graft.sources.ParquetBloom.hashBinary(s"v$i".getBytes("UTF-8"))
        assert(oursS.mightContain(h), s"false negative s=v$i")
        assert(mrS.findHash(mrS.hash(bin)), s"parquet-mr false negative s=v$i")
        val miss = org.apache.parquet.io.api.Binary.fromString(s"w$i")
        val hMiss = graft.sources.ParquetBloom.hashBinary(s"w$i".getBytes("UTF-8"))
        assert(oursS.mightContain(hMiss) == mrS.findHash(mrS.hash(miss)),
          s"disagree on s=w$i")
      }
    } finally mr.close()
  }

  test("probeCensus prunes hand-written multi-file dirs with zero false negatives") {
    val out = tmpDir("pqw_bloom_census")
    // 4 writer tasks with disjoint key ranges (multiples of 3)
    val df = spark.range(20000).selectExpr("id * 3 AS k", "concat('s', id) AS s")
      .repartitionByRange(4, col("k"))
    ParquetWriter.writeDir(df, out, codec = 1, bloomColumns = Set("k"))
    val present = Seq(0L, 3L, 30000L, 300L, 59997L)
    val absent = Seq(1L, 4L, 3001L, 44998L, 59998L) // never ≡ 0 (mod 3)
    val rows = graft.sources.ParquetBloom
      .probeCensus(spark, out, "k", present ++ absent).collect()
    assert(rows.length == 10 * 4)
    present.foreach { k =>
      assert(rows.exists(r => r.getLong(1) == k && r.getBoolean(2)), s"lost k=$k")
    }
    val absentProbes = rows.filter(r => absent.contains(r.getLong(1)))
    val fp = absentProbes.count(_.getBoolean(2))
    assert(fp <= absentProbes.length / 4, s"$fp false positives of ${absentProbes.length}")
    // each present key lives in exactly one range file; the other three
    // files' filters must prune it (disjoint ranges, fpp 0.01)
    val presentProbes = rows.filter(r => present.contains(r.getLong(1)))
    assert(presentProbes.count(_.getBoolean(2)) <= present.size + 2,
      "present keys should hit ~one file each")
  }

  test("probeCensusBinary: string-key probes over hand-written filters") {
    val out = tmpDir("pqw_bloom_str")
    // 3 files with disjoint string-id prefixes (the url/id-lookup shape)
    val df = spark.range(9000).selectExpr(
      "concat('id', CAST(id div 3000 AS INT), '_', id) AS k", "id AS v")
      .repartitionByRange(3, col("k"))
    ParquetWriter.writeDir(df, out, codec = 1, bloomColumns = Set("k"))
    val present = Seq("id0_5", "id1_4000", "id2_8999")
    val absent = Seq("id0_9001", "idX_1", "nope", "id1_20000")
    val rows = graft.sources.ParquetBloom
      .probeCensusBinary(spark, out, "k", present ++ absent).collect()
    assert(rows.length == 7 * 3)
    present.foreach { k =>
      assert(rows.exists(r => r.getString(1) == k && r.getBoolean(2)), s"lost $k")
    }
    val absentProbes = rows.filter(r => absent.contains(r.getString(1)))
    assert(absentProbes.count(_.getBoolean(2)) <= absentProbes.length / 4)
    // probing a LONG column through the binary form fails loudly
    val ex = intercept[org.apache.spark.SparkException] {
      graft.sources.ParquetBloom.probeCensusBinary(spark, out, "v", Seq("x")).collect()
    }
    assert(ex.getMessage.contains("BYTE_ARRAY") ||
      Option(ex.getCause).exists(_.getMessage.contains("BYTE_ARRAY")))
  }

  test("bloom contract: unsupported column types fail loudly") {
    val spec = ParquetWriter.ColSpec("d", 5, optional = false)
    intercept[IllegalArgumentException] {
      ParquetWriter.writeBytes(Seq((spec, Array[Any](1.0))), 1,
        bloomColumns = Set("d"))
    }
    intercept[IllegalArgumentException] {
      ParquetWriter.writeBytes(Seq((spec, Array[Any](1.0))), 1,
        bloomColumns = Set("nope"))
    }
  }

  test("loud contracts: nulls in a REQUIRED column, bad codec, bad type") {
    val spec = ParquetWriter.ColSpec("x", 2, optional = false)
    intercept[IllegalArgumentException] {
      ParquetWriter.writeBytes(Seq((spec, Array[Any](1L, null))), 2)
    }
    intercept[IllegalArgumentException] {
      ParquetWriter.writeBytes(Seq((spec, Array[Any](1L))), 1, codec = 6)
    }
    intercept[IllegalArgumentException] { ParquetWriter.ColSpec("x", 3, true) }
  }
}

/** The local filesystem served under its own URI scheme — a filesystem
  * that only a Hadoop conf naming `fs.<Scheme>.impl` can resolve.
  * Listings return plain statuses: the local status would load its
  * permissions through `java.io.File`, which rejects a non-`file` URI. */
class SessionOnlyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI =
    java.net.URI.create(s"${SessionOnlyLocalFs.Scheme}:///")
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))
}

object SessionOnlyLocalFs { val Scheme = "graftsessionfs" }
