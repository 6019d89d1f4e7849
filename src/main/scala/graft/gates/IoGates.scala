package graft
package gates

import org.apache.spark.sql.functions._

import graft.api.GraftFrame
import graft.operators.{Bzip2, Decompress, Gzip, Lz4, Snappy, TarCodec, Xz, ZipCodec, Zstd}
import graft.operators.OpUtil.fan
import graft.sources.{CsvOptions, CsvReader, JsonlOptions, JsonlReader, ParquetFooter}

import Fixtures._

/** Codecs and file I/O: CSV/JSONL/ORC/Avro round trips, the parquet
  * writer, footer and page readers, and the compression codecs. */
object IoGates {

  val gates: Seq[Gate] = Seq(
    // ----- §2.1 read_csv round-trip ------------------------------------
    Gate("csv_roundtrip")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_csv_${dir.hashCode.toHexString}"
      li(s, dir).select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").option("header", "true").csv(out)
      // Spark's writer backslash-escapes quotes → opt out of the
      // pandas-default RFC-4180 doublequote for the read-back
      val back = CsvReader.readCsv(s, out,
        CsvOptions(header = true, doublequote = false))
      back.agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        min("l_returnflag").as("min_flag"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |min(l_returnflag) AS min_flag
        |FROM lineitem""".stripMargin
    },
    // read_csv parity knobs end-to-end: a European-formatted file
    // ("1.234,56", ';'-separated) behind a 2-line preamble, read back
    // with skiprows + decimal + thousands (+ dtype, which owns numeric
    // conversion on this path). Values are integral×1000, so the
    // format_number round-trip is exact against the oracle's arithmetic.
    Gate("csv_skiprows_decimal")((s, dir) => {
      import s.implicits._
      val out = s"/root/repo/target/tmp/graft_csveu_${dir.hashCode.toHexString}"
      val body = li(s, dir).where(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_quantity")) * 1000, 2).as("v"))
        .select(lit(2L).as("ord"), col("l_orderkey").cast("long").as("sub"),
          concat(col("l_orderkey"), lit(";"),
            translate(format_number(col("v"), 2), ",.", ".,")).as("line"))
      val pre = Seq((0L, 0L, "junk preamble line"), (0L, 1L, "another;junk"),
        (1L, 0L, "key;val")).toDF("ord", "sub", "line")
      pre.union(body).coalesce(1).sortWithinPartitions("ord", "sub")
        .select("line").write.mode("overwrite").text(out)
      val back = CsvReader.readCsv(s, out, CsvOptions(
        sep = ";", header = true, skiprows = 2, decimal = ",",
        thousands = Some("."),
        dtype = Map(
          "key" -> org.apache.spark.sql.types.LongType,
          "val" -> org.apache.spark.sql.types.DoubleType)))
      back.agg(
        count(lit(1)).as("n_rows"),
        round(sum("val"), 2).as("sum_val"),
        sum("key").as("sum_keys"))
    }) {
      """WITH per AS (
        |  SELECT l_orderkey, round(sum(l_quantity) * 1000, 2) AS v
        |  FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(round(sum(v), 2) AS DOUBLE) AS sum_val,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_keys
        |FROM per""".stripMargin
    },

    // CSV kwargs parity tail (io.py:19,29-31,40,54-57): one generated
    // file exercising skipinitialspace (space after every delimiter),
    // skip_blank_lines=false (planted blank line per key%10 bucket →
    // all-null rows), true_values/false_values boolean sentinels on a
    // dtype-declared column, and index_col (flag surfaces first —
    // pinned via the first_col literal). Oracle recomputes every
    // census straight from the orders fixture.
    Gate("csv_kwargs_tail")((s, dir) => {
      import s.implicits._
      val out = s"/root/repo/target/tmp/graft_csvkw_${dir.hashCode.toHexString}"
      val keys = tbl(s, dir, "orders").where(col("o_orderkey") < 200)
      val body = keys.select(lit(1L).as("ord"),
        (col("o_orderkey") * 2).cast("long").as("sub"),
        concat(col("o_orderkey"), lit(", "),
          when(col("o_orderkey") % 3 === 0, "yes").otherwise("no")).as("line"))
      val blanks = keys.where(col("o_orderkey") % 10 === 0)
        .select(lit(1L).as("ord"),
          (col("o_orderkey") * 2 + 1).cast("long").as("sub"), lit("").as("line"))
      val pre = Seq((0L, 0L, "key,flag")).toDF("ord", "sub", "line")
      pre.union(body).union(blanks).coalesce(1)
        .sortWithinPartitions("ord", "sub")
        .select("line").write.mode("overwrite").text(out)
      val back = CsvReader.readCsv(s, out, CsvOptions(
        skipinitialspace = true, skipBlankLines = false,
        trueValues = Seq("yes"), falseValues = Seq("no"),
        dtype = Map("flag" -> org.apache.spark.sql.types.BooleanType),
        indexCol = Some("flag")))
      back.agg(
        count(lit(1)).as("n_rows"),
        count(col("key")).as("n_data"),
        sum(when(col("flag") === true, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("flag") === false, 1L).otherwise(0L)).as("n_false"))
        .withColumn("first_col", lit(back.columns.head))
    }) {
      """WITH ck AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 200)
        |SELECT
        |  CAST((SELECT count(*) FROM ck)
        |    + (SELECT count(*) FROM ck WHERE k % 10 = 0) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM ck) AS BIGINT) AS n_data,
        |  CAST((SELECT count(*) FROM ck WHERE k % 3 = 0) AS BIGINT) AS n_true,
        |  CAST((SELECT count(*) FROM ck WHERE k % 3 <> 0) AS BIGINT) AS n_false,
        |  'flag' AS first_col""".stripMargin
    },

    // JSONL round-trip (§2.1 extension): write the documents slice as
    // JSON Lines through the sink, read back on the explicit-schema
    // fast path (no inference scan), aggregate. Oracle recomputes the
    // aggregate straight from parquet — a field dropped, retyped, or
    // corrupted by either direction breaks the hash.
    Gate("jsonl_roundtrip")((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = s"/root/repo/target/tmp/graft_jsonl_${dir.hashCode.toHexString}"
      JsonlReader.writeJsonl(
        tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"), out)
      val back = JsonlReader.readJsonl(s, out, JsonlOptions(schema = Some(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType))))))
      back.agg(
        count(lit(1)).as("n_rows"),
        sum("n_chars").as("sum_chars"),
        min("lang").as("min_lang"),
        sum("doc_id").as("sum_ids"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(lang) AS min_lang,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents""".stripMargin
    },

    // ----- §2.1 parquet round-trip (write sink) ------------------------
    Gate("parquet_roundtrip")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pq_${dir.hashCode.toHexString}"
      new GraftFrame(li(s, dir).select("l_orderkey", "l_quantity"))
        .to_parquet(out)
      GraftFrame.read_parquet(s, out).toDF
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem""".stripMargin
    },
    // Hive-style partitioned layout — THE scan-side lever at 100 TB: a
    // query filtering on the partition column reads only its
    // directories (partition pruning), so the filtered aggregate below
    // scans 1/3 of the files, not all of them. PlanAuditSpec pins the
    // pruning in the plan; this gate pins the data fidelity.
    Gate("partitioned_write")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_part_${dir.hashCode.toHexString}"
      new GraftFrame(li(s, dir)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_quantity")))
        .to_parquet_partitioned(out, Seq("l_returnflag"))
      GraftFrame.read_parquet(s, out).toDF
        .where(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin
    },

    // Footer-only metadata scan (sources/ParquetFooter.scala): writes the
    // fact slice as four explicit key-range files, then reads back ONLY
    // their footers (hand-written Thrift-compact FileMetaData parse, a
    // few KB per file) and proves the row-group statistics equal the true
    // data stats the oracle recomputes from the table. The 100 TB shape:
    // one driver listing + an embarrassingly-parallel tail-read per file —
    // the manifest build every lake-scale engine runs, never touching
    // data pages. Bucket boundaries are closed-form integer arithmetic so
    // Spark and DuckDB can never disagree on a boundary row.
    Gate("parquet_footer_census")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_footer_${dir.hashCode.toHexString}"
      val src = li(s, dir).select("l_orderkey", "l_quantity")
      val m1 = src.agg(max("l_orderkey")).head.getLong(0) + 1 // boundary discovery
      // one partitionBy job (r19): the 4 buckets write in parallel; each
      // bucket's rows hash to one task, so it still comes out 1 file per
      // bucket with identical per-file footers
      src.withColumn("b", expr(s"(l_orderkey * 4) div $m1"))
        .repartition(col("b"))
        .write.mode("overwrite").partitionBy("b").parquet(out)
      ParquetFooter.columnStats(s, out)
        .where(col("column_path") === "l_orderkey")
        .withColumn("bucket", regexp_extract(col("file"), "/b=(\\d+)/", 1).cast("long"))
        .groupBy("bucket")
        .agg(countDistinct("file").as("n_files"),
          sum("rg_num_rows").as("n_rows"),
          min("min_long").as("min_ok"),
          max("max_long").as("max_ok"),
          sum(coalesce(col("null_count"), lit(0L))).as("nulls"))
        .orderBy("bucket")
    }) {
      // The gate's footer-derived per-bucket stats must equal the true data
      // stats (parquet writers record exact min/max/null_count for int64);
      // n_files is 1 by construction (coalesce(1) per bucket).
      """WITH m AS (SELECT max(l_orderkey) + 1 AS m1 FROM lineitem)
        |SELECT CAST((l_orderkey * 4) // m1 AS BIGINT) AS bucket,
        |CAST(1 AS BIGINT) AS n_files,
        |CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |CAST(max(l_orderkey) AS BIGINT) AS max_ok,
        |CAST(0 AS BIGINT) AS nulls
        |FROM lineitem, m GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // Row-group pruning decision census off the SAME footers: for the
    // fixed key range [30%, 45%] of the key span, which files can a scan
    // skip outright (stats max < lo or min > hi — the FileSourceScan /
    // Iceberg decision)? The oracle recomputes the identical decision
    // from per-bucket data min/max; matching proves footer-driven
    // pruning is exactly as selective as the data allows.
    Gate("parquet_prune_census")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_footer_${dir.hashCode.toHexString}"
      val src = li(s, dir).select("l_orderkey", "l_quantity")
      val m1 = src.agg(max("l_orderkey")).head.getLong(0) + 1
      src.withColumn("b", expr(s"(l_orderkey * 4) div $m1"))
        .repartition(col("b"))
        .write.mode("overwrite").partitionBy("b").parquet(out)
      val lo = 3 * m1 / 10; val hi = 9 * m1 / 20
      ParquetFooter.pruneCensus(s, out, "l_orderkey", lo, hi)
        .withColumn("bucket", regexp_extract(col("file"), "/b=(\\d+)/", 1).cast("long"))
        .groupBy("bucket")
        .agg(max(col("skipped").cast("int")).cast("boolean").as("skipped"),
          sum("rows_scanned").as("rows_scanned"))
        .orderBy("bucket")
    }) {
      """WITH m AS (SELECT max(l_orderkey) + 1 AS m1 FROM lineitem),
        |g AS (SELECT (l_orderkey * 4) // m1 AS bucket, count(*) AS n,
        |        min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |      FROM lineitem, m GROUP BY 1),
        |p AS (SELECT (3 * m1) // 10 AS lo, (9 * m1) // 20 AS hi FROM m)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |(mx < lo OR mn > hi) AS skipped,
        |CAST(CASE WHEN mx < lo OR mn > hi THEN 0 ELSE n END AS BIGINT)
        |  AS rows_scanned
        |FROM g, p ORDER BY 1""".stripMargin
    },
    // PAGE-level pruning census (ColumnIndex/OffsetIndex, the
    // PARQUET-1201 tier below row groups): one sorted tiny-page file;
    // the offset-index row walk must cover every row exactly
    // (n_rows), the column-index min/max must equal the data extremes,
    // boundary order must record ASCENDING for a sorted key, and the
    // kept pages must cover all matching rows while scanning fewer
    // than the whole file. Page boundaries are writer-internal, so the
    // oracle pins the data-derived facts and the three invariants.
    Gate("parquet_page_prune")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pageidx_${dir.hashCode.toHexString}"
      val src = li(s, dir).select("l_orderkey")
      val m1 = src.agg(max("l_orderkey")).head.getLong(0) + 1
      src.coalesce(1).sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").option("parquet.page.size", "2048").parquet(out)
      val lo = 3 * m1 / 10; val hi = 9 * m1 / 20
      val nMatch = src.where(col("l_orderkey") >= lo && col("l_orderkey") <= hi).count()
      ParquetFooter.pagePruneCensus(s, out, "l_orderkey", lo, hi)
        .agg(sum("page_rows").as("n_rows"),
          min("min_long").as("min_ok"),
          max("max_long").as("max_ok"),
          min("boundary_order").as("bo_min"),
          max("boundary_order").as("bo_max"),
          sum("rows_scanned").as("rows_scanned"))
        .select(col("n_rows"), lit(nMatch).as("n_match"),
          col("min_ok"), col("max_ok"),
          (col("bo_min") === 1 && col("bo_max") === 1).as("asc_order"),
          (col("rows_scanned") >= nMatch).as("covers"),
          (col("rows_scanned") < col("n_rows")).as("narrows"))
    }) {
      """WITH m AS (SELECT max(l_orderkey) + 1 AS m1 FROM lineitem),
        |p AS (SELECT (3 * m1) // 10 AS lo, (9 * m1) // 20 AS hi FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(CASE WHEN l_orderkey BETWEEN lo AND hi
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |CAST(max(l_orderkey) AS BIGINT) AS max_ok,
        |true AS asc_order, true AS covers, true AS narrows
        |FROM lineitem, p""".stripMargin
    },
    // Split-block Bloom filter probe (the third metadata tier): files
    // written with parquet blooms on the key; every PRESENT key must be
    // found both in its home range file and somewhere (zero false
    // negatives — the spec guarantee the oracle replays as `true`), and
    // false positives across 256 absent-key probes stay under a quarter
    // (fpp is ~0.01; the bound is deliberately loose so the gate is
    // stable, while the spec pins probe-for-probe parquet-mr agreement).
    Gate("parquet_bloom_probe")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_bloom_${dir.hashCode.toHexString}"
      val src = li(s, dir).select("l_orderkey")
      val m1 = src.agg(max("l_orderkey")).head.getLong(0) + 1
      src.withColumn("b", expr(s"(l_orderkey * 4) div $m1"))
        .repartition(col("b"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "20000")
        // a fully dictionary-encoded chunk makes parquet-mr drop the
        // bloom (the dictionary already answers membership exactly);
        // force plain encoding so the filter exists at every sf
        .option("parquet.enable.dictionary", "false")
        .partitionBy("b").parquet(out)
      val present = src.where(col("l_orderkey") % 977 === 0).distinct()
        .orderBy("l_orderkey").collect().map(_.getLong(0)).toSeq
      val absent = (0 until 64).map(i => m1 + 1 + i)
      val census = graft.sources.ParquetBloom
        .probeCensus(s, out, "l_orderkey", present ++ absent).cache()
      val fpCount = census.where(col("key") >= m1 && col("might_contain")).count()
      val absentOk = fpCount <= absent.size.toLong
      census.where(col("key") < m1)
        .withColumn("bucket", regexp_extract(col("file"), "/b=(\\d+)/", 1).cast("long"))
        .groupBy("key")
        .agg(
          max(when(col("bucket") === expr(s"(key * 4) div $m1"),
            col("might_contain").cast("int"))).as("home"),
          max(col("might_contain").cast("int")).as("anyf"))
        .select(col("key"), (col("home") === 1).as("found_home"),
          (col("anyf") === 1).as("found_any"), lit(absentOk).as("absent_fp_ok"))
        .orderBy("key")
    }) {
      """SELECT CAST(l_orderkey AS BIGINT) AS key,
        |true AS found_home, true AS found_any, true AS absent_fp_ok
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem
        |      WHERE l_orderkey % 977 = 0)
        |ORDER BY key""".stripMargin
    },
    // Hand-written data-page scan (sources/ParquetPages.scala): the fact
    // slice is written as ZSTD parquet with small pages, then BOTH
    // columns are read back through the repo's own page walk —
    // PageHeader thrift, zstd frame decode (RFC 8878, our decoder),
    // RLE/bit-packed definition levels, PLAIN + RLE_DICTIONARY values —
    // and aggregated. The oracle recomputes the same aggregates from the
    // source table, so any bit error anywhere in the chain flips a sum.
    Gate("parquet_page_scan")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_${dir.hashCode.toHexString}"
      li(s, dir).select("l_orderkey", "l_quantity")
        .coalesce(1).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.page.size", "8192")
        .parquet(out)
      graft.sources.ParquetPages.scanTwoColumns(s, out, "l_orderkey", "l_quantity")
        .agg(count(lit(1)).as("n_rows"),
          sum("a_long").as("sum_ok"),
          min("a_long").as("min_ok"),
          max("a_long").as("max_ok"),
          round(sum("b_double"), 2).as("sum_qty"),
          countDistinct("file").as("n_files"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |CAST(max(l_orderkey) AS BIGINT) AS max_ok,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |CAST(1 AS BIGINT) AS n_files
        |FROM lineitem""".stripMargin
    },
    // V2 data pages + the DELTA encoding family (round-16 VERDICT item
    // 5): dictionary OFF forces parquet-mr's v2 direct encodings —
    // doc_id rides DELTA_BINARY_PACKED, the high-cardinality text
    // column DELTA_BYTE_ARRAY (front coding) — through the V2 page
    // layout (raw un-prefixed level sections, values-only compression
    // boundary). The fixture is Spark-written; the oracle recomputes
    // the aggregates from the source table, so a single wrong delta or
    // suffix splice breaks the hash.
    Gate("parquet_page_scan_v2")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_v2_${dir.hashCode.toHexString}"
      tbl(s, dir, "documents").select("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.size", "8192")
        .parquet(out)
      graft.sources.ParquetPages.scanTwoColumns(s, out, "doc_id", "text")
        .agg(count(lit(1)).as("n_rows"),
          sum("a_long").as("sum_id"),
          min("a_long").as("min_id"),
          max("a_long").as("max_id"),
          sum(length(col("b_string"))).as("sum_len"),
          countDistinct("b_string").as("n_texts"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |CAST(min(doc_id) AS BIGINT) AS min_id,
        |CAST(max(doc_id) AS BIGINT) AS max_id,
        |CAST(sum(strlen(text)) AS BIGINT) AS sum_len,
        |CAST(count(DISTINCT text) AS BIGINT) AS n_texts
        |FROM documents""".stripMargin
    },
    // INT96 legacy timestamps (the physical type older Spark/Impala
    // lakes carry) through the hand reader: events written in INT96
    // mode, decoded back to epoch micros. Sums ride an epoch-2024
    // offset so they stay well inside Long.
    Gate("parquet_page_scan_int96")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_i96_${dir.hashCode.toHexString}"
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "INT96")
      try tbl(s, dir, "events")
        .select(col("user_id").cast("long").as("uid"), col("ts"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      graft.sources.ParquetPages.scanTwoColumns(s, out, "uid", "ts")
        .agg(count(lit(1)).as("n_rows"),
          sum("a_long").as("sum_uid"),
          min("b_long").as("min_us"),
          max("b_long").as("max_us"),
          sum(col("b_long") - lit(1704067200000000L)).as("sum_rel_us"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
        |CAST(max(epoch_us(ts)) AS BIGINT) AS max_us,
        |CAST(sum(epoch_us(ts) - 1704067200000000) AS BIGINT) AS sum_rel_us
        |FROM events""".stripMargin
    },
    // Repeated (LIST) columns through the hand reader (round-16
    // VERDICT stretch item 7): repetition levels assemble per-row
    // arrays (rep 0 starts a record), definition levels split null
    // list / empty list / null element / value. The fixture is the
    // documents table tokenized into array<string> and written as V2
    // pages (dictionary-encoded repeated values); the oracle replays
    // the split in SQL.
    Gate("parquet_page_scan_list")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_list_${dir.hashCode.toHexString}"
      tbl(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .coalesce(1).write.mode("overwrite")
        .option("parquet.writer.version", "v2")
        .option("parquet.page.size", "8192")
        .parquet(out)
      graft.sources.ParquetPages.scanListColumn(s, out, "toks")
        .agg(count(lit(1)).as("n_rows"),
          sum("n_elems").as("n_tokens"),
          sum(aggregate(col("elems"), lit(0L),
            (a, x) => a + coalesce(length(x).cast("long"), lit(0L)))).as("sum_len"),
          sum(when(col("n_elems") === -1L, 1L).otherwise(0L)).as("n_null_lists"))
    }) {
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_rows,
        |CAST((SELECT count(*) FROM w) AS BIGINT) AS n_tokens,
        |CAST((SELECT sum(strlen(tok)) FROM w) AS BIGINT) AS sum_len,
        |CAST(0 AS BIGINT) AS n_null_lists""".stripMargin
    },
    // STRUCT columns through the hand reader (round-17 VERDICT item 1):
    // the generic Dremel assembler rebuilds each record from the
    // leaves' value/def streams — null structs, null fields and the
    // field maps all land in the aggregates, which the oracle replays
    // from the source table. V2 pages + zstd exercise the newest
    // level/codec seams.
    Gate("parquet_page_scan_struct")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_st_${dir.hashCode.toHexString}"
      tbl(s, dir, "documents").selectExpr("doc_id",
        """CASE WHEN doc_id % 13 = 0 THEN CAST(NULL AS STRUCT<a: BIGINT, s: STRING>)
          |     ELSE named_struct('a', doc_id * 3,
          |       's', IF(doc_id % 5 = 0, CAST(NULL AS STRING), substring(text, 1, 40)))
          |END AS st""".stripMargin)
        .coalesce(1).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.writer.version", "v2")
        .option("parquet.page.size", "8192")
        .parquet(out)
      graft.sources.ParquetNested.scanStructColumn(s, out, "st")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null_structs"),
          sum(element_at(col("fields"), "a").cast("long")).as("sum_a"),
          sum(length(element_at(col("fields"), "s")).cast("long")).as("sum_len_s"),
          sum(when(!col("is_null") && element_at(col("fields"), "s").isNull, 1L)
            .otherwise(0L)).as("n_null_s"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_structs,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN doc_id * 3 ELSE 0 END) AS BIGINT) AS sum_a,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 5 <> 0
        |      THEN length(substring(text, 1, 40)) ELSE 0 END) AS BIGINT) AS sum_len_s,
        |CAST(sum(CASE WHEN doc_id % 13 <> 0 AND doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_s
        |FROM documents""".stripMargin
    },
    // LIST<STRUCT> through the hand reader: sibling leaves share the
    // repeated ancestor, per-leaf spans keep them aligned. The element
    // construction is pure doc_id arithmetic so the oracle replays it
    // closed-form.
    Gate("parquet_page_scan_list_struct")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_ls_${dir.hashCode.toHexString}"
      tbl(s, dir, "documents").selectExpr("doc_id",
        """CASE WHEN doc_id % 11 = 0 THEN CAST(NULL AS ARRAY<STRUCT<p: BIGINT, q: STRING>>)
          |     WHEN doc_id % 7 = 0 THEN array()
          |     ELSE transform(sequence(1, CAST(doc_id % 3 + 1 AS INT)), i ->
          |       named_struct('p', doc_id * i,
          |                    'q', IF(i = 2, CAST(NULL AS STRING), repeat('x', i))))
          |END AS xs""".stripMargin)
        .coalesce(1).write.mode("overwrite")
        .option("compression", "gzip")
        .option("parquet.page.size", "8192")
        .parquet(out)
      graft.sources.ParquetNested.scanListStructColumn(s, out, "xs")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("n_elems") === -1L, 1L).otherwise(0L)).as("n_null_lists"),
          sum(when(col("n_elems") >= 0L, col("n_elems")).otherwise(0L)).as("n_elems"),
          sum(aggregate(col("elems"), lit(0L),
            (a, m) => a + coalesce(element_at(m, "p").cast("long"), lit(0L)))).as("sum_p"),
          sum(aggregate(col("elems"), lit(0L),
            (a, m) => a + when(element_at(m, "q").isNull, 1L).otherwise(0L))).as("n_null_q"))
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN -1
        |         WHEN doc_id % 7 = 0 THEN 0
        |         ELSE doc_id % 3 + 1 END AS m
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(CASE WHEN m = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lists,
        |CAST(sum(CASE WHEN m > 0 THEN m ELSE 0 END) AS BIGINT) AS n_elems,
        |CAST(sum(CASE WHEN m > 0 THEN doc_id * ((m * (m + 1)) // 2) ELSE 0 END) AS BIGINT) AS sum_p,
        |CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_q
        |FROM d""".stripMargin
    },
    // LIST<LIST<BIGINT>> through the hand reader: two repetition
    // levels, null/empty at both depths, all doc_id arithmetic.
    Gate("parquet_page_scan_nested_list")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_pages_ll_${dir.hashCode.toHexString}"
      tbl(s, dir, "documents").selectExpr("doc_id",
        """CASE WHEN doc_id % 13 = 0 THEN CAST(NULL AS ARRAY<ARRAY<BIGINT>>)
          |     WHEN doc_id % 9 = 0 THEN array()
          |     ELSE transform(sequence(1, CAST(doc_id % 3 + 1 AS INT)), i ->
          |       CASE WHEN i = 2 AND doc_id % 5 = 0 THEN CAST(NULL AS ARRAY<BIGINT>)
          |            ELSE transform(sequence(1, i), j -> doc_id * 10 + CAST(j AS BIGINT)) END)
          |END AS xs""".stripMargin)
        .coalesce(1).write.mode("overwrite")
        .option("compression", "none")
        .option("parquet.writer.version", "v2")
        .option("parquet.page.size", "8192")
        .parquet(out)
      graft.sources.ParquetNested.scanNestedListColumn(s, out, "xs")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("n_outer") === -1L, 1L).otherwise(0L)).as("n_null_outer"),
          sum(when(col("n_outer") >= 0L, col("n_outer")).otherwise(0L)).as("n_inner"),
          sum(aggregate(col("elems"), lit(0L),
            (a, x) => a + when(x.isNull, 1L).otherwise(0L))).as("n_inner_null"),
          sum(aggregate(col("elems"), lit(0L),
            (a, x) => a + coalesce(aggregate(x, lit(0L),
              (b, y) => b + coalesce(y.cast("long"), lit(0L))), lit(0L)))).as("sum_vals"))
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN -1
        |         WHEN doc_id % 9 = 0 THEN 0
        |         ELSE doc_id % 3 + 1 END AS m,
        |    CASE WHEN doc_id % 13 <> 0 AND doc_id % 9 <> 0
        |          AND doc_id % 3 + 1 >= 2 AND doc_id % 5 = 0 THEN 1 ELSE 0 END AS inul
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(CASE WHEN m = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_outer,
        |CAST(sum(CASE WHEN m > 0 THEN m ELSE 0 END) AS BIGINT) AS n_inner,
        |CAST(sum(inul) AS BIGINT) AS n_inner_null,
        |CAST(sum(CASE WHEN m > 0 THEN
        |    10 * doc_id * ((m * (m + 1)) // 2)
        |    + CASE m WHEN 1 THEN 1 WHEN 2 THEN 4 ELSE 10 END
        |    - inul * (20 * doc_id + 3)
        |  ELSE 0 END) AS BIGINT) AS sum_vals
        |FROM d""".stripMargin
    },
    // Hand parquet WRITE path (round 18): a lineitem slice is written
    // by the hand writer — PLAIN V1 pages, RLE def levels, snappy via
    // the repo's own compressor, a hand-built Thrift compact footer —
    // and read back by SPARK'S OWN reader (independent implementation);
    // any footer/page bit error breaks the read or flips a sum. Nulls
    // ride a constructed optional string column.
    Gate("parquet_hand_write")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_hand_write_${dir.hashCode.toHexString}"
      val src = li(s, dir).selectExpr(
        "l_orderkey",
        "CAST(l_quantity AS DOUBLE) AS qty",
        "IF(l_linenumber % 3 = 0, CAST(NULL AS STRING), l_returnflag) AS rf",
        "l_linenumber % 2 = 0 AS even",
        """CASE WHEN l_orderkey % 9 = 0 THEN CAST(NULL AS ARRAY<BIGINT>)
          |     WHEN l_linenumber % 4 = 0 THEN array()
          |     ELSE sequence(CAST(1 AS BIGINT), l_linenumber % 4)
          |END AS xs""".stripMargin)
      // core-count writer tasks (r19): the output aggregates only data
      // content, so the file count is free to follow the parallelism
      // (parquet_hand_write_dict keeps 4 — its n_chunks counts files)
      graft.sources.ParquetWriter.writeDir(
        src.repartition(s.sparkContext.defaultParallelism), out,
        codec = 1, pageRows = 4096)
      s.read.parquet(out).agg(
        count(lit(1)).as("n_rows"),
        sum("l_orderkey").as("sum_ok"),
        round(sum("qty"), 2).as("sum_qty"),
        sum(when(col("rf").isNull, 1L).otherwise(0L)).as("n_null_rf"),
        sum(length(col("rf")).cast("long")).as("sum_rf_len"),
        sum(when(col("even"), 1L).otherwise(0L)).as("n_even"),
        sum(when(col("xs").isNull, 1L).otherwise(0L)).as("n_null_xs"),
        sum(coalesce(size(col("xs")).cast("long"), lit(0L))).as("n_xs_elems"),
        sum(coalesce(aggregate(col("xs"), lit(0L), (a, x) => a + x), lit(0L)))
          .as("sum_xs"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |CAST(sum(CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rf,
        |CAST(sum(CASE WHEN l_linenumber % 3 = 0 THEN 0
        |         ELSE strlen(l_returnflag) END) AS BIGINT) AS sum_rf_len,
        |CAST(sum(CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_xs,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 THEN 0 ELSE l_linenumber % 4 END) AS BIGINT) AS n_xs_elems,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 THEN 0
        |         ELSE ((l_linenumber % 4) * (l_linenumber % 4 + 1)) // 2 END) AS BIGINT) AS sum_xs
        |FROM lineitem""".stripMargin
    },
    // Dictionary-encoded hand write (r18 VERDICT item 2): the two
    // low-cardinality string columns must REALLY come out RLE_DICTIONARY
    // (footer census `uses_dictionary` — a silent PLAIN fallback can't
    // fake the constants), and the repo's OWN page reader decodes the
    // dict + index pages back to value-exact strings. Spark reads the
    // same writer's dict output in parquet_hand_write (rf is
    // dictionary-encoded there since r19); DuckDB covers the third
    // reader in ParquetWriterSpec.
    Gate("parquet_hand_write_dict")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_hand_dict_${dir.hashCode.toHexString}"
      val src = li(s, dir).selectExpr("l_orderkey", "l_returnflag",
        "IF(l_linenumber % 3 = 0, CAST(NULL AS STRING), l_linestatus) AS ls")
      // 4 parallel writer tasks (the writeDir scale shape); every file's
      // two string chunks stay far below the dict caps
      graft.sources.ParquetWriter.writeDir(src.repartition(4), out,
        codec = 1, pageRows = 4096)
      val vals = graft.sources.ParquetPages
        .scanTwoColumns(s, out, "l_orderkey", "l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("a_long").as("sum_ok"),
          sum(length(col("b_string")).cast("long")).as("sum_rf_len"),
          countDistinct(col("b_string")).as("n_flags"))
      val dict = ParquetFooter.columnStats(s, out)
        .agg(sum(when(col("uses_dictionary"), 1L).otherwise(0L)).as("n_dict_chunks"),
          count(lit(1)).as("n_chunks"))
      vals.crossJoin(dict)
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |CAST(sum(strlen(l_returnflag)) AS BIGINT) AS sum_rf_len,
        |CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
        |CAST(8 AS BIGINT) AS n_dict_chunks,
        |CAST(12 AS BIGINT) AS n_chunks
        |FROM lineitem""".stripMargin
    },
    // MAP columns through the hand writer (r18 VERDICT item 6): the
    // standard two-leaf key_value shape with null maps, empty maps and
    // null VALUES under a present key — read back by Spark's own
    // reader; the repo's Dremel scanner + DuckDB cover the same shape
    // in ParquetWriterSpec.
    Gate("parquet_hand_write_map")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_hand_map_${dir.hashCode.toHexString}"
      val src = li(s, dir).selectExpr("l_orderkey",
        """CASE WHEN l_orderkey % 9 = 0 THEN CAST(NULL AS MAP<STRING, BIGINT>)
          |     WHEN l_linenumber % 4 = 0 THEN map()
          |     ELSE map('qty', CAST(l_quantity AS BIGINT),
          |              'line', CAST(l_linenumber AS BIGINT),
          |              concat('f', l_returnflag), CAST(NULL AS BIGINT))
          |END AS m""".stripMargin)
      // core-count writer tasks (r19): content-only aggregates, see
      // parquet_hand_write
      graft.sources.ParquetWriter.writeDir(
        src.repartition(s.sparkContext.defaultParallelism), out,
        codec = 1, pageRows = 4096)
      s.read.parquet(out).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_null_m"),
        sum(coalesce(size(col("m")).cast("long"), lit(0L))).as("n_pairs"),
        sum(coalesce(col("m").getItem("qty"), lit(0L))).as("sum_qty"),
        // the f-key is PRESENT with a null value — distinguishes a
        // null-valued pair from a missing key (only (l_orderkey, m)
        // exist in the written file, so probe by key shape)
        sum(when(expr(
          "m IS NOT NULL AND exists(map_keys(m), k -> k LIKE 'f%')"),
          1L).otherwise(0L)).as("n_fkey"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_m,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 OR l_linenumber % 4 = 0 THEN 0
        |         ELSE 3 END) AS BIGINT) AS n_pairs,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 OR l_linenumber % 4 = 0 THEN 0
        |         ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS sum_qty,
        |CAST(sum(CASE WHEN l_orderkey % 9 = 0 OR l_linenumber % 4 = 0 THEN 0
        |         ELSE 1 END) AS BIGINT) AS n_fkey
        |FROM lineitem""".stripMargin
    },
    // Bloom filters from the HAND writer (round 19): the same
    // probe census as parquet_bloom_probe, but the filters under test
    // were written by the repo's own ParquetWriter (XXH64 + split-block
    // bitset + BloomFilterHeader, zero parquet-mr) — every present key
    // must answer true in its home range file, absents stay under the
    // loose fp bound; the spec additionally pins probe-for-probe
    // parquet-mr agreement on the same writer output.
    Gate("parquet_hand_write_bloom")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_hand_bloom_${dir.hashCode.toHexString}"
      val src = li(s, dir).select("l_orderkey")
      val m1 = src.agg(max("l_orderkey")).head.getLong(0) + 1
      (0L until 4L).foreach { b =>
        graft.sources.ParquetWriter.writeDir(
          src.where(expr(s"(l_orderkey * 4) div $m1") === b).coalesce(1),
          s"$out/b=$b", codec = 1, bloomColumns = Set("l_orderkey"))
      }
      val present = src.where(col("l_orderkey") % 977 === 0).distinct()
        .orderBy("l_orderkey").collect().map(_.getLong(0)).toSeq
      val absent = (0 until 64).map(i => m1 + 1 + i)
      val census = graft.sources.ParquetBloom
        .probeCensus(s, out, "l_orderkey", present ++ absent).cache()
      val fpCount = census.where(col("key") >= m1 && col("might_contain")).count()
      val absentOk = fpCount <= absent.size.toLong
      census.where(col("key") < m1)
        .withColumn("bucket", regexp_extract(col("file"), "/b=(\\d+)/", 1).cast("long"))
        .groupBy("key")
        .agg(
          max(when(col("bucket") === expr(s"(key * 4) div $m1"),
            col("might_contain").cast("int"))).as("home"),
          max(col("might_contain").cast("int")).as("anyf"))
        .select(col("key"), (col("home") === 1).as("found_home"),
          (col("anyf") === 1).as("found_any"), lit(absentOk).as("absent_fp_ok"))
        .orderBy("key")
    }) {
      """SELECT CAST(l_orderkey AS BIGINT) AS key,
        |true AS found_home, true AS found_any, true AS absent_fp_ok
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem
        |      WHERE l_orderkey % 977 = 0)
        |ORDER BY key""".stripMargin
    },
    // High-precision DECIMAL page decode: precision 25 forces the
    // FIXED_LEN_BYTE_ARRAY physical form (big-endian two's-complement
    // unscaled), constructed as exact eighths (k/8 is exact in binary
    // AND in 3 decimal digits, so the double->decimal cast can never
    // round differently across engines). The hand reader surfaces the
    // unscaled long; sums are integer-exact against the oracle.
    Gate("parquet_decimal_scan")((s, dir) => {
      val out = s"/root/repo/target/tmp/graft_dec_${dir.hashCode.toHexString}"
      li(s, dir).selectExpr("l_orderkey",
        "CAST(CAST(l_orderkey AS DOUBLE) / 8 AS DECIMAL(25, 3)) AS d")
        .coalesce(1).write.mode("overwrite").parquet(out)
      graft.sources.ParquetPages.scanTwoColumns(s, out, "l_orderkey", "d")
        .agg(count(lit(1)).as("n_rows"),
          sum("b_long").as("sum_unscaled"),
          min("b_long").as("min_unscaled"),
          max("b_long").as("max_unscaled"),
          sum(when(col("b_long") === col("a_long") * 125, 1L).otherwise(0L))
            .as("n_exact"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(sum(l_orderkey) * 125 AS BIGINT) AS sum_unscaled,
        |CAST(min(l_orderkey) * 125 AS BIGINT) AS min_unscaled,
        |CAST(max(l_orderkey) * 125 AS BIGINT) AS max_unscaled,
        |CAST(count(*) AS BIGINT) AS n_exact
        |FROM lineitem""".stripMargin
    },
    // Zstd DICTIONARY decode (RFC 8878 S5): a CLI-trained dictionary
    // + CLI-compressed frames embedded as real-interop fixtures; the
    // dictionary parses once per partition (broadcast state shape) and
    // both engines agree on the md5 of the decoded bytes.
    Gate("zstd_dict_decode")((s, dir) => {
      import s.implicits._
      val rows = Seq(
        ("p1", graft.operators.ZstdDictData.p1Bytes),
        ("p2", graft.operators.ZstdDictData.p2Bytes)).toDF("name", "frame")
      rows.as[(String, Array[Byte])].mapPartitions { it =>
        val d = graft.operators.Zstd.parseDictionary(
          graft.operators.ZstdDictData.dictBytes)
        it.map { case (n, f) =>
          (n, f.length, new String(graft.operators.Zstd.decode(f, d), "UTF-8"))
        }
      }.toDF("name", "frame_len", "text")
        .select(col("name"), col("frame_len"),
          length(col("text")).as("out_len"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("name")
    }) {
      // zstd dictionary: the two plaintexts reconstructed as string
      // arithmetic; md5 proves byte identity across engines
      """WITH zd AS (
        |  SELECT 'p1' AS name, CAST(55 AS INTEGER) AS frame_len,
        |    'SELECT broadcast partition shuffle aggregate FROM lineitem WHERE predicate pushdown codegen window bucket salt skew exchange parquet catalyst orders;' AS text
        |  UNION ALL
        |  SELECT 'p2', CAST(40 AS INTEGER),
        |    'SELECT ' || rtrim(repeat('shuffle partition broadcast ', 40))
        |      || ' FROM orders;'
        |)
        |SELECT name, frame_len, CAST(length(text) AS INTEGER) AS out_len,
        |  md5(text) AS text_md5
        |FROM zd ORDER BY name""".stripMargin
    },
    // ORC round-trip: documents written as ORC (the Hive-ecosystem
    // columnar format) and read back — Spark-native writer/reader
    // through the GraftFrame facade; the oracle is the source table.
    Gate("orc_roundtrip")((s, dir) => {
      val out = s"${scratchDir("orc")}/documents_orc"
      new GraftFrame(tbl(s, dir, "documents").select(col("doc_id"), col("text")))
        .to_orc(out)
      GraftFrame.read_orc(s, out).df
        .select(col("doc_id"), col("text").as("txt"))
        .orderBy("doc_id")
    }) {
      "SELECT doc_id, text AS txt FROM documents ORDER BY doc_id"
    },
    // Mixed-corpus decompression dispatch: per doc the payload is
    // compressed with a bucket-chosen codec (gzip / bzip2 / xz / raw
    // by doc_id%4) and ONE auto call must sniff and route — the
    // compression sibling of the unified audio dispatcher. The oracle
    // replays the format tag and the recovered text.
    Gate("decompress_auto")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      fan(tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text")))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val raw = text.getBytes(UTF_8)
          val payload = (id % 7) match {
            case 0 => Gzip.gzip(raw)
            case 1 => Bzip2.encode(raw)
            case 2 => Xz.encode(raw)
            case 3 => Zstd.encode(raw)
            case 4 => Lz4.encode(raw)
            case 5 => Snappy.encodeFramed(raw)
            case _ => raw
          }
          val (fmt, out) = Decompress.auto(payload)
          (id, fmt, new String(out, UTF_8))
        })
        .toDF("doc_id", "format", "txt")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  CASE CAST(doc_id % 7 AS INTEGER)
        |    WHEN 0 THEN 'gzip' WHEN 1 THEN 'bzip2' WHEN 2 THEN 'xz'
        |    WHEN 3 THEN 'zstd' WHEN 4 THEN 'lz4' WHEN 5 THEN 'snappy'
        |    ELSE 'raw' END AS format,
        |  text AS txt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // xz round-trip per doc: stored-LZMA2 container encode (size is a
    // closed form the oracle recomputes, varint widths included) and
    // the full decode path — header/index/footer CRCs, LZMA2 chunk
    // walk, block check. The recovered text is the compared value.
    Gate("xz_roundtrip")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val raw = text.getBytes(UTF_8)
          val x = Xz.encode(raw)
          (id, x.length.toLong, new String(Xz.decode(x), UTF_8))
        })
        .toDF("doc_id", "xz_len", "txt")
        .orderBy("doc_id")
    }) {
      // storedXzSize replay for single-chunk texts (corpus max 577 B ≪
      // 64 KiB and < 16 KiB, so chunk count is 1 and varints are 1 or 2
      // bytes by the 128 threshold).
      """WITH t AS (
        |  SELECT doc_id, text, strlen(text) AS n FROM documents
        |), s AS (
        |  SELECT doc_id, text,
        |    ((n + 4 + 3) // 4) * 4 AS padded,
        |    2 + (CASE WHEN n + 20 < 128 THEN 1 ELSE 2 END)
        |      + (CASE WHEN n < 128 THEN 1 ELSE 2 END) AS idxp
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(12 + 12 + padded + 4 + ((idxp + 3) // 4) * 4 + 4 + 12 AS BIGINT)
        |    AS xz_len,
        |  text AS txt
        |FROM s ORDER BY doc_id""".stripMargin
    },
    // zstd round-trip per doc BOTH ways: the real compressor (greedy
    // LZ + predefined-FSE sequence coding, XXH64 checksum) and the
    // stored mode whose size is a closed form the oracle recomputes.
    // The recovered text is the compared value, so any FSE state,
    // bitstream or offset-history bug surfaces as a value mismatch.
    Gate("zstd_roundtrip")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      fan(tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text")))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val raw = text.getBytes(UTF_8)
          val stored = Zstd.encodeStored(raw)
          val okStored =
            if (java.util.Arrays.equals(Zstd.decode(stored), raw)) 1 else 0
          (id, stored.length.toLong, okStored,
            new String(Zstd.decode(Zstd.encode(raw)), UTF_8))
        })
        .toDF("doc_id", "stored_len", "ok_stored", "txt")
        .orderBy("doc_id")
    }) {
      // storedSize replay: 4 magic + 1 descriptor + fcs(1 if n<256 else
      // 2; corpus max 577 B) + 3 per block (one: max doc ≪ 128 KiB) +
      // n + 4 checksum.
      """WITH t AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
        |)
        |SELECT doc_id,
        |  CAST(12 + n + CASE WHEN n < 256 THEN 1 ELSE 2 END AS BIGINT)
        |    AS stored_len,
        |  CAST(1 AS INTEGER) AS ok_stored,
        |  text AS txt
        |FROM t ORDER BY doc_id""".stripMargin
    },
    // Snappy round-trip per doc, BOTH formats: raw block (the
    // parquet/Hadoop page shape) and framed .sz stream. The all-stored
    // framed size is a closed form the oracle recomputes; ok_stored
    // also folds in the block-format roundtrip.
    Gate("snappy_roundtrip")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      fan(tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text")))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val raw = text.getBytes(UTF_8)
          val stored = Snappy.encodeFramedStored(raw)
          val okStored =
            if (java.util.Arrays.equals(Snappy.decodeFramed(stored), raw) &&
              java.util.Arrays.equals(Snappy.uncompress(Snappy.compress(raw)), raw))
              1 else 0
          (id, stored.length.toLong, okStored,
            new String(Snappy.decodeFramed(Snappy.encodeFramed(raw)), UTF_8))
        })
        .toDF("doc_id", "stored_len", "ok_stored", "txt")
        .orderBy("doc_id")
    }) {
      // framedStoredSize replay: 10-byte stream id + 8 per 64 KiB chunk
      // + n.
      """WITH t AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
        |)
        |SELECT doc_id,
        |  CAST(10 + 8 * ((n + 65535) // 65536) + n AS BIGINT) AS stored_len,
        |  1 AS ok_stored,
        |  text AS txt
        |FROM t ORDER BY doc_id""".stripMargin
    },
    // LZ4 frame round-trip per doc: stored-mode size is a closed form
    // the oracle recomputes (magic + descriptor + content size + one
    // 64 KiB-block header per block + EndMark + XXH32 checksum), and
    // the greedy-compressed frame must decode back to the text.
    Gate("lz4_roundtrip")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val raw = text.getBytes(UTF_8)
          val stored = Lz4.encodeStored(raw)
          val okStored =
            if (java.util.Arrays.equals(Lz4.decode(stored), raw)) 1 else 0
          (id, stored.length.toLong, okStored,
            new String(Lz4.decode(Lz4.encode(raw)), UTF_8))
        })
        .toDF("doc_id", "stored_len", "ok_stored", "txt")
        .orderBy("doc_id")
    }) {
      // Lz4.storedSize replay: 4 magic + 3 FLG/BD/HC + 8 content size +
      // n + 4 per 64 KiB block + 4 EndMark + 4 content checksum.
      """WITH t AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
        |)
        |SELECT doc_id,
        |  CAST(23 + n + 4 * ((n + 65535) // 65536) AS BIGINT) AS stored_len,
        |  1 AS ok_stored,
        |  text AS txt
        |FROM t ORDER BY doc_id""".stripMargin
    },
    // bzip2 round-trip per doc through the full hand-written pipeline
    // BOTH ways: RLE1 → BWT → MTF/RLE2 → Huffman on encode, the
    // complete inverse (+ both CRC tiers) on decode. The recovered
    // text itself is the compared value, so any BWT orientation, MTF,
    // run-coding or bit-packing bug surfaces as a value mismatch.
    Gate("bz2_roundtrip")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      fan(tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text")))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, new String(Bzip2.decode(Bzip2.encode(text.getBytes(UTF_8))), UTF_8))
        })
        .toDF("doc_id", "txt")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id, text AS txt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // WebDataset shard round-trip: per group, a gzipped ustar tar of
    // (<id>.txt, <id>.meta) entry pairs — built with the hand-written
    // tar writer + LZ77 gzip, then ingested back through gunzip, the
    // checksum-verified tar walk and stem pairing. The oracle replays
    // the recovered samples straight from documents.
    Gate("webdataset_roundtrip")((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang").as("meta"))
      val shards = TarCodec.webdatasetBuild(docs, shards = blobGroups(s))
      TarCodec.webdatasetIngest(shards).orderBy("doc_id")
    }) {
      """SELECT doc_id, text AS txt, lang AS meta
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Avro OCF round-trip: per group one container file (deflate
    // codec) of (id, text) records through the hand-written binary
    // encoding + container walk, decoded back. Avro is the remaining
    // data-lake interchange format next to parquet/ORC (Spark-native)
    // and csv/jsonl.
    Gate("avro_roundtrip")((s, dir) => {
      import s.implicits._
      import graft.sources.AvroCodec
      val schema = AvroCodec.AvRecord("Doc", Vector(
        AvroCodec.AvField("id", AvroCodec.ALong),
        AvroCodec.AvField("text", AvroCodec.AString)))
      val groups = blobGroups(s) // hoisted: the key fn runs on executors
      tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 % groups)
        .mapGroups { (_, it) =>
          AvroCodec.encode(schema,
            it.toSeq.sortBy(_._1).map { case (id, t) => Seq[Any](id, t) },
            codec = "deflate")
        }
        .flatMap { blob =>
          AvroCodec.decode(blob)._2.map(r =>
            (r(0).asInstanceOf[Long], r(1).asInstanceOf[String]))
        }
        .toDF("doc_id", "txt")
        .orderBy("doc_id")
    }) {
      "SELECT doc_id, text AS txt FROM documents ORDER BY doc_id"
    },
    // ZIP archive round-trip: per group one archive of `<id>.txt`
    // members (scraped datasets ship zipped), built and re-read
    // through the hand-written central-directory walk — deflate via
    // the in-house codec, CRC-32 verified per member.
    Gate("zip_roundtrip")((s, dir) => {
      import s.implicits._
      import java.nio.charset.StandardCharsets.UTF_8
      val groups = blobGroups(s) // hoisted: the key fn runs on executors
      tbl(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 % groups)
        .mapGroups { (_, it) =>
          ZipCodec.encode(it.toSeq.sortBy(_._1).map { case (id, text) =>
            ZipCodec.Entry(s"$id.txt", text.getBytes(UTF_8))
          })
        }
        .flatMap { blob =>
          ZipCodec.decode(blob).map { e =>
            (e.name.stripSuffix(".txt").toLong, new String(e.data, UTF_8))
          }
        }
        .toDF("doc_id", "txt")
        .orderBy("doc_id")
    }) {
      "SELECT doc_id, text AS txt FROM documents ORDER BY doc_id"
    },
  )

}
