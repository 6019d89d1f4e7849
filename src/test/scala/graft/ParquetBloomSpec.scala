package graft

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.functions._

import graft.gates.Fixtures
import graft.sources.{ParquetBloom, ParquetFooter}

/** Split-block Bloom filter reader against parquet-mr's independent
  * implementation, plus XXH64 spec vectors. */
class ParquetBloomSpec extends SparkSpec {

  private def tmpDir(name: String): String = Fixtures.scratchDir(name)

  test("XXH64 matches the reference test vectors (xxHash spec)") {
    // the canonical sanity vectors: xxh64("", 0) and known strings
    assert(ParquetBloom.xxh64(Array.emptyByteArray, 0L) == 0xef46db3751d8e999L)
    assert(ParquetBloom.xxh64("a".getBytes("UTF-8"), 0L) == 0xd24ec4f1a98c6e5bL)
    assert(ParquetBloom.xxh64("abc".getBytes("UTF-8"), 0L) == 0x44bc2cf5ad770999L)
    // >32-byte input exercises the four-lane stripe loop
    val long = "0123456789abcdef0123456789abcdef0123456789".getBytes("UTF-8")
    // cross-check the stripe path against parquet-mr's XxHash (itself
    // an independent implementation of the same spec)
    val mr = new org.apache.parquet.column.values.bloomfilter.XxHash()
    assert(ParquetBloom.xxh64(long, 0L) == mr.hashBytes(long))
  }

  test("hashLong equals parquet-mr's plain-encoded long hash") {
    val mr = new org.apache.parquet.column.values.bloomfilter.XxHash()
    Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 987654321L).foreach { v =>
      val plain = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
      assert(ParquetBloom.hashLong(v) == mr.hashBytes(plain), s"v=$v")
    }
  }

  test("bloom probe agrees with parquet-mr's reader on a Spark-written filter") {
    val out = tmpDir("pqbloom")
    spark.range(20000).selectExpr("id * 7 AS k") // sparse keys: absents exist
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "20000")
      .parquet(out)
    val (path, len) = ParquetFooter.listDataFiles(spark, out).head
    val conf = new Configuration()
    val fm = ParquetFooter.readFooter(conf, path, len)
    val meta = fm.rowGroups.head.columns.flatMap(_.meta).find(_.path == "k").get
    assert(meta.bloomFilterOffset.nonEmpty, "writer must have emitted a bloom filter")
    val ours = ParquetBloom.readBloomFilter(conf, path, meta, meta.bloomFilterOffset).get

    val mr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf))
    try {
      val block = mr.getFooter.getBlocks.get(0)
      val mc = (0 until block.getColumns.size).map(block.getColumns.get)
        .find(_.getPath.toDotString == "k").get
      val mrBloom = mr.getBloomFilterDataReader(block).readBloomFilter(mc)
      assert(mrBloom != null)
      // every present key found by BOTH (zero false negatives), and the
      // maybe-answers agree probe-for-probe on 4000 mixed keys
      (0 until 2000).foreach { i =>
        val present = i.toLong * 7 * 10 // multiples of 7 within range, strided
        val absent = i.toLong * 7 + 3   // never ≡ 0 (mod 7)
        Seq(present, absent).foreach { k =>
          val oursAns = ours.mightContain(ParquetBloom.hashLong(k))
          val mrAns = mrBloom.findHash(mrBloom.hash(k))
          assert(oursAns == mrAns, s"disagree on k=$k")
        }
        assert(ours.mightContain(ParquetBloom.hashLong(present)))
      }
    } finally mr.close()
  }

  test("probeCensus: zero false negatives, absents mostly pruned") {
    val out = tmpDir("pqbloomc")
    // 4 files with disjoint key ranges
    (0 until 4).foreach { b =>
      spark.range(b * 5000L, (b + 1) * 5000L).selectExpr("id * 3 AS k")
        .coalesce(1).write.mode(if (b == 0) "overwrite" else "append")
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", "5000")
        .parquet(out)
    }
    val present = Seq(0L, 3L, 14999L * 3, 300L)      // multiples of 3
    val absent = Seq(1L, 4L, 3001L, 44998L)           // never ≡ 0 (mod 3)
    val census = ParquetBloom.probeCensus(spark, out, "k", present ++ absent)
    val rows = census.collect()
    assert(rows.length == 8 * 4) // 8 keys x 4 files
    // no false negatives: each present key found in at least one file
    present.foreach { k =>
      assert(rows.exists(r => r.getLong(1) == k && r.getBoolean(2)), s"lost k=$k")
    }
    // pruning does real work: most (file, absent-key) probes answer no
    val absentProbes = rows.filter(r => absent.contains(r.getLong(1)))
    val fp = absentProbes.count(_.getBoolean(2))
    assert(fp <= absentProbes.length / 4, s"$fp false positives of ${absentProbes.length}")
  }

  test("corrupt bloom header fails loudly") {
    intercept[IllegalArgumentException](
      ParquetBloom.parseBloomHeader(new Array[Byte](64))) // all zeros: no fields
    val bad = new Array[Byte](64)
    bad(0) = 0x15; bad(1) = 0x40 // numBytes = 32 zigzag, then garbage stop
    intercept[IllegalArgumentException](ParquetBloom.parseBloomHeader(bad))
  }
}
