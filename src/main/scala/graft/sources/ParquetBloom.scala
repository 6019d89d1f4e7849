package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Bytes

/** Parquet split-block Bloom filters (the third metadata tier after
  * row-group stats and page indexes): a hand-written XXH64 plus the
  * split-block probe, both straight off the public specs —
  * `parquet-format/BloomFilter.md` (8×32-bit blocks, the eight salt
  * constants, `((h >> 32) · nBlocks) >> 32` block selection, top-5-bit
  * word positions) and the xxHash spec (Collet). No parquet-mr in main
  * code; the spec cross-checks probe-for-probe against parquet-mr's
  * independent reader.
  *
  * Why this matters at 100 TB: min/max stats prune RANGE predicates but
  * do nothing for point lookups on high-cardinality unsorted keys —
  * exactly the join-key / id-lookup case. The Bloom filter answers
  * "might this file contain key k?" from a few KB per column chunk with
  * zero false negatives, so a point-in join probe can skip most files of
  * a lake without opening a single data page. [[probeCensus]] is that
  * decision, fanned out per file like [[ParquetFooter.footers]].
  *
  * Reference scope: lithops-dataframe reads whole byte ranges
  * (`core.py:254`) with no indexing of any kind; extension surface.
  */
object ParquetBloom {

  // ---- XXH64 (xxHash 64-bit, spec constants; seed 0 for parquet) --------

  private val P1 = 0x9e3779b185ebca87L
  private val P2 = 0xc2b2ae3d27d4eb4fL
  private val P3 = 0x165667b19e3779f9L
  private val P4 = 0x85ebca77c2b2ae63L
  private val P5 = 0x27d4eb2f165667c5L

  @inline private def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
  @inline private def round(acc: Long, x: Long): Long = rotl(acc + x * P2, 31) * P1
  @inline private def mergeRound(h: Long, v: Long): Long = (h ^ round(0L, v)) * P1 + P4

  /** XXH64 over a byte array (the spec's one-shot form). */
  def xxh64(data: Array[Byte], seed: Long): Long = {
    val n = data.length
    var p = 0
    var h =
      if (n >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        while (p + 32 <= n) {
          v1 = round(v1, Bytes.le64(data, p)); v2 = round(v2, Bytes.le64(data, p + 8))
          v3 = round(v3, Bytes.le64(data, p + 16)); v4 = round(v4, Bytes.le64(data, p + 24))
          p += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        acc = mergeRound(acc, v1); acc = mergeRound(acc, v2)
        acc = mergeRound(acc, v3); mergeRound(acc, v4)
      } else seed + P5
    h += n
    while (p + 8 <= n) { h = rotl(h ^ round(0L, Bytes.le64(data, p)), 27) * P1 + P4; p += 8 }
    if (p + 4 <= n) { h = rotl(h ^ (Bytes.le32u(data, p) * P1), 23) * P2 + P3; p += 4 }
    while (p < n) { h = rotl(h ^ ((data(p) & 0xffL) * P5), 11) * P1; p += 1 }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^ (h >>> 32)
  }

  /** Parquet hashes the PLAIN encoding of the value: INT64 → 8-byte LE. */
  def hashLong(v: Long): Long = {
    val b = new Array[Byte](8)
    var i = 0; var x = v
    while (i < 8) { b(i) = (x & 0xff).toByte; x >>= 8; i += 1 }
    xxh64(b, 0L)
  }

  /** INT32 → 4-byte LE plain encoding. */
  def hashInt(v: Int): Long = {
    val b = new Array[Byte](4)
    var i = 0; var x = v
    while (i < 4) { b(i) = (x & 0xff).toByte; x >>= 8; i += 1 }
    xxh64(b, 0L)
  }

  /** BYTE_ARRAY → raw bytes (no length prefix) per the spec. */
  def hashBinary(v: Array[Byte]): Long = xxh64(v, 0L)

  // ---- split-block Bloom filter ------------------------------------------

  /** The eight per-word salts (BloomFilter.md, verbatim). */
  private val Salt = Array(
    0x47b6137bL, 0x44974d91L, 0x8824ad5bL, 0xa2b7289dL,
    0x705495c7L, 0x2df1424bL, 0x9efc4947L, 0x5c6bfb31L)

  /** An immutable split-block filter over the raw bitset bytes
    * (`numBytes` = 32 × number of 256-bit blocks, power of two). */
  final class SplitBlockBloom(val bits: Array[Byte]) {
    require(bits.length >= 32 && (bits.length & (bits.length - 1)) == 0,
      s"bitset must be a power-of-two >= 32 bytes, got ${bits.length}")
    private val nBlocks = bits.length / 32

    /** Zero false negatives; false positives at the built fpp. */
    def mightContain(hash: Long): Boolean = {
      val blockIdx = (((hash >>> 32) * nBlocks) >>> 32).toInt
      val low = hash & 0xffffffffL
      val base = blockIdx * 32
      var i = 0
      while (i < 8) {
        val bitPos = ((low * Salt(i)) & 0xffffffffL) >>> 27 // top 5 of low 32
        val word = Bytes.le32u(bits, base + 4 * i)
        if (((word >>> bitPos.toInt) & 1L) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** Bitset size in bytes for `ndv` distinct values at false-positive
    * rate `fpp`: the split-block formula (BloomFilter.md — each key
    * sets one bit in each of 8 words of one block, so
    * bits = −8·ndv / ln(1 − fpp^(1/8))), rounded UP to a power of two
    * (the block-index math requires it) and clamped to
    * [32 B, `maxBytes`]. parquet-mr's BlockSplitBloomFilter uses the
    * same expression. */
  def optimalNumBytes(ndv: Long, fpp: Double, maxBytes: Int = 1 << 20): Int = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    require(maxBytes >= 32 && (maxBytes & (maxBytes - 1)) == 0,
      s"maxBytes must be a power-of-two >= 32, got $maxBytes")
    val bits = -8.0 * ndv / math.log(1.0 - math.pow(fpp, 1.0 / 8.0))
    val bytes = math.max(32L, math.ceil(bits / 8.0).toLong)
    var p = 32L
    while (p < bytes && p < maxBytes) p <<= 1
    math.min(p, maxBytes.toLong).toInt
  }

  /** Build the raw bitset over pre-hashed keys — the exact mirror of
    * [[SplitBlockBloom.mightContain]]'s block/word/bit selection, with
    * set instead of test. Output feeds [[ParquetWriter]]'s
    * BloomFilterHeader + bitset emission and reads back through
    * [[readBloomFilter]] (and parquet-mr — the spec cross-checks). */
  def buildBits(hashes: Array[Long], numBytes: Int): Array[Byte] = {
    require(numBytes >= 32 && (numBytes & (numBytes - 1)) == 0,
      s"bitset must be a power-of-two >= 32 bytes, got $numBytes")
    val bits = new Array[Byte](numBytes)
    val nBlocks = numBytes / 32
    var k = 0
    while (k < hashes.length) {
      val hash = hashes(k)
      val blockIdx = (((hash >>> 32) * nBlocks) >>> 32).toInt
      val low = hash & 0xffffffffL
      val base = blockIdx * 32
      var i = 0
      while (i < 8) {
        val bitPos = (((low * Salt(i)) & 0xffffffffL) >>> 27).toInt // top 5 of low 32
        val byteI = base + 4 * i + (bitPos >> 3)
        bits(byteI) = (bits(byteI) | (1 << (bitPos & 7))).toByte
        i += 1
      }
      k += 1
    }
    bits
  }

  /** Read the Bloom filter of one column chunk: the compact-protocol
    * BloomFilterHeader (numBytes + the three required unions, all of
    * which must be the spec'd variants) followed by the bitset.
    * None when the chunk carries no filter. */
  def readBloomFilter(conf: org.apache.hadoop.conf.Configuration,
                      path: String, meta: ParquetFooter.ColumnMeta,
                      bloomOffset: Option[Long]): Option[SplitBlockBloom] =
    bloomOffset.map { off =>
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        // Window size: prefer the footer's bloomFilterLength (covers
        // headers longer than any fixed guess — future fields); fall
        // back to 64 bytes clamped to EOF so a filter near the file
        // tail reads cleanly instead of dying in readFully.
        val fileLen = fs.getFileStatus(p).getLen
        require(off >= 0 && off < fileLen,
          s"bloom offset $off outside file of $fileLen bytes")
        val window = meta.bloomFilterLength
          .map(l => math.min(l.toLong, 4096L)) // header is a prefix; 4 KiB >> any known header
          .getOrElse(64L)
          .min(fileLen - off).toInt
        require(window > 0, "empty bloom header window")
        val hdr = new Array[Byte](window)
        in.readFully(off, hdr, 0, window)
        val (numBytes, hdrLen) = parseBloomHeader(hdr)
        require(off + hdrLen + numBytes <= fileLen,
          s"bloom bitset of $numBytes bytes overruns the file")
        val bits = new Array[Byte](numBytes)
        in.readFully(off + hdrLen, bits, 0, numBytes)
        new SplitBlockBloom(bits)
      } catch {
        case e: java.io.EOFException =>
          throw new IllegalArgumentException(
            s"truncated bloom filter at offset $off in $path", e)
      } finally in.close()
    }

  /** Returns (numBytes, header byte length). Validates the unions:
    * hash must be XXHASH (field 1), algorithm BLOCK (field 1),
    * compression UNCOMPRESSED (field 1). */
  private[graft] def parseBloomHeader(hdr: Array[Byte]): (Int, Int) = {
    var numBytes = -1
    var hashOk = false; var algoOk = false; var compOk = false
    val r = new ParquetFooter.HeaderReader(hdr)
    r.struct {
      case (1, 5) => numBytes = r.zigzagInt(); true
      case (2, 12) => // union BloomFilterHash
        r.struct { case (1, 12) => r.struct((_, _) => false); hashOk = true; true
                   case _ => false }; true
      case (3, 12) => // union BloomFilterAlgorithm
        r.struct { case (1, 12) => r.struct((_, _) => false); algoOk = true; true
                   case _ => false }; true
      case (4, 12) => // union BloomFilterCompression
        r.struct { case (1, 12) => r.struct((_, _) => false); compOk = true; true
                   case _ => false }; true
      case _ => false
    }
    require(numBytes > 0 && numBytes <= (1 << 27),
      s"implausible bloom bitset size $numBytes (cap 128 MiB)")
    require(hashOk && algoOk && compOk,
      "unsupported bloom variant (only XXHASH/BLOCK/UNCOMPRESSED)")
    (numBytes, r.position)
  }

  private val probeRowSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("might_contain", BooleanType, nullable = false)))

  private val probeStrRowSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("might_contain", BooleanType, nullable = false)))

  /** [[probeCensus]] for BYTE_ARRAY/UTF8 key columns — string join
    * keys are the common 100 TB case (ids, urls, hashes). Hashing is
    * the raw UTF-8 bytes per the spec; the walk and semantics match
    * the integer form (OR over row groups, absent filter ⇒ true). */
  def probeCensusBinary(spark: SparkSession, dir: String, columnPath: String,
      keys: Seq[String]): DataFrame = {
    val keyBytes = keys.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val keyArr = keys.toArray
    val rows = ParquetFooter.perFileFooter(spark, dir) { (conf, path, _, fm) =>
      val perRg = fm.rowGroups.flatMap { rg =>
        rg.columns.find(_.meta.exists(_.path == columnPath)).toSeq.map { cc =>
          val meta = cc.meta.get
          require(meta.typ == 6,
            s"probeCensusBinary probes BYTE_ARRAY keys, column is ${ParquetFooter.TypeNames(meta.typ)}")
          val bloom = readBloomFilter(conf, path, meta, meta.bloomFilterOffset)
          keyBytes.map(k => bloom.forall(_.mightContain(hashBinary(k))))
        }
      }
      if (perRg.isEmpty) Seq.empty[Row]
      else keyArr.indices.map { i =>
        Row(path, keyArr(i), perRg.exists(_(i)))
      }
    }
    spark.createDataFrame(rows, probeStrRowSchema)
  }

  /** Probe every file's Bloom filter of integer column `columnPath` for
    * each key: the file-skip decision of a point-lookup or join probe.
    * Files lacking a filter answer `true` (conservative keep). Same
    * metadata-only fan-out as the footer scans. */
  def probeCensus(spark: SparkSession, dir: String, columnPath: String,
                  keys: Seq[Long]): DataFrame = {
    val keyArr = keys.toArray
    val rows = ParquetFooter.perFileFooter(spark, dir) { (conf, path, _, fm) =>
      // One row per (file, key): OR over the row groups — a key the
      // file might contain ANYWHERE must answer true, and multi-row-
      // group files must not emit indistinguishable duplicate rows
      // (round-16 ADVICE item 4).
      val perRg = fm.rowGroups.flatMap { rg =>
        rg.columns.find(_.meta.exists(_.path == columnPath)).toSeq.map { cc =>
          val meta = cc.meta.get
          val bloom = readBloomFilter(conf, path, meta, meta.bloomFilterOffset)
          keyArr.map { k =>
            val h = meta.typ match {
              case 1 => hashInt(k.toInt)
              case 2 => hashLong(k)
              case t => throw new IllegalArgumentException(
                s"probeCensus handles INT32/INT64 keys, column is ${ParquetFooter.TypeNames(t)}")
            }
            bloom.forall(_.mightContain(h))
          }
        }
      }
      if (perRg.isEmpty) Seq.empty[Row]
      else keyArr.indices.map { i =>
        Row(path, keyArr(i), perRg.exists(_(i)))
      }
    }
    spark.createDataFrame(rows, probeRowSchema)
  }
}
