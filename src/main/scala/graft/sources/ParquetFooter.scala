package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Hand-written Parquet FOOTER reader — the metadata half of the format,
  * parsed straight off the public `parquet-format` spec (Thrift compact
  * protocol over `FileMetaData`), no parquet-mr on the main classpath.
  *
  * Why an engine needs this as a first-class operator: at lake scale the
  * footer IS the index. Row-group `Statistics` (min/max/null_count) decide
  * which byte ranges a scan must touch at all; column-chunk sizes drive
  * compaction and cost estimation; schema + created_by drive format
  * auditing. A 100 TB table is ~100k files — collecting their footers is
  * a metadata-only scan that reads a few KB per file, embarrassingly
  * parallel, and must NOT read data pages. [[footers]]/[[columnStats]] do
  * exactly that: list once on the driver (the same listing every table
  * format's manifest build performs), fan the paths out, and each task
  * seeks to the file tail and reads only `footer_len + 8` bytes.
  *
  * Wire format (public spec, `parquet-format/README.md` + `parquet.thrift`):
  * file = `PAR1` … data … footer … 4-byte LE footer length … `PAR1`.
  * The footer is a Thrift **compact protocol** `FileMetaData` struct; the
  * compact protocol itself (varint/zigzag field headers, short-form list
  * headers) is re-implemented here from the Thrift spec.
  *
  * Statistics decode follows the plain encoding of each physical type
  * (INT32/INT64 little-endian, FLOAT/DOUBLE little-endian IEEE,
  * BYTE_ARRAY = UTF-8 for string columns); `min_value`/`max_value`
  * (ordered per column order SIGNED) are preferred, with the legacy
  * `min`/`max` fields as fallback for old writers.
  *
  * Reference scope: lithops-dataframe reads raw CSV byte ranges
  * (`io.py:13-88`, `core.py:254`) and has no columnar metadata at all;
  * this module is the extension surface that makes scan pruning and
  * compaction planning possible at crawl scale.
  */
object ParquetFooter {

  // ---- Thrift compact protocol ----------------------------------------

  /** Compact-protocol type tags (Thrift spec §"Compact protocol"). */
  private object T {
    val STOP = 0; val TRUE = 1; val FALSE = 2; val BYTE = 3
    val I16 = 4; val I32 = 5; val I64 = 6; val DOUBLE = 7
    val BINARY = 8; val LIST = 9; val SET = 10; val MAP = 11; val STRUCT = 12
  }

  /** Cursor over the footer bytes. All reads bounds-checked so corrupt
    * footers fail with IllegalArgumentException, never hang or overrun. */
  private final class Reader(val buf: Array[Byte], var pos: Int) {
    def u8(): Int = {
      require(pos < buf.length, "truncated thrift stream")
      val b = buf(pos) & 0xff; pos += 1; b
    }
    /** ULEB128 varint, ≤ 10 bytes. */
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do {
        require(shift <= 63, "varint too long")
        b = u8(); v |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def bytes(n: Int): Array[Byte] = {
      require(n >= 0 && pos + n <= buf.length, "truncated thrift binary")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    def binary(): Array[Byte] = {
      val n = varint()
      require(n <= Int.MaxValue, "binary too long"); bytes(n.toInt)
    }
    def string(): String = new String(binary(), java.nio.charset.StandardCharsets.UTF_8)
    /** List header: high nibble = size (15 ⇒ varint follows), low = elem
      * type. Size is bounded by the remaining bytes (every element costs
      * ≥ 1 byte) so corrupt headers can never force a giant allocation. */
    def listHeader(): (Int, Int) = {
      val h = u8(); val tp = h & 0x0f
      val sz = if ((h >>> 4) == 15) {
        val n = varint(); require(n <= Int.MaxValue, "list too long"); n.toInt
      } else h >>> 4
      require(sz >= 0, "negative list size")
      require(sz <= buf.length - pos,
        s"list of $sz elements longer than the ${buf.length - pos} remaining bytes")
      (sz, tp)
    }
    /** Skip one value of compact type `tp` (unknown/ignored fields). */
    def skip(tp: Int): Unit = tp match {
      case T.TRUE | T.FALSE => ()
      case T.BYTE           => u8()
      case T.I16 | T.I32 | T.I64 => zigzag()
      case T.DOUBLE         => bytes(8)
      case T.BINARY         => binary()
      case T.LIST | T.SET =>
        val (sz, et) = listHeader()
        var i = 0; while (i < sz) { skip(et); i += 1 }
      case T.MAP =>
        val n = varint()
        require(n <= Int.MaxValue, "map too long")
        if (n > 0) {
          val kv = u8(); val kt = kv >>> 4; val vt = kv & 0x0f
          var i = 0L; while (i < n) { skip(kt); skip(vt); i += 1 }
        }
      case T.STRUCT => struct((_, _) => false)
      case T.STOP => throw new IllegalArgumentException("cannot skip STOP")
      case other  => throw new IllegalArgumentException(s"unknown compact type $other")
    }
    /** Walk a struct's fields: `f(fieldId, type)` returns true if it
      * consumed the value, false to have it skipped. Field ids are
      * delta-encoded against the previous id within the struct. */
    def struct(f: (Int, Int) => Boolean): Unit = {
      var last = 0
      var done = false
      while (!done) {
        val h = u8()
        if (h == T.STOP) done = true
        else {
          val tp = h & 0x0f
          val delta = h >>> 4
          val id = if (delta != 0) last + delta else zigzag().toInt
          last = id
          if (!f(id, tp)) skip(tp)
        }
      }
    }
  }

  /** Thin public face of the compact-protocol reader for sibling
    * metadata parsers (BloomFilterHeader lives outside the footer). */
  private[sources] final class HeaderReader(buf: Array[Byte], start: Int = 0) {
    private val r = new Reader(buf, start)
    def struct(f: (Int, Int) => Boolean): Unit = r.struct(f)
    def zigzagInt(): Int = r.zigzag().toInt
    /** Absolute position in `buf`; bytes consumed = position − start. */
    def position: Int = r.pos
  }

  // ---- parsed model -----------------------------------------------------

  /** Column-chunk `Statistics` (parquet.thrift struct Statistics).
    * `minValue`/`maxValue` are the modern SIGNED-ordered fields; the
    * deprecated `min`/`max` kept as fallback for pre-2018 writers. */
  final case class Stats(
      minValue: Option[Array[Byte]], maxValue: Option[Array[Byte]],
      nullCount: Option[Long], distinctCount: Option[Long],
      legacyMin: Option[Array[Byte]], legacyMax: Option[Array[Byte]]) {
    def minBytes: Option[Array[Byte]] = minValue.orElse(legacyMin)
    def maxBytes: Option[Array[Byte]] = maxValue.orElse(legacyMax)
  }

  /** parquet.thrift struct ColumnMetaData (the fields an engine plans with). */
  final case class ColumnMeta(
      typ: Int, encodings: Seq[Int], pathInSchema: Seq[String], codec: Int,
      numValues: Long, totalUncompressedSize: Long, totalCompressedSize: Long,
      dataPageOffset: Long, indexPageOffset: Option[Long],
      dictionaryPageOffset: Option[Long], stats: Option[Stats],
      bloomFilterOffset: Option[Long] = None,
      bloomFilterLength: Option[Int] = None) {
    def path: String = pathInSchema.mkString(".")
  }

  final case class ColumnChunk(
      fileOffset: Long, meta: Option[ColumnMeta],
      offsetIndexOffset: Option[Long], offsetIndexLength: Option[Int],
      columnIndexOffset: Option[Long], columnIndexLength: Option[Int])

  /** Page-index structs (parquet.thrift ColumnIndex / OffsetIndex /
    * PageLocation) — the PAGE-level pruning tier: per-page min/max/null
    * stats plus each page's byte span and first row index, stored
    * between the last data page and the footer. */
  final case class PageLocation(offset: Long, compressedPageSize: Int, firstRowIndex: Long)
  final case class OffsetIndex(pages: Seq[PageLocation])
  final case class ColumnIndex(
      nullPages: Seq[Boolean], minValues: Seq[Array[Byte]],
      maxValues: Seq[Array[Byte]], boundaryOrder: Int,
      nullCounts: Option[Seq[Long]])

  final case class RowGroup(
      columns: Seq[ColumnChunk], totalByteSize: Long, numRows: Long,
      fileOffset: Option[Long], totalCompressedSize: Option[Long])

  final case class SchemaElement(
      typ: Option[Int], typeLength: Option[Int], repetition: Option[Int],
      name: String, numChildren: Option[Int], convertedType: Option[Int],
      scale: Option[Int], precision: Option[Int], fieldId: Option[Int])

  final case class FileMeta(
      version: Int, schema: Seq[SchemaElement], numRows: Long,
      rowGroups: Seq[RowGroup], keyValue: Seq[(String, Option[String])],
      createdBy: Option[String])

  /** Physical type names (parquet.thrift enum Type). */
  val TypeNames: Array[String] = Array(
    "BOOLEAN", "INT32", "INT64", "INT96", "FLOAT", "DOUBLE",
    "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")

  /** Compression codec names (parquet.thrift enum CompressionCodec). */
  val CodecNames: Array[String] = Array(
    "UNCOMPRESSED", "SNAPPY", "GZIP", "LZO", "BROTLI", "LZ4", "ZSTD", "LZ4_RAW")

  /** Encoding names (parquet.thrift enum Encoding). */
  val EncodingNames: Array[String] = Array(
    "PLAIN", "GROUP_VAR_INT", "PLAIN_DICTIONARY", "RLE", "BIT_PACKED",
    "DELTA_BINARY_PACKED", "DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY",
    "RLE_DICTIONARY", "BYTE_STREAM_SPLIT")

  // ---- struct parsers ----------------------------------------------------

  private def parseStats(r: Reader): Stats = {
    var mn: Option[Array[Byte]] = None; var mx: Option[Array[Byte]] = None
    var nc: Option[Long] = None; var dc: Option[Long] = None
    var lmn: Option[Array[Byte]] = None; var lmx: Option[Array[Byte]] = None
    r.struct {
      case (1, T.BINARY) => lmx = Some(r.binary()); true
      case (2, T.BINARY) => lmn = Some(r.binary()); true
      case (3, T.I64)    => nc = Some(r.zigzag()); true
      case (4, T.I64)    => dc = Some(r.zigzag()); true
      case (5, T.BINARY) => mx = Some(r.binary()); true
      case (6, T.BINARY) => mn = Some(r.binary()); true
      case _ => false
    }
    Stats(mn, mx, nc, dc, lmn, lmx)
  }

  private def parseColumnMeta(r: Reader): ColumnMeta = {
    var typ = -1; var encs = Seq.empty[Int]; var path = Seq.empty[String]
    var codec = -1; var nv = 0L; var us = 0L; var cs = 0L; var dpo = 0L
    var ipo: Option[Long] = None; var dico: Option[Long] = None
    var st: Option[Stats] = None
    var bfo: Option[Long] = None; var bfl: Option[Int] = None
    r.struct {
      case (1, T.I32) => typ = r.zigzag().toInt; true
      case (2, T.LIST) =>
        val (sz, _) = r.listHeader()
        encs = (0 until sz).map(_ => r.zigzag().toInt); true
      case (3, T.LIST) =>
        val (sz, _) = r.listHeader()
        path = (0 until sz).map(_ => r.string()); true
      case (4, T.I32) => codec = r.zigzag().toInt; true
      case (5, T.I64) => nv = r.zigzag(); true
      case (6, T.I64) => us = r.zigzag(); true
      case (7, T.I64) => cs = r.zigzag(); true
      case (9, T.I64) => dpo = r.zigzag(); true
      case (10, T.I64) => ipo = Some(r.zigzag()); true
      case (11, T.I64) => dico = Some(r.zigzag()); true
      case (12, T.STRUCT) => st = Some(parseStats(r)); true
      case (14, T.I64) => bfo = Some(r.zigzag()); true
      case (15, T.I32) => bfl = Some(r.zigzag().toInt); true
      case _ => false
    }
    require(typ >= 0 && codec >= 0, "ColumnMetaData missing required fields")
    ColumnMeta(typ, encs, path, codec, nv, us, cs, dpo, ipo, dico, st, bfo, bfl)
  }

  private def parseColumnChunk(r: Reader): ColumnChunk = {
    var off = 0L; var meta: Option[ColumnMeta] = None
    var oio: Option[Long] = None; var oil: Option[Int] = None
    var cio: Option[Long] = None; var cil: Option[Int] = None
    r.struct {
      case (2, T.I64)    => off = r.zigzag(); true
      case (3, T.STRUCT) => meta = Some(parseColumnMeta(r)); true
      case (4, T.I64)    => oio = Some(r.zigzag()); true
      case (5, T.I32)    => oil = Some(r.zigzag().toInt); true
      case (6, T.I64)    => cio = Some(r.zigzag()); true
      case (7, T.I32)    => cil = Some(r.zigzag().toInt); true
      case _ => false
    }
    ColumnChunk(off, meta, oio, oil, cio, cil)
  }

  /** Parse a ColumnIndex blob (the byte range at
    * `columnIndexOffset..+columnIndexLength`). Compact-protocol list
    * elements of type bool are one byte: 1 = true (Thrift compact). */
  def parseColumnIndex(bytes: Array[Byte]): ColumnIndex = {
    val r = new Reader(bytes, 0)
    var np = Seq.empty[Boolean]; var mn = Seq.empty[Array[Byte]]
    var mx = Seq.empty[Array[Byte]]; var bo = 0
    var nc: Option[Seq[Long]] = None
    r.struct {
      case (1, T.LIST) =>
        val (sz, _) = r.listHeader()
        np = (0 until sz).map(_ => r.u8() == 1); true
      case (2, T.LIST) =>
        val (sz, _) = r.listHeader()
        mn = (0 until sz).map(_ => r.binary()); true
      case (3, T.LIST) =>
        val (sz, _) = r.listHeader()
        mx = (0 until sz).map(_ => r.binary()); true
      case (4, T.I32) => bo = r.zigzag().toInt; true
      case (5, T.LIST) =>
        val (sz, _) = r.listHeader()
        nc = Some((0 until sz).map(_ => r.zigzag())); true
      case _ => false
    }
    require(np.nonEmpty && np.size == mn.size && np.size == mx.size,
      "ColumnIndex list sizes disagree")
    ColumnIndex(np, mn, mx, bo, nc)
  }

  /** Parse an OffsetIndex blob (page byte spans + first row indexes). */
  def parseOffsetIndex(bytes: Array[Byte]): OffsetIndex = {
    val r = new Reader(bytes, 0)
    var pages = Seq.empty[PageLocation]
    r.struct {
      case (1, T.LIST) =>
        val (sz, _) = r.listHeader()
        pages = (0 until sz).map { _ =>
          var off = 0L; var cps = 0; var fri = 0L
          r.struct {
            case (1, T.I64) => off = r.zigzag(); true
            case (2, T.I32) => cps = r.zigzag().toInt; true
            case (3, T.I64) => fri = r.zigzag(); true
            case _ => false
          }
          PageLocation(off, cps, fri)
        }; true
      case _ => false
    }
    require(pages.nonEmpty, "OffsetIndex has no pages")
    OffsetIndex(pages)
  }

  private def parseRowGroup(r: Reader): RowGroup = {
    var cols = Seq.empty[ColumnChunk]; var tbs = 0L; var nr = 0L
    var fo: Option[Long] = None; var tcs: Option[Long] = None
    r.struct {
      case (1, T.LIST) =>
        val (sz, _) = r.listHeader()
        cols = (0 until sz).map(_ => parseColumnChunk(r)); true
      case (2, T.I64) => tbs = r.zigzag(); true
      case (3, T.I64) => nr = r.zigzag(); true
      case (5, T.I64) => fo = Some(r.zigzag()); true
      case (6, T.I64) => tcs = Some(r.zigzag()); true
      case _ => false
    }
    RowGroup(cols, tbs, nr, fo, tcs)
  }

  private def parseSchemaElement(r: Reader): SchemaElement = {
    var typ: Option[Int] = None; var tl: Option[Int] = None
    var rep: Option[Int] = None; var name = ""
    var nch: Option[Int] = None; var cvt: Option[Int] = None
    var sc: Option[Int] = None; var pr: Option[Int] = None
    var fid: Option[Int] = None
    r.struct {
      case (1, T.I32)    => typ = Some(r.zigzag().toInt); true
      case (2, T.I32)    => tl = Some(r.zigzag().toInt); true
      case (3, T.I32)    => rep = Some(r.zigzag().toInt); true
      case (4, T.BINARY) => name = r.string(); true
      case (5, T.I32)    => nch = Some(r.zigzag().toInt); true
      case (6, T.I32)    => cvt = Some(r.zigzag().toInt); true
      case (7, T.I32)    => sc = Some(r.zigzag().toInt); true
      case (8, T.I32)    => pr = Some(r.zigzag().toInt); true
      case (9, T.I32)    => fid = Some(r.zigzag().toInt); true
      case _ => false
    }
    SchemaElement(typ, tl, rep, name, nch, cvt, sc, pr, fid)
  }

  /** Parse a raw footer blob (the Thrift FileMetaData bytes, PAR1 framing
    * already stripped). */
  def parse(footer: Array[Byte]): FileMeta = {
    val r = new Reader(footer, 0)
    var version = -1; var schema = Seq.empty[SchemaElement]; var nr = -1L
    var rgs = Seq.empty[RowGroup]; var kv = Seq.empty[(String, Option[String])]
    var cb: Option[String] = None
    r.struct {
      case (1, T.I32) => version = r.zigzag().toInt; true
      case (2, T.LIST) =>
        val (sz, _) = r.listHeader()
        schema = (0 until sz).map(_ => parseSchemaElement(r)); true
      case (3, T.I64) => nr = r.zigzag(); true
      case (4, T.LIST) =>
        val (sz, _) = r.listHeader()
        rgs = (0 until sz).map(_ => parseRowGroup(r)); true
      case (5, T.LIST) =>
        val (sz, _) = r.listHeader()
        kv = (0 until sz).map { _ =>
          var k = ""; var v: Option[String] = None
          r.struct {
            case (1, T.BINARY) => k = r.string(); true
            case (2, T.BINARY) => v = Some(r.string()); true
            case _ => false
          }
          (k, v)
        }; true
      case (6, T.BINARY) => cb = Some(r.string()); true
      case _ => false
    }
    require(version >= 0 && nr >= 0, "FileMetaData missing required fields")
    FileMeta(version, schema, nr, rgs, kv, cb)
  }

  /** Parse a whole in-memory parquet file: validate head/tail magic, read
    * the 4-byte LE footer length, parse the footer. */
  def parseFile(bytes: Array[Byte]): FileMeta = {
    require(bytes.length >= 12, "file too short for parquet framing")
    require(magicAt(bytes, 0) && magicAt(bytes, bytes.length - 4), "missing PAR1 magic")
    val fl = le32(bytes, bytes.length - 8)
    require(fl > 0 && fl <= bytes.length - 12, s"bad footer length $fl")
    parse(java.util.Arrays.copyOfRange(bytes, bytes.length - 8 - fl, bytes.length - 8))
  }

  private def magicAt(b: Array[Byte], off: Int): Boolean =
    b(off) == 'P' && b(off + 1) == 'A' && b(off + 2) == 'R' && b(off + 3) == '1'

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  // ---- statistics decode --------------------------------------------------

  /** Decode a plain-encoded stat value for integer physical types
    * (INT32/INT64 little-endian two's complement). */
  def statLong(typ: Int, b: Array[Byte]): Option[Long] = typ match {
    case 1 => // INT32
      if (b.length != 4) None
      else Some((le32(b, 0)).toLong)
    case 2 => // INT64
      if (b.length != 8) None
      else Some((le32(b, 0) & 0xffffffffL) | (le32(b, 4).toLong << 32))
    case _ => None
  }

  /** Decode FLOAT/DOUBLE stat values (IEEE 754 little-endian). */
  def statDouble(typ: Int, b: Array[Byte]): Option[Double] = typ match {
    case 4 if b.length == 4 =>
      Some(java.lang.Float.intBitsToFloat(le32(b, 0)).toDouble)
    case 5 if b.length == 8 =>
      Some(java.lang.Double.longBitsToDouble(
        (le32(b, 0) & 0xffffffffL) | (le32(b, 4).toLong << 32)))
    case _ => None
  }

  /** BYTE_ARRAY stats as UTF-8 (string columns; writers may truncate —
    * still a valid lower/upper BOUND, which is all pruning needs). */
  def statString(typ: Int, b: Array[Byte]): Option[String] =
    if (typ == 6) Some(new String(b, java.nio.charset.StandardCharsets.UTF_8)) else None

  // ---- distributed footer-only scan ----------------------------------------

  /** Leaf data files under `dir` (recursively), skipping `_SUCCESS`/dot
    * files — one driver-side listing, the same listing any manifest build
    * performs. Returns (path, length) pairs. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_"))
        out += ((st.getPath.toString, st.getLen))
    }
    out.result().sortBy(_._1)
  }

  /** Fan the data files under `dir` out over the cluster and read each
    * one's footer in its task: `f` gets the session's Hadoop conf (shipped
    * with the tasks, so a filesystem only the session configures resolves
    * there too), the file's path and length, and the parsed footer. The
    * files spread over min(files, default parallelism) partitions. */
  def perFileFooter[T: scala.reflect.ClassTag](spark: SparkSession, dir: String)(
      f: (org.apache.hadoop.conf.Configuration, String, Long, FileMeta) => IterableOnce[T])
      : org.apache.spark.rdd.RDD[T] = {
    val files = listDataFiles(spark, dir)
    val parts = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(files, parts).flatMap { case (path, len) =>
      f(conf.value, path, len, readFooter(conf.value, path, len))
    }
  }

  /** Read ONLY the footer of one parquet file: seek to the tail, read a
    * 64 KiB window (re-read wider iff the footer is larger), validate
    * magic, parse. Never touches data pages — the property that makes a
    * 100k-file metadata scan cheap. */
  def readFooter(conf: org.apache.hadoop.conf.Configuration,
                 path: String, fileLen: Long): FileMeta = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    require(fileLen >= 12, s"$path too short for parquet framing")
    def tail(n: Long): Array[Byte] = {
      val sz = math.min(n, fileLen).toInt
      val buf = new Array[Byte](sz)
      val in = fs.open(p)
      try { in.readFully(fileLen - sz, buf, 0, sz) } finally { in.close() }
      buf
    }
    var win = tail(64 * 1024L)
    require(magicAt(win, win.length - 4), s"$path: missing PAR1 tail magic")
    val fl = le32(win, win.length - 8)
    require(fl > 0 && fl <= fileLen - 12, s"$path: bad footer length $fl")
    if (fl + 8 > win.length) win = tail(fl + 8L)
    parse(java.util.Arrays.copyOfRange(win, win.length - 8 - fl, win.length - 8))
  }

  /** Read an arbitrary byte range (for the page-index blobs, which sit
    * between the last data page and the footer). */
  private def readRange(conf: org.apache.hadoop.conf.Configuration,
                        path: String, off: Long, len: Int): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try { in.readFully(off, buf, 0, len) } finally { in.close() }
    buf
  }

  private val pageRowSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_group", IntegerType, nullable = false),
    StructField("page", IntegerType, nullable = false),
    StructField("first_row", LongType, nullable = false),
    StructField("page_rows", LongType, nullable = false),
    StructField("null_page", BooleanType, nullable = false),
    StructField("boundary_order", IntegerType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("min_long", LongType, nullable = true),
    StructField("max_long", LongType, nullable = true),
    StructField("min_string", StringType, nullable = true),
    StructField("max_string", StringType, nullable = true)))

  /** One row per PAGE of `columnPath`: the page-index pruning tier.
    * Same fan-out shape as [[columnStats]]; each task performs three
    * metadata-class reads per file (footer tail + the two index blobs —
    * a few KB each), never data pages. Files written without page
    * indexes are skipped (index offsets absent). */
  def pageStats(spark: SparkSession, dir: String, columnPath: String): DataFrame = {
    val rows = perFileFooter(spark, dir) { (conf, path, _, fm) =>
      fm.rowGroups.zipWithIndex.flatMap { case (rg, rgi) =>
        rg.columns.find(_.meta.exists(_.path == columnPath)).toSeq.flatMap { cc =>
          (cc.columnIndexOffset, cc.columnIndexLength,
            cc.offsetIndexOffset, cc.offsetIndexLength) match {
            case (Some(cio), Some(cil), Some(oio), Some(oil)) =>
              val ci = parseColumnIndex(readRange(conf, path, cio, cil))
              val oi = parseOffsetIndex(readRange(conf, path, oio, oil))
              require(ci.nullPages.size == oi.pages.size,
                s"$path rg $rgi: ColumnIndex/OffsetIndex page counts disagree")
              val typ = cc.meta.get.typ
              oi.pages.zipWithIndex.map { case (pl, pi) =>
                val pageRows =
                  (if (pi + 1 < oi.pages.size) oi.pages(pi + 1).firstRowIndex
                   else rg.numRows) - pl.firstRowIndex
                val nullPage = ci.nullPages(pi)
                def dec[A](f: (Int, Array[Byte]) => Option[A], b: Array[Byte]): Option[A] =
                  if (nullPage) None else f(typ, b)
                Row(path, rgi, pi, pl.firstRowIndex, pageRows, nullPage,
                  ci.boundaryOrder,
                  ci.nullCounts.map(nc => Long.box(nc(pi))).orNull,
                  dec(statLong, ci.minValues(pi)).map(Long.box).orNull,
                  dec(statLong, ci.maxValues(pi)).map(Long.box).orNull,
                  dec(statString, ci.minValues(pi)).orNull,
                  dec(statString, ci.maxValues(pi)).orNull)
              }
            case _ => Seq.empty
          }
        }
      }
    }
    spark.createDataFrame(rows, pageRowSchema)
  }

  /** Page-level min/max pruning census for `lo <= column <= hi`: which
    * PAGES can a scan skip, and how many rows survive the page filter —
    * the ColumnIndex-driven row-range narrowing of PARQUET-1201.
    * Null-only pages and pages lacking stats are conservatively kept. */
  def pagePruneCensus(spark: SparkSession, dir: String, columnPath: String,
                      lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    pageStats(spark, dir, columnPath)
      .withColumn("skipped",
        when(col("null_page") || col("min_long").isNull || col("max_long").isNull, lit(false))
          .otherwise(col("max_long") < lo || col("min_long") > hi))
      .withColumn("rows_scanned",
        when(col("skipped"), lit(0L)).otherwise(col("page_rows")))
  }

  private val fileRowSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("file_bytes", LongType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("num_row_groups", IntegerType, nullable = false),
    StructField("num_columns", IntegerType, nullable = false),
    StructField("created_by", StringType, nullable = true)))

  private val colRowSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_group", IntegerType, nullable = false),
    StructField("rg_num_rows", LongType, nullable = false),
    StructField("column_path", StringType, nullable = false),
    StructField("physical_type", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("num_values", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("uncompressed_bytes", LongType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("min_long", LongType, nullable = true),
    StructField("max_long", LongType, nullable = true),
    StructField("min_double", DoubleType, nullable = true),
    StructField("max_double", DoubleType, nullable = true),
    StructField("min_string", StringType, nullable = true),
    StructField("max_string", StringType, nullable = true),
    StructField("uses_dictionary", BooleanType, nullable = false)))

  /** One row per file: the manifest census. Paths are listed on the
    * driver and fanned out; each task reads only its files' footers. */
  def footers(spark: SparkSession, dir: String): DataFrame = {
    val rows = perFileFooter(spark, dir) { (_, path, len, fm) =>
      // leaf count: row-group chunk count when present, else schema leaves
      // (the root element always carries num_children, so it's excluded)
      val nCols = fm.rowGroups.headOption.map(_.columns.size)
        .getOrElse(fm.schema.count(e => e.numChildren.forall(_ == 0)))
      Some(Row(path, len, fm.numRows, fm.rowGroups.size, nCols, fm.createdBy.orNull))
    }
    spark.createDataFrame(rows, fileRowSchema)
  }

  /** One row per (file, row group, column chunk): the pruning index. */
  def columnStats(spark: SparkSession, dir: String): DataFrame = {
    val rows = perFileFooter(spark, dir) { (_, path, _, fm) =>
      fm.rowGroups.zipWithIndex.flatMap { case (rg, rgi) =>
        rg.columns.flatMap(_.meta).map { cm =>
          val mnB = cm.stats.flatMap(_.minBytes); val mxB = cm.stats.flatMap(_.maxBytes)
          def dec[A](f: (Int, Array[Byte]) => Option[A], b: Option[Array[Byte]]): Option[A] =
            b.flatMap(f(cm.typ, _))
          Row(path, rgi, rg.numRows, cm.path,
            TypeNames(cm.typ), CodecNames(cm.codec),
            cm.numValues, cm.totalCompressedSize, cm.totalUncompressedSize,
            cm.stats.flatMap(_.nullCount).map(Long.box).orNull,
            dec(statLong, mnB).map(Long.box).orNull,
            dec(statLong, mxB).map(Long.box).orNull,
            dec(statDouble, mnB).map(Double.box).orNull,
            dec(statDouble, mxB).map(Double.box).orNull,
            dec(statString, mnB).orNull, dec(statString, mxB).orNull,
            // PLAIN_DICTIONARY(2) / RLE_DICTIONARY(8) in the encoding
            // list, or an explicit dictionary page offset
            cm.dictionaryPageOffset.isDefined ||
              cm.encodings.exists(e => e == 2 || e == 8))
        }
      }
    }
    spark.createDataFrame(rows, colRowSchema)
  }

  /** Min/max pruning decision census for `lo <= column <= hi` over an
    * integer column: per file×row-group, can the scan SKIP the row group
    * entirely? (`max < lo || min > hi` ⇒ no qualifying row can exist —
    * exactly the decision FileSourceScanExec/Iceberg make from these same
    * stats.) Row groups lacking stats are conservatively kept. */
  def pruneCensus(spark: SparkSession, dir: String, columnPath: String,
                  lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    columnStats(spark, dir)
      .where(col("column_path") === columnPath)
      .withColumn("skipped",
        when(col("min_long").isNull || col("max_long").isNull, lit(false))
          .otherwise(col("max_long") < lo || col("min_long") > hi))
      .withColumn("rows_scanned",
        when(col("skipped"), lit(0L)).otherwise(col("rg_num_rows")))
  }
}
