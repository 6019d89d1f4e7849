package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Snappy

/** Hand-written parquet WRITER — the write half of the self-contained
  * parquet stack (footer/stats/pages READ landed in rounds 16-17).
  * Emits spec-conformant files from scratch: V1 data pages (PLAIN, or
  * RLE_DICTIONARY for string chunks within the dictionary caps),
  * RLE/bit-packed definition levels for OPTIONAL columns, per-column
  * chunks with type-ordered statistics, row groups, and the Thrift
  * COMPACT-protocol FileMetaData footer — zero parquet-mr anywhere.
  * Spark's own vectorized reader (an independent implementation) and
  * DuckDB both read the output; the repo's own
  * [[ParquetFooter]]/[[ParquetPages]] complete the three-way
  * cross-check.
  *
  * Scope (loud fences): flat REQUIRED/OPTIONAL columns of
  * BOOLEAN/INT32/INT64/DOUBLE/BYTE_ARRAY(UTF8) plus 3-level LIST and
  * standard MAP (two Dremel leaves, `key_value { required key;
  * optional value }`); PLAIN everywhere except FLAT string chunks,
  * which dictionary-encode (PLAIN dict page + RLE_DICTIONARY index
  * pages, real RLE runs for repeated values) until the per-chunk caps
  * ([[DictMaxEntries]] / [[DictMaxBytes]]) force the PLAIN fallback —
  * parquet-mr's shape; UNCOMPRESSED or SNAPPY pages (the repo's own
  * compressor); opt-in split-block Bloom filters (`bloomColumns`) on
  * flat INT32/INT64/BYTE_ARRAY chunks — XXH64 of each distinct
  * value's PLAIN encoding into the 8×32-bit-block bitset
  * ([[ParquetBloom.buildBits]], sized by [[ParquetBloom.optimalNumBytes]]),
  * the region after all row-group data with footer fields 14/15
  * pointing at it. No dictionary inside LIST/MAP leaves — the honest
  * minimum a re-compaction sink needs, not a parquet-mr replacement.
  *
  * Scale shape: one file per task ([[writeDir]] maps partitions), the
  * column buffers bounded by `rowGroupRows`; nothing shuffles.
  *
  * Reference scope: lithops-dataframe has NO write path at all
  * (`SURVEY.md` §2.1 sinks row); this extends the engine's sink tier
  * the same way the hand reader extends its scan tier.
  */
object ParquetWriter {

  /** Primitive open-addressing Long set (linear probing, 0.5 load
    * cap) for bloom distinct-hash collection — XXH64 outputs are
    * already well-mixed, so the bucket index is just masked bits. The
    * value 0 rides a separate flag (0 marks empty slots). */
  private final class LongHashSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
    private var slots = new Array[Long](cap)
    private var n = 0
    private var hasZero = false
    def add(v: Long): Unit = {
      if (v == 0L) { if (!hasZero) { hasZero = true }; return }
      if ((n + 1) * 2 > cap) grow()
      var i = (v ^ (v >>> 32)).toInt & (cap - 1)
      while (slots(i) != 0L) {
        if (slots(i) == v) return
        i = (i + 1) & (cap - 1)
      }
      slots(i) = v
      n += 1
    }
    private def grow(): Unit = {
      val old = slots
      cap <<= 1
      slots = new Array[Long](cap)
      val kept = n
      n = 0
      old.foreach(v => if (v != 0L) add(v))
      require(n == kept, "rehash lost entries")
    }
    def toArray: Array[Long] = {
      val out = new Array[Long](n + (if (hasZero) 1 else 0))
      var k = 0
      if (hasZero) { out(0) = 0L; k = 1 }
      slots.foreach(v => if (v != 0L) { out(k) = v; k += 1 })
      out
    }
  }

  /** Thrift compact-protocol writer — the mirror of
    * [[ParquetFooter.HeaderReader]]. */
  private final class TWriter {
    val out = new java.io.ByteArrayOutputStream(256)
    private var lastId = List(0)

    def varint(v0: Long): Unit = {
      var v = v0
      do {
        val b = (v & 0x7f).toInt
        v >>>= 7
        out.write(if (v != 0) b | 0x80 else b)
      } while (v != 0)
    }
    def zig(v: Long): Unit = varint((v << 1) ^ (v >> 63))

    private def fieldHeader(id: Int, tpe: Int): Unit = {
      val delta = id - lastId.head
      if (delta > 0 && delta <= 15) out.write((delta << 4) | tpe)
      else { out.write(tpe); zig(id.toLong) }
      lastId = id :: lastId.tail
    }
    def structBegin(): Unit = lastId = 0 :: lastId
    def structEnd(): Unit = { out.write(0); lastId = lastId.tail }
    def structField(id: Int): Unit = { fieldHeader(id, 12); structBegin() }
    def i32(id: Int, v: Int): Unit = { fieldHeader(id, 5); zig(v.toLong) }
    def i64(id: Int, v: Long): Unit = { fieldHeader(id, 6); zig(v) }
    def str(id: Int, s: String): Unit =
      listlessBinary(id, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def listlessBinary(id: Int, b: Array[Byte]): Unit = {
      fieldHeader(id, 8)
      varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def listBegin(id: Int, elemType: Int, size: Int): Unit = {
      fieldHeader(id, 9)
      if (size < 15) out.write((size << 4) | elemType)
      else { out.write(0xf0 | elemType); varint(size.toLong) }
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** One column's spec: parquet physical type (0 BOOLEAN, 1 INT32,
    * 2 INT64, 5 DOUBLE, 6 BYTE_ARRAY), nullability, and the UTF8
    * converted-type flag for strings. `list = true` writes the
    * standard 3-level LIST shape (`optional group (LIST) { repeated
    * group list { optional T element } }`) — values are Seq[Any] per
    * row (null = null list, elements may be null). `map = true` writes
    * the standard map shape (`optional group (MAP) { repeated group
    * key_value { required key; optional value } }`) with `mapKeyTyp`
    * the key's physical type and `typ` the value's — values are
    * scala Maps per row (null = null map, values may be null, keys
    * must not be). */
  final case class ColSpec(name: String, typ: Int, optional: Boolean,
      list: Boolean = false, map: Boolean = false, mapKeyTyp: Int = -1) {
    require(Set(0, 1, 2, 5, 6).contains(typ),
      s"unsupported physical type $typ for the hand writer")
    require(!list || optional, "LIST columns are written as optional groups")
    require(!map || optional, "MAP columns are written as optional groups")
    require(!(list && map), "a column is LIST or MAP, not both")
    require(!map || Set(0, 1, 2, 5, 6).contains(mapKeyTyp),
      s"unsupported MAP key physical type $mapKeyTyp")
  }

  // ---- page encoding --------------------------------------------------------

  /** PLAIN-encode the PRESENT values of `vals(from until to)`. */
  private def plainEncode(typ: Int, vals: Array[Any], from: Int, to: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4 * (to - from) + 16)
    def le(v: Long, n: Int): Unit = {
      var k = 0
      while (k < n) { out.write(((v >>> (8 * k)) & 0xff).toInt); k += 1 }
    }
    typ match {
      case 0 =>
        var bit = 0; var acc = 0
        var i = from
        while (i < to) {
          if (vals(i) != null) {
            if (vals(i).asInstanceOf[Boolean]) acc |= 1 << bit
            bit += 1
            if (bit == 8) { out.write(acc); acc = 0; bit = 0 }
          }
          i += 1
        }
        if (bit > 0) out.write(acc)
      case 1 =>
        var i = from
        while (i < to) {
          if (vals(i) != null) le(vals(i) match {
            case v: Int => v.toLong
            case v: Long => v
          }, 4)
          i += 1
        }
      case 2 =>
        var i = from
        while (i < to) { if (vals(i) != null) le(vals(i).asInstanceOf[Long], 8); i += 1 }
      case 5 =>
        var i = from
        while (i < to) {
          if (vals(i) != null)
            le(java.lang.Double.doubleToLongBits(vals(i).asInstanceOf[Double]), 8)
          i += 1
        }
      case 6 =>
        var i = from
        while (i < to) {
          if (vals(i) != null) {
            val b = vals(i).asInstanceOf[String]
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            le(b.length.toLong, 4); out.write(b, 0, b.length)
          }
          i += 1
        }
    }
    out.toByteArray
  }

  /** RLE/bit-packed-hybrid runs of `width`-bit values over
    * `values(0 until n)` — the layout [[ParquetPages.rleHybrid]] reads
    * back. Stretches of ≥8 equal values become RLE runs (varint
    * `count<<1` + value in ceil(width/8) LE bytes); everything else
    * accumulates into bit-packed runs (varint `(groups<<1)|1` + groups
    * of 8 values, zero-padded at the tail — readers stop at their
    * declared count). No length prefix and no bit-width byte: callers
    * add whatever framing their context requires (4-byte prefix for V1
    * level sections, leading width byte for dictionary indices). */
  private def rleHybridRuns(values: Array[Int], n: Int, width: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(n / 4 + 16)
    def varint(v0: Long): Unit = {
      var v = v0
      do {
        val b = (v & 0x7f).toInt; v >>>= 7
        out.write(if (v != 0) b | 0x80 else b)
      } while (v != 0)
    }
    val byteW = math.max(1, (width + 7) / 8)
    // A bit-packed run must contain an exact multiple of 8 REAL values
    // (padding is only legal in the very last group of the section, where
    // readers stop at their declared count) — so runs can only cut over
    // to RLE at group boundaries. This is the group-aligned scheme:
    // buffer 8 values at a time; a value repeating ≥8 times from a group
    // boundary becomes an RLE run (the buffered prefix of the run is
    // discarded — its count is folded into the run length).
    val buffered = new Array[Int](8)
    var numBuffered = 0
    var previous = 0
    var repeat = 0
    val packed = new java.io.ByteArrayOutputStream(64)
    var packedGroups = 0
    def endPackedRun(): Unit = if (packedGroups > 0) {
      varint((packedGroups.toLong << 1) | 1L)
      packed.writeTo(out)
      packed.reset()
      packedGroups = 0
    }
    def packGroup(): Unit = {
      val g = new Array[Byte](width)
      var bitPos = 0
      var i = 0
      while (i < 8) {
        var got = 0
        val v = buffered(i)
        while (got < width) {
          val byteI = bitPos >> 3
          val avail = 8 - (bitPos & 7)
          val take = math.min(avail, width - got)
          g(byteI) = (g(byteI) |
            (((v >> got) & ((1 << take) - 1)) << (bitPos & 7))).toByte
          got += take; bitPos += take
        }
        i += 1
      }
      packed.write(g, 0, width)
      packedGroups += 1
      numBuffered = 0
      repeat = 0 // a run can't span back across a packed group
    }
    def rleRun(): Unit = {
      endPackedRun()
      varint(repeat.toLong << 1)
      var k = 0
      while (k < byteW) { out.write((previous >>> (8 * k)) & 0xff); k += 1 }
      repeat = 0
      numBuffered = 0 // buffered values were the run's prefix — counted in `repeat`
    }
    var i = 0
    while (i < n) {
      val v = values(i)
      var partOfRun = false
      if (repeat > 0 && v == previous) {
        repeat += 1
        if (repeat > 8) partOfRun = true // run confirmed; stop buffering
      } else {
        if (repeat >= 8) rleRun()
        repeat = 1
        previous = v
      }
      if (!partOfRun) {
        buffered(numBuffered) = v
        numBuffered += 1
        if (numBuffered == 8) {
          if (repeat == 8) () // full group IS a run prefix: keep counting
          else packGroup()
        }
      }
      i += 1
    }
    if (repeat >= 8) rleRun()
    else if (numBuffered > 0) {
      while (numBuffered < 8) { buffered(numBuffered) = 0; numBuffered += 1 }
      packGroup()
    }
    endPackedRun()
    out.toByteArray
  }

  /** A 4-byte-length-prefixed [[rleHybridRuns]] level section — the V1
    * data-page framing for repetition/definition levels. */
  private def levelSection(levels: Array[Int], n: Int, width: Int): Array[Byte] = {
    val runs = rleHybridRuns(levels, n, width)
    val out = new Array[Byte](4 + runs.length)
    out(0) = (runs.length & 0xff).toByte
    out(1) = ((runs.length >> 8) & 0xff).toByte
    out(2) = ((runs.length >> 16) & 0xff).toByte
    out(3) = ((runs.length >> 24) & 0xff).toByte
    System.arraycopy(runs, 0, out, 4, runs.length)
    out
  }

  /** Definition levels for an OPTIONAL column over `vals(from until
    * to)`: the width-1 case of [[levelSection]] with the null mask as
    * the level array (0 = null, 1 = present). Thin wrapper so there is
    * exactly ONE implementation of the varint-header + length-prefix
    * layout (r18 ADVICE: two hand-rolled copies were a divergence risk). */
  private def defLevels(vals: Array[Any], from: Int, to: Int): Array[Byte] = {
    val n = to - from
    val levels = new Array[Int](n)
    var i = 0
    while (i < n) { if (vals(from + i) != null) levels(i) = 1; i += 1 }
    levelSection(levels, n, 1)
  }

  // ---- file assembly ---------------------------------------------------------

  /** Build a complete parquet file in memory. `cols(c)._2` holds one
    * Any per row (null = SQL null; requires the column be optional). */
  /** Dictionary caps, mirroring parquet-mr's defaults in spirit: a
    * chunk whose distinct strings exceed either bound falls back to
    * PLAIN — a dictionary bigger than the data it replaces is pure
    * overhead. */
  val DictMaxEntries = 1 << 16
  val DictMaxBytes: Long = 1L << 20

  /** Default split-block Bloom false-positive rate (parquet-mr's). */
  val BloomFpp = 0.01

  def writeBytes(cols: Seq[(ColSpec, Array[Any])], numRows: Int,
      codec: Int = 0, pageRows: Int = 20000,
      rowGroupRows: Int = 1 << 20, dictStrings: Boolean = true,
      bloomColumns: Set[String] = Set.empty,
      bloomFpp: Double = BloomFpp): Array[Byte] = {
    require(cols.nonEmpty, "no columns")
    require(codec == 0 || codec == 1, "hand writer codecs: UNCOMPRESSED or SNAPPY")
    require(pageRows > 0 && rowGroupRows > 0, "positive page/row-group sizes")
    cols.foreach { case (spec, vals) =>
      require(vals.length == numRows, s"${spec.name}: ${vals.length} values for $numRows rows")
      require(spec.optional || vals.forall(_ != null),
        s"${spec.name} is REQUIRED but carries nulls")
    }
    bloomColumns.foreach { name =>
      val spec = cols.collectFirst { case (s, _) if s.name == name => s }
        .getOrElse(throw new IllegalArgumentException(
          s"bloom column $name not in the schema"))
      require(!spec.list && !spec.map && Set(1, 2, 6).contains(spec.typ),
        s"bloom filters cover flat INT32/INT64/BYTE_ARRAY columns; $name is not")
    }
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')

    // (colIdx -> (dataPageOffset, compressedSize, uncompressedSize)) per row group
    final case class ChunkInfo(offset: Long, compressed: Long, uncompressed: Long,
        numValues: Long, nullCount: Long,
        minBytes: Option[Array[Byte]], maxBytes: Option[Array[Byte]],
        dictOffset: Option[Long] = None, dataOffset: Long = -1L,
        bloomHashes: Array[Long] = null) {
      def firstDataOffset: Long = if (dataOffset >= 0) dataOffset else offset
    }

    // PLAIN value encoding of a single stat value (the form statLong/
    // statDouble/statString decode back — LE numerics, raw UTF8 bytes)
    def statBytes(typ: Int, v: Any): Array[Byte] = typ match {
      case 0 => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case 1 =>
        val x = v match { case i: Int => i.toLong; case l: Long => l }
        Array.tabulate(4)(k => ((x >>> (8 * k)) & 0xff).toByte)
      case 2 =>
        val x = v.asInstanceOf[Long]
        Array.tabulate(8)(k => ((x >>> (8 * k)) & 0xff).toByte)
      case 5 =>
        val x = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
        Array.tabulate(8)(k => ((x >>> (8 * k)) & 0xff).toByte)
      case _ => v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    // BYTE_ARRAY/UTF8 stats order is UNSIGNED byte-wise lexicographic on
    // the UTF-8 bytes (parquet ColumnOrder TypeDefinedOrder) — NOT Java
    // String order, which compares UTF-16 code units and misorders
    // supplementary-plane characters (emoji, U+10000+) against
    // U+E000–U+FFFF; a wrong min/max lets stats-pruning readers skip
    // row groups that contain matching rows (r18 ADVICE, medium).
    def utf8Less(a: Array[Byte], b: Array[Byte]): Boolean = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    def statOrder(typ: Int): Ordering[Any] = typ match {
      case 0 => Ordering.by((a: Any) => a.asInstanceOf[Boolean])
      case 1 => Ordering.by((a: Any) => a match { case i: Int => i.toLong; case l: Long => l })
      case 2 => Ordering.by((a: Any) => a.asInstanceOf[Long])
      case 5 => Ordering.by((a: Any) => a.asInstanceOf[Double])
      case _ => throw new IllegalStateException(
        "string stats compare BYTES (utf8Less) — see the chunk stats loop")
    }
    val groups = Seq.newBuilder[(Seq[ChunkInfo], Int)] // (chunks, rows)

    var rgStart = 0
    while (rgStart < numRows) {
      val rgEnd = math.min(numRows, rgStart + rowGroupRows)
      // Per-chunk page accounting + page emission (one instance per
      // column chunk — flat, list leaf, or each of a MAP's two leaves).
      final class PageSink {
        var comp = 0L
        var uncomp = 0L
        var totalEntries = 0L
        def emitPage(raw: Array[Byte], numValues: Int, encoding: Int = 0): Unit = {
          val body = if (codec == 1) Snappy.compress(raw) else raw
          val ph = new TWriter
          ph.structBegin()
          ph.i32(1, 0) // type = DATA_PAGE
          ph.i32(2, raw.length) // uncompressed_page_size
          ph.i32(3, body.length) // compressed_page_size
          ph.structField(5) // DataPageHeader
          ph.i32(1, numValues)
          ph.i32(2, encoding) // PLAIN or RLE_DICTIONARY
          ph.i32(3, 3) // definition_level_encoding = RLE
          ph.i32(4, 3) // repetition_level_encoding = RLE
          ph.structEnd()
          ph.structEnd()
          val hb = ph.bytes
          out.write(hb, 0, hb.length)
          out.write(body, 0, body.length)
          comp += hb.length + body.length
          uncomp += hb.length + raw.length
          totalEntries += numValues
        }
        def emitDictPage(typ: Int, dictVals: Array[Any]): Unit = {
          val raw = plainEncode(typ, dictVals, 0, dictVals.length)
          val body = if (codec == 1) Snappy.compress(raw) else raw
          val ph = new TWriter
          ph.structBegin()
          ph.i32(1, 2) // type = DICTIONARY_PAGE
          ph.i32(2, raw.length)
          ph.i32(3, body.length)
          ph.structField(7) // DictionaryPageHeader
          ph.i32(1, dictVals.length) // num_values
          ph.i32(2, 0) // encoding = PLAIN
          ph.structEnd()
          ph.structEnd()
          val hb = ph.bytes
          out.write(hb, 0, hb.length)
          out.write(body, 0, body.length)
          comp += hb.length + body.length
          uncomp += hb.length + raw.length
        }
      }

      /** One MAP leaf chunk (`isKey`: the required key leaf, else the
        * optional value leaf) over rows `rgStart until rgEnd` — the
        * standard map shape `optional group (MAP) { repeated group
        * key_value { required K key; optional V value } }`, so key defs
        * are 0 (null map) / 1 (empty) / 2 (pair), value defs add 3
        * (present value). Rep 1 chains pairs of one record. */
      def mapLeafChunk(spec: ColSpec, vals: Array[Any], isKey: Boolean,
          rgStart: Int, rgEnd: Int): ChunkInfo = {
        val chunkOffset = out.size().toLong
        val sink = new PageSink
        val typ = if (isKey) spec.mapKeyTyp else spec.typ
        var p = rgStart
        while (p < rgEnd) {
          val pEnd = math.min(rgEnd, p + pageRows)
          val reps = new scala.collection.mutable.ArrayBuffer[Int]
          val defs = new scala.collection.mutable.ArrayBuffer[Int]
          val elems = new scala.collection.mutable.ArrayBuffer[Any]
          var i = p
          while (i < pEnd) {
            vals(i) match {
              case null => reps += 0; defs += 0
              case m: scala.collection.Map[_, _] if m.isEmpty => reps += 0; defs += 1
              case m: scala.collection.Map[_, _] =>
                var j = 0
                m.foreach { case (k, v) =>
                  reps += (if (j == 0) 0 else 1)
                  if (isKey) {
                    require(k != null, s"${spec.name}: MAP keys must be non-null")
                    defs += 2; elems += k
                  } else if (v == null) defs += 2
                  else { defs += 3; elems += v }
                  j += 1
                }
              case other => throw new IllegalArgumentException(
                s"${spec.name}: MAP column row is ${other.getClass.getName}, not a Map")
            }
            i += 1
          }
          val repSec = levelSection(reps.toArray, reps.length, 1)
          val defSec = levelSection(defs.toArray, defs.length, 2)
          val plain = plainEncode(typ, elems.toArray, 0, elems.length)
          val raw = new Array[Byte](repSec.length + defSec.length + plain.length)
          System.arraycopy(repSec, 0, raw, 0, repSec.length)
          System.arraycopy(defSec, 0, raw, repSec.length, defSec.length)
          System.arraycopy(plain, 0, raw, repSec.length + defSec.length, plain.length)
          sink.emitPage(raw, reps.length)
          p = pEnd
        }
        ChunkInfo(chunkOffset, sink.comp, sink.uncomp, sink.totalEntries, -1L, None, None)
      }

      val chunks = cols.flatMap { case (spec, vals) =>
        if (spec.map)
          Seq(mapLeafChunk(spec, vals, isKey = true, rgStart, rgEnd),
            mapLeafChunk(spec, vals, isKey = false, rgStart, rgEnd))
        else Seq[ChunkInfo] {
        val chunkOffset = out.size().toLong
        val sink = new PageSink
        def emitPage(raw: Array[Byte], numValues: Int, encoding: Int = 0): Unit =
          sink.emitPage(raw, numValues, encoding)

        // Dictionary attempt for flat STRING chunks: distinct present
        // values in first-occurrence order; falls back to PLAIN past
        // the caps. `dictIds(i - rgStart)` = dict index, -1 for null.
        var dictVals: Array[Any] = null
        var dictIds: Array[Int] = null
        if (dictStrings && !spec.list && spec.typ == 6) {
          val m = new java.util.HashMap[String, Integer]()
          val order = new scala.collection.mutable.ArrayBuffer[Any]()
          val ids = new Array[Int](rgEnd - rgStart)
          var bytes = 0L
          var ok = true
          var i = rgStart
          while (ok && i < rgEnd) {
            vals(i) match {
              case null => ids(i - rgStart) = -1
              case s: String =>
                var id = m.get(s)
                if (id == null) {
                  bytes += 4L + s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
                  if (order.size >= DictMaxEntries || bytes > DictMaxBytes) ok = false
                  else { id = Integer.valueOf(order.size); m.put(s, id); order += s }
                }
                if (ok) ids(i - rgStart) = id.intValue()
              case other => throw new IllegalArgumentException(
                s"${spec.name}: STRING column row is ${other.getClass.getName}")
            }
            i += 1
          }
          if (ok && order.nonEmpty) { dictVals = order.toArray; dictIds = ids }
        }
        if (dictVals != null) sink.emitDictPage(spec.typ, dictVals)
        val dictPageEnd = out.size().toLong
        val dictBitWidth = if (dictVals == null) 0
        else math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, dictVals.length - 1)))

        var p = rgStart
        while (p < rgEnd) {
          val pEnd = math.min(rgEnd, p + pageRows)
          if (spec.list) {
            // 3-level LIST page: rep + def level sections (widths 1/2)
            // then the PLAIN-encoded present elements. One level entry
            // per element, or one per null/empty list.
            val reps = new scala.collection.mutable.ArrayBuffer[Int]
            val defs = new scala.collection.mutable.ArrayBuffer[Int]
            val elems = new scala.collection.mutable.ArrayBuffer[Any]
            var i = p
            while (i < pEnd) {
              vals(i) match {
                case null => reps += 0; defs += 0
                case s: scala.collection.Seq[_] if s.isEmpty => reps += 0; defs += 1
                case s: scala.collection.Seq[_] =>
                  var j = 0
                  s.foreach { e =>
                    reps += (if (j == 0) 0 else 1)
                    if (e == null) defs += 2 else { defs += 3; elems += e }
                    j += 1
                  }
                case other => throw new IllegalArgumentException(
                  s"${spec.name}: LIST column row is ${other.getClass.getName}, not a Seq")
              }
              i += 1
            }
            val repSec = levelSection(reps.toArray, reps.length, 1)
            val defSec = levelSection(defs.toArray, defs.length, 2)
            val plain = plainEncode(spec.typ, elems.toArray, 0, elems.length)
            val raw = new Array[Byte](repSec.length + defSec.length + plain.length)
            System.arraycopy(repSec, 0, raw, 0, repSec.length)
            System.arraycopy(defSec, 0, raw, repSec.length, defSec.length)
            System.arraycopy(plain, 0, raw, repSec.length + defSec.length, plain.length)
            emitPage(raw, reps.length)
          } else if (dictVals != null) {
            // RLE_DICTIONARY data page: [def levels][bit-width byte]
            // [RLE/bit-packed hybrid of present-value dict indices]
            val defs = if (spec.optional) defLevels(vals, p, pEnd) else Array.emptyByteArray
            val present = new Array[Int](pEnd - p)
            var np = 0
            var i = p
            while (i < pEnd) {
              val id = dictIds(i - rgStart)
              if (id >= 0) { present(np) = id; np += 1 }
              i += 1
            }
            val runs = rleHybridRuns(present, np, dictBitWidth)
            val raw = new Array[Byte](defs.length + 1 + runs.length)
            System.arraycopy(defs, 0, raw, 0, defs.length)
            raw(defs.length) = dictBitWidth.toByte
            System.arraycopy(runs, 0, raw, defs.length + 1, runs.length)
            emitPage(raw, pEnd - p, encoding = 8) // RLE_DICTIONARY
          } else {
            val defs = if (spec.optional) defLevels(vals, p, pEnd) else Array.emptyByteArray
            val plain = plainEncode(spec.typ, vals, p, pEnd)
            val raw = new Array[Byte](defs.length + plain.length)
            System.arraycopy(defs, 0, raw, 0, defs.length)
            System.arraycopy(plain, 0, raw, defs.length, plain.length)
            emitPage(raw, pEnd - p)
          }
          p = pEnd
        }
        val dictOff = if (dictVals != null) Some(chunkOffset) else None
        val dataOff = if (dictVals != null) dictPageEnd else chunkOffset
        if (spec.list)
          ChunkInfo(chunkOffset, sink.comp, sink.uncomp, sink.totalEntries, -1L, None, None)
        else {
          // chunk stats: min/max over present values, null count.
          // Strings compare (and are kept) as their UTF-8 bytes — ONE
          // conversion per row, not per comparison (the per-comparison
          // statBytes form doubled the hand-write gate's wall).
          var nulls = 0L
          var mn: Any = null
          var mx: Any = null
          var mnB: Array[Byte] = null
          var mxB: Array[Byte] = null
          var hasNaN = false
          val ord = if (spec.typ == 6) null else statOrder(spec.typ)
          var i = rgStart
          while (i < rgEnd) {
            val v = vals(i)
            if (v == null) nulls += 1
            else if (spec.typ == 5 && java.lang.Double.isNaN(v.asInstanceOf[Double]))
              hasNaN = true // NaN is unordered: poisons min/max, not null_count
            else if (spec.typ == 6) {
              val b = statBytes(6, v)
              if (mnB == null || utf8Less(b, mnB)) mnB = b
              if (mxB == null || utf8Less(mxB, b)) mxB = b
            } else {
              if (mn == null || ord.lt(v, mn)) mn = v
              if (mx == null || ord.gt(v, mx)) mx = v
            }
            i += 1
          }
          // DOUBLE stats per parquet-format: omit min/max when the chunk
          // contains NaN (reader pruning on NaN-bearing bounds is
          // undefined), and normalize signed zero — min −0.0, max +0.0 —
          // so `= 0.0` predicates can never be pruned away by a
          // bit-pattern-exact bound (r18 ADVICE, low).
          if (spec.typ == 5 && !hasNaN) {
            if (mn != null && mn.asInstanceOf[Double] == 0.0) mn = -0.0d
            if (mx != null && mx.asInstanceOf[Double] == 0.0) mx = 0.0d
          }
          val statOk = !(spec.typ == 5 && hasNaN)
          // Bloom hashes: XXH64 of each distinct present value's PLAIN
          // encoding (BloomFilter.md) — collected per chunk here, sized
          // and bit-set once all row groups are on disk. Emitted even
          // for dictionary-encoded chunks: unlike parquet-mr (whose
          // reader consults the dictionary for membership) the repo's
          // probeCensus reads only the filter region.
          val bh: Array[Long] =
            if (!bloomColumns.contains(spec.name)) null
            else {
              // open-addressing primitive set: no boxing, no node GC
              // churn on million-row chunks (production row groups)
              val set = new LongHashSet(rgEnd - rgStart)
              var i = rgStart
              while (i < rgEnd) {
                val v = vals(i)
                if (v != null) set.add(spec.typ match {
                  case 1 => ParquetBloom.hashInt(v match {
                    case x: Int => x; case x: Long => x.toInt })
                  case 2 => ParquetBloom.hashLong(v.asInstanceOf[Long])
                  case _ => ParquetBloom.hashBinary(v.asInstanceOf[String]
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8))
                })
                i += 1
              }
              set.toArray
            }
          val minBytes =
            if (!statOk) None
            else if (spec.typ == 6) Option(mnB)
            else Option(mn).map(statBytes(spec.typ, _))
          val maxBytes =
            if (!statOk) None
            else if (spec.typ == 6) Option(mxB)
            else Option(mx).map(statBytes(spec.typ, _))
          ChunkInfo(chunkOffset, sink.comp, sink.uncomp, (rgEnd - rgStart).toLong, nulls,
            minBytes, maxBytes, dictOff, dataOff, bh)
        }
        }
      }
      groups += ((chunks, rgEnd - rgStart))
      rgStart = rgEnd
    }

    // ---- bloom filter regions (after all row-group data, before the
    // footer — placement is free in parquet-format; readers seek to the
    // footer's explicit bloom_filter_offset). Per eligible chunk: the
    // compact-protocol BloomFilterHeader (numBytes + the XXHASH/BLOCK/
    // UNCOMPRESSED unions [[ParquetBloom.parseBloomHeader]] validates)
    // followed by the split-block bitset. ----
    val builtPre = groups.result()
    val bloomAt: Seq[Seq[Option[(Long, Int)]]] = builtPre.map { case (chunks, _) =>
      chunks.map { ci =>
        if (ci.bloomHashes == null) None
        else {
          val off = out.size().toLong
          val numBytes = ParquetBloom.optimalNumBytes(
            math.max(1L, ci.bloomHashes.length.toLong), bloomFpp)
          val h = new TWriter
          h.structBegin()
          h.i32(1, numBytes)
          h.structField(2); h.structField(1); h.structEnd(); h.structEnd() // XXHASH
          h.structField(3); h.structField(1); h.structEnd(); h.structEnd() // BLOCK
          h.structField(4); h.structField(1); h.structEnd(); h.structEnd() // UNCOMPRESSED
          h.structEnd()
          val hb = h.bytes
          out.write(hb, 0, hb.length)
          val bits = ParquetBloom.buildBits(ci.bloomHashes, numBytes)
          out.write(bits, 0, bits.length)
          Some((off, hb.length + bits.length))
        }
      }
    }

    // ---- footer ----
    val f = new TWriter
    f.structBegin()
    f.i32(1, 1) // version
    val nSchemaElems = 1 + cols.map { case (s, _) =>
      if (s.list) 3 else if (s.map) 4 else 1 }.sum
    f.listBegin(2, 12, nSchemaElems) // schema
    // root
    f.structBegin()
    f.str(4, "graft_schema")
    f.i32(5, cols.size) // num_children
    f.structEnd()
    cols.foreach { case (spec, _) =>
      if (spec.list) {
        // optional group <name> (LIST) { repeated group list { optional T element } }
        f.structBegin()
        f.i32(3, 1); f.str(4, spec.name); f.i32(5, 1); f.i32(6, 3) // LIST
        f.structEnd()
        f.structBegin()
        f.i32(3, 2); f.str(4, "list"); f.i32(5, 1)
        f.structEnd()
        f.structBegin()
        f.i32(1, spec.typ); f.i32(3, 1); f.str(4, "element")
        if (spec.typ == 6) f.i32(6, 0)
        f.structEnd()
      } else if (spec.map) {
        // optional group <name> (MAP) { repeated group key_value {
        //   required K key; optional V value } }
        f.structBegin()
        f.i32(3, 1); f.str(4, spec.name); f.i32(5, 1); f.i32(6, 1) // MAP
        f.structEnd()
        f.structBegin()
        f.i32(3, 2); f.str(4, "key_value"); f.i32(5, 2)
        f.structEnd()
        f.structBegin()
        f.i32(1, spec.mapKeyTyp); f.i32(3, 0); f.str(4, "key")
        if (spec.mapKeyTyp == 6) f.i32(6, 0)
        f.structEnd()
        f.structBegin()
        f.i32(1, spec.typ); f.i32(3, 1); f.str(4, "value")
        if (spec.typ == 6) f.i32(6, 0)
        f.structEnd()
      } else {
        f.structBegin()
        f.i32(1, spec.typ)
        f.i32(3, if (spec.optional) 1 else 0) // repetition
        f.str(4, spec.name)
        if (spec.typ == 6) f.i32(6, 0) // converted_type UTF8
        f.structEnd()
      }
    }
    f.i64(3, numRows.toLong)
    // one (physical type, schema path) per LEAF column — the zip target
    // for each row group's chunk list (flat/LIST = 1 leaf, MAP = 2)
    val leafMetas: Seq[(Int, Seq[String])] = cols.flatMap { case (spec, _) =>
      if (spec.map) Seq(
        (spec.mapKeyTyp, Seq(spec.name, "key_value", "key")),
        (spec.typ, Seq(spec.name, "key_value", "value")))
      else if (spec.list) Seq((spec.typ, Seq(spec.name, "list", "element")))
      else Seq((spec.typ, Seq(spec.name)))
    }
    val built = builtPre
    f.listBegin(4, 12, built.size) // row_groups
    built.zip(bloomAt).foreach { case ((chunks, rows), blooms) =>
      f.structBegin()
      f.listBegin(1, 12, chunks.size) // columns
      chunks.zip(leafMetas).zip(blooms).foreach { case ((ci, (leafTyp, pathParts)), bloom) =>
        f.structBegin()
        f.i64(2, ci.offset) // file_offset
        f.structField(3) // ColumnMetaData
        f.i32(1, leafTyp)
        if (ci.dictOffset.isDefined) {
          // encodings: PLAIN (dict page), RLE (levels), RLE_DICTIONARY
          f.listBegin(2, 5, 3); f.zig(0L); f.zig(3L); f.zig(8L)
        } else {
          f.listBegin(2, 5, 2); f.zig(0L); f.zig(3L) // encodings: PLAIN, RLE
        }
        f.listBegin(3, 8, pathParts.size) // path_in_schema
        pathParts.foreach { part =>
          val nb = part.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          f.varint(nb.length.toLong); f.out.write(nb, 0, nb.length)
        }
        f.i32(4, codec)
        f.i64(5, ci.numValues)
        f.i64(6, ci.uncompressed)
        f.i64(7, ci.compressed)
        f.i64(9, ci.firstDataOffset) // data_page_offset (first DATA page)
        ci.dictOffset.foreach(o => f.i64(11, o)) // dictionary_page_offset
        if (ci.nullCount >= 0L) { // flat columns carry stats; lists don't
          f.structField(12) // Statistics
          f.i64(3, ci.nullCount)
          ci.maxBytes.foreach { b =>
            f.listlessBinary(5, b) // max_value (modern signed-ordered field)
          }
          ci.minBytes.foreach { b =>
            f.listlessBinary(6, b) // min_value
          }
          f.structEnd()
        }
        bloom.foreach { case (off, len) =>
          f.i64(14, off) // bloom_filter_offset
          f.i32(15, len) // bloom_filter_length (header + bitset)
        }
        f.structEnd()
        f.structEnd()
      }
      f.i64(2, chunks.map(_.uncompressed).sum) // total_byte_size
      f.i64(3, rows.toLong)
      f.structEnd()
    }
    f.str(6, "graft hand writer")
    // column_orders: one ColumnOrder{1: TypeDefinedOrder{}} per schema
    // leaf, declaring that the stats above follow the spec's
    // type-defined order (unsigned-byte UTF8, total-ordered numerics) —
    // without this field readers must treat min/max ordering as
    // undefined for readers that check it (r18 ADVICE, medium).
    f.listBegin(7, 12, leafMetas.size)
    leafMetas.foreach { _ =>
      f.structBegin()
      f.structField(1) // TYPE_ORDER (empty TypeDefinedOrder struct)
      f.structEnd()
      f.structEnd()
    }
    f.structEnd()
    val fb = f.bytes
    out.write(fb, 0, fb.length)
    out.write(fb.length & 0xff); out.write((fb.length >> 8) & 0xff)
    out.write((fb.length >> 16) & 0xff); out.write((fb.length >> 24) & 0xff)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.toByteArray
  }

  private def physicalType(dt: DataType): Int = dt match {
    case BooleanType => 0
    case IntegerType => 1
    case LongType => 2
    case DoubleType => 5
    case StringType => 6
    case other => throw new IllegalArgumentException(
      s"hand writer does not support Spark type $other")
  }

  /** Write `df` as hand-built parquet files under `dir` — one file per
    * partition, written through the Hadoop FS (the task-parallel sink
    * shape) that the session's Hadoop configuration resolves for `dir`,
    * on the driver and in every task. Returns the file count. */
  def writeDir(df: DataFrame, dir: String, codec: Int = 0,
      pageRows: Int = 20000, dictStrings: Boolean = true,
      bloomColumns: Set[String] = Set.empty): Int = {
    val schema = df.schema
    val specs = schema.fields.map { fd =>
      fd.dataType match {
        case ArrayType(et, _) =>
          ColSpec(fd.name, physicalType(et), optional = true, list = true)
        case MapType(kt, vt, _) =>
          ColSpec(fd.name, physicalType(vt), optional = true,
            map = true, mapKeyTyp = physicalType(kt))
        case dt => ColSpec(fd.name, physicalType(dt), fd.nullable)
      }
    }.toSeq
    // OVERWRITE semantics (r20 fix): per-task `fs.create(path, true)`
    // only truncates files the CURRENT width re-writes. A prior run
    // with MORE partitions (e.g. a 32-core bench before an 8-core
    // rerun — the driver measures both) leaves its higher-numbered
    // part files in place and the read returns their stale rows mixed
    // with fresh ones. Spark's own committer truncates the directory
    // on overwrite; this hand writer must too.
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val dirFs = dirPath.getFileSystem(hadoopConf)
    if (dirFs.exists(dirPath)) dirFs.delete(dirPath, true)
    val taskConf = new SerializableConfiguration(hadoopConf)
    val n = df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.toArray
      val cols = specs.zipWithIndex.map { case (spec, c) =>
        val vals = new Array[Any](rows.length)
        var i = 0
        while (i < rows.length) { vals(i) = if (rows(i).isNullAt(c)) null else rows(i).get(c); i += 1 }
        (spec, vals)
      }
      val bytes = writeBytes(cols, rows.length, codec, pageRows,
        dictStrings = dictStrings, bloomColumns = bloomColumns)
      val path = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.parquet")
      val os = path.getFileSystem(taskConf.value).create(path, true)
      try os.write(bytes) finally os.close()
      Iterator.single(1)
    }.sum().toInt
    n
  }
}
