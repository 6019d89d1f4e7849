package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Gzip, Snappy, Zstd}

/** Hand-written Parquet DATA-PAGE reader — the engine can now read real
  * column chunks end-to-end without parquet-mr: footer ([[ParquetFooter]])
  * → per-page `PageHeader` (Thrift compact) → page decompression through
  * the repo's OWN codecs (Snappy raw-block, gzip member, zstd frame) →
  * RLE/bit-packed-hybrid definition levels → PLAIN or RLE_DICTIONARY
  * values. Everything is off the public `parquet-format` spec
  * (`Encodings.md`, `parquet.thrift`).
  *
  * Scope (loud fences, not silent wrongness): FLAT columns only
  * (max repetition level 0 — no nested lists/maps). BOTH data-page
  * versions decode (V1 = parquet-mr's default; V2 since round 17 —
  * the layout arrow-rs and DuckDB write, with raw un-prefixed level
  * sections and a values-only compression boundary). Encodings:
  * PLAIN, PLAIN_DICTIONARY/RLE_DICTIONARY, boolean RLE, and the V2
  * DELTA family — DELTA_BINARY_PACKED (wrapping 64-bit block/miniblock
  * decode), DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY (front coding).
  * Codecs: UNCOMPRESSED/SNAPPY/GZIP/ZSTD (all four decoders are the
  * repo's own hand-written implementations — reading a zstd parquet
  * chunk exercises the RFC 8878 decoder against real writer output).
  *
  * Scale shape: one column chunk per task; the chunk walk is sequential
  * within a task by construction (pages chain), tasks fan out per
  * (file, row group) exactly like the metadata scans.
  *
  * Reference scope: lithops-dataframe re-parses CSV byte ranges per
  * worker (`core.py:254`); this is the columnar-format analog of that
  * ingest path, spec-grounded and oracle-checked.
  */
object ParquetPages {

  // ---- RLE/bit-packed hybrid (Encodings.md §RLE) -------------------------

  /** Decode `n` values of `bitWidth` from the hybrid encoding starting
    * at `off`: LEB128 header — low bit 1 ⇒ bit-packed group count
    * (header >> 1 groups of 8 values, LSB-first within each byte),
    * low bit 0 ⇒ RLE run (header >> 1 repeats of a fixed-width
    * little-endian value). Returns (values, next offset). */
  private[graft] def rleHybrid(b: Array[Byte], off: Int, bitWidth: Int,
                                 n: Int): (Array[Int], Int) = {
    val out = new Array[Int](n)
    var p = off
    var filled = 0
    if (bitWidth == 0) return (out, p) // all zeros, nothing stored
    val byteWidth = (bitWidth + 7) / 8
    while (filled < n) {
      // LEB128 header
      var header = 0L; var shift = 0; var bb = 0
      do {
        require(p < b.length, "truncated RLE header")
        bb = b(p) & 0xff; p += 1
        header |= (bb & 0x7fL) << shift; shift += 7
      } while ((bb & 0x80) != 0)
      if ((header & 1) == 1) { // bit-packed: header>>1 groups of 8
        val groups = (header >>> 1).toInt
        // a corrupt varint can make the truncated Int negative, which
        // would pass the byte bound below as a negative product and
        // then walk p backwards — reject loudly, and bound groups by
        // the values still owed (last group may pad to 8)
        require(groups >= 0 && groups <= (n - filled + 7) / 8,
          s"implausible bit-packed run of $groups groups with ${n - filled} values left")
        val count = groups * 8
        require(p + groups.toLong * bitWidth <= b.length, "truncated bit-packed run")
        var bitPos = 0
        var i = 0
        while (i < count && filled < n) {
          var v = 0; var got = 0
          while (got < bitWidth) {
            val byteI = p + (bitPos >> 3)
            val avail = 8 - (bitPos & 7)
            val take = math.min(avail, bitWidth - got)
            val bits = ((b(byteI) & 0xff) >>> (bitPos & 7)) & ((1 << take) - 1)
            v |= bits << got
            got += take; bitPos += take
          }
          out(filled) = v; filled += 1; i += 1
        }
        // a group's padding values beyond n are legal filler — skip them
        p += groups * bitWidth
      } else { // RLE run
        val count = (header >>> 1).toInt
        require(count >= 0 && p + byteWidth <= b.length, "truncated RLE run")
        var v = 0; var k = 0
        while (k < byteWidth) { v |= (b(p + k) & 0xff) << (8 * k); k += 1 }
        p += byteWidth
        var i = 0
        while (i < count && filled < n) { out(filled) = v; filled += 1; i += 1 }
        require(i == count || filled == n, "RLE run overflows value count")
      }
    }
    (out, p)
  }

  // ---- PageHeader (parquet.thrift) ----------------------------------------

  /** The fields of PageHeader + DataPageHeader(V2)/DictionaryPageHeader
    * the walk needs. `kind`: 0 = data v1, 2 = dictionary, 3 = data v2
    * (thrift PageType). V2-only fields default to the V1-irrelevant
    * values. */
  private[sources] final case class PageHead(
      kind: Int, uncompressedSize: Int, compressedSize: Int,
      numValues: Int, valueEncoding: Int, defLevelEncoding: Int,
      headerLen: Int,
      numNulls: Int = -1, defLevelsByteLen: Int = 0,
      repLevelsByteLen: Int = 0, valuesCompressed: Boolean = true)

  private[sources] def parsePageHeader(buf: Array[Byte]): PageHead =
    parsePageHeader(buf, 0)

  /** Parse a PageHeader starting at `start`, bounds-checked against the
    * WHOLE buffer — headers carrying embedded Statistics (parquet-mr
    * <1.11 defaults, Arrow/Impala page stats, wide BYTE_ARRAY min/max)
    * can exceed any fixed window, so no windowed copy is taken
    * (round-16 ADVICE item 1). */
  private[sources] def parsePageHeader(buf: Array[Byte], start: Int): PageHead = {
    val r = new ParquetFooter.HeaderReader(buf, start)
    var kind = -1; var us = -1; var cs = -1
    var nv = -1; var enc = -1; var defEnc = -1
    var nNulls = -1; var dlBytes = 0; var rlBytes = 0; var vComp = true
    r.struct {
      case (1, 5) => kind = r.zigzagInt(); true
      case (2, 5) => us = r.zigzagInt(); true
      case (3, 5) => cs = r.zigzagInt(); true
      case (5, 12) => // DataPageHeader
        r.struct {
          case (1, 5) => nv = r.zigzagInt(); true
          case (2, 5) => enc = r.zigzagInt(); true
          case (3, 5) => defEnc = r.zigzagInt(); true
          case _ => false
        }; true
      case (7, 12) => // DictionaryPageHeader
        r.struct {
          case (1, 5) => nv = r.zigzagInt(); true
          case (2, 5) => enc = r.zigzagInt(); true
          case _ => false
        }; true
      case (8, 12) => // DataPageHeaderV2 (arrow-rs, DuckDB, parquet-mr v2 mode)
        r.struct {
          case (1, 5) => nv = r.zigzagInt(); true
          case (2, 5) => nNulls = r.zigzagInt(); true
          case (3, 5) => r.zigzagInt(); true // num_rows (flat: = num_values)
          case (4, 5) => enc = r.zigzagInt(); true
          case (5, 5) => dlBytes = r.zigzagInt(); true
          case (6, 5) => rlBytes = r.zigzagInt(); true
          case (7, 1) => vComp = true; true // compact BOOLEAN_TRUE
          case (7, 2) => vComp = false; true // compact BOOLEAN_FALSE
          case _ => false
        }; true
      case _ => false
    }
    require(kind >= 0 && us >= 0 && cs >= 0, "PageHeader missing required fields")
    require(kind == 0 || kind == 2 || kind == 3,
      s"unsupported page type $kind (INDEX_PAGE?)")
    require(nv >= 0, s"PageHeader declares $nv values")
    if (kind == 3)
      require(nNulls >= 0 && dlBytes >= 0 && rlBytes >= 0,
        "DataPageHeaderV2 missing required fields")
    PageHead(kind, us, cs, nv, enc, defEnc, r.position - start,
      nNulls, dlBytes, rlBytes, vComp)
  }

  // ---- DELTA encodings (Encodings.md §Delta) ------------------------------

  private def uleb(b: Array[Byte], off0: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var p = off0; var bb = 0
    do {
      require(p < b.length, "truncated ULEB128 varint")
      bb = b(p) & 0xff; p += 1
      v |= (bb & 0x7fL) << shift; shift += 7
      require(shift <= 70, "overlong ULEB128 varint")
    } while ((bb & 0x80) != 0)
    (v, p)
  }

  /** DELTA_BINARY_PACKED (encoding 5): decode exactly `n` longs.
    * Layout: block_size / miniblocks_per_block / total_count /
    * first_value (zigzag), then per block: min_delta (zigzag) +
    * per-miniblock bit widths + bit-packed miniblocks (LSB-first, the
    * RLE-hybrid packing widened to 64-bit values). The last block
    * omits trailing unused miniblock BODIES but keeps all width bytes;
    * a partially used miniblock is fully present (padded). Arithmetic
    * wraps in 64 bits per spec. Returns (values, next offset). */
  private[graft] def deltaBinaryPacked(b: Array[Byte], off0: Int,
      n: Int): (Array[Long], Int) = {
    var p = off0
    val (blockSizeL, p1) = uleb(b, p); p = p1
    val (numMiniL, p2) = uleb(b, p); p = p2
    val (totalL, p3) = uleb(b, p); p = p3
    val (firstZ, p4) = uleb(b, p); p = p4
    require(blockSizeL > 0 && blockSizeL <= (1 << 24),
      s"implausible delta block size $blockSizeL")
    require(numMiniL > 0 && numMiniL <= blockSizeL,
      s"implausible delta miniblock count $numMiniL")
    val blockSize = blockSizeL.toInt
    val numMini = numMiniL.toInt
    require(blockSize % 128 == 0,
      s"delta block size $blockSize not a positive multiple of 128")
    require(numMini > 0 && blockSize % numMini == 0 &&
      (blockSize / numMini) % 32 == 0,
      s"delta miniblock layout $blockSize/$numMini invalid")
    require(totalL == n,
      s"delta header declares $totalL values, caller expects $n")
    val perMini = blockSize / numMini
    val out = new Array[Long](n)
    if (n == 0) return (out, p)
    out(0) = (firstZ >>> 1) ^ -(firstZ & 1L)
    var filled = 1
    var prev = out(0)
    val widths = new Array[Int](numMini)
    while (filled < n) {
      val (minZ, q) = uleb(b, p); p = q
      val minDelta = (minZ >>> 1) ^ -(minZ & 1L)
      var mb = 0
      while (mb < numMini) {
        require(p < b.length, "truncated delta miniblock widths")
        widths(mb) = b(p) & 0xff; p += 1; mb += 1
      }
      mb = 0
      while (mb < numMini && filled < n) {
        val w = widths(mb)
        require(w <= 64, s"delta bit width $w > 64")
        if (w == 0) {
          var i = 0
          while (i < perMini && filled < n) {
            prev += minDelta; out(filled) = prev; filled += 1; i += 1
          }
        } else {
          val miniBytes = (perMini.toLong * w / 8).toInt // ≤ 2^24·64/8, no overflow
          require(p + miniBytes <= b.length, "truncated delta miniblock")
          var bitPos = 0
          var i = 0
          while (i < perMini && filled < n) {
            var v = 0L; var got = 0
            while (got < w) {
              val byteI = p + (bitPos >> 3)
              val avail = 8 - (bitPos & 7)
              val take = math.min(avail, w - got)
              val bits = ((b(byteI) & 0xffL) >>> (bitPos & 7)) & ((1L << take) - 1)
              v |= bits << got
              got += take; bitPos += take
            }
            prev += minDelta + v; out(filled) = prev; filled += 1; i += 1
          }
          p += miniBytes
        }
        mb += 1
      }
    }
    (out, p)
  }

  /** DELTA_LENGTH_BYTE_ARRAY (encoding 6): delta-packed lengths, then
    * the concatenated bytes. Returns (UTF-8 strings, next offset). */
  private[graft] def deltaLengthByteArray(b: Array[Byte], off0: Int,
      n: Int): (Array[String], Int) = {
    val (lens, p0) = deltaBinaryPacked(b, off0, n)
    var p = p0
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      require(lens(i) >= 0L && lens(i) <= Int.MaxValue,
        s"implausible delta byte-array length ${lens(i)}")
      val len = lens(i).toInt
      require(p + len <= b.length && p + len >= p,
        s"delta byte-array length $len overruns page")
      out(i) = new String(b, p, len, java.nio.charset.StandardCharsets.UTF_8)
      p += len; i += 1
    }
    (out, p)
  }

  /** DELTA_BYTE_ARRAY (encoding 7, incremental/front coding):
    * delta-packed shared-prefix lengths + DELTA_LENGTH suffixes. */
  private[graft] def deltaByteArray(b: Array[Byte], off0: Int,
      n: Int): (Array[String], Int) = {
    val (prefixLens, p0) = deltaBinaryPacked(b, off0, n)
    val (suffixLens, p1) = deltaBinaryPacked(b, p0, n)
    var p = p1
    val out = new Array[String](n)
    var prev = Array.emptyByteArray
    var i = 0
    while (i < n) {
      require(prefixLens(i) >= 0L && prefixLens(i) <= Int.MaxValue &&
        suffixLens(i) >= 0L && suffixLens(i) <= Int.MaxValue,
        s"implausible delta prefix/suffix lengths ${prefixLens(i)}/${suffixLens(i)}")
      val pl = prefixLens(i).toInt
      val sl = suffixLens(i).toInt
      require(pl <= prev.length, s"delta prefix length $pl exceeds previous value")
      require(p + sl <= b.length && p + sl >= p, s"delta suffix length $sl overruns page")
      val v = new Array[Byte](pl + sl)
      System.arraycopy(prev, 0, v, 0, pl)
      System.arraycopy(b, p, v, pl, sl)
      p += sl
      out(i) = new String(v, java.nio.charset.StandardCharsets.UTF_8)
      prev = v
      i += 1
    }
    (out, p)
  }

  // ---- chunk walk -----------------------------------------------------------

  /** One decoded flat column chunk: `values(i)` is null where the
    * definition level said so. Values are Long (INT32/INT64), Double
    * (FLOAT/DOUBLE), String (BYTE_ARRAY/UTF8) or Boolean. */
  final case class DecodedChunk(typ: Int, values: Array[Any])

  private def inflatePage(codec: Int, b: Array[Byte], off: Int, clen: Int,
                          ulen: Int): Array[Byte] = codec match {
    case 0 => java.util.Arrays.copyOfRange(b, off, off + clen)
    case 1 => Snappy.uncompressBlock(b, off, off + clen)
    case 2 => Gzip.gunzip(java.util.Arrays.copyOfRange(b, off, off + clen))
    case 6 => Zstd.decode(java.util.Arrays.copyOfRange(b, off, off + clen))
    case c => throw new IllegalArgumentException(
      s"unsupported page codec ${ParquetFooter.CodecNames.lift(c).getOrElse(c.toString)}")
  }

  /** Shared value-section decode: PLAIN / dictionary / DELTA family /
    * boolean RLE / BYTE_STREAM_SPLIT — legal in both page versions. */
  private[graft] def decodePageValues(typ: Int, enc: Int, body: Array[Byte],
      vp: Int, nPresent: Int, dict: Array[Any], typeLength: Int): Array[Any] =
    enc match {
      case 0 => // PLAIN
        plainValues(typ, body, vp, nPresent, typeLength)
      case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY indices
        require(dict != null, "dictionary-encoded page before dictionary page")
        require(vp < body.length, "dictionary page has no bit-width byte")
        val bw = body(vp) & 0xff
        require(bw <= 32, s"implausible dictionary index bit width $bw")
        val (idx, _) = rleHybrid(body, vp + 1, bw, nPresent)
        idx.take(nPresent).map { i =>
          require(i >= 0 && i < dict.length,
            s"dictionary index $i out of range (${dict.length} entries)")
          dict(i): Any
        }
      case 3 => // RLE boolean values (4-byte LE length prefix, v2 writers)
        require(typ == 0, "RLE value encoding is BOOLEAN-only")
        val (lv, _) = rleHybrid(body, vp + 4, 1, nPresent)
        lv.take(nPresent).map(v => Boolean.box(v == 1): Any)
      case 5 => // DELTA_BINARY_PACKED ints
        require(typ == 1 || typ == 2,
          s"DELTA_BINARY_PACKED on non-integer type ${ParquetFooter.TypeNames(typ)}")
        val (vs, _) = deltaBinaryPacked(body, vp, nPresent)
        if (typ == 1) vs.map(v => Long.box(v.toInt.toLong): Any)
        else vs.map(Long.box(_): Any)
      case 6 => // DELTA_LENGTH_BYTE_ARRAY strings
        require(typ == 6, "DELTA_LENGTH_BYTE_ARRAY is BYTE_ARRAY-only")
        deltaLengthByteArray(body, vp, nPresent)._1.map(v => v: Any)
      case 7 => // DELTA_BYTE_ARRAY strings (front coding)
        require(typ == 6, "DELTA_BYTE_ARRAY is BYTE_ARRAY-only")
        deltaByteArray(body, vp, nPresent)._1.map(v => v: Any)
      case 9 => // BYTE_STREAM_SPLIT: byte j of value i at j·n + i
        require(typ == 4 || typ == 5,
          "BYTE_STREAM_SPLIT supported for FLOAT/DOUBLE only")
        val w = if (typ == 4) 4 else 8
        require(vp + nPresent.toLong * w <= body.length,
          "BYTE_STREAM_SPLIT values overrun the page")
        val outv = new Array[Any](nPresent)
        var i = 0
        while (i < nPresent) {
          var bits = 0L; var j = w - 1
          while (j >= 0) {
            bits = (bits << 8) | (body(vp + j * nPresent + i) & 0xffL)
            j -= 1
          }
          outv(i) =
            if (typ == 4) java.lang.Float.intBitsToFloat(bits.toInt).toDouble
            else java.lang.Double.longBitsToDouble(bits)
          i += 1
        }
        outv
      case e => throw new IllegalArgumentException(
        s"unsupported value encoding ${ParquetFooter.EncodingNames.lift(e).getOrElse(e.toString)}")
    }

  private def plainValues(typ: Int, b: Array[Byte], off0: Int, n: Int,
                          typeLength: Int = 0): Array[Any] = {
    val out = new Array[Any](n)
    var p = off0
    var i = 0
    // fixed-width types: one loud bound up front instead of a per-value
    // check (BYTE_ARRAY lengths are validated per element below)
    val fixedWidth = typ match {
      case 0 => 0 // bit-packed, checked below
      case 1 | 4 => 4
      case 2 | 5 => 8
      case 3 => 12
      case 7 => typeLength
      case _ => -1
    }
    if (fixedWidth > 0)
      require(off0.toLong + fixedWidth.toLong * n <= b.length,
        s"PLAIN values of ${ParquetFooter.TypeNames.lift(typ).getOrElse(typ.toString)} overrun the page")
    if (typ == 0)
      require(off0 + (n + 7) / 8 <= b.length, "PLAIN boolean bits overrun the page")
    typ match {
      case 0 => // BOOLEAN: bit-packed LSB-first
        while (i < n) { out(i) = ((b(p + (i >> 3)) >>> (i & 7)) & 1) == 1; i += 1 }
      case 1 => // INT32 LE
        while (i < n) {
          out(i) = ((b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
            ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)).toInt.toLong
          p += 4; i += 1
        }
      case 2 => // INT64 LE
        while (i < n) {
          var v = 0L; var k = 7
          while (k >= 0) { v = (v << 8) | (b(p + k) & 0xffL); k -= 1 }
          out(i) = v; p += 8; i += 1
        }
      case 3 => // INT96: legacy Spark/Impala timestamp — 8-byte LE
        // nanos-of-day then 4-byte LE Julian day; surfaced as
        // MICROSECONDS since the Unix epoch (Spark's internal form)
        while (i < n) {
          var nanos = 0L; var k = 7
          while (k >= 0) { nanos = (nanos << 8) | (b(p + k) & 0xffL); k -= 1 }
          val jd = (b(p + 8) & 0xff) | ((b(p + 9) & 0xff) << 8) |
            ((b(p + 10) & 0xff) << 16) | ((b(p + 11) & 0xff) << 24)
          // Unix epoch 1970-01-01 = Julian day 2440588
          out(i) = (jd - 2440588).toLong * 86400000000L + nanos / 1000L
          p += 12; i += 1
        }
      case 4 => // FLOAT LE
        while (i < n) {
          val bits = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          out(i) = java.lang.Float.intBitsToFloat(bits).toDouble; p += 4; i += 1
        }
      case 5 => // DOUBLE LE
        while (i < n) {
          var v = 0L; var k = 7
          while (k >= 0) { v = (v << 8) | (b(p + k) & 0xffL); k -= 1 }
          out(i) = java.lang.Double.longBitsToDouble(v); p += 8; i += 1
        }
      case 6 => // BYTE_ARRAY: 4-byte LE length + bytes
        while (i < n) {
          require(p + 4 <= b.length, "BYTE_ARRAY length prefix overruns the page")
          val len = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          require(len >= 0 && p + 4 + len.toLong <= b.length,
            s"BYTE_ARRAY of $len bytes overruns the page")
          out(i) = new String(b, p + 4, len, java.nio.charset.StandardCharsets.UTF_8)
          p += 4 + len; i += 1
        }
      case 7 => // FIXED_LEN_BYTE_ARRAY: big-endian two's-complement
        // unscaled decimal (the >18-precision DECIMAL physical form);
        // surfaced as the unscaled Long — callers apply the scale
        require(typeLength > 0, "FIXED_LEN_BYTE_ARRAY needs type_length from the schema")
        while (i < n) {
          var v = (b(p) >> 7).toLong // sign-extend from the first byte
          var k = 0
          while (k < typeLength) { v = (v << 8) | (b(p + k) & 0xffL); k += 1 }
          require(typeLength <= 8 || BigInt(java.util.Arrays.copyOfRange(b, p, p + typeLength)).isValidLong,
            "FLBA decimal exceeds Long unscaled range")
          out(i) = v; p += typeLength; i += 1
        }
      case t => throw new IllegalArgumentException(
        s"unsupported physical type ${ParquetFooter.TypeNames.lift(t).getOrElse(t.toString)}")
    }
    out
  }

  /** Decode one flat column chunk of `columnPath` in row group `rgi`.
    * `maxDef` is 1 for OPTIONAL leaves, 0 for REQUIRED (from the footer
    * schema); repeated fields are rejected upstream. */
  def readChunk(conf: org.apache.hadoop.conf.Configuration, path: String,
                meta: ParquetFooter.ColumnMeta, maxDef: Int,
                typeLength: Int = 0): DecodedChunk =
    readChunkLevels(conf, path, meta, maxDef, 0, typeLength)._1

  /** One level's bit width: levels 0..max. */
  private def levelWidth(max: Int): Int =
    32 - Integer.numberOfLeadingZeros(max)

  /** [[readChunk]] generalized to REPEATED (nested) columns: returns
    * the values ALIGNED TO LEVEL ENTRIES (null where def < maxDef)
    * plus the definition- and repetition-level arrays the caller
    * assembles records from (rep == 0 starts a new record). Flat
    * columns pass maxRep = 0 and get the old contract (reps all
    * zero). */
  def readChunkLevels(conf: org.apache.hadoop.conf.Configuration, path: String,
                      meta: ParquetFooter.ColumnMeta, maxDef: Int, maxRep: Int,
                      typeLength: Int = 0): (DecodedChunk, Array[Int], Array[Int]) = {
    require(meta.numValues >= 0 && meta.numValues <= Int.MaxValue,
      s"implausible chunk value count ${meta.numValues}")
    require(meta.totalCompressedSize > 0 && meta.totalCompressedSize <= (1L << 31) - 1,
      s"implausible chunk size ${meta.totalCompressedSize}")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val start = meta.dictionaryPageOffset.getOrElse(meta.dataPageOffset)
    val chunkBytes = new Array[Byte](meta.totalCompressedSize.toInt)
    val in = fs.open(p)
    try in.readFully(start, chunkBytes, 0, chunkBytes.length) finally in.close()

    var off = 0
    var dict: Array[Any] = null
    val out = new Array[Any](meta.numValues.toInt)
    val allDefs = new Array[Int](meta.numValues.toInt)
    val allReps = new Array[Int](meta.numValues.toInt)
    val defW = levelWidth(maxDef)
    val repW = levelWidth(maxRep)
    var filled = 0
    while (filled < meta.numValues) {
      require(off < chunkBytes.length, "chunk exhausted before all values decoded")
      val ph = parsePageHeader(chunkBytes, off)
      require(ph.compressedSize >= 0 &&
        off.toLong + ph.headerLen + ph.compressedSize <= chunkBytes.length,
        s"page at $off overruns the chunk (${ph.compressedSize} compressed bytes)")
      require(ph.uncompressedSize >= 0 && ph.uncompressedSize <= (1 << 30),
        s"implausible uncompressed page size ${ph.uncompressedSize}")
      val pageStart = off + ph.headerLen
      off += ph.headerLen + ph.compressedSize

      // place `nPresent` decoded present-values into `out` per `defs`,
      // recording the level arrays alongside
      def place(numValues: Int, defs: Array[Int], reps: Array[Int],
                vs: Array[Any]): Unit = {
        var vi = 0; var i = 0
        while (i < numValues) {
          require(filled < out.length,
            "page value counts exceed the chunk's declared total")
          val d = if (defs == null) maxDef else defs(i)
          require(d <= maxDef, s"definition level $d exceeds max $maxDef")
          allDefs(filled) = d
          allReps(filled) = if (reps == null) 0 else reps(i)
          if (d == maxDef) { out(filled) = vs(vi); vi += 1 }
          filled += 1; i += 1
        }
      }
      def decodeValues(enc: Int, body: Array[Byte], vp: Int, nPresent: Int): Array[Any] =
        decodePageValues(meta.typ, enc, body, vp, nPresent, dict, typeLength)

      if (ph.kind == 2) { // dictionary page: PLAIN values
        val body = inflatePage(meta.codec, chunkBytes, pageStart,
          ph.compressedSize, ph.uncompressedSize)
        require(body.length == ph.uncompressedSize,
          s"page inflated to ${body.length}, header says ${ph.uncompressedSize}")
        require(ph.valueEncoding == 0 || ph.valueEncoding == 2,
          s"dictionary page encoding ${ph.valueEncoding} not PLAIN")
        dict = plainValues(meta.typ, body, 0, ph.numValues, typeLength)
      } else if (ph.kind == 0) {
        // data page v1: [rep levels if maxRep>0][def levels if
        // maxDef>0][values], ALL compressed; each level section is a
        // 4-byte-length-prefixed RLE run
        val body = inflatePage(meta.codec, chunkBytes, pageStart,
          ph.compressedSize, ph.uncompressedSize)
        require(body.length == ph.uncompressedSize,
          s"page inflated to ${body.length}, header says ${ph.uncompressedSize}")
        var vp = 0
        def prefixedLevels(width: Int): Array[Int] = {
          val rleLen = (body(vp) & 0xff) | ((body(vp + 1) & 0xff) << 8) |
            ((body(vp + 2) & 0xff) << 16) | ((body(vp + 3) & 0xff) << 24)
          require(rleLen >= 0 && vp + 4 + rleLen <= body.length,
            s"level section of $rleLen bytes overruns the page")
          val (lv, _) = rleHybrid(body, vp + 4, width, ph.numValues)
          vp += 4 + rleLen
          lv
        }
        val reps: Array[Int] = if (maxRep > 0) prefixedLevels(repW) else null
        val defs: Array[Int] =
          if (maxDef > 0) {
            require(ph.defLevelEncoding == 3, "definition levels must be RLE")
            prefixedLevels(defW)
          } else null
        val nPresent = if (defs == null) ph.numValues else defs.count(_ == maxDef)
        place(ph.numValues, defs, reps,
          decodeValues(ph.valueEncoding, body, vp, nPresent))
      } else {
        // data page V2: [rep levels raw][def levels raw][values,
        // compressed iff is_compressed] — levels are NEVER compressed
        // and carry NO 4-byte length prefix (lengths sit in the header)
        require(maxRep > 0 || ph.repLevelsByteLen == 0,
          "page carries repetition levels but the column is flat")
        require(ph.defLevelsByteLen >= 0 && ph.repLevelsByteLen >= 0 &&
          pageStart + ph.repLevelsByteLen.toLong + ph.defLevelsByteLen <= chunkBytes.length,
          "V2 level sections overrun the chunk")
        val reps: Array[Int] =
          if (maxRep > 0 && ph.repLevelsByteLen > 0)
            rleHybrid(chunkBytes, pageStart, repW, ph.numValues)._1
          else null
        val defs: Array[Int] =
          if (maxDef > 0 && ph.defLevelsByteLen > 0)
            rleHybrid(chunkBytes, pageStart + ph.repLevelsByteLen, defW, ph.numValues)._1
          else null
        val nPresent = ph.numValues - math.max(0, ph.numNulls)
        if (defs != null)
          require(defs.count(_ == maxDef) == nPresent,
            s"V2 def levels disagree with num_nulls (${ph.numNulls})")
        else require(ph.numNulls <= 0, "V2 page has nulls but no def levels")
        val levelBytes = ph.repLevelsByteLen + ph.defLevelsByteLen
        val valuesOff = pageStart + levelBytes
        val valuesCompLen = ph.compressedSize - levelBytes
        require(valuesCompLen >= 0, "V2 level lengths exceed page size")
        val values: Array[Byte] =
          if (ph.valuesCompressed && meta.codec != 0)
            inflatePage(meta.codec, chunkBytes, valuesOff, valuesCompLen,
              ph.uncompressedSize - levelBytes)
          else
            java.util.Arrays.copyOfRange(chunkBytes, valuesOff, valuesOff + valuesCompLen)
        // the V1 branch's loud-fence convention: a short/padded codec
        // output fails at the boundary, not later (or never)
        require(values.length == ph.uncompressedSize - levelBytes,
          s"V2 values inflated to ${values.length}, header says ${ph.uncompressedSize - levelBytes}")
        place(ph.numValues, defs, reps, decodeValues(ph.valueEncoding, values, 0, nPresent))
      }
    }
    (DecodedChunk(meta.typ, out), allDefs, allReps)
  }

  /** Max definition level of a FLAT leaf from the footer schema:
    * 1 if the leaf is OPTIONAL, 0 if REQUIRED. Rejects REPEATED and
    * group-nested paths loudly (out of the flat-column scope). */
  private def maxDefOf(fm: ParquetFooter.FileMeta, columnPath: String): (Int, Int) = {
    val leaf = fm.schema.find(_.name == columnPath).getOrElse(
      throw new IllegalArgumentException(s"column $columnPath not in schema"))
    require(leaf.numChildren.forall(_ == 0), s"$columnPath is a group, not a leaf")
    val maxDef = leaf.repetition.getOrElse(0) match {
      case 0 => 0 // REQUIRED
      case 1 => 1 // OPTIONAL
      case r => throw new IllegalArgumentException(
        s"$columnPath has repetition $r (REPEATED) — flat columns only")
    }
    (maxDef, leaf.typeLength.getOrElse(0))
  }

  /** The level geometry of a one-level LIST column. */
  private[sources] final case class ListShape(
      leafPath: String, maxDef: Int, maxRep: Int,
      emptyListDef: Int, typ: Int)

  /** Resolve `columnPath` as a LIST of primitives from the footer
    * schema. Handles the standard 3-level shape Spark/parquet-mr write
    * (`optional group xs (LIST) { repeated group list { <rep> T
    * element } }`) and the legacy 2-level form (`repeated T element`
    * directly under the group). Nested lists / structs stay fenced. */
  private[sources] def listShapeOf(fm: ParquetFooter.FileMeta,
      columnPath: String): ListShape = {
    // depth-first schema walk: collect (element, children) for the
    // top-level field named columnPath
    val s = fm.schema
    var i = 1 // skip root
    var found = -1
    while (i < s.length && found < 0) {
      if (s(i).name == columnPath) found = i
      else i += subtreeSize(s, i)
    }
    require(found >= 0, s"column $columnPath not in schema")
    val outer = s(found)
    require(outer.numChildren.exists(_ == 1),
      s"$columnPath is not a single-child LIST group")
    val outerOpt = outer.repetition.getOrElse(0) match {
      case 0 => 0
      case 1 => 1
      case r => throw new IllegalArgumentException(
        s"$columnPath has repetition $r — top-level REPEATED unsupported")
    }
    val mid = s(found + 1)
    if (mid.numChildren.forall(_ == 0)) {
      // legacy 2-level: repeated primitive directly under the group
      require(mid.repetition.contains(2),
        s"$columnPath.${mid.name} is not REPEATED — not a list")
      val typ = mid.typ.getOrElse(
        throw new IllegalArgumentException(s"$columnPath element has no type"))
      // def levels mirror the 3-level form with a REQUIRED element:
      // < outerOpt → null list, outerOpt → empty list, outerOpt+1 →
      // element (elements cannot be null in the 2-level form)
      ListShape(s"$columnPath.${mid.name}", outerOpt + 1, 1, outerOpt, typ)
    } else {
      // standard 3-level
      require(mid.repetition.contains(2) && mid.numChildren.contains(1),
        s"$columnPath.${mid.name} is not the repeated middle group of a LIST")
      val leaf = s(found + 2)
      require(leaf.numChildren.forall(_ == 0),
        s"$columnPath element is a group — nested lists/structs unsupported")
      val leafOpt = leaf.repetition.getOrElse(0) match {
        case 0 => 0
        case 1 => 1
        case r => throw new IllegalArgumentException(
          s"$columnPath element has repetition $r — unsupported")
      }
      val typ = leaf.typ.getOrElse(
        throw new IllegalArgumentException(s"$columnPath element has no type"))
      // defs: 0..outerOpt-1 → null list; outerOpt → empty list;
      // outerOpt+1 → element at def below max (null element, only when
      // leafOpt=1); maxDef → present element
      ListShape(s"$columnPath.${mid.name}.${leaf.name}",
        outerOpt + 1 + leafOpt, 1, outerOpt, typ)
    }
  }

  private def subtreeSize(s: Seq[ParquetFooter.SchemaElement], at: Int): Int = {
    var size = 1
    var remaining = s(at).numChildren.getOrElse(0)
    while (remaining > 0) {
      val childSize = subtreeSize(s, at + size)
      size += childSize
      remaining -= 1
    }
    size
  }

  /** Read a LIST column of every file under `dir` through the hand
    * reader: repetition levels assemble the per-record arrays (rep 0
    * starts a record), definition levels distinguish null list / empty
    * list / null element / present element. Output: (file, row_idx,
    * n_elems [−1 for a null list], elems as array<string>) — elements
    * are stringified so one schema serves every primitive type; the
    * caller casts. Row-local per (file, row group), zero shuffle. */
  def scanListColumn(spark: SparkSession, dir: String, columnPath: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("n_elems", LongType, nullable = false),
      StructField("elems", ArrayType(StringType, containsNull = true), nullable = true)))
    val rows = ParquetFooter.perFileFooter(spark, dir) { (conf, path, _, fm) =>
      val shape = listShapeOf(fm, columnPath)
      var base = 0L
      fm.rowGroups.flatMap { rg =>
        val meta = rg.columns.flatMap(_.meta).find(_.path == shape.leafPath).getOrElse(
          throw new IllegalArgumentException(
            s"chunk for ${shape.leafPath} missing from row group"))
        val (chunk, defs, reps) = readChunkLevels(conf, path, meta,
          shape.maxDef, shape.maxRep)
        val recs = Seq.newBuilder[Row]
        var cur: scala.collection.mutable.ArrayBuffer[String] = null
        var curNull = false
        var rowIdx = base
        def flush(): Unit = if (cur != null || curNull) {
          recs += Row(path, rowIdx,
            if (curNull) -1L else cur.length.toLong,
            if (curNull) null else cur.toSeq)
          rowIdx += 1
        }
        require(defs.length == 0 || reps(0) == 0,
          s"first level entry of ${shape.leafPath} has rep ${if (reps.nonEmpty) reps(0) else -1}, expected 0")
        var i = 0
        while (i < defs.length) {
          if (reps(i) == 0) { // new record
            flush()
            cur = null; curNull = false
            if (defs(i) < shape.emptyListDef) curNull = true
            else cur = scala.collection.mutable.ArrayBuffer.empty[String]
          }
          if (!curNull && defs(i) > shape.emptyListDef) {
            // an element entry: present value or (maxDef-1) null element
            if (defs(i) == shape.maxDef) cur += String.valueOf(chunk.values(i))
            else cur += null
          }
          i += 1
        }
        flush()
        require(rowIdx - base == rg.numRows,
          s"assembled ${rowIdx - base} records, row group says ${rg.numRows}")
        base = rowIdx
        recs.result()
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Read two flat columns of every file under `dir` through the hand
    * reader, zipped by row position — one task per file, each decoding
    * its chunks with the repo's own codecs. Output: (file, row_idx,
    * a, b) with the columns surfaced as untyped strings-or-numerics
    * cast by the caller. */
  def scanTwoColumns(spark: SparkSession, dir: String,
                     colA: String, colB: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("a_long", LongType, nullable = true),
      StructField("a_double", DoubleType, nullable = true),
      StructField("a_string", StringType, nullable = true),
      StructField("b_long", LongType, nullable = true),
      StructField("b_double", DoubleType, nullable = true),
      StructField("b_string", StringType, nullable = true)))
    val rows = ParquetFooter.perFileFooter(spark, dir) { (conf, path, _, fm) =>
      val (defA, tlA) = maxDefOf(fm, colA); val (defB, tlB) = maxDefOf(fm, colB)
      var base = 0L
      fm.rowGroups.flatMap { rg =>
        val ma = rg.columns.flatMap(_.meta).find(_.path == colA).get
        val mb = rg.columns.flatMap(_.meta).find(_.path == colB).get
        val ca = readChunk(conf, path, ma, defA, tlA)
        val cb = readChunk(conf, path, mb, defB, tlB)
        require(ca.values.length == rg.numRows && cb.values.length == rg.numRows,
          "chunk value count != row-group rows (flat column invariant)")
        val rs = (0 until rg.numRows.toInt).map { i =>
          def split(c: DecodedChunk, i: Int): (Any, Any, Any) = c.values(i) match {
            case null => (null, null, null)
            case v: Long => (Long.box(v), null, null)
            case v: Double => (null, Double.box(v), null)
            case v: Boolean => (Long.box(if (v) 1L else 0L), null, null)
            case v: String => (null, null, v)
          }
          val (al, ad, as) = split(ca, i)
          val (bl, bd, bs) = split(cb, i)
          Row(path, base + i, al, ad, as, bl, bd, bs)
        }
        base += rg.numRows
        rs
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
