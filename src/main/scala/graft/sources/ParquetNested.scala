package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Nested-column record assembly for the hand parquet reader — the
  * Dremel rep/def algorithm generalized past the one-level LIST shape
  * [[ParquetPages.scanListColumn]] landed in round 17. A top-level
  * column's schema subtree (struct / list-of-struct / list-of-list /
  * map, any mix) is walked leaf by leaf through
  * [[ParquetPages.readChunkLevels]], and each record's value is
  * rebuilt from the leaves' (value, def, rep) streams:
  *
  *  - every REPEATED node opens an array level: an entry with
  *    rep == node.repLevel starts a new element of THIS list, a
  *    larger rep continues a deeper list, def < node.defLevel with a
  *    single entry marks the empty list;
  *  - every OPTIONAL group masks its whole subtree null when
  *    def < node.defLevel;
  *  - leaves contribute a present value iff def == leaf.defLevel.
  *
  * Sibling repeated fields (`struct{a: list, b: list}`) assemble
  * correctly because spans are tracked PER LEAF — only record
  * boundaries (rep == 0) are shared across leaves, exactly the Dremel
  * invariant.
  *
  * LIST/MAP logical wrappers (ConvertedType 3/1) collapse to the
  * logical value: the 3-level `group (LIST) { repeated group list {
  * element } }` renders as the array of elements, not a struct with a
  * "list" field; MAP renders as an array of (key, value) structs.
  *
  * Scale shape: identical to the flat scans — one task per file, the
  * chunk walk sequential within a task, zero shuffle.
  *
  * Reference scope: lithops-dataframe's data model has no nested types
  * at all (`io.py:85-87` — pandas CSV inference only); this tier exists
  * because real training-data parquet carries struct metadata and
  * list<struct> spans everywhere.
  */
object ParquetNested {

  // ---- assembled values ----------------------------------------------------

  sealed trait NVal
  case object NNull extends NVal
  final case class NPrim(v: Any) extends NVal
  final case class NArr(items: Vector[NVal]) extends NVal
  final case class NObj(fields: Vector[(String, NVal)]) extends NVal

  // ---- schema subtree -------------------------------------------------------

  /** One node of a column's schema subtree with its resolved level
    * geometry. `leafStart until leafEnd` indexes this node's leaves in
    * the flat leaf order. */
  private[sources] final case class PNode(
      name: String, repetition: Int, typ: Option[Int], typeLength: Int,
      convertedType: Option[Int], defLevel: Int, repLevel: Int,
      children: Vector[PNode], path: String, leafStart: Int, leafEnd: Int) {
    def isLeaf: Boolean = children.isEmpty
    def leaves: Vector[PNode] = if (isLeaf) Vector(this) else children.flatMap(_.leaves)
    /** LIST (3) / MAP (1) logical wrapper: single repeated-group child. */
    def isListWrapper: Boolean =
      (convertedType.contains(3) || convertedType.contains(1)) &&
        children.length == 1 && children.head.repetition == 2
  }

  /** Build the subtree rooted at preorder index `at`, threading def/rep
    * levels and the flat leaf counter. Returns (node, next preorder
    * index, next leaf index). */
  private def buildTree(s: Seq[ParquetFooter.SchemaElement], at: Int,
      parentDef: Int, parentRep: Int, prefix: String,
      leafAt: Int): (PNode, Int, Int) = {
    val e = s(at)
    val rep = e.repetition.getOrElse(0)
    require(rep >= 0 && rep <= 2, s"schema element ${e.name} has repetition $rep")
    val defLevel = parentDef + (if (rep != 0) 1 else 0)
    val repLevel = parentRep + (if (rep == 2) 1 else 0)
    val path = if (prefix.isEmpty) e.name else s"$prefix.${e.name}"
    val nCh = e.numChildren.getOrElse(0)
    if (nCh == 0) {
      require(e.typ.isDefined, s"leaf $path has no physical type")
      (PNode(e.name, rep, e.typ, e.typeLength.getOrElse(0), e.convertedType,
        defLevel, repLevel, Vector.empty, path, leafAt, leafAt + 1),
        at + 1, leafAt + 1)
    } else {
      var i = at + 1
      var lf = leafAt
      val kids = Vector.newBuilder[PNode]
      var k = 0
      while (k < nCh) {
        val (c, ni, nlf) = buildTree(s, i, defLevel, repLevel, path, lf)
        kids += c; i = ni; lf = nlf; k += 1
      }
      (PNode(e.name, rep, e.typ, 0, e.convertedType, defLevel, repLevel,
        kids.result(), path, leafAt, lf), i, lf)
    }
  }

  /** Resolve the top-level column `columnPath`'s subtree from the
    * footer schema. */
  private[sources] def columnTree(fm: ParquetFooter.FileMeta,
      columnPath: String): PNode = {
    val s = fm.schema
    require(s.nonEmpty, "empty schema")
    var i = 1 // skip root
    var at = -1
    while (i < s.length && at < 0) {
      if (s(i).name == columnPath) at = i
      else i += subtreeSize(s, i)
    }
    require(at >= 0, s"column $columnPath not in schema")
    buildTree(s, at, 0, 0, "", 0)._1
  }

  private def subtreeSize(s: Seq[ParquetFooter.SchemaElement], at: Int): Int = {
    var size = 1
    var remaining = s(at).numChildren.getOrElse(0)
    while (remaining > 0) { val c = subtreeSize(s, at + size); size += c; remaining -= 1 }
    size
  }

  // ---- record assembly -------------------------------------------------------

  /** One leaf's decoded chunk plus its record-boundary index:
    * `bounds(r)` is the entry index where record r starts (rep == 0). */
  private final case class LeafData(values: Array[Any], defs: Array[Int],
      reps: Array[Int], bounds: Array[Int])

  /** Assemble the value of `node` from per-leaf entry spans
    * [lo(l), hi(l)) — the caller guarantees every ancestor of `node`
    * is defined at these entries. */
  private def assemble(node: PNode, leaves: Array[LeafData],
      lo: Array[Int], hi: Array[Int]): NVal = {
    val l0 = node.leafStart
    if (node.repetition == 2) {
      // array level (a repeated group or legacy repeated primitive)
      val d0 = leaves(l0).defs(lo(l0))
      if (d0 < node.defLevel) {
        // empty list: exactly one entry per descendant leaf
        var l = node.leafStart
        while (l < node.leafEnd) {
          require(hi(l) - lo(l) == 1,
            s"${node.path}: empty-list marker spans ${hi(l) - lo(l)} entries")
          l += 1
        }
        NArr(Vector.empty)
      } else {
        val rr = node.repLevel
        val elems = Vector.newBuilder[NVal]
        val cur = java.util.Arrays.copyOfRange(lo, 0, lo.length)
        var more = true
        while (more) {
          // each leaf's current element ends at the next entry with rep <= rr
          val elo = new Array[Int](lo.length)
          val ehi = new Array[Int](lo.length)
          var l = node.leafStart
          while (l < node.leafEnd) {
            val L = leaves(l)
            var p = cur(l) + 1
            while (p < hi(l) && L.reps(p) > rr) p += 1
            elo(l) = cur(l); ehi(l) = p
            cur(l) = p
            l += 1
          }
          elems += assembleElement(node, leaves, elo, ehi)
          more = cur(l0) < hi(l0)
          // all leaves must run out together (Dremel invariant)
          l = node.leafStart
          while (l < node.leafEnd) {
            require((cur(l) < hi(l)) == more,
              s"${node.path}: leaves disagree on element count")
            l += 1
          }
        }
        NArr(elems.result())
      }
    } else assembleElement(node, leaves, lo, hi)
  }

  /** The CONTENT of `node` for one defined slot (an element of a
    * repeated node, or the node itself when not repeated): null checks
    * against the node's own def level, then group/leaf dispatch. */
  private def assembleElement(node: PNode, leaves: Array[LeafData],
      lo: Array[Int], hi: Array[Int]): NVal = {
    val l0 = node.leafStart
    if (node.isLeaf) {
      require(hi(l0) - lo(l0) == 1,
        s"${node.path}: leaf slot spans ${hi(l0) - lo(l0)} entries")
      val L = leaves(l0)
      if (L.defs(lo(l0)) >= node.defLevel) NPrim(L.values(lo(l0))) else NNull
    } else if (node.repetition == 1 && leaves(l0).defs(lo(l0)) < node.defLevel) {
      // optional group absent — every descendant leaf agrees by construction
      NNull
    } else if (node.isListWrapper) {
      assemble(node.children.head, leaves, lo, hi) match {
        case NArr(items) if node.children.head.children.length == 1 &&
            node.convertedType.contains(3) =>
          // 3-level LIST: collapse each element's single-field struct
          NArr(items.map {
            case NObj(Vector((_, v))) => v
            case other => other // legacy 2-level: elements already values
          })
        case arr => arr // MAP or legacy 2-level: keep (key,value) structs
      }
    } else {
      NObj(node.children.map { c =>
        c.name -> (if (c.repetition == 2) assemble(c, leaves, lo, hi)
                   else assembleElement(c, leaves, lo, hi))
      })
    }
  }

  /** For a repeated group that is itself a LIST's middle node, element
    * content flows through [[assembleElement]]; 3-level single-child
    * collapse happens in the wrapper case above. */

  // ---- rendering ---------------------------------------------------------------

  /** Canonical string form of an assembled value — schema field order,
    * JSON-ish quoting for strings only inside containers. Primitive
    * leaves render via String.valueOf (the same form the flat scans
    * surface). */
  def renderCanonical(v: NVal): String = v match {
    case NNull => "null"
    case NPrim(p) => String.valueOf(p)
    case NArr(items) => items.map(renderCanonical).mkString("[", ",", "]")
    case NObj(fields) =>
      fields.map { case (k, x) => s"$k=${renderCanonical(x)}" }
        .mkString("{", ",", "}")
  }

  // ---- scans -----------------------------------------------------------------

  /** Assemble every record of `columnPath` across `dir`, handing each
    * (file, rowIdx, value) to `render`. One task per file. */
  private def scanRecords(spark: SparkSession, dir: String, columnPath: String,
      schema: StructType)(render: (String, Long, NVal) => Row): DataFrame = {
    val rows = ParquetFooter.perFileFooter(spark, dir) { (conf, path, _, fm) =>
      val tree = columnTree(fm, columnPath)
      val leafNodes = tree.leaves
      require(leafNodes.nonEmpty, s"$columnPath has no leaves")
      var base = 0L
      fm.rowGroups.flatMap { rg =>
        val leaves = leafNodes.map { ln =>
          val meta = rg.columns.flatMap(_.meta).find(_.path == ln.path).getOrElse(
            throw new IllegalArgumentException(
              s"chunk for ${ln.path} missing from row group"))
          val (chunk, defs, reps) = ParquetPages.readChunkLevels(
            conf, path, meta, ln.defLevel, ln.repLevel, ln.typeLength)
          require(defs.length == 0 || reps(0) == 0,
            s"${ln.path}: first chunk entry has rep ${reps(0)}, expected 0")
          val bounds = (0 until reps.length).filter(reps(_) == 0).toArray
          require(bounds.length == rg.numRows,
            s"${ln.path}: ${bounds.length} records assembled, row group says ${rg.numRows}")
          LeafData(chunk.values, defs, reps, bounds :+ reps.length)
        }.toArray
        val out = (0 until rg.numRows.toInt).iterator.map { r =>
          val lo = new Array[Int](leaves.length)
          val hi = new Array[Int](leaves.length)
          var l = 0
          while (l < leaves.length) {
            lo(l) = leaves(l).bounds(r); hi(l) = leaves(l).bounds(r + 1); l += 1
          }
          render(path, base + r, assembleElement(tree, leaves, lo, hi))
        }.toVector
        base += rg.numRows
        out
      }
    }
    spark.createDataFrame(rows, schema)
  }

  private def primStr(v: NVal): String = v match {
    case NNull => null
    case NPrim(p) => String.valueOf(p)
    case other => renderCanonical(other)
  }

  /** STRUCT column scan: (file, row_idx, is_null, fields) where
    * `fields` maps each top-level field name to its stringified value
    * (nested values in canonical form, null fields absent-as-null). */
  def scanStructColumn(spark: SparkSession, dir: String, columnPath: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("is_null", BooleanType, nullable = false),
      StructField("fields", MapType(StringType, StringType, valueContainsNull = true),
        nullable = true)))
    scanRecords(spark, dir, columnPath, schema) { (f, r, v) =>
      v match {
        case NNull => Row(f, r, true, null)
        case NObj(fields) => Row(f, r, false, fields.map { case (k, x) => k -> primStr(x) }.toMap)
        case other => throw new IllegalArgumentException(
          s"$columnPath is not a struct column (got ${other.getClass.getSimpleName})")
      }
    }
  }

  /** LIST<STRUCT> column scan: (file, row_idx, n_elems [-1 null list],
    * elems as array of field maps; a null struct element is a null
    * map entry). */
  def scanListStructColumn(spark: SparkSession, dir: String, columnPath: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("n_elems", LongType, nullable = false),
      StructField("elems",
        ArrayType(MapType(StringType, StringType, valueContainsNull = true),
          containsNull = true), nullable = true)))
    scanRecords(spark, dir, columnPath, schema) { (f, r, v) =>
      v match {
        case NNull => Row(f, r, -1L, null)
        case NArr(items) =>
          val elems = items.map {
            case NNull => null
            case NObj(fields) => fields.map { case (k, x) => k -> primStr(x) }.toMap
            case other => throw new IllegalArgumentException(
              s"$columnPath element is not a struct (got ${other.getClass.getSimpleName})")
          }
          Row(f, r, items.length.toLong, elems)
        case other => throw new IllegalArgumentException(
          s"$columnPath is not a list column (got ${other.getClass.getSimpleName})")
      }
    }
  }

  /** LIST<LIST<primitive>> column scan: (file, row_idx, n_outer [-1
    * null], elems as array<array<string>> — a null inner list is a
    * null array entry, a null element a null string). */
  def scanNestedListColumn(spark: SparkSession, dir: String, columnPath: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("n_outer", LongType, nullable = false),
      StructField("elems",
        ArrayType(ArrayType(StringType, containsNull = true), containsNull = true),
        nullable = true)))
    scanRecords(spark, dir, columnPath, schema) { (f, r, v) =>
      v match {
        case NNull => Row(f, r, -1L, null)
        case NArr(items) =>
          val elems = items.map {
            case NNull => null
            case NArr(inner) => inner.map(primStr)
            case other => throw new IllegalArgumentException(
              s"$columnPath inner element is not a list (got ${other.getClass.getSimpleName})")
          }
          Row(f, r, items.length.toLong, elems)
        case other => throw new IllegalArgumentException(
          s"$columnPath is not a list column (got ${other.getClass.getSimpleName})")
      }
    }
  }
}
