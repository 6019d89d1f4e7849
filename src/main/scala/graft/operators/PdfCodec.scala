package graft.operators

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal PDF codec over the PUBLIC file format (ISO 32000-1 /
  * PDF 1.4 subset) — the document-corpus sibling of the image/audio
  * codecs: crawl-scale corpora carry PDFs the way they carry JPEGs,
  * and text extraction from them is a first-class curation input.
  *
  * Decode side (strict where structure matters, total where content
  * does): real cross-reference-table walk from `startxref` (not a
  * recovery scan), full object lexer (names, numbers, literal strings
  * with all escape forms + balanced parens, hex strings, arrays,
  * dictionaries, indirect references, booleans/null), stream objects
  * with direct `/Length` and `/FlateDecode` via the repo's own
  * RFC 1950/1951 inflate ([[Gzip.zlibInflate]]: validated zlib
  * header, Adler-32 trailer required and verified) — no JDK
  * Inflater. Page tree walk resolves nested `/Kids`, per-page
  * `/Contents` (single ref or array), and extracts text from content
  * streams: `Tj`, `'`, `"` and `TJ` string-show operators, with
  * `Td TD T* Tm` treated as run separators.
  *
  * Loud fences (unsupported STRUCTURE fails, it never half-reads):
  * xref streams / object streams (PDF 1.5+ compression), incremental
  * updates (`/Prev` chains), indirect `/Length`, filters other than
  * FlateDecode, encryption. Content-level best-effort (like
  * [[WebArchive.htmlToText]]): literal/hex string bytes are taken as
  * Latin-1 text — CID-keyed fonts with ToUnicode CMaps are out of
  * scope and documented as such.
  *
  * Encode side: a deterministic single-font writer used by gates and
  * tests — byte-exact layout with a correct xref table, so structural
  * sizes are closed forms an SQL oracle can recompute.
  */
object PdfCodec {

  // ---- object model ----------------------------------------------------

  /** Parsed PDF value. Dict keys are name strings without the `/`. */
  sealed trait PdfVal
  final case class PNum(v: Double) extends PdfVal
  final case class PStr(bytes: Array[Byte]) extends PdfVal
  final case class PName(v: String) extends PdfVal
  final case class PBool(v: Boolean) extends PdfVal
  case object PNull extends PdfVal
  final case class PArr(items: Vector[PdfVal]) extends PdfVal
  final case class PDict(m: Map[String, PdfVal]) extends PdfVal
  final case class PRef(num: Int, gen: Int) extends PdfVal
  final case class PStream(dict: PDict, data: Array[Byte]) extends PdfVal

  // ---- lexer / object parser ------------------------------------------

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Mutable cursor over the file bytes. */
  private final class Cur(val b: Array[Byte], var p: Int) {
    def peek: Int = if (p < b.length) b(p) & 0xff else -1
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (p < b.length && isWs(b(p) & 0xff)) p += 1
        if (peek == '%') { // comment to end of line
          while (p < b.length && b(p) != '\n' && b(p) != '\r') p += 1
        } else go = false
      }
    }
    def expect(s: String): Unit = {
      require(matchesAt(s, p), s"expected '$s' at offset $p")
      p += s.length
    }
    def matchesAt(s: String, at: Int): Boolean =
      at + s.length <= b.length &&
        (0 until s.length).forall(i => (b(at + i) & 0xff) == s.charAt(i))
    def token(): String = {
      skipWs()
      val start = p
      while (p < b.length && !isWs(b(p) & 0xff) && !isDelim(b(p) & 0xff)) p += 1
      require(p > start, s"empty token at offset $start")
      new String(b, start, p - start, ISO_8859_1)
    }
  }

  /** Parse one value at the cursor. `resolveLen` resolves `/Length`
    * when a stream body follows a dictionary. */
  private def parseVal(c: Cur): PdfVal = {
    c.skipWs()
    c.peek match {
      case '/' =>
        c.p += 1
        val start = c.p
        while (c.p < c.b.length && !isWs(c.b(c.p) & 0xff) && !isDelim(c.b(c.p) & 0xff)) c.p += 1
        PName(new String(c.b, start, c.p - start, ISO_8859_1))
      case '(' => parseLiteralString(c)
      case '<' =>
        if (c.matchesAt("<<", c.p)) parseDict(c)
        else parseHexString(c)
      case '[' =>
        c.p += 1
        val items = Vector.newBuilder[PdfVal]
        c.skipWs()
        while (c.peek != ']') {
          items += parseVal(c)
          c.skipWs()
          require(c.p < c.b.length, "unterminated array")
        }
        c.p += 1
        PArr(items.result())
      case ch if ch == '+' || ch == '-' || ch == '.' || (ch >= '0' && ch <= '9') =>
        parseNumberOrRef(c)
      case 't' => c.expect("true"); PBool(true)
      case 'f' => c.expect("false"); PBool(false)
      case 'n' => c.expect("null"); PNull
      case other =>
        throw new IllegalArgumentException(
          s"unexpected byte '${other.toChar}' at offset ${c.p}")
    }
  }

  /** Literal string (spec §7.3.4.2): balanced parens, `\\` escapes
    * incl. octal and line continuations. */
  private def parseLiteralString(c: Cur): PStr = {
    c.p += 1
    val out = new java.io.ByteArrayOutputStream()
    var depth = 1
    while (depth > 0) {
      require(c.p < c.b.length, "unterminated literal string")
      val ch = c.b(c.p) & 0xff
      c.p += 1
      ch match {
        case '(' => depth += 1; out.write('(')
        case ')' =>
          depth -= 1
          if (depth > 0) out.write(')')
        case '\\' =>
          require(c.p < c.b.length, "dangling string escape")
          val e = c.b(c.p) & 0xff
          c.p += 1
          e match {
            case 'n' => out.write('\n')
            case 'r' => out.write('\r')
            case 't' => out.write('\t')
            case 'b' => out.write('\b')
            case 'f' => out.write('\f')
            case '(' => out.write('(')
            case ')' => out.write(')')
            case '\\' => out.write('\\')
            case '\r' => if (c.peek == '\n') c.p += 1 // line continuation
            case '\n' => // line continuation
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'
              var k = 0
              while (k < 2 && c.peek >= '0' && c.peek <= '7') {
                v = v * 8 + (c.peek - '0'); c.p += 1; k += 1
              }
              out.write(v & 0xff)
            case other => out.write(other) // spec: backslash ignored
          }
        case other => out.write(other)
      }
    }
    PStr(out.toByteArray)
  }

  private def parseHexString(c: Cur): PStr = {
    c.p += 1
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    var done = false
    while (!done) {
      require(c.p < c.b.length, "unterminated hex string")
      val ch = c.b(c.p) & 0xff
      c.p += 1
      if (ch == '>') {
        if (hi >= 0) out.write(hi << 4) // odd digit count: pad 0 (spec)
        done = true
      } else if (!isWs(ch)) {
        val d = Character.digit(ch, 16)
        require(d >= 0, s"bad hex digit '${ch.toChar}' in string")
        if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
      }
    }
    PStr(out.toByteArray)
  }

  private def parseDict(c: Cur): PdfVal = {
    c.skipWs()
    c.expect("<<")
    val m = Map.newBuilder[String, PdfVal]
    c.skipWs()
    while (!c.matchesAt(">>", c.p)) {
      val k = parseVal(c) match {
        case PName(n) => n
        case other => throw new IllegalArgumentException(s"dict key must be a name, got $other")
      }
      m += k -> parseVal(c)
      c.skipWs()
      require(c.p < c.b.length, "unterminated dictionary")
    }
    c.p += 2
    PDict(m.result())
  }

  /** A number, or an `n g R` indirect reference (3-token lookahead). */
  private def parseNumberOrRef(c: Cur): PdfVal = {
    val start = c.p
    val t1 = c.token()
    if (t1.forall(ch => ch >= '0' && ch <= '9')) {
      val save = c.p
      val ok = try {
        val t2 = c.token()
        if (t2.forall(ch => ch >= '0' && ch <= '9')) {
          val save2 = c.p
          val t3 = c.token()
          if (t3 == "R") Some(PRef(t1.toInt, t2.toInt))
          else { c.p = save2; None }
        } else None
      } catch { case _: IllegalArgumentException => None }
      ok match {
        case Some(r) => r
        case None => c.p = save; PNum(t1.toDouble)
      }
    } else {
      c.p = start
      PNum(c.token().toDouble)
    }
  }

  // ---- file structure --------------------------------------------------

  /** A loaded document: object map + trailer dict. */
  final case class Pdf(objects: Map[Int, PdfVal], trailer: PDict) {
    def resolve(v: PdfVal): PdfVal = v match {
      case PRef(n, _) =>
        resolve(objects.getOrElse(n, throw new IllegalArgumentException(s"dangling ref $n 0 R")))
      case other => other
    }
  }

  /** Load a PDF: header check, startxref walk, classic xref table,
    * then parse every in-use object (streams included). */
  def load(bytes: Array[Byte]): Pdf = {
    require(bytes != null && bytes.length > 32, "not a PDF payload (too short)")
    require(new Cur(bytes, 0).matchesAt("%PDF-1.", 0), "missing %PDF-1.x header")
    // find startxref near the end
    val tailStart = math.max(0, bytes.length - 64)
    val tail = new String(bytes, tailStart, bytes.length - tailStart, ISO_8859_1)
    val sx = tail.lastIndexOf("startxref")
    require(sx >= 0, "missing startxref")
    val after = tail.substring(sx + "startxref".length).trim
    val xrefOff = after.takeWhile(_.isDigit).toInt
    require(xrefOff > 0 && xrefOff < bytes.length, s"bad startxref offset $xrefOff")
    val c = new Cur(bytes, xrefOff)
    c.skipWs()
    require(c.matchesAt("xref", c.p),
      "xref streams (PDF 1.5+) are not supported; classic xref table required")
    c.p += 4
    val offsets = Map.newBuilder[Int, Int]
    c.skipWs()
    while (!c.matchesAt("trailer", c.p)) {
      val first = c.token().toInt
      val count = c.token().toInt
      var i = 0
      while (i < count) {
        c.skipWs()
        val off = c.token().toInt
        c.token() // generation
        val kind = c.token()
        require(kind == "n" || kind == "f", s"bad xref entry kind '$kind'")
        if (kind == "n") offsets += (first + i) -> off
        i += 1
      }
      c.skipWs()
    }
    c.p += "trailer".length
    val trailer = parseDict(c) match {
      case d: PDict => d
      case other => throw new IllegalArgumentException(s"trailer is not a dict: $other")
    }
    require(!trailer.m.contains("Prev"),
      "incremental updates (/Prev xref chains) are not supported")
    val objs = offsets.result().map { case (num, off) =>
      num -> parseIndirectObject(bytes, off, num)
    }
    Pdf(objs, trailer)
  }

  /** Parse `n g obj … endobj`, including a following stream body. */
  private def parseIndirectObject(bytes: Array[Byte], off: Int, expectNum: Int): PdfVal = {
    val c = new Cur(bytes, off)
    val n = c.token().toInt
    require(n == expectNum, s"xref points object $expectNum at an object numbered $n")
    c.token() // generation
    val kw = c.token()
    require(kw == "obj", s"expected 'obj', got '$kw' at offset $off")
    val v = parseVal(c)
    c.skipWs()
    if (c.matchesAt("stream", c.p)) {
      val dict = v match {
        case d: PDict => d
        case other => throw new IllegalArgumentException(s"stream without a dict: $other")
      }
      c.p += "stream".length
      if (c.peek == '\r') c.p += 1
      require(c.peek == '\n', "stream keyword must be followed by a newline")
      c.p += 1
      val len = dict.m.get("Length") match {
        case Some(PNum(l)) => l.toInt
        case Some(_: PRef) =>
          throw new IllegalArgumentException("indirect /Length is not supported")
        case other => throw new IllegalArgumentException(s"stream without numeric /Length: $other")
      }
      require(c.p + len <= bytes.length, s"stream body truncated (need $len bytes)")
      val raw = java.util.Arrays.copyOfRange(bytes, c.p, c.p + len)
      c.p += len
      c.skipWs()
      c.expect("endstream")
      val data = dict.m.get("Filter") match {
        case None => raw
        case Some(PName("FlateDecode")) => Gzip.zlibInflate(raw)
        case Some(PArr(Vector(PName("FlateDecode")))) => Gzip.zlibInflate(raw)
        case Some(other) =>
          throw new IllegalArgumentException(s"unsupported stream filter $other")
      }
      PStream(dict, data)
    } else v
  }

  // ---- page walk + text extraction ------------------------------------

  /** Leaf Page dicts in document order (nested Kids resolved). */
  private def leafPages(pdf: Pdf): Seq[PDict] = {
    val root = pdf.resolve(pdf.trailer.m.getOrElse("Root",
      throw new IllegalArgumentException("trailer has no /Root"))) match {
      case d: PDict => d
      case other => throw new IllegalArgumentException(s"/Root is not a dict: $other")
    }
    val pages = root.m.getOrElse("Pages",
      throw new IllegalArgumentException("catalog has no /Pages"))
    val out = Seq.newBuilder[PDict]
    def walk(node: PdfVal): Unit = pdf.resolve(node) match {
      case PDict(m) if m.get("Type").contains(PName("Pages")) =>
        m.get("Kids") match {
          case Some(PArr(kids)) => kids.foreach(walk)
          case Some(r: PRef) => walk(r)
          case other => throw new IllegalArgumentException(s"/Pages without /Kids: $other")
        }
      case d @ PDict(m) if m.get("Type").contains(PName("Page")) => out += d
      case other =>
        throw new IllegalArgumentException(s"page-tree node is neither Pages nor Page: $other")
    }
    walk(pages)
    out.result()
  }

  /** Page content streams in document order. */
  private def pageContents(pdf: Pdf): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    leafPages(pdf).foreach { page =>
      page.m.get("Contents").foreach { cts =>
        def stream(v: PdfVal): Unit = pdf.resolve(v) match {
          case PStream(_, data) => out += data
          case other => throw new IllegalArgumentException(s"/Contents is not a stream: $other")
        }
        pdf.resolve(cts) match {
          case PArr(items) => items.foreach(stream)
          case single => stream(single)
        }
      }
    }
    out.result()
  }

  /** Number of leaf pages. */
  def pageCount(bytes: Array[Byte]): Int = leafPages(load(bytes)).size

  /** (page count, extracted text) from ONE structural parse. */
  def analyze(bytes: Array[Byte]): (Int, String) = {
    val pdf = load(bytes)
    (leafPages(pdf).size, extractFrom(pdf))
  }

  /** Extract text: string-show operators (`Tj ' " TJ`) in content
    * order; text-positioning operators (`Td TD T* Tm`) and `ET` end a
    * run — runs join with one space; TJ array strings concatenate
    * (kerning numbers ignored). String bytes read as Latin-1. */
  def extractText(bytes: Array[Byte]): String = extractFrom(load(bytes))

  private def extractFrom(pdf: Pdf): String = {
    val sb = new StringBuilder
    var runOpen = false
    def endRun(): Unit = if (runOpen) { sb.append(' '); runOpen = false }
    pageContents(pdf).foreach { content =>
      val c = new Cur(content, 0)
      val stack = scala.collection.mutable.ArrayBuffer.empty[PdfVal]
      c.skipWs()
      while (c.p < content.length) {
        val ch = c.peek
        if (ch == '(' || ch == '<' || ch == '[' || ch == '/' ||
          ch == '+' || ch == '-' || ch == '.' || (ch >= '0' && ch <= '9')) {
          stack += parseVal(c)
        } else {
          val op = c.token()
          op match {
            case "Tj" | "'" | "\"" =>
              stack.lastOption match {
                case Some(PStr(s)) =>
                  sb.append(new String(s, ISO_8859_1)); runOpen = true
                case other =>
                  throw new IllegalArgumentException(s"$op without a string operand: $other")
              }
            case "TJ" =>
              stack.lastOption match {
                case Some(PArr(items)) =>
                  items.foreach {
                    case PStr(s) => sb.append(new String(s, ISO_8859_1))
                    case PNum(_) => // kerning adjustment
                    case other =>
                      throw new IllegalArgumentException(s"bad TJ element: $other")
                  }
                  runOpen = true
                case other =>
                  throw new IllegalArgumentException(s"TJ without an array operand: $other")
              }
            case "Td" | "TD" | "T*" | "Tm" | "ET" => endRun()
            case _ => // Tf, BT, graphics ops: no text effect
          }
          stack.clear()
        }
        c.skipWs()
      }
      endRun()
    }
    sb.toString.trim
  }

  // ---- deterministic writer -------------------------------------------

  /** Escape for a PDF literal string. */
  private def escapeString(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** Write a deterministic 1-or-2-page PDF: page 1 shows `text`, the
    * optional page 2 shows `page2Text`. `flate` selects FlateDecode
    * (stored blocks) for BOTH content streams. Correct xref offsets;
    * byte-exact for equal inputs. */
  def encode(text: String, page2Text: Option[String], flate: Boolean): Array[Byte] = {
    val pages = Vector(text) ++ page2Text.toVector
    val nPages = pages.size
    val kidRefs = pages.indices.map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    val objs = Vector.newBuilder[String]
    objs += "<< /Type /Catalog /Pages 2 0 R >>" // 1
    objs += s"<< /Type /Pages /Kids [$kidRefs] /Count $nPages >>" // 2
    objs += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" // 3
    pages.zipWithIndex.foreach { case (t, i) =>
      objs += s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * i} 0 R >>" // 4+2i
      val content = s"BT /F1 12 Tf 72 720 Td (${escapeString(t)}) Tj ET"
        .getBytes(ISO_8859_1)
      val body = if (flate) Gzip.zlibDeflate(content, Gzip.deflateStored) else content
      val filter = if (flate) " /Filter /FlateDecode" else ""
      objs += s"<< /Length ${body.length}$filter >>\nstream\n" +
        new String(body, ISO_8859_1) + "\nendstream" // 5+2i
    }
    val objStrings = objs.result()
    val sb = new StringBuilder
    sb.append("%PDF-1.4\n")
    val offsets = new Array[Int](objStrings.size + 1)
    objStrings.zipWithIndex.foreach { case (o, i) =>
      offsets(i + 1) = sb.length
      sb.append(i + 1).append(" 0 obj\n").append(o).append("\nendobj\n")
    }
    val xrefOff = sb.length
    sb.append("xref\n0 ").append(objStrings.size + 1).append('\n')
    sb.append("0000000000 65535 f \n")
    offsets.iterator.drop(1).foreach { off =>
      sb.append(f"$off%010d 00000 n \n")
    }
    sb.append("trailer\n<< /Size ").append(objStrings.size + 1)
      .append(" /Root 1 0 R >>\nstartxref\n").append(xrefOff).append("\n%%EOF\n")
    sb.toString.getBytes(ISO_8859_1)
  }

  // ---- DataFrame facades ----------------------------------------------

  /** General frame form: media(idCol, dataCol) of real PDF payloads →
    * (idCol, n_pages, extracted). Row-local; payloads never
    * shuffle. */
  def extractFrame(media: DataFrame, idCol: String, dataCol: String): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col(idCol).cast("long"), col(dataCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val (n, text) = analyze(b)
        (id, n, text)
      })
      .toDF(idCol, "n_pages", "extracted")
  }

  /** docs(doc_id, text) → (doc_id, n_pages, extracted): write a PDF
    * per doc (odd ids get a second page; even ids FlateDecode), then
    * load + walk + extract it back. Row-local mapPartitions. */
  def pdfTextExtract(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val page2 = if (id % 2 == 1) Some(s"Page two of doc $id") else None
        val bytes = encode(text, page2, flate = id % 2 == 0)
        val (nPages, extracted) = analyze(bytes)
        (id, nPages, extracted)
      })
      .toDF("doc_id", "n_pages", "extracted")
  }
}
