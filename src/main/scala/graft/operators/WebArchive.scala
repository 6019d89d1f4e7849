package graft.operators

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Web-archive ingestion: WARC records (ISO 28500), HTTP/1.1 response
  * framing (RFC 7230), and HTML→text extraction — the front half of a
  * crawl-scale curation pipeline. Common Crawl, the canonical 100 TB
  * text source, ships exactly this stack: per-record gzip members
  * ([[Gzip.members]]) containing WARC `response` records whose payload
  * is an HTTP response whose body is HTML.
  *
  * Everything here is row-local byte/string walking inside
  * `mapPartitions` — no joins, no shuffles beyond the caller's own
  * repartition of input files — so a 1000-executor cluster parses
  * member-split WARC shards embarrassingly parallel, one crawl file
  * per task. Malformed framing fails loudly (wrong magic, bad
  * Content-Length, missing CRLF trailer); malformed HTML does not —
  * tag soup is the data, not an error, and extraction is total.
  *
  * HTML→text spec (deterministic, oracle-replayable):
  *   1. strip `<!-- … -->` comments;
  *   2. strip `<script>…</script>` and `<style>…</style>` elements
  *      (case-insensitive, attributes allowed);
  *   3. replace every remaining `<…>` tag with a space;
  *   4. decode entities in fixed order `&lt; &gt; &quot; &#39; &apos;
  *      &nbsp;`, then numeric `&#NNN;`/`&#xHH;`, then `&amp;` LAST
  *      (the standard order that keeps `&amp;lt;` from double-decoding
  *      into `<`);
  *   5. collapse whitespace runs to one space and trim.
  *
  * The reference has no web-archive surface (its `io.py:13-88` reads
  * pre-extracted objects); this is extension surface for the ingest
  * step those objects come from.
  */
object WebArchive {

  // ---- WARC records (ISO 28500) ----------------------------------------

  /** One parsed WARC record. `contentLength` is the declared block
    * length; `payload` is exactly that many bytes. */
  final case class WarcRecord(
      warcType: String,
      recordId: String,
      targetUri: String,
      date: String,
      contentType: String,
      contentLength: Int,
      payload: Array[Byte])

  private val Crlf = "\r\n".getBytes(ISO_8859_1)

  /** Serialize one WARC/1.0 record: version line, named headers, blank
    * line, payload, two CRLFs (ISO 28500 §4: two CRLFs terminate the
    * record). Header order is fixed so equal inputs serialize to equal
    * bytes. */
  def buildRecord(
      warcType: String,
      recordId: String,
      targetUri: String,
      date: String,
      contentType: String,
      payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(warcType).append("\r\n")
    sb.append("WARC-Record-ID: ").append(recordId).append("\r\n")
    if (targetUri.nonEmpty) sb.append("WARC-Target-URI: ").append(targetUri).append("\r\n")
    sb.append("WARC-Date: ").append(date).append("\r\n")
    sb.append("Content-Type: ").append(contentType).append("\r\n")
    sb.append("Content-Length: ").append(payload.length).append("\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(ISO_8859_1)
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    System.arraycopy(Crlf, 0, out, head.length + payload.length, 2)
    System.arraycopy(Crlf, 0, out, head.length + payload.length + 2, 2)
    out
  }

  /** Parse every record in a concatenated (uncompressed) WARC blob.
    * The walk is Content-Length-driven — the payload is never scanned
    * for markers, so binary payloads containing "WARC/1.0" parse
    * correctly. Fails loudly on bad version lines, missing
    * Content-Length, or a missing two-CRLF trailer. */
  def parseRecords(b: Array[Byte]): Seq[WarcRecord] = {
    val out = Seq.newBuilder[WarcRecord]
    var off = 0
    while (off < b.length) {
      val headEnd = indexOfDoubleCrlf(b, off)
      val head = new String(b, off, headEnd - off, ISO_8859_1)
      val lines = head.split("\r\n")
      require(lines.nonEmpty && lines(0).startsWith("WARC/"),
        s"bad WARC version line at offset $off: '${lines.headOption.getOrElse("")}'")
      require(lines(0) == "WARC/1.0" || lines(0) == "WARC/1.1",
        s"unsupported WARC version '${lines(0)}'")
      var warcType = ""
      var recordId = ""
      var targetUri = ""
      var date = ""
      var contentType = ""
      var contentLength = -1
      lines.iterator.drop(1).foreach { ln =>
        val c = ln.indexOf(':')
        require(c > 0, s"malformed WARC header line '$ln'")
        val k = ln.substring(0, c).trim.toLowerCase
        val v = ln.substring(c + 1).trim
        k match {
          case "warc-type" => warcType = v
          case "warc-record-id" => recordId = v
          case "warc-target-uri" => targetUri = v
          case "warc-date" => date = v
          case "content-type" => contentType = v
          case "content-length" => contentLength = v.toInt
          case _ => // other WARC headers are legal and ignored
        }
      }
      require(contentLength >= 0, s"WARC record at $off lacks Content-Length")
      val payloadStart = headEnd + 4
      require(payloadStart + contentLength + 4 <= b.length,
        s"WARC record at $off truncated: need ${contentLength + 4} bytes after header")
      val payload = java.util.Arrays.copyOfRange(b, payloadStart, payloadStart + contentLength)
      require(b(payloadStart + contentLength) == '\r' &&
        b(payloadStart + contentLength + 1) == '\n' &&
        b(payloadStart + contentLength + 2) == '\r' &&
        b(payloadStart + contentLength + 3) == '\n',
        s"WARC record at $off missing the two-CRLF trailer")
      out += WarcRecord(warcType, recordId, targetUri, date, contentType, contentLength, payload)
      off = payloadStart + contentLength + 4
    }
    out.result()
  }

  private def indexOfDoubleCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    throw new IllegalArgumentException(s"no header terminator (CRLFCRLF) after offset $from")
  }

  /** Common Crawl layout: each record its own gzip member, members
    * concatenated. */
  def buildGzippedWarc(records: Seq[Array[Byte]]): Array[Byte] = {
    val gzs = records.map(r => Gzip.gzip(r))
    val out = new Array[Byte](gzs.iterator.map(_.length).sum)
    var n = 0
    gzs.foreach { g => System.arraycopy(g, 0, out, n, g.length); n += g.length }
    out
  }

  /** Split members, inflate each, parse exactly one record per member
    * (the Common Crawl contract — a member holding zero or several
    * records is a malformed file and fails loudly). */
  def parseGzippedWarc(b: Array[Byte]): Seq[WarcRecord] =
    Gzip.members(b).map { m =>
      val rs = parseRecords(m.payload)
      require(rs.size == 1,
        s"gzip member at ${m.start} holds ${rs.size} WARC records, expected exactly 1")
      rs.head
    }

  // ---- HTTP/1.1 response framing (RFC 7230) ----------------------------

  final case class HttpResponse(status: Int, headers: Map[String, String], body: Array[Byte])

  /** Serialize a response with a correct Content-Length; header order
    * fixed (sorted by name) for deterministic bytes. */
  def buildHttpResponse(
      status: Int,
      reason: String,
      headers: Map[String, String],
      body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("HTTP/1.1 ").append(status).append(' ').append(reason).append("\r\n")
    (headers - "Content-Length").toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(k).append(": ").append(v).append("\r\n")
    }
    sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(ISO_8859_1)
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  /** Parse status line + headers; the body is everything after the
    * blank line (WARC's Content-Length already bounds it, so a
    * Content-Length header mismatch against the actual remainder fails
    * loudly rather than truncating silently). Header names
    * lower-cased; duplicate headers keep the LAST value. */
  def parseHttpResponse(b: Array[Byte]): HttpResponse = {
    val headEnd = indexOfDoubleCrlf(b, 0)
    val head = new String(b, 0, headEnd, ISO_8859_1)
    val lines = head.split("\r\n")
    val st = lines(0)
    require(st.startsWith("HTTP/1.1 ") || st.startsWith("HTTP/1.0 "),
      s"bad HTTP status line '$st'")
    val status = st.substring(9, 12).toInt
    val headers = lines.iterator.drop(1).map { ln =>
      val c = ln.indexOf(':')
      require(c > 0, s"malformed HTTP header line '$ln'")
      ln.substring(0, c).trim.toLowerCase -> ln.substring(c + 1).trim
    }.toMap
    val body = java.util.Arrays.copyOfRange(b, headEnd + 4, b.length)
    headers.get("content-length").foreach { cl =>
      require(cl.toInt == body.length,
        s"HTTP Content-Length $cl != actual body ${body.length}")
    }
    HttpResponse(status, headers, body)
  }

  /** Decode an HTTP body per its Content-Encoding header (RFC 9110
    * §8.4.1): absent/`identity` passes through; `gzip`/`x-gzip` through
    * [[Gzip.gunzip]]; `deflate` through [[Gzip.zlibInflate]]; `br` through
    * [[Brotli.decode]] — complete since round 17, including RFC 7932
    * §8 static-dictionary back-references (the Appendix A word table
    * ships with [[BrotliDict]]), so quality-9+ TEXT bodies decode too.
    * A comma list applies in reverse (encodings nest outermost-last);
    * any other token fails loudly. A compressed crawl body must never
    * reach the HTML extractor undecoded. */
  def decodeHttpBody(h: HttpResponse): Array[Byte] =
    h.headers.getOrElse("content-encoding", "identity")
      .split(',').iterator.map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
      .foldRight(h.body) { (enc, b) =>
        enc match {
          case "identity" => b
          case "gzip" | "x-gzip" => Gzip.gunzip(b)
          case "deflate" => Gzip.zlibInflate(b)
          case "br" => Brotli.decode(b)
          case other => throw new IllegalArgumentException(
            s"unsupported Content-Encoding '$other'")
        }
      }

  // ---- HTML → text -----------------------------------------------------

  private val PComment = Pattern.compile("(?s)<!--.*?-->")
  private val PScript = Pattern.compile("(?is)<script\\b[^>]*>.*?</script\\s*>")
  private val PStyle = Pattern.compile("(?is)<style\\b[^>]*>.*?</style\\s*>")
  private val PTag = Pattern.compile("(?s)<[^>]*>")
  private val PDecEnt = Pattern.compile("&#(\\d{1,7});")
  private val PHexEnt = Pattern.compile("&#[xX]([0-9a-fA-F]{1,6});")
  private val PWs = Pattern.compile("\\s+")

  /** Escape text for embedding in HTML (PCDATA): `&` first, then
    * `< >` — the inverse of the decode order in [[htmlToText]]. */
  def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Total HTML→text extraction per the object doc's 5-step spec.
    * Never throws on tag soup: an unclosed `<` with no matching `>`
    * simply survives as text, an unterminated script element is
    * stripped to end-of-input by the tag pass. */
  def htmlToText(html: String): String = {
    var s = PComment.matcher(html).replaceAll(" ")
    s = PScript.matcher(s).replaceAll(" ")
    s = PStyle.matcher(s).replaceAll(" ")
    s = PTag.matcher(s).replaceAll(" ")
    s = s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&apos;", "'")
      .replace("&nbsp;", " ")
    s = replaceEntities(s, PDecEnt, g => Integer.parseInt(g, 10))
    s = replaceEntities(s, PHexEnt, g => Integer.parseInt(g, 16))
    s = s.replace("&amp;", "&")
    PWs.matcher(s).replaceAll(" ").trim
  }

  // ---- main-content extraction (boilerplate removal) -------------------

  /** Block-level boundaries: any open/close of these tags splits the
    * page into candidate blocks. Inline markup (`<a> <b> <span> …`)
    * stays inside its block so per-block link density is measurable. */
  private val PBlockTag = Pattern.compile(
    "(?is)</?(?:html|head|body|title|main|div|p|h[1-6]|li|ul|ol|dl|dt|dd|nav|header|footer|aside|section|article|table|thead|tbody|tr|td|th|form|blockquote|pre|hr|br)\\b[^>]*>")
  private val PAnchor = Pattern.compile("(?is)<a\\b[^>]*>(.*?)</a\\s*>")

  /** Boilerplate removal by per-block link density + length — the
    * C4/RefinedWeb/trafilatura-family heuristic, specified exactly so
    * an oracle can replay it:
    *   1. strip comments, script and style elements;
    *   2. split on block-level tag boundaries (open or close);
    *   3. per block, extract text via [[htmlToText]] and sum the
    *      extracted lengths of `<a>…</a>` anchor bodies;
    *   4. keep a block iff its text length ≥ `minChars` AND
    *      anchor chars ≤ `maxLinkDensity` × text chars — navigation
    *      chrome is link-dense and short, article prose is neither;
    *   5. join kept blocks with one space, in document order.
    * Total on tag soup, like [[htmlToText]]. Row-local. */
  def mainContent(html: String, minChars: Int = 25, maxLinkDensity: Double = 0.5): String =
    mainContentBlocks(html, minChars, maxLinkDensity).mkString(" ")

  /** The kept blocks of [[mainContent]], in document order. */
  def mainContentBlocks(
      html: String, minChars: Int = 25, maxLinkDensity: Double = 0.5): Seq[String] = {
    var s = PComment.matcher(html).replaceAll(" ")
    s = PScript.matcher(s).replaceAll(" ")
    s = PStyle.matcher(s).replaceAll(" ")
    PBlockTag.split(s).iterator.flatMap { b =>
      val m = PAnchor.matcher(b)
      var link = 0
      while (m.find()) link += htmlToText(m.group(1)).length
      val txt = htmlToText(b)
      if (txt.length >= minChars && link <= maxLinkDensity * txt.length) Some(txt)
      else None
    }.toSeq
  }

  /** Deterministic full-page synthesis for the boilerplate gate: a
    * short title (length-dropped), a link-dense nav (density-dropped
    * even though it clears the length floor), the main paragraph
    * (kept), a snippet paragraph whose keep/drop depends on the DATA
    * (kept iff its collapsed length ≥ 25), and a link-dense short
    * footer (dropped both ways). */
  def synthesizePage(id: Long, text: String, snippetLen: Int): String = {
    val snippet = text.substring(0, math.min(text.length, math.max(0, snippetLen)))
    s"""<html><head><title>Doc $id</title></head><body>""" +
      s"""<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/doc/$id">Doc $id archive link</a></nav>""" +
      s"""<p>${escapeHtml(text)}</p><p>${escapeHtml(snippet)}</p>""" +
      s"""<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms of Service</a></footer></body></html>"""
  }

  /** General frame form: docs(idCol, htmlCol) → (idCol, txt) via
    * [[htmlToText]]. Row-local; no shuffle. */
  def htmlTextFrame(docs: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(idCol).cast("long"), col(htmlCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, h) =>
        (id, htmlToText(Option(h).getOrElse("")))
      })
      .toDF(idCol, "txt")
  }

  /** General frame form: docs(idCol, htmlCol) → (idCol, n_kept,
    * main_txt) via [[mainContentBlocks]]. Row-local; no shuffle. */
  def mainContentFrame(docs: DataFrame, idCol: String, htmlCol: String,
      minChars: Int = 25, maxLinkDensity: Double = 0.5): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(idCol).cast("long"), col(htmlCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, h) =>
        val blocks = mainContentBlocks(Option(h).getOrElse(""), minChars, maxLinkDensity)
        (id, blocks.size, blocks.mkString(" "))
      })
      .toDF(idCol, "n_kept", "main_txt")
  }

  /** docs(doc_id, text) → (doc_id, n_kept, main_txt): synthesize the
    * boilerplate-framed page, then run [[mainContentBlocks]]. Row-local
    * mapPartitions; no shuffle. */
  def mainContentExtract(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val blocks = mainContentBlocks(synthesizePage(id, text, (id % 40).toInt))
        (id, blocks.size, blocks.mkString(" "))
      })
      .toDF("doc_id", "n_kept", "main_txt")
  }

  private def replaceEntities(s: String, p: Pattern, parse: String => Int): String = {
    val m = p.matcher(s)
    if (!m.find()) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var last = 0
      do {
        sb.append(s, last, m.start())
        val cp = parse(m.group(1))
        // reject surrogate code points: appendCodePoint would emit an
        // ill-formed UTF-16 string that UTF-8 re-encoding mangles
        if (Character.isValidCodePoint(cp) && cp != 0 &&
          !(cp >= 0xD800 && cp <= 0xDFFF)) sb.appendCodePoint(cp)
        last = m.end()
      } while (m.find())
      sb.append(s, last, s.length)
      sb.toString
    }
  }

  // ---- DataFrame facades ----------------------------------------------

  /** Build one Common-Crawl-shaped blob per group: each doc becomes
    * HTML (title + escaped body text) wrapped in an HTTP 200 response
    * wrapped in a WARC `response` record, each record its own gzip
    * member, members concatenated in doc_id order within the group.
    * One output row per group: (group_id, data). The groupBy is one
    * shuffle of the raw text — the same cost as any corpus re-shard —
    * and group count bounds blob size exactly like Common Crawl's ~1 GB
    * file split does at fleet scale. */
  def warcGzipBuild(docs: DataFrame, groups: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val records = it.toSeq.sortBy(_._1).map { case (id, text) =>
          val html = synthesizeHtml(id, text)
          val http = buildHttpResponse(200, "OK",
            Map("Content-Type" -> "text/html; charset=utf-8"), html.getBytes(UTF_8))
          buildRecord("response", s"<urn:uuid:$id>", s"https://example.com/doc/$id",
            "2026-01-01T00:00:00Z", "application/http; msgtype=response", http)
        }
        (g, buildGzippedWarc(records))
      }
      .toDF("group_id", "data")
  }

  /** [[warcGzipBuild]] with per-doc HTTP Content-Encoding — the real
    * crawl mix, where origin servers answer compressed: doc_id%3 picks
    * gzip / deflate(zlib) / identity, the header carries the token and
    * Content-Length counts the WIRE bytes. [[warcIngest]] must decode
    * every body back to the same extracted text. */
  def warcEncodedBuild(docs: DataFrame, groups: Int): DataFrame =
    warcEncodedBuild(docs, groups, withBrotli = false)

  /** With `withBrotli`, every fourth record is `Content-Encoding: br`
    * in stored mode ([[Brotli.encodeStored]]) and every fifth a brotli
    * stream whose `<script type="text/javas` span is carried by a REAL
    * RFC 7932 §8 static-dictionary back-reference
    * ([[Brotli.encodeWithDictWord]]) — the `web_warc_brotli` gate thus
    * covers dictionary-referencing payloads, the majority class of
    * real Common Crawl `br` bodies, end-to-end through the ingest
    * decode path. */
  def warcEncodedBuild(docs: DataFrame, groups: Int, withBrotli: Boolean): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val records = it.toSeq.sortBy(_._1).map { case (id, text) =>
          val html = synthesizeHtml(id, text).getBytes(UTF_8)
          val legs = if (withBrotli) 5L else 3L
          val (enc, body) = (id % legs) match {
            case 0 => (Some("gzip"), Gzip.gzip(html))
            case 1 => (Some("deflate"), Gzip.zlibDeflate(html, Gzip.deflateFixed))
            case 3 => (Some("br"), Brotli.encodeStored(html))
            case 4 => (Some("br"), Brotli.encodeWithDictWord(html))
            case _ => (None, html)
          }
          val headers = Map("Content-Type" -> "text/html; charset=utf-8") ++
            enc.map("Content-Encoding" -> _)
          val http = buildHttpResponse(200, "OK", headers, body)
          buildRecord("response", s"<urn:uuid:$id>", s"https://example.com/doc/$id",
            "2026-01-01T00:00:00Z", "application/http; msgtype=response", http)
        }
        (g, buildGzippedWarc(records))
      }
      .toDF("group_id", "data")
  }

  /** Deterministic HTML synthesis for gates/tests: a title, a styled
    * head, a comment, the escaped body text, and a script element —
    * extraction must strip all chrome and recover
    * `Doc <id> <collapsed text>`. */
  def synthesizeHtml(id: Long, text: String): String =
    s"""<html><head><title>Doc $id</title><style type="text/css">body { color: #000; }</style></head>""" +
      s"""<body><!-- crawler chrome --><h1 class="t">Doc $id</h1><p>${escapeHtml(text)}</p>""" +
      s"""<script type="text/javascript">var x = 1 < 2;</script></body></html>"""

  /** Ingest blobs(group_id, data): split gzip members, parse WARC +
    * HTTP, extract text from HTML bodies. One output row per record:
    * (doc_id from the target URI, status, content_length, body_len,
    * txt). Row-local; linear in blob bytes. */
  def warcIngest(blobs: DataFrame): DataFrame = {
    val s = blobs.sparkSession
    import s.implicits._
    blobs.select(col("data"))
      .as[Array[Byte]]
      .flatMap { blob =>
        parseGzippedWarc(blob).map { r =>
          require(r.warcType == "response", s"unexpected WARC-Type '${r.warcType}'")
          val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
          val http = parseHttpResponse(r.payload)
          // body_len stays the WIRE length; the text extractor sees the
          // Content-Encoding-decoded bytes (gzip/deflate crawl bodies)
          val txt = htmlToText(new String(decodeHttpBody(http), UTF_8))
          (id, http.status, r.contentLength.toLong, http.body.length.toLong, txt)
        }
      }
      .toDF("doc_id", "status", "content_length", "body_len", "txt")
  }

  /** Build WET shards — Common Crawl's extracted-text sidecar: one
    * WARC `conversion` record per doc (plain-text payload, the text a
    * WET consumer would train on), each record its own gzip member,
    * members concatenated per group. Mirrors [[warcGzipBuild]]. */
  def wetBuild(docs: DataFrame, groups: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val records = it.toSeq.sortBy(_._1).map { case (id, text) =>
          buildRecord("conversion", s"<urn:uuid:wet-$id>",
            s"https://example.com/doc/$id", "2026-01-01T00:00:00Z",
            "text/plain", text.getBytes(UTF_8))
        }
        (g, buildGzippedWarc(records))
      }
      .toDF("group_id", "data")
  }

  /** Ingest WET blobs: (doc_id from the target URI, n_bytes, txt).
    * Unlike [[warcIngest]] there is no HTTP or HTML layer — WET
    * payloads are already extracted text. Row-local. */
  def wetIngest(blobs: DataFrame): DataFrame = {
    val s = blobs.sparkSession
    import s.implicits._
    blobs.select(col("data")).as[Array[Byte]]
      .flatMap { blob =>
        parseGzippedWarc(blob).map { r =>
          require(r.warcType == "conversion",
            s"unexpected WARC-Type '${r.warcType}' in WET input")
          val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
          (id, r.payload.length.toLong, new String(r.payload, UTF_8))
        }
      }
      .toDF("doc_id", "n_bytes", "txt")
  }

  /** Build WAT shards — Common Crawl's metadata sidecar: one WARC
    * `metadata` record per doc whose payload is the WAT JSON envelope
    * (target URI, page title, outlink list). Deterministic synthetic
    * links: one absolute (modular target) + one relative. */
  def watBuild(docs: DataFrame, groups: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val records = it.toSeq.sortBy(_._1).map { case (id, _) =>
          val json =
            s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"https://example.com/doc/$id","WARC-Type":"response"},""" +
              s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"Doc $id"},""" +
              s""""Links":[{"path":"A@/href","url":"https://example.com/doc/${id * 7 + 1}"},{"path":"A@/href","url":"/rel/$id"}]}}}}}"""
          buildRecord("metadata", s"<urn:uuid:wat-$id>",
            s"https://example.com/doc/$id", "2026-01-01T00:00:00Z",
            "application/json", json.getBytes(UTF_8))
        }
        (g, buildGzippedWarc(records))
      }
      .toDF("group_id", "data")
  }

  /** Ingest WAT blobs with Spark's native JSON expression (no UDF):
    * each metadata record's envelope is parsed by `from_json` against
    * an explicit schema — title, outlink count, first outlink. At
    * 100 TB the JSON decode is codegen'd columnar work, and the schema
    * is explicit so a drifting envelope fails loudly instead of
    * silently nulling. */
  def watIngest(blobs: DataFrame): DataFrame = {
    val s = blobs.sparkSession
    import s.implicits._
    val schema = "STRUCT<Envelope: STRUCT<`WARC-Header-Metadata`: STRUCT<`WARC-Target-URI`: STRING, `WARC-Type`: STRING>, " +
      "`Payload-Metadata`: STRUCT<`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: " +
      "STRUCT<Head: STRUCT<Title: STRING>, Links: ARRAY<STRUCT<path: STRING, url: STRING>>>>>>>"
    val raw = blobs.select(col("data")).as[Array[Byte]]
      .flatMap { blob =>
        parseGzippedWarc(blob).map { r =>
          require(r.warcType == "metadata",
            s"unexpected WARC-Type '${r.warcType}' in WAT input")
          new String(r.payload, UTF_8)
        }
      }
      .toDF("json")
    val parsed = raw.select(from_json(col("json"),
      org.apache.spark.sql.types.DataType.fromDDL(schema)).as("w"))
    parsed.select(
      expr("CAST(regexp_extract(w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`, '([0-9]+)$', 1) AS BIGINT)").as("doc_id"),
      col("w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Head.Title").as("title"),
      expr("size(w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links)").cast("int").as("n_links"),
      expr("w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links[0].url").as("first_link"))
  }

  /** Gzip round-trip census over docs(doc_id, text): per doc, compress
    * UTF-8 text bytes in BOTH modes (stored + fixed-Huffman LZ77),
    * decompress through [[Gzip.gunzip]], and report
    * (doc_id, n_bytes, gz_stored_len, roundtrip_ok, lz_ok,
    * lz_smaller). Stored length is the closed form the oracle
    * recomputes; the two ok bits prove the real inflate ran. */
  def gzipRoundTrip(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val raw = text.getBytes(UTF_8)
        val gzStored = Gzip.gzip(raw, stored = true)
        val gzLz = Gzip.gzip(raw)
        val okStored = java.util.Arrays.equals(Gzip.gunzip(gzStored), raw)
        val okLz = java.util.Arrays.equals(Gzip.gunzip(gzLz), raw)
        (id, raw.length.toLong, gzStored.length.toLong,
          if (okStored) 1L else 0L, if (okLz) 1L else 0L,
          if (gzLz.length < gzStored.length) 1L else 0L)
      })
      .toDF("doc_id", "n_bytes", "gz_stored_len", "roundtrip_ok", "lz_ok", "lz_smaller")
  }

  /** Per-doc census of the FULL RFC 1951 encoder ([[Gzip.gzipAuto]]:
    * best of stored / fixed-Huffman / dynamic-Huffman blocks): md5 of
    * the decoded roundtrip (the content proof an oracle can replay
    * from the source text), plus two wiring booleans — auto never
    * exceeds the closed-form stored size, and auto never exceeds the
    * fixed-only encoding (both hold by construction of best-of-three).
    * Row-local, zero shuffle — the encode path a crawl re-compaction
    * job would run over 100 TB of text. */
  def gzipAutoCensus(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val raw = text.getBytes(UTF_8)
        val (gz, _, fixedLen, _) = Gzip.gzipAutoStats(raw)
        val back = Gzip.gunzip(gz)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(back).map(b => f"$b%02x").mkString
        (id, raw.length.toLong, hex,
          gz.length <= Gzip.storedGzipSize(raw.length.toLong),
          gz.length <= fixedLen + 18)
      })
      .toDF("doc_id", "n_bytes", "md5_roundtrip", "le_stored", "le_fixed")
  }
  /** Full RFC 7932 COMPRESSOR driven per document ([[Brotli.encode]]):
    * md5 of decode(encode(text)) is replayed by the oracle straight
    * from the source text, so any encoder bit error (LZ77 parse,
    * prefix-code serialization, command cells, distance ring) flips
    * the hash. `n_br_bytes` rides along so size drift is visible.
    * Row-local, zero shuffle — the crawl re-compaction write path. */
  def brotliEncodeCensus(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val raw = text.getBytes(UTF_8)
        val br = Brotli.encode(raw)
        val back = Brotli.decode(br)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(back).map(b => f"$b%02x").mkString
        (id, raw.length.toLong, br.length.toLong, hex)
      })
      .toDF("doc_id", "n_bytes", "n_br_bytes", "md5_roundtrip")
  }
}
