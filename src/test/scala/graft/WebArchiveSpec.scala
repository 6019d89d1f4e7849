package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Gzip, WebArchive}

class WebArchiveSpec extends SparkSpec {
  import spark.implicits._

  // ---- WARC framing ----------------------------------------------------

  test("WARC record roundtrip: build -> parse recovers every field") {
    val payload = "the payload".getBytes(UTF_8)
    val rec = WebArchive.buildRecord("response", "<urn:uuid:7>",
      "https://example.com/doc/7", "2026-01-01T00:00:00Z",
      "application/http; msgtype=response", payload)
    val rs = WebArchive.parseRecords(rec)
    assert(rs.size == 1)
    val r = rs.head
    assert(r.warcType == "response")
    assert(r.recordId == "<urn:uuid:7>")
    assert(r.targetUri == "https://example.com/doc/7")
    assert(r.date == "2026-01-01T00:00:00Z")
    assert(r.contentLength == payload.length)
    assert(r.payload.sameElements(payload))
  }

  test("concatenated records parse in order; Content-Length drives the walk") {
    // second record's payload CONTAINS a fake "WARC/1.0" marker — a
    // marker-scanning parser would desync; a length-driven one must not
    val p1 = "first".getBytes(UTF_8)
    val p2 = "binary\r\n\r\nWARC/1.0\r\njunk".getBytes(ISO_8859_1)
    val blob = WebArchive.buildRecord("response", "<a>", "u1", "d", "t", p1) ++
      WebArchive.buildRecord("metadata", "<b>", "u2", "d", "t", p2)
    val rs = WebArchive.parseRecords(blob)
    assert(rs.map(_.recordId) == Seq("<a>", "<b>"))
    assert(rs(1).payload.sameElements(p2))
  }

  test("malformed WARC fails loudly: version, Content-Length, trailer") {
    val ok = WebArchive.buildRecord("response", "<a>", "u", "d", "t", "x".getBytes(UTF_8))
    val badVersion = "HARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n".getBytes(ISO_8859_1)
    assertThrows[IllegalArgumentException](WebArchive.parseRecords(badVersion))
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\n\r\n\r\n".getBytes(ISO_8859_1)
    assertThrows[IllegalArgumentException](WebArchive.parseRecords(noLen))
    val noTrailer = ok.dropRight(2)
    assertThrows[IllegalArgumentException](WebArchive.parseRecords(noTrailer))
  }

  test("gzipped WARC: one member per record, Common Crawl layout") {
    val recs = Seq("a", "bb", "ccc").zipWithIndex.map { case (t, i) =>
      WebArchive.buildRecord("response", s"<urn:uuid:$i>", s"https://x/$i", "d",
        "application/http; msgtype=response", t.getBytes(UTF_8))
    }
    val blob = WebArchive.buildGzippedWarc(recs)
    assert(Gzip.members(blob).size == 3)
    val rs = WebArchive.parseGzippedWarc(blob)
    assert(rs.map(_.targetUri) == Seq("https://x/0", "https://x/1", "https://x/2"))
    // a member holding two records violates the layout and fails loudly
    val fused = Gzip.gzip(recs(0) ++ recs(1))
    assertThrows[IllegalArgumentException](WebArchive.parseGzippedWarc(fused))
  }

  // ---- HTTP framing ----------------------------------------------------

  test("HTTP response roundtrip and Content-Length verification") {
    val body = "<html>hi</html>".getBytes(UTF_8)
    val b = WebArchive.buildHttpResponse(200, "OK",
      Map("Content-Type" -> "text/html"), body)
    val r = WebArchive.parseHttpResponse(b)
    assert(r.status == 200)
    assert(r.headers("content-type") == "text/html")
    assert(r.body.sameElements(body))
    // a lying Content-Length fails loudly instead of truncating
    val lying = new String(b, ISO_8859_1)
      .replace(s"Content-Length: ${body.length}", "Content-Length: 3")
      .getBytes(ISO_8859_1)
    assertThrows[IllegalArgumentException](WebArchive.parseHttpResponse(lying))
  }

  test("non-200 statuses parse (the filter decision is the caller's)") {
    val b = WebArchive.buildHttpResponse(404, "Not Found", Map.empty, Array.emptyByteArray)
    assert(WebArchive.parseHttpResponse(b).status == 404)
  }

  // ---- HTML -> text ----------------------------------------------------

  test("htmlToText: tags, comments, script/style, entities, whitespace") {
    val html = """<html><head><title>T</title><style>p { x: 1 }</style></head>
      |<body><!-- c --><p>a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &#65;&#x42;</p>
      |<script src="x.js">if (a < b) { alert("hi"); }</script>
      |<p>two   spaces</p></body></html>""".stripMargin
    assert(WebArchive.htmlToText(html) == """T a & b <tag> "q" 's' AB two spaces""")
  }

  test("htmlToText is total on tag soup") {
    assert(WebArchive.htmlToText("<p>unclosed") == "unclosed")
    assert(WebArchive.htmlToText("a < b and c > d") == "a d") // bare < opens a "tag" to >
    assert(WebArchive.htmlToText("<script>never closed") == "never closed")
    assert(WebArchive.htmlToText("") == "")
    assert(WebArchive.htmlToText("&nbsp;&nbsp;x&nbsp;") == "x")
    assert(WebArchive.htmlToText("&amp;lt; stays") == "&lt; stays")
    assert(WebArchive.htmlToText("&#x0; &#1114112; ok") == "ok") // NUL + out-of-range dropped
  }

  test("escapeHtml -> htmlToText is identity modulo whitespace collapse") {
    val texts = Seq("a & b", "<b>bold</b>", "&amp; raw", "x\t\ny", "&#65; literal")
    texts.foreach { t =>
      val expected = t.replaceAll("\\s+", " ").trim
      assert(WebArchive.htmlToText("<p>" + WebArchive.escapeHtml(t) + "</p>") == expected)
    }
  }

  // ---- main-content extraction ----------------------------------------

  test("mainContent: link-dense and short blocks drop, prose survives") {
    val html =
      """<html><head><title>Short</title></head><body>
        |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">Contact page link</a></nav>
        |<p>This is the long main article paragraph with plenty of prose text.</p>
        |<div>A second substantial content block that easily clears the floor,
        |with <a href="/ref">one small link</a> inside it staying under the density cap.</div>
        |<footer><a href="/p">Privacy</a> <a href="/t">Terms of Service</a></footer>
        |</body></html>""".stripMargin
    val blocks = WebArchive.mainContentBlocks(html)
    assert(blocks.size == 2)
    assert(blocks(0).startsWith("This is the long main article"))
    assert(blocks(1).contains("one small link")) // low-density link text kept
  }

  test("mainContent: density rule is independent of the length floor") {
    // long but almost-all-links -> dropped; same text unlinked -> kept
    val linky = "<p>" + (1 to 8).map(i => s"""<a href="/$i">navigation item $i</a>""").mkString(" ") + "</p>"
    assert(WebArchive.mainContentBlocks(linky).isEmpty)
    val plain = "<p>" + (1 to 8).map(i => s"navigation item $i").mkString(" ") + "</p>"
    assert(WebArchive.mainContentBlocks(plain).size == 1)
  }

  test("mainContent: script/style/comments stripped before block split") {
    val html = "<p>real content paragraph long enough to keep</p>" +
      "<script>var s = 'fifty characters of javascript text here padding';</script>"
    val blocks = WebArchive.mainContentBlocks(html)
    assert(blocks == Seq("real content paragraph long enough to keep"))
  }

  test("synthesizePage -> mainContentExtract keeps main (+ snippet iff >= 25 chars)") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota"), // snippet len 0 -> dropped
      (39L, "alpha beta gamma delta epsilon zeta eta theta iota")) // snippet len 39 -> kept
      .toDF("doc_id", "text")
    val out = WebArchive.mainContentExtract(d).orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 1)
    assert(out(0).getString(2) == "alpha beta gamma delta epsilon zeta eta theta iota")
    assert(out(1).getInt(1) == 2)
    assert(out(1).getString(2) ==
      "alpha beta gamma delta epsilon zeta eta theta iota alpha beta gamma delta epsilon zeta eta")
  }

  // ---- DataFrame facades ----------------------------------------------

  private def docs = Seq(
    (0L, "alpha beta gamma"),
    (1L, "a & b < c > d"),
    (2L, "repeat repeat repeat repeat"),
    (17L, "sparse ids work too")).toDF("doc_id", "text")

  test("warcGzipBuild -> warcIngest recovers every doc through the full stack") {
    val blobs = WebArchive.warcGzipBuild(docs, groups = 3)
    assert(blobs.count() == 3) // ids 0,1,2,17 -> groups 0,1,2
    val out = WebArchive.warcIngest(blobs).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 17L))
    assert(out.forall(_.getInt(1) == 200))
    val r1 = out(1)
    assert(r1.getString(4) == "Doc 1 Doc 1 a & b < c > d")
    // content_length = 77-byte fixed HTTP head + CL digits + body
    val bodyLen = r1.getLong(3)
    assert(r1.getLong(2) == 77 + bodyLen.toString.length + bodyLen)
  }

  test("zlib envelope: roundtrip, header/Adler validation, FDICT rejected") {
    val raw = "deflate body with some repeated repeated repeated text".getBytes(UTF_8)
    val z = Gzip.zlibDeflate(raw, Gzip.deflateFixed)
    assert((z(0) & 0x0f) == 8 && ((z(0) & 0xff) << 8 | (z(1) & 0xff)) % 31 == 0)
    assert(java.util.Arrays.equals(Gzip.zlibInflate(z), raw))
    // corrupt Adler trailer -> loud failure
    val bad = z.clone(); bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](Gzip.zlibInflate(bad))
    assert(e1.getMessage.contains("Adler"))
    // FDICT flag set -> rejected by name (0x78 0x20: FDICT bit on and
    // 0x7820 % 31 == 0, so FCHECK itself is valid)
    val fd = z.clone()
    fd(1) = 0x20
    val e2 = intercept[IllegalArgumentException](Gzip.zlibInflate(fd))
    assert(e2.getMessage.contains("FDICT"))
  }

  test("zlib cross-oracle: the system python zlib decodes our stream and we decode its") {
    val raw = "independent zlib cross check payload 12345".getBytes(UTF_8)
    def run(code: String, in: Array[Byte]): Array[Byte] = {
      val pb = new ProcessBuilder("python3", "-c", code)
      val p = pb.start()
      p.getOutputStream.write(in); p.getOutputStream.close()
      val out = p.getInputStream.readAllBytes()
      assert(p.waitFor() == 0, new String(p.getErrorStream.readAllBytes(), UTF_8))
      out
    }
    val theirs = run(
      "import zlib,sys; sys.stdout.buffer.write(zlib.compress(sys.stdin.buffer.read()))", raw)
    assert(java.util.Arrays.equals(Gzip.zlibInflate(theirs), raw))
    val back = run(
      "import zlib,sys; sys.stdout.buffer.write(zlib.decompress(sys.stdin.buffer.read()))",
      Gzip.zlibDeflate(raw, Gzip.deflateFixed))
    assert(java.util.Arrays.equals(back, raw))
  }

  test("decodeHttpBody: gzip/deflate/identity decode; brotli and unknown fail by name") {
    val body = "<html><body>hello encoded world</body></html>".getBytes(UTF_8)
    def resp(enc: Option[String], b: Array[Byte]) = WebArchive.parseHttpResponse(
      WebArchive.buildHttpResponse(200, "OK",
        Map("Content-Type" -> "text/html") ++ enc.map("Content-Encoding" -> _), b))
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(resp(None, body)), body))
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(resp(Some("identity"), body)), body))
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(resp(Some("gzip"), Gzip.gzip(body))), body))
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(resp(Some("x-gzip"), Gzip.gzip(body))), body))
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(resp(Some("deflate"), Gzip.zlibDeflate(body, Gzip.deflateFixed))), body))
    // nested list applies in reverse: gzip(zlib(body)) under "deflate, gzip"
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(
        resp(Some("deflate, gzip"), Gzip.gzip(Gzip.zlibDeflate(body, Gzip.deflateFixed)))), body))
    // valid brotli decodes (complete since round 17); malformed still
    // fails loudly by name
    assert(java.util.Arrays.equals(
      WebArchive.decodeHttpBody(
        resp(Some("br"), graft.operators.Brotli.encodeStored(body))), body))
    val eBr = intercept[IllegalArgumentException](
      WebArchive.decodeHttpBody(resp(Some("br"), body)))
    assert(eBr.getMessage.contains("brotli"))
    val eUnk = intercept[IllegalArgumentException](
      WebArchive.decodeHttpBody(resp(Some("compress"), body)))
    assert(eUnk.getMessage.contains("compress"))
  }

  test("warcEncodedBuild -> warcIngest: compressed wire bodies yield the same text") {
    val blobs = WebArchive.warcEncodedBuild(docs, groups = 2)
    val out = WebArchive.warcIngest(blobs).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 17L))
    // id 1 -> deflate, id 2 -> identity, ids 0/17 -> gzip; text identical
    assert(out(1).getString(4) == "Doc 1 Doc 1 a & b < c > d")
    val plain = WebArchive.warcIngest(WebArchive.warcGzipBuild(docs, groups = 2))
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(4)).toSeq == plain.map(_.getString(4)).toSeq)
    // gzip wire body differs from the HTML bytes (it really was encoded)
    val gzRow = out(0)
    val plainRow = plain(0)
    assert(gzRow.getLong(3) != plainRow.getLong(3),
      "gzip-encoded body should not have the identity body length")
  }

  test("WET build -> ingest: conversion records carry extracted text verbatim") {
    val out = WebArchive.wetIngest(WebArchive.wetBuild(docs, groups = 2))
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 17L))
    assert(out(1).getString(2) == "a & b < c > d")
    assert(out(1).getLong(1) == "a & b < c > d".getBytes(UTF_8).length)
    // response-typed records must not pass as WET
    val e = intercept[Exception](
      WebArchive.wetIngest(WebArchive.warcGzipBuild(docs, groups = 2)).collect())
    assert(e.getMessage.contains("WARC-Type"))
  }

  test("WAT build -> ingest: native from_json parse of the metadata envelope") {
    val out = WebArchive.watIngest(WebArchive.watBuild(docs, groups = 2))
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 17L))
    assert(out(2).getString(1) == "Doc 2")
    assert(out(2).getInt(2) == 2)
    assert(out(2).getString(3) == "https://example.com/doc/15")
  }

  test("gzipRoundTrip: closed-form stored size, both decodes verified") {
    val out = WebArchive.gzipRoundTrip(docs).orderBy("doc_id").collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(2) == Gzip.storedGzipSize(r.getLong(1)))
      assert(r.getLong(3) == 1L && r.getLong(4) == 1L)
    }
    // the repetitive doc must compress below stored size
    val rep = out.find(_.getLong(0) == 2L).get
    assert(rep.getLong(5) == 1L)
  }
}
