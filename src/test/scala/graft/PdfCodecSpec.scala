package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PdfCodec

class PdfCodecSpec extends SparkSpec {
  import spark.implicits._

  /** Independent golden-file assembler: objects concatenated by hand,
    * xref offsets measured with indexOf — no shared arithmetic with
    * the writer under test. */
  private def assemble(objs: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.4\n")
    val offs = objs.zipWithIndex.map { case (o, i) =>
      val off = sb.length
      sb.append(i + 1).append(" 0 obj\n").append(o).append("\nendobj\n")
      off
    }
    val xref = sb.length
    sb.append("xref\n0 ").append(objs.size + 1).append("\n0000000000 65535 f \n")
    offs.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append("trailer\n<< /Size ").append(objs.size + 1)
      .append(" /Root 1 0 R >>\nstartxref\n").append(xref).append("\n%%EOF\n")
    sb.toString.getBytes(ISO_8859_1)
  }

  test("writer roundtrip: pages, raw + FlateDecode streams, text recovered") {
    for (flate <- Seq(false, true)) {
      val one = PdfCodec.encode("hello pdf world", None, flate)
      assert(PdfCodec.pageCount(one) == 1)
      assert(PdfCodec.extractText(one) == "hello pdf world")
      val two = PdfCodec.encode("first page", Some("second page"), flate)
      assert(PdfCodec.analyze(two) == ((2, "first page second page")))
    }
  }

  test("writer escapes parens and backslashes in text") {
    val t = """parens (nested (deep)) and back\slash"""
    val b = PdfCodec.encode(t, None, flate = false)
    assert(PdfCodec.extractText(b) == t)
  }

  test("golden hand-assembled PDF: nested Kids, TJ, hex string, escapes, quote op") {
    val content =
      "BT /F1 12 Tf 72 720 Td [(Hel) -120 (lo)] TJ 0 -14 Td <576F726C 64> Tj ET " +
        "BT 1 0 0 1 72 600 Tm (a\\(b\\)c\\\\d\\101) ' ET"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
      "<< /Type /Pages /Kids [4 0 R] /Count 1 /Parent 2 0 R >>",
      "<< /Type /Page /Parent 3 0 R /Contents 6 0 R >>",
      "<< /Type /Page /Parent 2 0 R >>", // page with no contents
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    val pdf = assemble(objs)
    assert(PdfCodec.pageCount(pdf) == 2)
    // runs: "Hello" (TJ), Td separates, "World" (hex Tj), Tm separates,
    // escaped string via ' op
    assert(PdfCodec.extractText(pdf) == "Hello World a(b)c\\dA")
  }

  test("comments and line-continuation escapes lex correctly") {
    val content = "BT % layout comment\n(li\\\nne) Tj ET"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    assert(PdfCodec.extractText(assemble(objs)) == "line")
  }

  test("cross-oracle: JDK Deflater zlib (dynamic Huffman) decodes in the Flate path") {
    val content = "BT (jdk deflated content stream here) Tj ET".getBytes(ISO_8859_1)
    val d = new java.util.zip.Deflater()
    d.setInput(content); d.finish()
    val buf = new Array[Byte](1024)
    val n = d.deflate(buf)
    d.end()
    val z = new String(buf, 0, n, ISO_8859_1)
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      s"<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n$z\nendstream")
    assert(PdfCodec.extractText(assemble(objs)) == "jdk deflated content stream here")
  }

  test("a FlateDecode stream without its zlib Adler-32 trailer is rejected") {
    val content = "BT (trailer-less zlib stream) Tj ET".getBytes(ISO_8859_1)
    val d = new java.util.zip.Deflater()
    d.setInput(content); d.finish()
    val buf = new Array[Byte](1024)
    val n = d.deflate(buf)
    d.end()
    def pdf(z: String) = assemble(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      s"<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n$z\nendstream"))
    assert(PdfCodec.extractText(pdf(new String(buf, 0, n, ISO_8859_1))) ==
      "trailer-less zlib stream")
    val e = intercept[IllegalArgumentException](
      PdfCodec.extractText(pdf(new String(buf, 0, n - 4, ISO_8859_1))))
    assert(e.getMessage.contains("Adler"))
  }

  test("loud fences: header, xref stream, /Prev, indirect Length, alien filter, corrupt stream") {
    val good = PdfCodec.encode("x", None, flate = false)
    assertThrows[IllegalArgumentException](
      PdfCodec.load("%FDP-1.4 not a pdf padded to minimum length....".getBytes(ISO_8859_1)))
    // xref stream in place of a classic table
    val noXref = new String(good, ISO_8859_1).replace("xref\n0 ", "zref\n0 ")
    assertThrows[IllegalArgumentException](PdfCodec.load(noXref.getBytes(ISO_8859_1)))
    val prev = new String(good, ISO_8859_1)
      .replace("/Root 1 0 R", "/Root 1 0 R /Prev 99")
    assertThrows[IllegalArgumentException](PdfCodec.load(prev.getBytes(ISO_8859_1)))
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      "<< /Length 5 0 R >>\nstream\nabcde\nendstream",
      "5")
    assertThrows[IllegalArgumentException](PdfCodec.extractText(assemble(objs)))
    val lzw = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      "<< /Length 5 /Filter /LZWDecode >>\nstream\nabcde\nendstream")
    assertThrows[IllegalArgumentException](PdfCodec.extractText(assemble(lzw)))
    // corrupt flate body: bad zlib FCHECK
    val badz = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      "<< /Length 4 /Filter /FlateDecode >>\nstream\nxxxx\nendstream")
    assertThrows[IllegalArgumentException](PdfCodec.extractText(assemble(badz)))
  }

  test("facade: per-doc write->parse->extract with both filters and page counts") {
    val docs = Seq(
      (2L, "even doc uses FlateDecode"),
      (3L, "odd doc gets a second page")).toDF("doc_id", "text")
    val out = PdfCodec.pdfTextExtract(docs).orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 1)
    assert(out(0).getString(2) == "even doc uses FlateDecode")
    assert(out(1).getInt(1) == 2)
    assert(out(1).getString(2) == "odd doc gets a second page Page two of doc 3")
  }
}
