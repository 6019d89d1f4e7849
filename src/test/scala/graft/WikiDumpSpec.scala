package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._

import graft.gates.Fixtures
import graft.operators.{Bzip2, WikiDump}
import graft.operators.WikiDump.WikiPage

class WikiDumpSpec extends SparkSpec {
  import spark.implicits._

  test("page XML roundtrip: build -> parse recovers fields, entities decoded") {
    val p = WikiPage(42L, "AT&T <test>", 0, None, "body & <markup> \"quoted\"")
    val back = WikiDump.parsePages(WikiDump.buildPageXml(p))
    assert(back.size == 1)
    assert(back.head.pageId == 42L)
    assert(back.head.title == "AT&T <test>")
    assert(back.head.text == "body & <markup> \"quoted\"")
    assert(back.head.redirect.isEmpty)
  }

  test("redirect pages and numeric entities parse") {
    // buildPageXml escapes & (so entity text round-trips literally —
    // checked in the first test); raw numeric entities must come from
    // hand-written XML
    val xml = WikiDump.buildPageXml(WikiPage(7L, "From", 0, Some("To & Fro"), "")) +
      """  <page>
        |    <title>Dollar</title>
        |    <ns>0</ns>
        |    <id>8</id>
        |    <revision>
        |      <text xml:space="preserve">&#36;5 and &#92;path</text>
        |    </revision>
        |  </page>
        |""".stripMargin
    val ps = WikiDump.parsePages(xml)
    assert(ps(0).redirect.contains("To & Fro"))
    assert(ps(1).text == "$5 and \\path") // decoded $ and \ stay literal
  }

  test("wikitext cleaning: every markup class from the spec") {
    val w = """'''Bold''' and ''italic'' text with a [[plain link]] and a
      |[[target|label]]. {{infobox|a={{nested|b}}|c}} survives nothing.
      |<!-- comment --><ref name="x">cite</ref><ref name="y"/>
      |== Heading ==
      |* list item one
      |# numbered
      |A [[File:pic.jpg|thumb|A [[caption]] link]] image and
      |[[Category:Stuff]] tags. {| class="wikitable"
      ||cell|} after table. [https://x.example some site] and [https://bare.example]
      |and &amp; &lt;tag&gt; entities.""".stripMargin
    val plain = WikiDump.wikitextToPlain(w)
    assert(plain == "Bold and italic text with a plain link and a label. " +
      "survives nothing. Heading list item one numbered A image and tags. " +
      "after table. some site and and & <tag> entities.")
  }

  test("wikitext cleaning is total on malformed markup") {
    assert(WikiDump.wikitextToPlain("{{unclosed template eats all") == "")
    assert(WikiDump.wikitextToPlain("an }} orphan close") == "an }} orphan close")
    assert(WikiDump.wikitextToPlain("[[unclosed link") == "unclosed link")
    assert(WikiDump.wikitextToPlain("") == "")
  }

  test("multistream shards: two concatenated bzip2 streams per shard, full ingest") {
    val docs = Seq(
      (0L, "alpha beta gamma content here"),
      (1L, "delta epsilon words"),
      (16L, "same shard as zero")).toDF("doc_id", "text")
    val shards = WikiDump.multistreamBuild(docs, shards = 16)
    assert(shards.count() == 2) // groups 0 (ids 0,16) and 1
    // shard 0 really is TWO streams
    val blob0 = shards.where(col("shard_id") === 0).select("data")
      .as[Array[Byte]].head()
    val firstLen = {
      var n = 1
      var ok = false
      while (!ok && n <= blob0.length) {
        try { Bzip2.decode(java.util.Arrays.copyOfRange(blob0, 0, n)); ok = true }
        catch { case _: Exception => n += 1 }
      }
      n
    }
    assert(firstLen < blob0.length, "expected a second bzip2 stream in the shard")
    val out = WikiDump.multistreamIngest(shards).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 16L))
    assert(out(0).getString(1) == "Doc 0")
    assert(out(0).getString(2) ==
      "Doc 0 is a page about something. Content alpha beta gamma content here")
  }

  test("monolithic file + index: extents recover every page; index offsets are real stream starts") {
    val docs = (0L until 10L).map(i => (i, s"body words of doc number $i"))
      .toDF("doc_id", "text")
    val (blob, idxBz) = WikiDump.multistreamMonoBuild(docs, streams = 4)
    // the index parses and covers all 10 pages over 4 distinct offsets
    val idx = WikiDump.multistreamIndexParse(spark, idxBz)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(idx.length == 10)
    assert(idx.map(_._1).distinct.length == 4)
    assert(idx.map(_._2).toSeq == (0L until 10L))
    assert(idx.forall { case (_, id, t) => t == s"Doc $id" })
    // every offset is a byte position where an independent bzip2
    // stream begins (the published-index contract a range reader
    // relies on): decoding from each offset to the next succeeds
    val offs = idx.map(_._1).distinct.sorted :+ blob.length.toLong
    for (Array(a, b) <- offs.sliding(2)) {
      val xml = new String(Bzip2.decode(
        java.util.Arrays.copyOfRange(blob, a.toInt, b.toInt)), UTF_8)
      assert(xml.contains("<page>"))
    }
    // full indexed ingest from a real file path round-trips all pages
    val path = java.nio.file.Paths.get(Fixtures.scratchDir("wikimono_spec"), "dump.xml.bz2")
    java.nio.file.Files.write(path, blob)
    val got = WikiDump.multistreamIngestIndexed(
      path.toString, WikiDump.multistreamIndexParse(spark, idxBz))
      .orderBy("doc_id").collect()
    assert(got.length == 10)
    assert(got.map(_.getLong(0)).toSeq == (0L until 10L))
    assert(got(3).getString(1) == "Doc 3")
    assert(got(3).getString(2) ==
      "Doc 3 is a page about something. Content body words of doc number 3")
    // intra-file parallelism is visible in the plan: the decode is a
    // MapPartitions over the extent rows, never a single-blob pass
    val p = WikiDump.multistreamIngestIndexed(
      path.toString, WikiDump.multistreamIndexParse(spark, idxBz))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("MapPartitions"), p)
  }
}
