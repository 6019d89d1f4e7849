package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wikipedia dump ingestion — the WikiExtractor-class pipeline over
  * the PUBLIC dump layout: enwiki `pages-articles-multistream` files
  * are CONCATENATED bzip2 streams ([[Bzip2.decode]] handles exactly
  * that) of MediaWiki XML `<page>` elements whose `<text>` payload is
  * wikitext. Wikipedia is a canonical curation source; "parse the
  * dump, strip the markup" is a named stage in most corpus papers.
  *
  * XML parsing is a hand-rolled tag walk for the dump's fixed schema
  * (no XML library): `<page>` → title / ns / first id / optional
  * redirect / revision text, with XML entity decode. Inside `<text>`
  * the dump escapes `< > &`, so scanning for the closing tag cannot
  * be fooled by content.
  *
  * Wikitext → plain text is an exact, oracle-replayable spec:
  *   1. `<!-- -->` comments out;
  *   2. `<ref …>…</ref>` and self-closing `<ref …/>` out;
  *   3. `{{templates}}` out, NESTED (brace counting);
  *   4. `{| tables |}` out, nested;
  *   5. `[[target|label]]` → label, `[[target]]` → target, nested
  *      file-caption links handled; `File:/Image:/Category:` links
  *      dropped whole;
  *   6. `[url label]` → label, bare `[url]` → out;
  *   7. remaining `<…>` tags out;
  *   8. heading/quote markup (`==`, `'''''`, `'''`, `''`) stripped;
  *   9. leading list markers (`* # : ;`) stripped per line;
  *  10. XML/HTML entities decoded (`&amp;` last);
  *  11. whitespace collapsed, trimmed.
  * Total on malformed markup, like [[WebArchive.htmlToText]].
  */
object WikiDump {

  final case class WikiPage(
      pageId: Long, title: String, ns: Int, redirect: Option[String], text: String)

  // ---- XML subset ------------------------------------------------------

  private def decodeXmlEntities(s: String): String = {
    val r = s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&apos;", "'")
    decodeNumeric(r).replace("&amp;", "&")
  }
  private val PDec = Pattern.compile("&#(\\d{1,7});")

  /** Manual append loop: a decoded '$' or '\' must land literally,
    * never as a replacement-template metacharacter. */
  private def decodeNumeric(s: String): String = {
    val m = PDec.matcher(s)
    if (!m.find()) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var last = 0
      do {
        sb.append(s, last, m.start())
        val cp = Integer.parseInt(m.group(1))
        // surrogate code points rejected: ill-formed UTF-16 otherwise
        if (Character.isValidCodePoint(cp) && cp != 0 &&
          !(cp >= 0xD800 && cp <= 0xDFFF)) sb.appendCodePoint(cp)
        last = m.end()
      } while (m.find())
      sb.append(s, last, s.length)
      sb.toString
    }
  }

  private def escXml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Inner text of the first `<tag ...>…</tag>` after `from` within
    * `[from, to)`, or null. */
  private def tagText(xml: String, tag: String, from: Int, to: Int): String = {
    var open = xml.indexOf("<" + tag + ">", from)
    var openEnd = open + tag.length + 2
    if (open < 0 || open >= to) {
      // attribute form <tag attr...>
      open = xml.indexOf("<" + tag + " ", from)
      if (open < 0 || open >= to) return null
      openEnd = xml.indexOf('>', open)
      require(openEnd >= 0 && openEnd < to, s"unterminated <$tag> in dump XML")
      if (xml.charAt(openEnd - 1) == '/') return "" // self-closing
      openEnd += 1
    }
    val close = xml.indexOf("</" + tag + ">", openEnd)
    require(close >= 0 && close <= to, s"missing </$tag> in dump XML")
    xml.substring(openEnd, close)
  }

  /** All `<page>` elements of a dump XML fragment (the multistream
    * chunks carry bare page sequences; a full-file `<mediawiki>`
    * wrapper is fine too). */
  def parsePages(xml: String): Seq[WikiPage] = {
    val out = Seq.newBuilder[WikiPage]
    var i = 0
    var going = true
    while (going) {
      val open = xml.indexOf("<page>", i)
      if (open < 0) going = false
      else {
        val close = xml.indexOf("</page>", open)
        require(close > open, "unterminated <page> in dump XML")
        val title = tagText(xml, "title", open, close)
        require(title != null, "page without <title>")
        val nsText = tagText(xml, "ns", open, close)
        val ns = if (nsText == null) 0 else nsText.trim.toInt
        val idText = tagText(xml, "id", open, close)
        require(idText != null, "page without <id>")
        // redirect is an attribute-only element
        val rIdx = xml.indexOf("<redirect ", open)
        val redirect =
          if (rIdx >= 0 && rIdx < close) {
            val t = xml.indexOf("title=\"", rIdx)
            require(t >= 0 && t < close, "redirect without title attribute")
            val e = xml.indexOf('"', t + 7)
            Some(decodeXmlEntities(xml.substring(t + 7, e)))
          } else None
        val rev = xml.indexOf("<revision>", open)
        val text =
          if (rev >= 0 && rev < close) {
            val t = tagText(xml, "text", rev, close)
            if (t == null) "" else decodeXmlEntities(t)
          } else ""
        out += WikiPage(idText.trim.toLong, decodeXmlEntities(title), ns, redirect, text)
        i = close + 7
      }
    }
    out.result()
  }

  // ---- wikitext → plain text ------------------------------------------

  private val PComment = Pattern.compile("(?s)<!--.*?-->")
  private val PRef = Pattern.compile("(?is)<ref\\b[^>/]*>.*?</ref\\s*>|<ref\\b[^>]*/>")
  private val PExtLink = Pattern.compile("\\[(?:https?|ftp)://\\S*(?:\\s+([^\\]]*))?\\]")
  private val PTag = Pattern.compile("(?s)<[^>]*>")
  private val PHeading = Pattern.compile("={2,}")
  private val PListMarker = Pattern.compile("(?m)^[*#:;]+\\s*")
  private val PWs = Pattern.compile("\\s+")

  /** Remove nested `open…close` regions (depth-counted). Total: an
    * unbalanced open swallows to end of input, an unmatched close is
    * literal text. */
  private def stripNested(s: String, open: String, close: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var depth = 0
    while (i < s.length) {
      if (s.startsWith(open, i)) { depth += 1; i += open.length }
      else if (depth > 0 && s.startsWith(close, i)) { depth -= 1; i += close.length }
      else {
        if (depth == 0) sb.append(s.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** `[[…]]` handling with nesting (file captions may embed links). */
  private def stripLinks(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.startsWith("[[", i)) {
        var depth = 1
        var j = i + 2
        while (j < s.length && depth > 0) {
          if (s.startsWith("[[", j)) { depth += 1; j += 2 }
          else if (s.startsWith("]]", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        val innerEnd = if (depth == 0) j - 2 else j
        val inner = s.substring(math.min(i + 2, innerEnd), innerEnd)
        val colon = inner.indexOf(':')
        val pipe = inner.indexOf('|')
        val nsPrefix =
          if (colon >= 0 && (pipe < 0 || colon < pipe))
            inner.substring(0, colon).trim.toLowerCase
          else ""
        if (nsPrefix != "file" && nsPrefix != "image" && nsPrefix != "category") {
          val processed = stripLinks(inner)
          val pp = processed.indexOf('|')
          sb.append(if (pp >= 0) processed.substring(pp + 1) else processed)
        }
        i = j
      } else {
        sb.append(s.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** The 11-step spec from the object doc. */
  def wikitextToPlain(w: String): String = {
    var s = PComment.matcher(w).replaceAll(" ")
    s = PRef.matcher(s).replaceAll(" ")
    s = stripNested(s, "{{", "}}")
    s = stripNested(s, "{|", "|}")
    s = stripLinks(s)
    s = PExtLink.matcher(s).replaceAll(m => Option(m.group(1)).getOrElse(""))
    s = PTag.matcher(s).replaceAll(" ")
    s = PHeading.matcher(s).replaceAll(" ")
    s = s.replace("'''''", "").replace("'''", "").replace("''", "")
    s = PListMarker.matcher(s).replaceAll("")
    s = s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")
      .replace("&amp;", "&")
    PWs.matcher(s).replaceAll(" ").trim
  }

  // ---- frame ops -------------------------------------------------------

  /** Serialize pages as dump XML (the gate/test generator — escaped
    * text, the real dump field layout). */
  def buildPageXml(p: WikiPage): String = {
    val sb = new StringBuilder
    sb ++= "  <page>\n"
    sb ++= s"    <title>${escXml(p.title)}</title>\n"
    sb ++= s"    <ns>${p.ns}</ns>\n"
    sb ++= s"    <id>${p.pageId}</id>\n"
    p.redirect.foreach(r => sb ++= s"""    <redirect title="${escXml(r)}" />\n""")
    sb ++= "    <revision>\n"
    sb ++= s"      <id>${p.pageId + 1000000}</id>\n"
    sb ++= "      <timestamp>2026-01-01T00:00:00Z</timestamp>\n"
    sb ++= s"""      <text bytes="${p.text.getBytes(UTF_8).length}" xml:space="preserve">${escXml(p.text)}</text>\n"""
    sb ++= "    </revision>\n"
    sb ++= "  </page>\n"
    sb.toString
  }

  /** Build multistream shards: docs(doc_id, text) → (shard_id, data)
    * where each shard is TWO concatenated bzip2 streams of page XML
    * (the real multistream layout: many streams per file), pages in
    * doc_id order, wikitext-decorated deterministically. */
  def multistreamBuild(docs: DataFrame, shards: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % shards)
      .mapGroups { (g, it) =>
        val pages = it.toSeq.sortBy(_._1).map { case (id, text) =>
          buildPageXml(WikiPage(id, s"Doc $id", 0, None, decorate(id, text)))
        }
        val (a, b) = pages.splitAt((pages.size + 1) / 2)
        val blob = Bzip2.encode(a.mkString.getBytes(UTF_8)) ++
          (if (b.nonEmpty) Bzip2.encode(b.mkString.getBytes(UTF_8))
          else Array.emptyByteArray)
        (g, blob)
      }
      .toDF("shard_id", "data")
  }

  /** The gate's deterministic wikitext decoration: bold title, a piped
    * link, a template, a heading, a ref and a category — every markup
    * class the cleaner must strip. */
  def decorate(id: Long, text: String): String =
    s"'''Doc $id''' is a [[test page|page]] about {{subject|x=$id}} something.\n\n" +
      s"== Content ==\n$text <ref>synthetic citation</ref> [[Category:Synthetic]]\n"

  /** Ingest multistream shards: decode the concatenated bzip2 streams,
    * parse pages, clean wikitext. One row per page:
    * (doc_id, title, txt). Row-local. */
  def multistreamIngest(shards: DataFrame): DataFrame = {
    val s = shards.sparkSession
    import s.implicits._
    shards.select(col("data")).as[Array[Byte]]
      .flatMap { blob =>
        parsePages(new String(Bzip2.decode(blob), UTF_8)).map { p =>
          (p.pageId, p.title, wikitextToPlain(p.text))
        }
      }
      .toDF("doc_id", "title", "txt")
  }

  // ---- monolithic file + published index --------------------------------

  /** Build the REAL dump pair: ONE monolithic multistream blob
    * (`streams` concatenated bzip2 streams of contiguous doc_id-ordered
    * page runs — the `pages-articles-multistream.xml.bz2` layout) plus
    * its published index (`-index.txt.bz2`: one `offset:pageId:title`
    * line per page, offset = byte position of the stream holding the
    * page). Driver-side fixture generator, the sibling of
    * [[multistreamBuild]]. */
  def multistreamMonoBuild(docs: DataFrame, streams: Int): (Array[Byte], Array[Byte]) = {
    val s = docs.sparkSession
    import s.implicits._
    val pages = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    require(pages.nonEmpty, "empty corpus")
    val chunk = math.max(1, math.ceil(pages.length.toDouble / streams).toInt)
    val out = new java.io.ByteArrayOutputStream()
    val idx = new StringBuilder
    pages.grouped(chunk).foreach { run =>
      val off = out.size()
      run.foreach { case (id, _) => idx ++= s"$off:$id:Doc $id\n" }
      val xml = run.map { case (id, text) =>
        buildPageXml(WikiPage(id, s"Doc $id", 0, None, decorate(id, text)))
      }.mkString
      out.write(Bzip2.encode(xml.getBytes(UTF_8)))
    }
    (out.toByteArray, Bzip2.encode(idx.toString.getBytes(UTF_8)))
  }

  /** Parse a published multistream index (bz2 text,
    * `offset:pageId:title` — title may itself contain colons) into
    * rows (offset, page_id, title). The decode+split runs on an
    * executor: the driver never holds the ~200 MB decompressed enwiki
    * index. */
  def multistreamIndexParse(spark: org.apache.spark.sql.SparkSession,
      indexBz2: Array[Byte]): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(indexBz2))
      .flatMap { blob =>
        new String(Bzip2.decode(blob), UTF_8).linesIterator.filter(_.nonEmpty).map { ln =>
          val c1 = ln.indexOf(':')
          val c2 = ln.indexOf(':', c1 + 1)
          require(c1 > 0 && c2 > c1, s"malformed index line: $ln")
          (ln.substring(0, c1).toLong, ln.substring(c1 + 1, c2).toLong,
            ln.substring(c2 + 1))
        }
      }
      .toDF("offset", "page_id", "title")
  }

  /** Index-driven ingest of ONE monolithic multistream file — the
    * intra-file parallelism fix: a real `pages-articles-multistream`
    * dump is a single 20 GB file, so file-granular ingest would run on
    * one task. Stream extents derive from the DISTINCT index offsets
    * (consecutive-offset differences; the last stream runs to file
    * end); extents are spread across tasks and each task does a
    * row-local RANGED read (Hadoop seek — works on HDFS/S3 the same
    * way) + bzip2 decode + page parse + wikitext clean. Parallelism =
    * number of streams (~27k for enwiki), never number of files. The
    * driver-side work is one file-status call plus a one-row-per-
    * partition heads collect; extent derivation is range-partitioned
    * over the stream count, not the page count. The session's Hadoop
    * conf ships with the tasks so object-store credentials reach
    * them. */
  def multistreamIngestIndexed(path: String, index: DataFrame): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val taskConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fileLen = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getFileStatus(p).getLen
    }
    // Extent derivation stays distributed: range-partition the distinct
    // offsets, lead() within each sorted partition, and close each
    // partition's last extent with the head of the next non-empty
    // partition (a bounded one-row-per-partition collect). No global
    // single-partition WindowExec anywhere. The offsets dataset is
    // persisted between the heads pass and the extents pass because
    // repartitionByRange samples its bounds — recomputation could
    // repartition differently.
    val offs = index.select(col("offset").cast("long")).distinct()
      .repartitionByRange(col("offset"))
      .sortWithinPartitions("offset")
      .as[Long]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val heads: Array[(Int, Long)] = offs.mapPartitions { it =>
      if (it.hasNext) Iterator((org.apache.spark.TaskContext.getPartitionId(), it.next()))
      else Iterator.empty
    }.collect()
    val headsSorted = heads.sortBy(_._1)
    val extents = offs.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val bound = headsSorted.collectFirst { case (p2, h) if p2 > pid => h }
        .getOrElse(fileLen)
      if (!it.hasNext) Iterator.empty
      else new Iterator[(Long, Long)] {
        private var cur = it.next()
        private var more = true
        def hasNext: Boolean = more
        def next(): (Long, Long) =
          if (it.hasNext) { val n = it.next(); val r = (cur, n); cur = n; r }
          else { more = false; (cur, bound) }
      }
    }.toDF("offset", "end")
      .repartition(col("offset"))
      .localCheckpoint(eager = true) // extents are stream-count-sized; pin them
    offs.unpersist()
    extents.as[(Long, Long)].mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(taskConf.value)
        val in = fs.open(p)
        // close on task completion, not on iterator drain: an exception
        // mid-extent or a downstream limit() must not leak the handle
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => in.close())
        val body = it.flatMap { case (off, end) =>
          require(end > off, s"empty extent at $off")
          // bound BEFORE the Int narrowing: a corrupt index yielding a
          // multi-GB extent must fail loudly, not overflow into a
          // NegativeArraySizeException (the zip-offset fuzz lesson)
          require(end - off <= (1L << 30),
            s"stream extent [$off, $end) of ${end - off} bytes is implausible " +
              "for a bzip2 stream — corrupt index?")
          val buf = new Array[Byte]((end - off).toInt)
          in.readFully(off, buf)
          val pages = parsePages(new String(Bzip2.decode(buf), UTF_8))
          pages.map(pg => (pg.pageId, pg.title, wikitextToPlain(pg.text)))
        }
        if (tc != null) body else body ++ { in.close(); Iterator.empty }
      }
    }.toDF("doc_id", "title", "txt")
  }
}
