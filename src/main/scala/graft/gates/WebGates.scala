package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{PdfCodec, Robots, TextOps, UrlOps, WebArchive, WikiDump}
import graft.operators.OpUtil.fan

import Fixtures._

/** Web-archive ingestion (gzip/Brotli, WARC/WET/WAT, CDX, robots,
  * sitemaps), URL curation, PDF text and Wikipedia dumps. */
object WebGates {

  val gates: Seq[Gate] = Seq(
    // ----- URL curation ------------------------------------------------
    // Synthesized per-doc URLs exercising every normalization branch:
    // userinfo (÷4), non-default port 8080 (÷5) vs default 443 (÷2),
    // empty path (÷7), tracking runs at both query edges (÷3 adds a
    // second run), uppercase scheme/host, fragment. The oracle replays
    // the IDENTICAL RE2-safe regex pipeline in DuckDB.
    Gate("url_canonicalize")((s, dir) => {
      tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(
            lit("HTTPS://"),
            when(col("doc_id") % 4 === 0, lit("user:pw@")).otherwise(lit("")),
            lit("WWW."), col("source"), lit(".Example.COM"),
            when(col("doc_id") % 5 === 0, lit(":8080"))
              .when(col("doc_id") % 2 === 0, lit(":443"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(""))
              .otherwise(concat(lit("/Docs/"), col("doc_id"))),
            lit("?utm_source=feed&id="), col("doc_id"),
            when(col("doc_id") % 3 === 0, lit("&gclid=abc&page=2"))
              .otherwise(lit("&page=1")),
            lit("&utm_campaign=x#Sec")).as("url"))
        .select(col("doc_id"),
          UrlOps.canonicalize(col("url")).as("canon"),
          UrlOps.host(col("url")).as("host"),
          UrlOps.registrableDomain(col("url")).as("domain"),
          UrlOps.stripTrackingParams(col("url")).as("stripped"))
        .orderBy("doc_id")
    }) {
      urlCanonOracle
    },
    // Domain blocklist filter: block every source whose trailing digit
    // is even (a deterministic, SQL-replayable list built from the
    // corpus itself), keep the rest. The corpus never shuffles — the
    // blocklist broadcasts (plan-asserted).
    Gate("url_blocklist")((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(lit("https://www."), col("source"), lit(".example-"),
            col("source"), lit(".net/d/"), col("doc_id")).as("url"))
      val block = tbl(s, dir, "documents")
        .select(col("source")).distinct()
        .where(substring(col("source"), -1, 1).cast("int") % 2 === 0)
        .select(concat(lit("EXAMPLE-"), col("source"), lit(".NET")).as("domain"))
      UrlOps.dropBlockedDomains(docs, "url", block, "domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"),
          count_distinct(col("source")).as("n_sources"))
    }) {
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    'https://www.' || source || '.example-' || source || '.net/d/'
        |      || doc_id AS url
        |  FROM documents
        |), block AS (
        |  SELECT DISTINCT lower('EXAMPLE-' || source || '.NET') AS bad
        |  FROM documents
        |  WHERE CAST(substring(source, -1, 1) AS INT) % 2 = 0
        |), withdom AS (
        |  SELECT doc_id, source,
        |    regexp_extract(
        |      lower(regexp_replace(regexp_replace(regexp_extract(url,
        |        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
        |        '^[^@]*@', '', 'g'), ':[0-9]*$', '', 'g')),
        |      '([^.]+\.[^.]+)$', 1) AS dom
        |  FROM docs
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM withdom WHERE dom NOT IN (SELECT bad FROM block)""".stripMargin
    },
    // PSL-aware registrable domains: a deterministic URL mix covering
    // two-level suffixes (co.uk / com.au), one-level (com), an
    // UNLISTED TLD (heuristic fallback) and bare-suffix hosts (null
    // domain). The suffix table is injected inline; the oracle replays
    // longest-suffix matching via arg_max over tail matches.
    Gate("url_domain_psl")((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(lit("https://"),
            when(col("doc_id") % 7 === 0, lit(""))
              .otherwise(concat(
                when(col("doc_id") % 3 === 0, lit("news.")).otherwise(lit("")),
                col("source"), lit("."))),
            when(col("doc_id") % 4 === 0, lit("co.uk"))
              .when(col("doc_id") % 4 === 1, lit("com.au"))
              .when(col("doc_id") % 4 === 2, lit("com"))
              .otherwise(lit("zz")),
            lit("/d/"), col("doc_id")).as("url"))
      val psl = Seq("com", "au", "uk", "co.uk", "com.au").toDF("suffix")
      UrlOps.registrableDomainPsl(docs, "url", psl, "suffix")
        .select(col("doc_id"), col("url_domain"))
        .orderBy("doc_id")
    }) {
      """WITH psl(sfx) AS (
        |  VALUES ('com'), ('au'), ('uk'), ('co.uk'), ('com.au')
        |), docs AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 7 = 0 THEN ''
        |         ELSE (CASE WHEN doc_id % 3 = 0 THEN 'news.' ELSE '' END)
        |           || source || '.' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'co.uk'
        |         WHEN doc_id % 4 = 1 THEN 'com.au'
        |         WHEN doc_id % 4 = 2 THEN 'com'
        |         ELSE 'zz' END || '/d/' || doc_id AS url
        |  FROM documents WHERE doc_id < 200
        |), hosts AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(regexp_replace(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
        |      '^[^@]*@', '', 'g'), ':[0-9]*$', '', 'g')) AS h
        |  FROM docs
        |), matched AS (
        |  -- every matching suffix is a tail of the host, so the
        |  -- longest STRING is the longest-label match
        |  SELECT hosts.doc_id, arg_max(p.sfx, length(p.sfx)) AS m
        |  FROM hosts JOIN psl p ON hosts.h = p.sfx OR hosts.h LIKE '%.' || p.sfx
        |  GROUP BY hosts.doc_id
        |)
        |SELECT h.doc_id,
        |  CASE WHEN m.m IS NULL THEN regexp_extract(h.h, '([^.]+\.[^.]+)$', 1)
        |       WHEN h.h = m.m THEN NULL
        |       ELSE regexp_extract(left(h.h, length(h.h) - length(m.m) - 1),
        |              '([^.]*)$', 1) || '.' || m.m
        |  END AS url_domain
        |FROM hosts h LEFT JOIN matched m ON h.doc_id = m.doc_id
        |ORDER BY h.doc_id""".stripMargin
    },
    // Full publicsuffix.org semantics: raw rules incl. wildcard and
    // exception rows expanded corpus-aware, then the same broadcast
    // join ladder — the whole PSL path from file rows to domains.
    Gate("url_psl_expand")((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(lit("https://"),
            when(col("doc_id") % 3 === 0, lit("news.")).otherwise(lit("")),
            col("source"), lit("."),
            when(col("doc_id") % 2 === 0, lit("zz")).otherwise(lit("com")),
            lit("/d/"), col("doc_id")).as("url"))
      val rules = Seq("// test list", "com", "*.zz", "!src5.zz").toDF("rule")
      val expanded = UrlOps.expandPslRules(rules, "rule",
        docs.select(UrlOps.host(col("url")).as("h")), "h")
      UrlOps.registrableDomainPsl(docs, "url", expanded, "suffix")
        .select(col("doc_id"), col("url_domain"))
        .orderBy("doc_id")
    }) {
      """WITH docs AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'news.' ELSE '' END ||
        |    source || '.' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'zz' ELSE 'com' END
        |      || '/d/' || doc_id AS url
        |  FROM documents WHERE doc_id < 200
        |), hosts AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(regexp_replace(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
        |      '^[^@]*@', '', 'g'), ':[0-9]*$', '', 'g')) AS h
        |  FROM docs
        |), tails AS (
        |  -- '*.zz' expansion: distinct observed 2-label tails under zz
        |  SELECT DISTINCT regexp_extract(h, '([^.]+\.[^.]+)$', 1) AS sfx
        |  FROM hosts
        |  WHERE regexp_extract(h, '([^.]+\.[^.]+)$', 1) LIKE '%.zz'
        |), suffixes AS (
        |  SELECT 'com' AS sfx
        |  UNION SELECT 'zz'  -- parent of the !src5.zz exception
        |  UNION SELECT sfx FROM tails WHERE sfx <> 'src5.zz'
        |), matched AS (
        |  SELECT hosts.doc_id, arg_max(s.sfx, length(s.sfx)) AS m
        |  FROM hosts JOIN suffixes s
        |    ON hosts.h = s.sfx OR hosts.h LIKE '%.' || s.sfx
        |  GROUP BY hosts.doc_id
        |)
        |SELECT h.doc_id,
        |  CASE WHEN m.m IS NULL THEN regexp_extract(h.h, '([^.]+\.[^.]+)$', 1)
        |       WHEN h.h = m.m THEN NULL
        |       ELSE regexp_extract(left(h.h, length(h.h) - length(m.m) - 1),
        |              '([^.]*)$', 1) || '.' || m.m
        |  END AS url_domain
        |FROM hosts h LEFT JOIN matched m ON h.doc_id = m.doc_id
        |ORDER BY h.doc_id""".stripMargin
    },
    // Domain-level corpus accounting — the grouping shuffles only
    // (host, counters), never URLs or text.
    Gate("url_host_stats")((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("n_chars"),
          concat(lit("https://"), col("source"), lit(".example.org/d/"),
            col("doc_id")).as("url"))
        .groupBy(UrlOps.host(col("url")).as("host"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("host")
    }) {
      """SELECT
        |  lower(regexp_replace(regexp_replace(regexp_extract(
        |    'https://' || source || '.example.org/d/' || doc_id,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
        |    '^[^@]*@', '', 'g'), ':[0-9]*$', '', 'g')) AS host,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY host""".stripMargin
    },
    // Sitemap ingestion (sitemaps.org): urlset + sitemapindex parse —
    // crawl-frontier seeding next to robots.txt (whose Sitemap:
    // pointers Robots.sitemaps already extracts).
    Gate("web_sitemap_ingest")((s, dir) => {
      import s.implicits._
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 150).select(
        col("doc_id"),
        (col("doc_id") % 4 === 0).as("idx"),
        when(col("doc_id") % 4 === 0, col("doc_id") % 3 + 1)
          .otherwise(col("doc_id") % 5 + 1).cast("int").as("n"))
      val xml = spec.as[(Long, Boolean, Int)].mapPartitions(_.map {
        case (id, idx, n) => (id, graft.operators.Sitemap.fixtureXml(id, n, idx))
      }).toDF("doc_id", "xml")
      graft.operators.Sitemap.sitemapFrame(xml, "doc_id", "xml")
        .orderBy("doc_id", "ord")
    }) {
      // sitemap: fixture XML replayed as string arithmetic; 19723 =
      // epoch day of 2024-01-01 (the fixture's lastmod base)
      """WITH sm_docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN 'sitemapindex' ELSE 'urlset' END AS kind,
        |    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 3 + 1 AS INTEGER)
        |         ELSE CAST(doc_id % 5 + 1 AS INTEGER) END AS n
        |  FROM documents WHERE doc_id < 150
        |), sm_e AS (
        |  SELECT doc_id, kind, n, CAST(unnest(range(n)) AS INTEGER) AS j
        |  FROM sm_docs
        |)
        |SELECT doc_id, kind, j AS ord,
        |  CASE WHEN kind = 'sitemapindex'
        |    THEN 'http://site' || doc_id || '.example/maps/sitemap' || j || '.xml?a=1&b=2'
        |    ELSE 'http://site' || doc_id || '.example/page' || j || '?a=1&b=2'
        |  END AS loc,
        |  CAST(19723 + (doc_id + j) % 365 AS BIGINT) AS lastmod_day,
        |  CASE WHEN kind = 'sitemapindex' THEN ''
        |    ELSE CASE j % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |         ELSE 'monthly' END END AS changefreq,
        |  CASE WHEN kind = 'sitemapindex' THEN ''
        |    ELSE CASE j % 4 WHEN 0 THEN '0.25' WHEN 1 THEN '0.5'
        |         WHEN 2 THEN '0.75' ELSE '1.0' END END AS priority
        |FROM sm_e ORDER BY doc_id, ord""".stripMargin
    },

    // ----- web-archive ingestion (gzip / WARC / HTTP / HTML) ------------
    // Real compression round-trip per doc through the hand-written
    // RFC 1952/1951 codec, BOTH directions and BOTH modes: stored
    // blocks (output size is a closed form the oracle recomputes
    // exactly) and the LZ77 + fixed-Huffman compressor (the ok bit
    // proves decode(encode(x)) == x byte-compared on every row).
    Gate("web_gzip_roundtrip")((s, dir) =>
      WebArchive.gzipRoundTrip(fan(tbl(s, dir, "documents")))
        .agg(
          count(lit(1)).as("n"),
          sum("n_bytes").as("total_bytes"),
          sum("gz_stored_len").as("total_stored"),
          sum("roundtrip_ok").as("n_ok_stored"),
          sum("lz_ok").as("n_ok_lz"))) {
      // Stored-mode gzip size is the closed form 18 + n + 5·⌈n/65535⌉
      // (10-byte header + 8-byte trailer + one 5-byte block header per
      // 65535-byte stored block, min one block); the ok counts assert
      // the real decode byte-matched on every row.
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(sum(18 + octet_length(encode(text))
        |    + 5 * greatest(1,
        |        CAST(ceil(octet_length(encode(text)) / 65535.0) AS BIGINT)))
        |    AS BIGINT) AS total_stored,
        |  CAST(count(*) AS BIGINT) AS n_ok_stored,
        |  CAST(count(*) AS BIGINT) AS n_ok_lz
        |FROM documents""".stripMargin
    },
    // Full RFC 1951 encoder (stored/fixed/DYNAMIC-Huffman, best-of-three)
    // driven per document: md5 of the decode(encode(text)) roundtrip is
    // replayed by the oracle straight from the source text, so any
    // encoder bit error anywhere (package-merge lengths, canonical
    // codes, code-length RLE, header fields) flips the hash. Row-local,
    // zero shuffle — the crawl re-compaction encode path.
    // (r19 optimization: the %7 slice moved BEFORE the census — the
    // census is an opaque typed map, so a post-map filter can't push
    // through it and 6/7 of the best-of-three encodes were thrown
    // away; doc_id passes through 1:1 so the output is unchanged, and
    // the input fans out to the core count.)
    Gate("web_gzip_dynamic")((s, dir) =>
      WebArchive.gzipAutoCensus(fan(tbl(s, dir, "documents")
          .where(col("doc_id") % 7 === 0)))
        .orderBy("doc_id")) {
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS md5_roundtrip,
        |  true AS le_stored, true AS le_fixed
        |FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin
    },
    // Full RFC 7932 COMPRESSOR per document (round-17 VERDICT item 3 —
    // the write-side mirror of the completed decoder): md5 of
    // decode(encode(text)) replayed by the oracle from the source
    // text; any LZ77/prefix-code/command-cell/distance-ring bit error
    // flips the hash. Row-local, zero shuffle.
    Gate("web_brotli_roundtrip")((s, dir) =>
      WebArchive.brotliEncodeCensus(fan(tbl(s, dir, "documents")))
        .select(col("doc_id"), col("n_bytes"), col("md5_roundtrip"))
        .orderBy("doc_id")) {
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS md5_roundtrip
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Common-Crawl-shaped ingest, full stack: per doc build
    // HTML → HTTP 200 → WARC record → own gzip member, concatenate
    // members per group file, then INGEST the blobs back — member
    // split via real inflate, Content-Length-driven WARC walk, HTTP
    // parse, HTML→text extraction. The oracle rebuilds the HTML
    // string in SQL and replays every emitted field from it
    // (content lengths incl. the header-size arithmetic, extracted
    // text via the same entity/whitespace spec).
    Gate("web_warc_ingest")((s, dir) => {
      val blobs = WebArchive.warcGzipBuild(tbl(s, dir, "documents"), groups = blobGroups(s))
      WebArchive.warcIngest(blobs)
        .select(col("doc_id"), col("status"), col("content_length"),
          col("body_len"), col("txt"))
        .orderBy("doc_id")
    }) {
      // Rebuild the synthesized HTML verbatim in SQL, then replay every
      // ingest field from it: body_len = strlen(html); content_length =
      // HTTP head (77 fixed bytes + the Content-Length digit count) +
      // body; extracted text = the two headings plus the whitespace-
      // collapsed original (entity escape→decode is an identity).
      """WITH h AS (
        |  SELECT doc_id, text,
        |    '<html><head><title>Doc ' || doc_id
        |    || '</title><style type="text/css">body { color: #000; }</style></head>'
        |    || '<body><!-- crawler chrome --><h1 class="t">Doc ' || doc_id
        |    || '</h1><p>'
        |    || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |    || '</p><script type="text/javascript">var x = 1 < 2;</script></body></html>'
        |      AS html
        |  FROM documents
        |)
        |SELECT doc_id,
        |  200 AS status,
        |  CAST(77 + strlen(CAST(octet_length(encode(html)) AS VARCHAR))
        |    + octet_length(encode(html)) AS BIGINT) AS content_length,
        |  CAST(octet_length(encode(html)) AS BIGINT) AS body_len,
        |  trim('Doc ' || doc_id || ' Doc ' || doc_id || ' '
        |    || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
        |FROM h ORDER BY doc_id""".stripMargin
    },
    // CDXJ URL-index round-trip: per doc a deterministic URL becomes a
    // `surt ts {json}` line (SURT key + native to_json) and parses
    // back (split limit 3 + from_json, loud on undecodable JSON). The
    // oracle replays the SURT closed form — host labels reversed,
    // comma-joined, lowercased path+query.
    Gate("web_cdx_index")((s, dir) => {
      val recs = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("https://Site"), col("doc_id") % 50,
          lit(".Example.org/Doc/"), col("doc_id"),
          lit("?x="), col("doc_id") % 7).as("url"),
        (lit(20260101000000L) + col("doc_id")).cast("string").as("ts"),
        lit("200").as("status"),
        col("n_chars").cast("string").as("length"))
      val lines = UrlOps.cdxjBuild(recs, "url", "ts", Seq("status", "length"))
      UrlOps.cdxjParse(lines, "line", "url STRING, status STRING, length STRING")
        .select(
          expr("CAST(regexp_extract(url, '/([0-9]+)\\\\?', 1) AS BIGINT)").as("doc_id"),
          col("surt"), col("ts"), col("status"),
          col("length").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'org,example,site' || (doc_id % 50) || ')/doc/' || doc_id
        |    || '?x=' || (doc_id % 7) AS surt,
        |  CAST(20260101000000 + doc_id AS VARCHAR) AS ts,
        |  '200' AS status,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // WET sidecar round-trip: conversion records (already-extracted
    // plain text) built per doc, one gzip member per record, ingested
    // back without the HTTP/HTML layer. Oracle replays text and its
    // UTF-8 byte length.
    Gate("web_wet_ingest")((s, dir) => {
      val blobs = WebArchive.wetBuild(tbl(s, dir, "documents"), groups = blobGroups(s))
      WebArchive.wetIngest(blobs)
        .select(col("doc_id"), col("n_bytes"), col("txt"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  text AS txt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // WAT sidecar round-trip: metadata records whose JSON envelope
    // (target URI, title, outlinks) is parsed by Spark's native
    // from_json against an explicit schema — no UDF in the decode
    // path. Oracle replays title, link count and the modular first
    // outlink.
    Gate("web_wat_ingest")((s, dir) => {
      val blobs = WebArchive.watBuild(tbl(s, dir, "documents"), groups = blobGroups(s))
      WebArchive.watIngest(blobs)
        .select(col("doc_id"), col("title"), col("n_links"), col("first_link"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'Doc ' || doc_id AS title,
        |  CAST(2 AS INTEGER) AS n_links,
        |  'https://example.com/doc/' || (doc_id * 7 + 1) AS first_link
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // The same ingest against COMPRESSED crawl bodies: per doc the
    // HTTP response is Content-Encoding gzip / deflate(zlib) /
    // identity by doc_id%3, and the extractor must see the decoded
    // bytes — a real crawl's origin-compressed mix. The oracle replays
    // the extracted text; any body reaching the HTML extractor
    // undecoded destroys it.
    Gate("web_warc_encoded")((s, dir) => {
      val blobs = WebArchive.warcEncodedBuild(tbl(s, dir, "documents"), groups = blobGroups(s))
      WebArchive.warcIngest(blobs)
        .select(col("doc_id"), col("status"), col("txt"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  200 AS status,
        |  trim('Doc ' || doc_id || ' Doc ' || doc_id || ' '
        |    || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Content-Encoding tier with the brotli leg live (round-13 VERDICT
    // item 3, the round-11 stretch): every fourth record is
    // `Content-Encoding: br` — stored-mode RFC 7932 emitted by
    // Brotli.encodeStored, decoded back through the full hand-written
    // brotli decoder (the same one that decodes reference-encoder
    // q0-q2/high-entropy compressed streams, BrotliSpec). Extraction
    // output is encoding-invariant, so the oracle is the same identity
    // replay as web_warc_encoded.
    Gate("web_warc_brotli")((s, dir) => {
      val blobs = WebArchive.warcEncodedBuild(tbl(s, dir, "documents"),
        groups = blobGroups(s), withBrotli = true)
      WebArchive.warcIngest(blobs)
        .select(col("doc_id"), col("status"), col("txt"))
        .orderBy("doc_id")
    }) {
      // same identity replay: the extracted text is independent of which
      // Content-Encoding leg (gzip/deflate/identity/br) carried the body
      """SELECT doc_id,
        |  200 AS status,
        |  trim('Doc ' || doc_id || ' Doc ' || doc_id || ' '
        |    || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Composed crawl curation: ingest (as above) → whitespace token
    // count on the EXTRACTED text → quality floor → census. Pins the
    // pipeline hand-off: extraction output feeds the existing text
    // operators unchanged.
    Gate("web_crawl_pipeline")((s, dir) => {
      val blobs = WebArchive.warcGzipBuild(tbl(s, dir, "documents"), groups = blobGroups(s))
      WebArchive.warcIngest(blobs)
        .select(col("doc_id"), TextOps.tokenCount(col("txt")).cast("long").as("n_tok"))
        .where(col("n_tok") >= 20)
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
    }) {
      // Extracted text = 'Doc N Doc N ' + collapsed body, so its
      // whitespace token count is 4 + the original's.
      """WITH t AS (
        |  SELECT doc_id,
        |    4 + CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM t WHERE n_tok >= 20""".stripMargin
    },
    // Boilerplate removal: each doc framed in a page with a short
    // title (length-dropped), a link-dense nav (density-dropped), the
    // main paragraph, a DATA-dependent snippet paragraph (kept iff its
    // collapsed length ≥ 25 — both outcomes occur across doc_ids), and
    // a link-dense footer. The oracle replays keep/drop and the joined
    // text per block.
    Gate("web_main_content")((s, dir) =>
      WebArchive.mainContentExtract(tbl(s, dir, "documents"))
        .orderBy("doc_id")) {
      // Title/nav/footer are dropped by construction (length < 25 or
      // link density > 0.5); the main paragraph always clears the floor
      // (min collapsed corpus length is 44); the snippet paragraph's
      // keep/drop is replayed from the same substring + collapse rule.
      """WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS main,
        |    trim(regexp_replace(substr(text, 1, CAST(doc_id % 40 AS INTEGER)),
        |      '\s+', ' ', 'g')) AS snip
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN strlen(snip) >= 25 THEN 2 ELSE 1 END AS INTEGER) AS n_kept,
        |  CASE WHEN strlen(snip) >= 25 THEN main || ' ' || snip ELSE main END
        |    AS main_txt
        |FROM t ORDER BY doc_id""".stripMargin
    },
    // robots.txt politeness filter: one robots body per source domain
    // (specific-agent group that must NOT apply, prefix disallow,
    // wildcard allow override by longest-match, anchored wildcard
    // disallow), five path shapes cycling by doc_id — every rule form
    // decides at least one bucket.
    Gate("web_robots_filter")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val robotsTxt =
        """User-agent: evilbot
          |Disallow: /
          |
          |User-agent: *
          |Disallow: /private/
          |Allow: /private/pub*
          |Disallow: /*.tmp$
          |""".stripMargin
      val urls = docs.select(col("doc_id"), col("source").as("domain"),
        when(col("doc_id") % 5 === 0, concat(lit("/doc/"), col("doc_id")))
          .when(col("doc_id") % 5 === 1, concat(lit("/private/x"), col("doc_id")))
          .when(col("doc_id") % 5 === 2, concat(lit("/private/pub"), col("doc_id")))
          .when(col("doc_id") % 5 === 3, concat(lit("/files/"), col("doc_id"), lit(".tmp")))
          .otherwise(concat(lit("/files/"), col("doc_id"), lit(".tmp.save")))
          .as("path"))
      val robots = docs.select(col("source").as("domain")).distinct()
        .withColumn("robots_txt", lit(robotsTxt))
      Robots.politenessCheck(urls, Robots.compileRules(robots, "graftbot"))
        .select(col("doc_id"), col("path"), col("allowed"))
        .orderBy("doc_id")
    }) {
      // Decision replay: bucket 0 matches no rule (allowed), 1 the
      // /private/ prefix (disallowed), 2 the longer /private/pub* allow
      // override, 3 the anchored /*.tmp$ (disallowed), 4 escapes the
      // anchor (allowed). The evilbot group must not leak into the
      // graftbot evaluation (bucket 0 would flip).
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INTEGER)
        |    WHEN 0 THEN '/doc/' || doc_id
        |    WHEN 1 THEN '/private/x' || doc_id
        |    WHEN 2 THEN '/private/pub' || doc_id
        |    WHEN 3 THEN '/files/' || doc_id || '.tmp'
        |    ELSE '/files/' || doc_id || '.tmp.save' END AS path,
        |  CAST(doc_id % 5 AS INTEGER) IN (0, 2, 4) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // robots.txt frontier metadata: per domain, the agent-specific
    // crawl-delay (a specific group must NOT fall back to *), the
    // *-group delay for an unlisted agent, and the group-independent
    // sitemap count — the politeness scheduler's inputs.
    Gate("web_robots_meta")((s, dir) => {
      import s.implicits._
      val robotsTxt =
        """User-agent: graftbot
          |Crawl-delay: 1.5
          |Disallow: /tmp/
          |
          |User-agent: *
          |Crawl-delay: 4
          |Disallow: /private/
          |Sitemap: https://example.com/s1.xml
          |Sitemap: https://example.com/s2.xml
          |""".stripMargin
      tbl(s, dir, "documents").select(col("source").as("domain")).distinct()
        .as[String]
        .mapPartitions(_.map { d =>
          (d,
            Robots.crawlDelay(robotsTxt, "graftbot").getOrElse(-1.0),
            Robots.crawlDelay(robotsTxt, "otherbot").getOrElse(-1.0),
            Robots.sitemaps(robotsTxt).size)
        })
        .toDF("domain", "delay_graftbot", "delay_other", "n_sitemaps")
        .orderBy("domain")
    }) {
      """SELECT DISTINCT source AS domain,
        |  1.5 AS delay_graftbot,
        |  4.0 AS delay_other,
        |  CAST(2 AS INTEGER) AS n_sitemaps
        |FROM documents ORDER BY domain""".stripMargin
    },
    // PDF text extraction, full structural path per doc: write a real
    // PDF (xref table, page tree, content streams — odd ids get a
    // second page, even ids FlateDecode via the hand-written zlib),
    // then load it back through the xref walk, object parser, page
    // walk and Tj/TJ text extraction. The oracle replays page count
    // and the exact extracted text.
    Gate("pdf_text_extract")((s, dir) =>
      PdfCodec.pdfTextExtract(tbl(s, dir, "documents"))
        .orderBy("doc_id")) {
      // Corpus text carries no parens/backslashes (and no leading/
      // trailing space — the writer-side escape and the extractor's
      // final trim are both identities on it), so extracted text is the
      // original plus the deterministic page-2 line on odd ids.
      """SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS n_pages,
        |  CASE WHEN doc_id % 2 = 1
        |    THEN text || ' Page two of doc ' || doc_id
        |    ELSE text END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Wikipedia multistream dump ingest, full stack: per shard, page
    // XML (title/ns/id/revision/text, escaped) decorated with every
    // wikitext markup class, split into TWO concatenated bzip2
    // streams (the real pages-articles-multistream layout), then
    // ingested back — bz2 multistream decode, dump-XML tag walk with
    // entity decode, the 11-step wikitext cleaner. The oracle replays
    // title and cleaned text per page from documents.
    // (no orderBy: the driver compares sorted multisets, and a sort
    // here would range-SAMPLE the plan — executing the whole
    // build+ingest pipeline twice for presentation only)
    Gate("wiki_dump_ingest")((s, dir) => {
      val shards = WikiDump.multistreamBuild(tbl(s, dir, "documents"),
        shards = blobGroups(s))
      WikiDump.multistreamIngest(shards)
    }) {
      // The decoration cleans to a fixed frame around the whitespace-
      // collapsed document text (bold title, piped-link label "page",
      // template/ref/category stripped, heading text kept).
      """SELECT doc_id,
        |  'Doc ' || doc_id AS title,
        |  'Doc ' || doc_id || ' is a page about something. Content '
        |    || trim(regexp_replace(text, '\s+', ' ', 'g')) AS txt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Same ingest through the REAL dump shape: ONE monolithic
    // multistream file + its published offset index. Stream extents
    // come from the index's distinct offsets; each task ranged-reads
    // and decodes its streams — intra-file parallelism = stream count,
    // not file count. Oracle identical to wiki_dump_ingest.
    Gate("wiki_multistream_indexed")((s, dir) => {
      // doc_id cap bounds the DRIVER-side monolithic-blob fixture
      // build (a real dump already exists as a file); the distributed
      // ingest under test still spans all 64 streams
      val (blob, idxBz) = WikiDump.multistreamMonoBuild(
        tbl(s, dir, "documents").where(col("doc_id") < 1000), streams = 64)
      val out = java.nio.file.Paths.get(scratchDir("wikimono"), "dump.xml.bz2")
      java.nio.file.Files.write(out, blob)
      val index = WikiDump.multistreamIndexParse(s, idxBz)
      WikiDump.multistreamIngestIndexed(out.toString, index)
    }) {
      """SELECT doc_id,
        |  'Doc ' || doc_id AS title,
        |  'Doc ' || doc_id || ' is a page about something. Content '
        |    || trim(regexp_replace(text, '\s+', ' ', 'g')) AS txt
        |FROM documents WHERE doc_id < 1000 ORDER BY doc_id""".stripMargin
    },
  )

  /** DuckDB mirror of the [[graft.operators.UrlOps]] regex pipeline.
    * Patterns are shared verbatim (RE2-safe subset, `trackingNames`
    * interpolated from the operator so the lists can't drift); the only
    * dialect differences are `\1` vs `$1` backreference syntax and
    * DuckDB's explicit 'g' flag (Spark's regexp_replace is
    * always-global). */
  private lazy val urlCanonOracle: String = {
    def strip(x: String) =
      s"regexp_replace(regexp_replace(regexp_replace($x, " +
        s"'(?i)([?&])((?:${graft.operators.UrlOps.trackingNames})=[^&#]*&?)+', '\\1', 'g'), " +
        "'[?&]+#', '#', 'g'), '[?&]+$', '', 'g')"
    val rest = strip("regexp_replace(regexp_replace(url, '#.*$', '', 'g'), " +
      "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '', 'g')")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    'HTTPS://' || CASE WHEN doc_id % 4 = 0 THEN 'user:pw@' ELSE '' END ||
       |    'WWW.' || source || '.Example.COM' ||
       |    CASE WHEN doc_id % 5 = 0 THEN ':8080'
       |         WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE '/Docs/' || doc_id END ||
       |    '?utm_source=feed&id=' || doc_id ||
       |    CASE WHEN doc_id % 3 = 0 THEN '&gclid=abc&page=2' ELSE '&page=1' END ||
       |    '&utm_campaign=x#Sec' AS url
       |  FROM documents WHERE doc_id < 200
       |), parts AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
       |    regexp_replace(regexp_extract(url,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', '', 'g') AS hp,
       |    ${strip("url")} AS stripped,
       |    $rest AS rest
       |  FROM base
       |), parts2 AS (
       |  SELECT *,
       |    lower(regexp_replace(hp, ':[0-9]*$$', '', 'g')) AS host,
       |    regexp_extract(hp, ':([0-9]+)$$', 1) AS port
       |  FROM parts
       |)
       |SELECT doc_id,
       |  CASE WHEN sch = '' THEN url ELSE
       |    sch || '://' || host ||
       |    CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
       |        OR (sch = 'https' AND port = '443'))
       |      THEN ':' || port ELSE '' END ||
       |    CASE WHEN rest = '' THEN '/' ELSE rest END END AS canon,
       |  host,
       |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
       |  stripped
       |FROM parts2 ORDER BY doc_id""".stripMargin
  }
}
