package graft

import org.apache.spark.sql.functions._

import graft.api.GraftFrame
import graft.gates.Fixtures
import graft.operators.{Bpe, Robots, WebArchive}

/** The round-10 GraftFrame facade additions: each test drives the
  * user-facing method, not the operator, so the delegation wiring
  * (column names, defaults, GraftFrame re-wrap) is what's pinned. */
class FacadeRoundupSpec extends SparkSpec {
  import spark.implicits._

  private def gf(rows: Seq[(Long, String)]): GraftFrame =
    new GraftFrame(rows.toDF("doc_id", "text"))

  test("blocklist facades annotate and filter") {
    val g = gf(Seq((1L, "clean prose"), (2L, "has spam inside")))
    assert(g.blocklist_annotate("doc_id", "text", Seq("spam")).df
      .where(col("clean")).count() == 1)
    assert(g.blocklist_filter("doc_id", "text", Seq("spam")).df
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("fix_mojibake facade repairs and reports rounds") {
    val garbled = new String("café".getBytes("UTF-8"), "ISO-8859-1")
    val g = gf(Seq((1L, garbled), (2L, "plain")))
    val out = g.fix_mojibake("doc_id", "text").df.orderBy("doc_id").collect()
    assert(out(0).getString(2) == "café" && out(0).getInt(1) == 1)
    assert(out(1).getString(2) == "plain" && out(1).getInt(1) == 0)
  }

  test("html_to_text and main_content facades") {
    val html = Seq((1L,
      """<nav><a href="/">Home</a> <a href="/a">About us</a> <a href="/c">Contact form</a></nav>
        |<p>the real article body text, long enough to clear the floor</p>""".stripMargin))
      .toDF("doc_id", "html")
    val g = new GraftFrame(html)
    assert(g.html_to_text("doc_id", "html").df.select("txt").as[String].head()
      .startsWith("Home About us Contact form the real article"))
    assert(g.main_content("doc_id", "html").df.select("main_txt").as[String].head() ==
      "the real article body text, long enough to clear the floor")
  }

  test("warc_ingest and pdf_extract facades") {
    val docs = Seq((7L, "body text for the record")).toDF("doc_id", "text")
    val blobs = new GraftFrame(WebArchive.warcGzipBuild(docs, groups = 1))
    val ing = blobs.warc_ingest().df.collect()
    assert(ing.length == 1 && ing(0).getAs[Long]("doc_id") == 7L)

    val pdf = Seq((3L, graft.operators.PdfCodec.encode("pdf text here", None, flate = true)))
      .toDF("media_id", "data")
    val out = new GraftFrame(pdf).pdf_extract("media_id", "data").df.collect()
    assert(out(0).getInt(1) == 1 && out(0).getString(2) == "pdf text here")
  }

  test("bpe_token_counts and zorder_by facades") {
    val g = gf(Seq((1L, "low low"), (2L, "lower")))
    val ms = Bpe.train(g.df, "text", k = 1)
    val counts = g.bpe_token_counts("doc_id", "text", ms).df
      .orderBy("doc_id").select("n_tokens").as[Long].collect()
    assert(counts.length == 2 && counts.forall(_ > 0))

    val pts = (0 until 64).map(i => (i.toLong, i % 8, i / 8)).toDF("id", "x", "y")
    val z = new GraftFrame(pts).zorder_by(col("x"), col("y"), bits = 3).df
    assert(z.columns.contains("z") && z.count() == 64)
  }

  test("politeness_check facade") {
    val compiled = new GraftFrame(Robots.compileRules(
      Seq(("d.com", "User-agent: *\nDisallow: /no\n")).toDF("domain", "robots_txt"), "bot"))
    val urls = new GraftFrame(Seq((1L, "d.com", "/ok"), (2L, "d.com", "/no/x"))
      .toDF("id", "domain", "path"))
    val out = urls.politeness_check(compiled).df.orderBy("id")
      .select("allowed").as[Boolean].collect()
    assert(out.toSeq == Seq(true, false))
  }

  test("round-14 facades: hilbert_by, hashed_tfidf, kn_score") {
    val pts = (0 until 64).map(i => (i.toLong, i % 8, i / 8)).toDF("id", "x", "y")
    val h = new GraftFrame(pts).hilbert_by(col("x"), col("y"), bits = 3).df
    assert(h.columns.contains("h") && h.count() == 64)

    val g = gf(Seq((1L, "alpha beta"), (2L, "alpha gamma")))
    val sparse = g.hashed_tfidf("doc_id", "text", dim = 64).df
    assert(sparse.columns.toSet == Set("doc_id", "bucket", "w"))
    assert(sparse.count() == 4)

    val scored = g.kn_score(g, "doc_id", "text", hotK = 0).df
    // 2-token docs: scoreable rows exist but n_scored = 0
    assert(scored.count() == 2 &&
      scored.where(col("n_scored") === 0).count() == 2)
  }

  test("round-14 facades: funnel and retention") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq((1L, ts(0), "view"), (1L, ts(5), "click"))
      .toDF("user_id", "ts", "event_type")
    val f = new GraftFrame(ev).funnel(Seq("view", "click"), 3600).df
    assert(f.where(col("t2").isNotNull).count() == 1)
    val r = new GraftFrame(ev).retention(7).df
    assert(r.columns.toSet == Set("cohort_day", "offset_days", "n_users"))
    assert(r.count() == 1)
  }
  test("metadata-tier facades: footer census, prune, page prune, bloom probe") {
    val out = Fixtures.scratchDir("facade_meta")
    spark.range(4000).selectExpr("id AS k")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "4000")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.page.size", "2048")
      .parquet(out)
    assert(GraftFrame.footer_census(spark, out).df
      .agg(org.apache.spark.sql.functions.sum("num_rows")).head.getLong(0) == 4000L)
    assert(GraftFrame.column_stats(spark, out).df
      .where(col("column_path") === "k").count() >= 1)
    assert(GraftFrame.prune_census(spark, out, "k", 100L, 200L).df
      .agg(org.apache.spark.sql.functions.sum("rows_scanned")).head.getLong(0) == 4000L)
    val pp = GraftFrame.page_prune_census(spark, out, "k", 100L, 200L).df
    assert(pp.where(col("skipped")).count() > 0)
    val probe = GraftFrame.bloom_probe(spark, out, "k", Seq(5L, 99999L)).df.collect()
    assert(probe.exists(r => r.getLong(1) == 5L && r.getBoolean(2)))
    assert(GraftFrame.page_scan(spark, out, "k", "k").df
      .agg(org.apache.spark.sql.functions.sum("a_long")).head.getLong(0)
      == (0L until 4000L).sum)
    // LIST facade (round 17): arrays reassembled from rep/def levels
    val lout = Fixtures.scratchDir("facade_list")
    spark.range(500).selectExpr("id AS k", "array(concat('a', id), 'b') AS xs")
      .coalesce(1).write.mode("overwrite").parquet(lout)
    assert(GraftFrame.page_scan_list(spark, lout, "xs").df
      .agg(org.apache.spark.sql.functions.sum("n_elems")).head.getLong(0) == 1000L)
    // nested facades (round 18): generic Dremel assembly
    val nout = Fixtures.scratchDir("facade_nested")
    spark.range(500).selectExpr("id AS k",
      "named_struct('a', id, 's', concat('v', id % 7)) AS st",
      "array(named_struct('p', id), named_struct('p', id * 2)) AS ls",
      "array(array(id), array(id, id + 1)) AS ll")
      .coalesce(1).write.mode("overwrite").parquet(nout)
    assert(GraftFrame.page_scan_struct(spark, nout, "st").df
      .selectExpr("CAST(fields['a'] AS BIGINT) AS a")
      .agg(org.apache.spark.sql.functions.sum("a")).head.getLong(0) == (0L until 500L).sum)
    assert(GraftFrame.page_scan_list_struct(spark, nout, "ls").df
      .agg(org.apache.spark.sql.functions.sum("n_elems")).head.getLong(0) == 1000L)
    assert(GraftFrame.page_scan_nested_list(spark, nout, "ll").df
      .agg(org.apache.spark.sql.functions.sum("n_outer")).head.getLong(0) == 1000L)
  }
}