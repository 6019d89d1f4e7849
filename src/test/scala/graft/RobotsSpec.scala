package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Fixtures
import graft.operators.Robots
import graft.operators.Robots.Rule

class RobotsSpec extends SparkSpec {
  import spark.implicits._

  test("pattern matcher: prefix, * wildcard, $ anchor, backtracking") {
    assert(Robots.matches("/private/", "/private/x"))
    assert(Robots.matches("/private/", "/private/"))
    assert(!Robots.matches("/private/", "/privat"))
    assert(Robots.matches("/*.tmp", "/files/a.tmp"))
    assert(Robots.matches("/*.tmp", "/files/a.tmp.save")) // prefix semantics
    assert(Robots.matches("/*.tmp$", "/files/a.tmp"))
    assert(!Robots.matches("/*.tmp$", "/files/a.tmp.save"))
    assert(Robots.matches("/a*b*c", "/aXXbYYc"))
    assert(Robots.matches("/a*b*c", "/abbc")) // needs backtracking
    assert(!Robots.matches("/a*b*c$", "/abbcd"))
    assert(Robots.matches("/", "/anything"))
    assert(Robots.matches("/fish*.php$", "/fishheads/catfish.php"))
    assert(!Robots.matches("/fish*.php$", "/fishheads/catfish.php?p=1"))
  }

  test("most-specific match wins; tie goes to Allow; no match allows") {
    val rules = Seq(Rule(false, "/private/"), Rule(true, "/private/pub"))
    assert(!Robots.isAllowed(rules, "/private/secret"))
    assert(Robots.isAllowed(rules, "/private/public")) // longer allow wins
    assert(Robots.isAllowed(rules, "/open"))
    // equal length: allow wins (RFC 9309 2.2.2)
    assert(Robots.isAllowed(Seq(Rule(false, "/ab"), Rule(true, "/ab")), "/abc"))
    assert(Robots.isAllowed(Nil, "/x"))
  }

  test("group selection: specific agent beats *, prefix product token, multi-group combine") {
    val txt =
      """# politeness file
        |User-agent: evilbot
        |Disallow: /
        |
        |User-agent: graftbot
        |Disallow: /graft-only/
        |
        |User-agent: *
        |Disallow: /everyone/
        |
        |User-agent: graftbot
        |Disallow: /also-graft/
        |Crawl-delay: 10
        |Sitemap: https://x/sitemap.xml
        |""".stripMargin
    val rules = Robots.parse(txt, "graftbot")
    // both graftbot groups combine; * and evilbot groups excluded
    assert(rules.toSet == Set(Rule(false, "/graft-only/"), Rule(false, "/also-graft/")))
    assert(Robots.isAllowed(rules, "/everyone/x")) // * group didn't apply
    // a crawler with no specific group falls back to *
    val star = Robots.parse(txt, "otherbot")
    assert(star == Seq(Rule(false, "/everyone/")))
    // product-token prefix: 'graftbot-news' matches the 'graftbot' group
    assert(Robots.parse(txt, "graftbot-news").toSet ==
      Set(Rule(false, "/graft-only/"), Rule(false, "/also-graft/")))
  }

  test("parse details: case-insensitive fields, comments, empty Disallow, consecutive UA lines") {
    val txt =
      """USER-AGENT: A
        |user-agent: B
        |DISALLOW: /a  # trailing comment
        |Allow:
        |disallow:
        |""".stripMargin
    assert(Robots.parse(txt, "b") == Seq(Rule(false, "/a")))
    assert(Robots.parse(txt, "c").isEmpty) // no * group -> allowed by default
  }

  test("compileRules + politenessCheck: per-domain parse, left join keeps robots-less domains") {
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow: /private/\nAllow: /private/pub*\n"))
      .toDF("domain", "robots_txt")
    val urls = Seq(
      (1L, "a.com", "/ok"),
      (2L, "a.com", "/private/x"),
      (3L, "a.com", "/private/pub7"),
      (4L, "norobots.com", "/private/x")).toDF("id", "domain", "path")
    val out = Robots.politenessCheck(urls, Robots.compileRules(robots, "graftbot"))
      .orderBy("id").collect()
    assert(out.map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("allowed"))).toSeq ==
      Seq((1L, true), (2L, false), (3L, true), (4L, true)))
    // rules column is dropped; the join key leads, then url columns
    assert(out.head.schema.fieldNames.toSeq == Seq("domain", "id", "path", "allowed"))
  }

  test("crawlDelay: specific group beats *, first value wins, junk is ignored") {
    val txt =
      """User-agent: *
        |Crawl-delay: 2.5
        |Crawl-delay: 9
        |
        |User-agent: graftbot
        |Crawl-delay: 0.5
        |
        |User-agent: oddbot
        |Crawl-delay: soon  # unparsable
        |""".stripMargin
    assert(Robots.crawlDelay(txt, "graftbot").contains(0.5))
    assert(Robots.crawlDelay(txt, "otherbot").contains(2.5)) // * group, first wins
    assert(Robots.crawlDelay(txt, "oddbot").isEmpty) // junk value -> none
    assert(Robots.crawlDelay("User-agent: *\nDisallow: /x\n", "any").isEmpty)
  }

  test("sitemaps are group-independent and keep file order") {
    val txt =
      """Sitemap: https://a.example/s1.xml
        |User-agent: *
        |Disallow: /private/
        |sitemap: https://a.example/s2.xml  # lowercase field, comment
        |""".stripMargin
    assert(Robots.sitemaps(txt) ==
      Seq("https://a.example/s1.xml", "https://a.example/s2.xml"))
    assert(Robots.sitemaps("User-agent: *\n").isEmpty)
  }

  test("compiled rules survive a parquet round-trip") {
    val robots = Seq(("a.com", "User-agent: *\nDisallow: /*.tmp$\n"))
      .toDF("domain", "robots_txt")
    val p = s"${Fixtures.scratchDir("robots_rt")}/compiled.parquet"
    Robots.compileRules(robots, "bot").write.mode("overwrite").parquet(p)
    val compiled = spark.read.parquet(p)
    val urls = Seq((1L, "a.com", "/x.tmp"), (2L, "a.com", "/x.tmp2"))
      .toDF("id", "domain", "path")
    val out = Robots.politenessCheck(urls, compiled).orderBy("id").collect()
    assert(out.map(_.getBoolean(3)).toSeq == Seq(false, true))
  }
}
