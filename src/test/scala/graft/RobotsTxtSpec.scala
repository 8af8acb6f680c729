package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RobotsTxt

class RobotsTxtSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def verdicts(robots: String, paths: Seq[String]) = {
    val rules = RobotsTxt.starGroupRules(
      Seq(("d", robots)).toDF("domain", "txt"), "domain", "txt")
    RobotsTxt.verdicts(
      paths.zipWithIndex.map { case (p, i) => (i.toLong, "d", p) }
        .toDF("id", "domain", "path"),
      "id", "domain", "path", rules)
      .as[(Long, String, String, String, String, java.lang.Long, Boolean)]
      .collect().sortBy(_._1).toSeq
  }

  test("RFC grouping: consecutive UA lines share a group; non-star groups are scoped away") {
    val robots =
      "User-agent: botA\nUser-agent: *\nDisallow: /x\n\nUser-agent: botB\nDisallow: /"
    val got = verdicts(robots, Seq("/x/1", "/y"))
    assert(got(0)._7 == false, "star group (shared with botA) disallows /x")
    assert(got(1)._7 == true, "botB's Disallow: / must not leak into the star group")
  }

  test("longest match wins; Allow beats Disallow on exact length ties; empty Disallow is no rule") {
    val robots = "User-agent: *\nDisallow: /a\nAllow: /a/b\nDisallow:\nAllow: /t\nDisallow: /t"
    val got = verdicts(robots, Seq("/a/1", "/a/b/1", "/t/1", "/free"))
    assert(got(0)._7 == false && got(0)._5 == "/a")
    assert(got(1)._7 == true && got(1)._5 == "/a/b", "longer Allow overrides")
    assert(got(2)._7 == true, "equal-length tie resolves to Allow")
    assert(got(3)._7 == true && got(3)._4 == null, "no match => allowed")
  }

  test("crawl-delay is a domain property reaching unmatched urls; absent delay is null") {
    val got = verdicts("User-agent: *\nCrawl-delay: 7\nDisallow: /x", Seq("/free"))
    assert(got(0)._6 == 7L && got(0)._7 == true)
    val none = verdicts("User-agent: *\nDisallow: /x", Seq("/free"))
    assert(none(0)._6 == null)
  }

  test("RobotsMatch: RFC 9309 wildcard laws, hand-checked") {
    import graft.functions.expr.RobotsMatch.{matches => m}
    // prefix semantics: bare pattern matches any continuation
    assert(m("/a/b/c", "/a"))
    assert(!m("/b", "/a"))
    // * matches any octet run including '/' and the empty run
    assert(m("/x/deep/file.pdf", "/*.pdf"))
    assert(m("/file.pdf", "/*.pdf"))
    assert(m("/a/b", "/a/*/b") === false, "* must still leave room for both anchors in order")
    assert(m("/a/x/b", "/a/*/b"))
    assert(m("/a/x/y/b/tail", "/a/*/b"), "unanchored pattern is a prefix match")
    // $ anchors only at the end
    assert(m("/exact", "/exact$"))
    assert(!m("/exact2", "/exact$"))
    assert(m("/d/f.pdf", "/*.pdf$"))
    assert(!m("/d/f.pdfx", "/*.pdf$"))
    assert(m("/price$10", "/price$10"), "interior $ is a literal")
    // trailing * keeps plain prefix semantics; anchored trailing * too
    assert(m("/tmp/x", "/tmp*"))
    assert(m("/tmpanything", "/tmp*$"))
    // greedy middle segments: leftmost binding leaves room for the suffix
    assert(m("/axbbc", "/a*b*bc$"))
    assert(!m("/abc", "/a*b*bc$"))
    // multi-star non-anchored ordering
    assert(m("/u/1/p/2", "/u/*/p"))
    assert(!m("/p/2/u/1", "/u/*/p"))
  }

  test("verdicts through wildcard rules: longest-written-pattern resolution") {
    val robots = "User-agent: *\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\nDisallow: /tmp*"
    val got = verdicts(robots, Seq("/d/f.pdf", "/pub/f.pdf", "/tmp/x", "/free.pdfz"))
    assert(got(0)._7 == false && got(0)._5 == "/*.pdf$")
    assert(got(1)._7 == true && got(1)._5 == "/pub/*.pdf$",
      "longer written pattern (wildcards counted) wins")
    assert(got(2)._7 == false && got(2)._5 == "/tmp*")
    assert(got(3)._7 == true && got(3)._4 == null, "anchored .pdf$ must not match .pdfz")
  }

  test("named-agent groups: exact case-insensitive match, combine, star fallback") {
    val robots =
      "User-agent: graftbot\nDisallow: /g/\nCrawl-delay: 7\n\n" +
        "User-agent: GraftBot\nAllow: /g/pub\n\n" +
        "User-agent: graftbot-news\nDisallow: /news\n\n" +
        "User-agent: *\nDisallow: /x/"
    def verdictsFor(agent: String, paths: Seq[String]) = {
      val rules = RobotsTxt.agentGroupRules(
        Seq(("d", robots)).toDF("domain", "txt"), "domain", "txt", agent)
      RobotsTxt.verdicts(
        paths.zipWithIndex.map { case (p, i) => (i.toLong, "d", p) }
          .toDF("id", "domain", "path"),
        "id", "domain", "path", rules)
        .as[(Long, String, String, String, String, java.lang.Long, Boolean)]
        .collect().sortBy(_._1).toSeq
    }
    // BOTH graftbot groups combine (case-insensitive); star is ignored
    val g = verdictsFor("GRAFTBOT", Seq("/g/a", "/g/pub/f", "/x/a"))
    assert(g(0)._7 == false && g(0)._5 == "/g/")
    assert(g(1)._7 == true && g(1)._5 == "/g/pub", "combined second group's Allow")
    assert(g(2)._7 == true && g(2)._4 == null,
      "star Disallow /x/ must NOT apply when a named group matched")
    assert(g(0)._6 == 7L, "the named group's crawl-delay rides along")
    // exact match, not prefix: 'graftbot' ≠ 'graftbot-news' and vice versa
    val n = verdictsFor("graftbot-news", Seq("/news/1", "/g/a"))
    assert(n(0)._7 == false && n(1)._7 == true)
    // unnamed crawler falls back to the star group
    val o = verdictsFor("otherbot", Seq("/x/a", "/g/a"))
    assert(o(0)._7 == false && o(0)._5 == "/x/" && o(1)._7 == true)
  }
}
