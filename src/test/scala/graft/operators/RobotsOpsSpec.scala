package graft.operators

import graft.SparkSpec

/** [[RobotsOps]] — longest-match fetchability semantics (q320). */
class RobotsOpsSpec extends SparkSpec {

  private def decideAll(robotsTxt: String, paths: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    val urls = paths.map(("d.com", _)).toDF("domain", "path")
    val robots = Seq(("d.com", robotsTxt)).toDF("domain", "txt")
    val rules = RobotsOps.parseRules(robots, "domain", "txt")
    RobotsOps.decide(urls, rules).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
  }

  test("longest matching prefix wins; ties go to Allow; no match allows") {
    val txt = "User-agent: *\nDisallow: /a\nAllow: /a/b\nDisallow: /a/b/c"
    val d = decideAll(txt, Seq("/a/x", "/a/b/x", "/a/b/c/x", "/z"))
    assert(d("/a/x") == 0L)      // /a disallows
    assert(d("/a/b/x") == 1L)    // longer Allow /a/b overrides
    assert(d("/a/b/c/x") == 0L)  // longest Disallow /a/b/c wins again
    assert(d("/z") == 1L)        // no match => allowed
  }

  test("equal-length Allow and Disallow: Allow wins") {
    val txt = "User-agent: *\nDisallow: /p1\nAllow: /p1"
    assert(decideAll(txt, Seq("/p1/x")) == Map("/p1/x" -> 1L))
  }

  test("no rules at all: everything allowed, deciding_rule NULL") {
    import spark.implicits._
    val urls = Seq(("d.com", "/x")).toDF("domain", "path")
    val rules = RobotsOps.parseRules(
      Seq(("other.com", "User-agent: *\nDisallow: /")).toDF("domain", "txt"),
      "domain", "txt")
    val out = RobotsOps.decide(urls, rules).collect()(0)
    assert(out.getLong(2) == 1L && out.isNullAt(3))
  }

  test("Disallow: / blocks everything; malformed lines are ignored") {
    val txt = "User-agent: *\nDisallow: /\nNoise line\nDisallow:\nCrawl-delay: 5"
    val d = decideAll(txt, Seq("/", "/deep/path"))
    assert(d.values.forall(_ == 0L))
  }
}
