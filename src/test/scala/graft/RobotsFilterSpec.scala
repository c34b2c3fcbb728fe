package graft

import org.apache.spark.sql.functions._

import graft.functions.TokenFolds
import graft.operators.RobotsFilter
import graft.operators.RobotsFilter.parseRobotsRules

/** robots.txt semantics: group selection, longest-match with allow-wins
  * ties, wildcards/anchors (char-walk kernel, no regex), and the
  * broadcast map-only codegen URL marking.
  */
class RobotsFilterSpec extends SparkSpecBase {
  import spark.implicits._

  private def verdict(rules: Seq[RobotsFilter.Rule], path: String,
                      matches: (String, String) => Boolean = TokenFolds.robotsMatch): Boolean = {
    val matching = rules.filter(r => matches(path, r.pattern))
    if (matching.isEmpty) true
    else {
      val maxLen = matching.map(_.pattern.length).max
      matching.filter(_.pattern.length == maxLen).exists(_.allow)
    }
  }

  test("robotsMatch: prefix, wildcard backtracking, $ anchor, literals") {
    import TokenFolds.robotsMatch
    // plain prefix semantics
    assert(robotsMatch("/private/secret", "/private"))
    assert(!robotsMatch("/pub/private", "/private")) // anchored at START
    assert(robotsMatch("/anything", "/"))
    // `*` absorbs any run, including empty; greedy with backtracking
    assert(robotsMatch("/a/b/c.pdf", "/a*c.pdf"))
    assert(robotsMatch("/ac.pdf", "/a*c.pdf"))
    assert(robotsMatch("/x/yyy/x/z", "/x*x*z"))  // two stars
    assert(!robotsMatch("/x/yyy/z", "/x*x*z"))
    // backtracking: first viable split fails, a later one succeeds
    assert(robotsMatch("/pdfs/f.pdf", "/p*f.pdf$"))
    assert(!robotsMatch("/pdfs/f.pdfx", "/p*f.pdf$")) // anchor blocks
    assert(robotsMatch("/f.pdf", "*.pdf$"))
    // `?` is a LITERAL (query-string matching), not a wildcard
    assert(robotsMatch("/p?sessionid=1", "/*?sessionid="))
    assert(!robotsMatch("/psessionid=1", "/*?sessionid="))
    // `$` alone anchors the empty pattern: only the empty path matches
    assert(TokenFolds.robotsMatch("", "$") && !robotsMatch("/", "$"))
    // trailing `*$` = anchored but absorbs the rest
    assert(robotsMatch("/x/anything/at/all", "/x*$"))
  }

  test("group selection: most-specific user-agent wins, * is fallback, equal groups merge") {
    val txt =
      """User-agent: *
        |Disallow: /all
        |
        |User-agent: graftbot
        |Disallow: /graft
        |
        |User-agent: graft
        |Disallow: /short
        |
        |User-agent: *
        |Disallow: /all2
        |""".stripMargin
    // most specific prefix of "graftbot" is the 8-char token
    assert(parseRobotsRules(txt, "graftbot").map(_.pattern) == Seq("/graft"))
    // agent "graftb": only the 5-char "graft" token prefixes it
    assert(parseRobotsRules(txt, "graftb").map(_.pattern) == Seq("/short"))
    // unknown agent: the two * groups MERGE
    assert(parseRobotsRules(txt, "otherbot").map(_.pattern) ==
      Seq("/all", "/all2"))
  }

  test("comments, unknown directives, empty Disallow, multi-agent group heads") {
    val txt =
      """# global rules
        |User-agent: a
        |User-agent: b
        |Disallow: /x  # tail comment
        |Crawl-delay: 10
        |Disallow:
        |Sitemap: http://e/s.xml
        |""".stripMargin
    assert(parseRobotsRules(txt, "a-bot").map(_.pattern) == Seq("/x"))
    assert(parseRobotsRules(txt, "b-bot").map(_.pattern) == Seq("/x"))
    assert(parseRobotsRules(null, "a") == Seq.empty)
  }

  test("longest-match decides; equal-length tie goes to allow; wildcards and $ anchor") {
    val rules = parseRobotsRules(
      """User-agent: *
        |Disallow: /private
        |Allow: /private/ok
        |Disallow: /p*f.pdf$
        |Allow: /tmpx
        |Disallow: /tmpy
        |""".stripMargin, "any")
    assert(!verdict(rules, "/private/secret"))
    assert(verdict(rules, "/private/ok/page")) // longer allow wins
    assert(verdict(rules, "/public"))          // no match → allowed
    assert(!verdict(rules, "/pdfs/f.pdf"))     // wildcard + anchor
    assert(verdict(rules, "/pdfs/f.pdfx"))     // anchor blocks the match
  }

  test("markAllowed: broadcast join + map-only fold, hosts without robots allowed, case-insensitive host") {
    val robots = Seq(
      ("H0.example", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
        "Disallow: /*?sessionid=\nDisallow: /search?q=\n"),
      ("h1.example", "User-agent: *\nDisallow: /\n")).toDF("host", "content")
    val urls = Seq(
      (1L, "http://h0.example/public/a"),
      (2L, "http://h0.example/private/a"),
      (3L, "http://h0.example/private/ok/a"),
      (4L, "http://H1.example/anything"),
      (5L, "http://h9.example/whatever"),
      // rules match path+QUERY (RFC 9309): the query string must be
      // part of the match target, and its absence must not block
      (6L, "http://h0.example/public/a?sessionid=9"),
      (7L, "http://h0.example/search?q=x"),
      (8L, "http://h0.example/search")).toDF("id", "url")
    val marked = RobotsFilter.markAllowed(urls, robots, "url")
    val byId = marked.select("id", "allowed").as[(Long, Boolean)]
      .collect().toMap
    assert(byId == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> false, 7L -> false, 8L -> true))
    // the URL side never shuffles: broadcast join only — and the verdict
    // is ONE codegen scalar, not an interpreted HOF fold or per-row regex
    val plan = marked.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("graft_robots_verdict"), plan)
    assert(!plan.contains("aggregate(") && !plan.contains("lambdafunction"), plan)
    assert(!plan.contains("regexp"), plan)
    assert(RobotsFilter.filterAllowed(urls, robots, "url").count() == 4)
    // WholeStageCodegen witness on a codegen-capable source (the Seq
    // fixture above is a LocalTableScan, which never opens a `*(` span)
    val bigUrls = spark.range(1000).select(col("id"),
      concat(lit("http://h0.example/private/p"), col("id")).as("url"))
    val bigDf = RobotsFilter.markAllowed(bigUrls, robots, "url")
    // run THIS frame: AQE only materializes WholeStageCodegen spans in
    // the final plan of an executed query
    assert(bigDf.collect().forall(!_.getAs[Boolean]("allowed")))
    val bigPlan = bigDf.queryExecution.executedPlan.toString
    assert(bigPlan.contains("*("),
      s"verdict must stay inside WholeStageCodegen:\n$bigPlan")
    assert(bigPlan.contains("graft_robots_verdict"), bigPlan)
    // 50 hosts x 40 rules (prefixes, deep allows, wildcard queries,
    // anchored *.pdf$): with k = id mod 40, a URL is blocked iff
    // k mod 4 = 0, and each verdict equals the regex fold the kernel
    // replaced (each rule an anchored regex, longest match, ties allow)
    val robotsTxt = "User-agent: *\n" + (0 until 40).map { j =>
      if (j % 4 == 0) s"Disallow: /d$j"
      else if (j % 4 == 1) s"Allow: /d${j - 1}/ok"
      else if (j % 4 == 2) s"Disallow: /*?x$j="
      else "Disallow: /p" + j + "*.pdf$"
    }.mkString("\n") + "\n"
    val manyRules = spark.range(50).select(
      concat(lit("h"), col("id").cast("string"), lit(".ex")).as("host"),
      lit(robotsTxt).as("content"))
    val manyUrls = spark.range(4000).select(col("id"),
      concat(lit("http://h"), (col("id") % 50L).cast("string"), lit(".ex/d"),
        (col("id") % 40L).cast("string"), lit("/p"), col("id").cast("string")).as("url"))
    val verdicts = RobotsFilter.markAllowed(manyUrls, manyRules, "url")
      .select("id", "allowed").as[(Long, Boolean)].collect()
    assert(verdicts.length == 4000 && verdicts.count(_._2) == 4000 / 40 * 30)
    def toRx(p: String): java.util.regex.Pattern = {
      val anchored = p.endsWith("$")
      val body = if (anchored) p.dropRight(1) else p
      java.util.regex.Pattern.compile(body.split("\\*", -1)
        .map(java.util.regex.Pattern.quote).mkString("^", ".*", if (anchored) "$" else ""))
    }
    val rules = parseRobotsRules(robotsTxt, "*")
    val rx = rules.map(r => r.pattern -> toRx(r.pattern)).toMap
    verdicts.foreach { case (id, allowed) =>
      assert(allowed == verdict(rules, s"/d${id % 40}/p$id",
        (path, pattern) => rx(pattern).matcher(path).find()), s"url $id")
    }
  }

  test("authority-only URL is the root path (RFC 9309); duplicate host rows do not fan URLs out") {
    import spark.implicits._
    val robots = Seq(
      ("blocked.ex", "User-agent: *\nDisallow: /\n"),
      // duplicate host: deterministic min-content wins, and one URL in
      // must be one URL out
      ("dup.ex", "User-agent: *\nDisallow: /b\n"),
      ("dup.ex", "User-agent: *\nDisallow: /z\n"))
      .toDF("host", "content")
    val urls = Seq(
      (1L, "http://blocked.ex"),       // NO path: parse_url yields "",
      (2L, "http://blocked.ex/page"),  // which must read as "/"
      (3L, "http://dup.ex/a"))
      .toDF("doc_id", "url")
    val out = RobotsFilter.markAllowed(urls, robots, "url")
      .select("doc_id", "allowed").as[(Long, Boolean)].collect().sorted
    assert(out.length == 3, s"dup host rows must not multiply URLs: ${out.toSeq}")
    assert(out.toSeq == Seq((1L, false), (2L, false), (3L, true)),
      out.toSeq.toString)
  }
}
