package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextExpressions, UrlCanon}
import graft.operators.TextAnalysis

/** URL canonicalization edges beyond the oracle fixture, and the
  * blocklist gate's exact-token contract.
  */
class UrlCanonSpec extends SparkSpecBase {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(UrlCanon.canonicalizeUrl(col("u"))).as[String].collect().toSeq

  test("each rule on targeted spellings") {
    assert(canon("HTTP://WWW.Example.COM:80/Path/To?x=1#frag")
      == Seq("http://example.com/Path/To?x=1"))
    // path/query case is preserved; only scheme+authority lowercases
    assert(canon("https://Site.com/CaseKept?Q=Mixed") == Seq("https://site.com/CaseKept?Q=Mixed"))
    // :443 only strips for https, :80 only for http
    assert(canon("https://a.com:443/x", "http://a.com:443/x", "https://a.com:80/x")
      == Seq("https://a.com/x", "http://a.com:443/x", "https://a.com:80/x"))
    // tracking runs of two adjacent params clear completely
    assert(canon("http://a.com/p?utm_a=1&utm_b=2&x=3") == Seq("http://a.com/p?x=3"))
    assert(canon("http://a.com/p?x=3&utm_a=1&fbclid=2") == Seq("http://a.com/p?x=3"))
    // runs of >= 3 adjacent trackers clear completely too — the split +
    // filter + rejoin is exact for ANY run length (the earlier fixed
    // two-pass regexp_replace left every third param of such runs)
    assert(canon("http://a.com/p?utm_a=1&utm_b=2&utm_c=3&x=9")
      == Seq("http://a.com/p?x=9"))
    assert(canon("http://a.com/p?utm_a=1&utm_b=2&utm_c=3&gclid=x")
      == Seq("http://a.com/p"))
    assert(canon("http://a.com/p?x=1&utm_a=1&utm_b=2&utm_c=3&gclid=g&utm_d=4&y=2")
      == Seq("http://a.com/p?x=1&y=2"))
    // two URLs differing only in tracker runs share one canonical key
    assert(canon("http://a.com/p?utm_a=1&utm_b=2&utm_c=3&x=9").head
      == canon("http://a.com/p?utm_z=0&x=9").head)
    // only-tracking query drops entirely, including the '?'
    assert(canon("http://a.com/p?utm_a=1") == Seq("http://a.com/p"))
    // trailing slashes: multiple collapse, before-? collapses
    assert(canon("http://a.com/p///", "http://a.com/p/?x=1")
      == Seq("http://a.com/p", "http://a.com/p?x=1"))
    // a lookalike param is NOT stripped (utmost != utm_*; xfbclid != fbclid)
    assert(canon("http://a.com/p?utmost=1&xfbclid=2")
      == Seq("http://a.com/p?utmost=1&xfbclid=2"))
    // bare authority and bare '/' are stable fixed points
    assert(canon("http://a.com", "http://a.com/") == Seq("http://a.com", "http://a.com/"))
  }

  test("tracking strip is a codegen byte-walk: lambda-free plan, edge params exact") {
    val plan = Seq("http://a.com/p?utm_a=1&x=2").toDF("url")
      .select(UrlCanon.canonicalizeUrl(col("url")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_strip_tracking"), plan)
    assert(!plan.contains("lambdafunction") && !plan.contains("filter("), plan)
    // kernel edges vs the documented regex contract: utm_ needs '=' to
    // match; fbclidX is not fbclid; empty params survive; bare trailing
    // '?' still drops downstream
    assert(canon("http://a.com/p?utm_nomatch&x=1") ==
      Seq("http://a.com/p?utm_nomatch&x=1"))
    assert(canon("http://a.com/p?utm_=1&x=1") == Seq("http://a.com/p?x=1"))
    assert(canon("http://a.com/p?fbclidX=1") == Seq("http://a.com/p?fbclidX=1"))
    assert(canon("http://a.com/p?fbclid=1") == Seq("http://a.com/p"))
    assert(canon("http://a.com/p?a=1&&b=2") == Seq("http://a.com/p?a=1&&b=2"))
    assert(canon("http://a.com/p?utm_a=1&") == Seq("http://a.com/p"))
    assert(canon("http://a.com/p?gclid=x&gclid=y") == Seq("http://a.com/p"))
    // the kernel equals the split + rlike filter + rejoin form it replaced,
    // on the edge queries above and on generated ones
    val regexForm = array_join(
      filter(split(col("q"), "&"), p => !p.rlike("^(utm_[^&=]*|fbclid|gclid)=")), "&")
    val edges = Seq("utm_nomatch&x=1", "utm_=1&x=1", "fbclidX=1", "fbclid=1",
      "a=1&&b=2", "utm_a=1&", "gclid=x&gclid=y").toDF("q")
    val generated = spark.range(2000).select(concat(
      lit("utm_source=s"), (col("id") % 7L).cast("string"),
      lit("&x="), (col("id") % 13L).cast("string"),
      lit("&gclid=g&q="), col("id").cast("string"), lit("&utm_medium=m&y=2")).as("q"))
    assert(edges.union(generated)
      .where(TextExpressions.strip_tracking(col("q")) =!= regexForm).isEmpty)
  }

  test("canonicalization is idempotent") {
    val urls = Seq("HTTP://WWW.Site.COM:80/p/?utm_a=1&x=2#f",
      "https://b.org:443/q?fbclid=z", "http://c.net/r///")
    val once = canon(urls: _*)
    assert(canon(once: _*) == once)
  }

  test("urlDedupStats groups colliding spellings to one canonical row") {
    val docs = Seq(
      (1L, "HTTP://WWW.A.com/p"), (2L, "http://a.com:80/p/"),
      (3L, "http://a.com/p?utm_source=x"), (4L, "http://b.com/q")
    ).toDF("doc_id", "url")
    val out = UrlCanon.urlDedupStats(docs, "doc_id", "url")
      .orderBy("canonical_url").collect()
    assert(out.length == 2)
    val a = out(0)
    assert(a.getString(0) == "http://a.com/p" && a.getLong(1) == 3 &&
      a.getLong(2) == 3 && a.getLong(3) == 1L)
    assert(out(1).getString(0) == "http://b.com/q" && out(1).getLong(1) == 1)
  }

  test("hostOf normalizes every authority spelling; no authority yields empty") {
    import graft.functions.UrlCanon.hostOf
    val got = Seq(
      "http://WWW.Site.COM:80/p", "https://site.com:443/q?x=1",
      "http://user:pw@site.com/r", "ftp://www.site.com/z",
      "relative/path", "")
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(hostOf(col("url"))).as[String].collect().toSeq
    assert(got == Seq("site.com", "site.com", "site.com", "site.com", "", ""))
  }

  test("hostStats: per-host doc counts with canonical-URL dedup inside") {
    import graft.functions.UrlCanon
    val docs = Seq(
      (1L, "http://www.a.com/p"), (2L, "http://a.com:80/p/"), // same canonical
      (3L, "http://a.com/q"), (4L, "https://b.com/x")).toDF("doc_id", "url")
    val stats = UrlCanon.hostStats(docs, "doc_id", "url")
      .orderBy("host").collect()
    assert(stats.length == 2)
    assert(stats(0).getString(0) == "a.com" && stats(0).getLong(1) == 3 &&
      stats(0).getLong(2) == 2 && stats(0).getLong(3) == 1L)
    assert(stats(1).getString(0) == "b.com" && stats(1).getLong(1) == 1)
  }

  test("host blocklist: obfuscated spellings cannot leak through; unlisted hosts default-pass; broadcast plan") {
    import graft.functions.UrlCanon
    val docs = Seq(
      (1L, "http://WWW.Bad.COM:80/x"), (2L, "http://user@bad.com/y"),
      (3L, "http://good.com/z")).toDF("doc_id", "url")
    val blocked = Seq(Tuple1("bad.com")).toDF("host")
    val kept = UrlCanon.dropBlockedHosts(docs, "url", blocked)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    assert(kept.columns.toSeq == Seq("doc_id", "url"), "gate must not leak columns")
    val plan = UrlCanon.markBlockedHosts(docs, "url", blocked)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the host blocklist must broadcast:\n$plan")
  }

  test("blocklistFilter drops exact tokens only, never substrings") {
    val docs = Seq(
      (1L, "clean words here"), (2L, "contains badword here"),
      (3L, "badwordish is a different token"), (4L, "")).toDF("doc_id", "text")
    val kept = TextAnalysis.blocklistFilter(docs, Seq("badword", "other"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistFilter(docs, Seq.empty)
    }
  }

  test("PublicSuffix: PSL algorithm — exact multi-label, wildcard, exception, implicit *, bare suffix") {
    import graft.functions.PublicSuffix.{publicSuffix, registrableDomain}
    // exact multi-label rules
    assert(publicSuffix("a.b.example.co.uk") == "co.uk")
    assert(registrableDomain("a.b.example.co.uk") == "example.co.uk")
    assert(registrableDomain("x.shop.site.com.au") == "site.com.au")
    // implicit * default: last label
    assert(registrableDomain("sub.example.com") == "example.com")
    assert(registrableDomain("example.org") == "example.org")
    // wildcard *.ck: any label completes a public suffix
    assert(publicSuffix("deep.w.any.ck") == "any.ck")
    assert(registrableDomain("deep.w.any.ck") == "w.any.ck")
    // exception !www.ck beats the wildcard
    assert(publicSuffix("sub.www.ck") == "ck")
    assert(registrableDomain("sub.www.ck") == "www.ck")
    // PSL-private hosting suffix
    assert(registrableDomain("a.b.mysite.github.io") == "mysite.github.io")
    // a host that IS a public suffix has nothing registrable
    assert(registrableDomain("co.uk") == null)
    assert(registrableDomain("github.io") == null)
    assert(registrableDomain("com") == null)
    // dotless and empty hosts
    assert(registrableDomain("localhost") == null)
    assert(registrableDomain("") == null)
  }

  test("PublicSuffix.fromFile: real publicsuffix.dat format — comments, section markers, wildcard, exception, private filtering") {
    import graft.functions.{PublicSuffix, UrlCanon}
    val dat = Seq(
      "// This Source Code Form is subject to the terms of the MPL 2.0.",
      "",
      "// ===BEGIN ICANN DOMAINS===",
      "",
      "// uk : https://www.nominet.uk/",
      "uk",
      "co.uk  // trailing comment after whitespace is dropped",
      "// ck : https://example.invalid/",
      "ck",
      "*.ck",
      "!www.ck",
      "com",
      "// ===END ICANN DOMAINS===",
      "// ===BEGIN PRIVATE DOMAINS===",
      "",
      "// GitHub, Inc.",
      "github.io",
      "// ===END PRIVATE DOMAINS===")
    val f = java.io.File.createTempFile("psl", ".dat")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      dat.mkString("\n").getBytes("UTF-8"))
    val rules = PublicSuffix.fromFile(f.getPath)
    // 5 exact (uk, co.uk, ck, com, github.io) + 1 wildcard + 1 exception
    assert(rules.size == 7, s"expected 7 rules, got ${rules.size}")
    assert(rules.registrableDomain("a.b.example.co.uk") == "example.co.uk")
    assert(rules.registrableDomain("deep.w.any.ck") == "w.any.ck") // wildcard
    assert(rules.registrableDomain("sub.www.ck") == "www.ck")      // exception
    assert(rules.registrableDomain("a.mysite.github.io") == "mysite.github.io")
    // ICANN-only load: the private github.io rule is gone, implicit *
    // puts the cut at .io
    val icann = PublicSuffix.fromFile(f.getPath, includePrivate = false)
    assert(icann.registrableDomain("a.mysite.github.io") == "github.io")
    assert(icann.registrableDomain("a.b.example.co.uk") == "example.co.uk")
    // the file-driven matcher drives the COLUMN path (domainStats) — the
    // rules ride as a plan reference object, not plan text
    val docs = Seq(
      (1L, "http://a.site.github.io/x"),
      (2L, "http://b.site.github.io/y")).toDF("doc_id", "url")
    val byFile = UrlCanon.domainStats(docs, "doc_id", "url", rules)
      .select("domain").as[String].collect().toSet
    assert(byFile == Set("site.github.io"))
    val byIcann = UrlCanon.domainStats(docs, "doc_id", "url", icann)
      .select("domain").as[String].collect().toSet
    assert(byIcann == Set("github.io"))
  }

  test("domainStats aggregates subdomain shards into one site row; domain blocklist covers every subdomain") {
    import graft.functions.UrlCanon
    val docs = Seq(
      (1L, "http://a.spam.co.uk/x"),
      (2L, "http://b.spam.co.uk/y"),
      (3L, "https://c.spam.co.uk/z"),
      (4L, "http://ok.example.com/p"),
      (5L, "http://www.ok.example.com/p")).toDF("doc_id", "url")
    val stats = UrlCanon.domainStats(docs, "doc_id", "url")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Long]("n_hosts"))).toMap
    assert(stats("spam.co.uk") == ((3L, 3L)),
      s"subdomain shards must aggregate to one site row: $stats")
    assert(stats("example.com")._1 == 2L)
    val blocked = Seq(Tuple1("spam.co.uk")).toDF("domain")
    val kept = UrlCanon.dropBlockedDomains(docs, "url", blocked)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L, 5L),
      "one blocklist row must cover every subdomain of the site")
    // broadcast plan: the corpus side never shuffles
    val plan = UrlCanon.markBlockedDomains(docs, "url", blocked)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
