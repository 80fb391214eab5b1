package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SharedSpark

class UrlSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def norm(u: String): String = {
    import spark.implicits._
    Seq(u).toDF("u").select(UrlOps.normalizeUrl(col("u"))).head().getString(0)
  }

  private def dom(h: String): String = {
    import spark.implicits._
    Seq(h).toDF("h").select(UrlOps.registeredDomain(col("h")))
      .head().getString(0)
  }

  test("normalizeUrl: case, default ports, slash, fragment, query") {
    assert(norm("HTTPS://CRAWL.Example:443/src0/7") ==
      "https://crawl.example/src0/7")
    assert(norm("http://Host.COM:80/A/?x=1#f") == "http://host.com/A?x=1")
    // :80 is only default for http; :443 only for https
    assert(norm("https://h.io:80/a") == "https://h.io:80/a")
    assert(norm("HTTP://h.io:443/a") == "http://h.io:443/a")
    assert(norm("https://h.io:8080/") == "https://h.io:8080")
    assert(norm("http://h.net") == "http://h.net")
    assert(norm("http://h.net/") == "http://h.net")
    // query and path case preserved; only ONE trailing slash drops
    assert(norm("http://h.net/A/B//") == "http://h.net/A/B/")
    assert(norm("http://h.net/p?B=2&a=1") == "http://h.net/p?B=2&a=1")
    // query before any path slash
    assert(norm("http://H.net?q=1#x") == "http://h.net?q=1")
    // non-URLs pass through untouched
    assert(norm("not a url") == "not a url")
    // userinfo and IPv6 authorities are declined, never mangled
    assert(norm("https://User@Host.COM/A") == "https://User@Host.COM/A")
    assert(norm("http://[::1]:8080/x") == "http://[::1]:8080/x")
    import spark.implicits._
    assert(Seq("http://[::1]/x").toDF("u")
      .select(UrlOps.pathOf(col("u"))).head.getString(0) == "")
  }

  test("normalizeUrl: RFC 3986 §6.2.2 percent-encoding normalization") {
    // unreserved octets decode; hex uppercases
    assert(norm("http://h.net/%7euser") == "http://h.net/~user")
    assert(norm("http://h.net/%41b%2fc") == "http://h.net/Ab%2Fc")
    // reserved octets stay encoded (decoding %2F would change structure)
    assert(norm("http://h.net/a%2Fb") == "http://h.net/a%2Fb")
    assert(norm("http://h.net/100%25") == "http://h.net/100%25")
    // digits, dash, dot, underscore, tilde all decode
    assert(norm("http://h.net/%30%2d%2E%5f%7E") == "http://h.net/0-._~")
    // malformed sequences pass through verbatim
    assert(norm("http://h.net/x%G1") == "http://h.net/x%G1")
    assert(norm("http://h.net/x%2") == "http://h.net/x%2")
    assert(norm("http://h.net/x%") == "http://h.net/x%")
    // query percent forms normalize too
    assert(norm("http://h.net/p?q=%7e%3a") == "http://h.net/p?q=~%3A")
    // non-URLs still pass through untouched, escapes and all
    assert(norm("no url %7e") == "no url %7e")
  }

  test("parseRobots: RFC 9309 first-colon split, case-insensitive " +
       "directives, tolerant whitespace, comments") {
    import spark.implicits._
    val robots = Seq(("d.com",
      "User-agent: *\r\n" +
        "disallow: /a:b\n" +          // path legally contains ':'
        "ALLOW:/a:b/ok\n" +           // no space after colon
        "Allow:   /t  \n" +           // extra + trailing whitespace
        "Disallow: /c # trailing comment\n" +
        "Disallow:\n" +               // empty value drops
        "Crawl-delay: 10\nSitemap: https://d.com/s.xml\n# note"))
      .toDF("domain", "robots_txt")
    val rules = UrlOps.parseRobots(robots)
      .select("prefix", "allow").as[(String, Boolean)].collect().toSet
    assert(rules == Set(
      ("/a:b", false), ("/a:b/ok", true), ("/t", true), ("/c", false)))
    // the colon path participates in the gate with correct precedence
    val urls = Seq(
      (1L, "d.com", "/a:b/ok/x"), // longest match is the Allow
      (2L, "d.com", "/a:b/no")    // only the Disallow matches
    ).toDF("doc_id", "domain", "path")
    val out = UrlOps.robotsGate(urls, UrlOps.parseRobots(robots))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getBoolean(4)))).toMap
    assert(out(1L) == (("/a:b/ok", true)))
    assert(out(2L) == (("/a:b", false)))
  }

  test("registeredDomain: PSL precedence, multi-label, fallback") {
    assert(dom("blog.example.co.uk") == "example.co.uk")
    assert(dom("a.b.example.co.uk") == "example.co.uk")
    assert(dom("www.news.example.com") == "example.com")
    assert(dom("example.io") == "example.io")
    assert(dom("crawl.example") == "crawl.example")
    // a host that IS a suffix
    assert(dom("co.uk") == "co.uk")
    // implicit-* fallback: last two labels / bare host
    assert(dom("weird.internal") == "weird.internal")
    assert(dom("a.weird.internal") == "weird.internal")
    assert(dom("localhost") == "localhost")
  }

  test("robots gate: longest prefix wins, Allow beats Disallow on " +
       "ties, no rule means allowed") {
    import spark.implicits._
    val urls = Seq(
      (1L, "d.com", "/a/b"), // /a (block) vs /a/b (allow): longer wins
      (2L, "d.com", "/a/c"), // only /a matches → blocked
      (3L, "d.com", "/z"),   // no match → allowed
      (4L, "d.com", "/t"),   // equal-length tie: Allow beats Disallow
      (5L, "e.com", "/a/b")  // domain without rules → allowed
    ).toDF("doc_id", "domain", "path")
    val robots = Seq(("d.com",
      "User-agent: *\nDisallow: /a\nAllow: /a/b\nAllow: /t\n" +
        "Disallow: /t\n# note\nSitemap: https://d.com/s.xml"))
      .toDF("domain", "robots_txt")
    val out = UrlOps.robotsGate(urls, UrlOps.parseRobots(robots))
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(3)), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((Some("/a/b"), true)))
    assert(out(2L) == ((Some("/a"), false)))
    assert(out(3L) == ((None, true)))
    assert(out(4L) == ((Some("/t"), true)))
    assert(out(5L) == ((None, true)))
  }

  test("robots gate: RFC 9309 §2.2.3 wildcards — '*' spans, '$' anchors, " +
       "precedence by pattern octets") {
    import spark.implicits._
    val urls = Seq(
      (1L, "d.com", "/files/report.pdf"),   // *.pdf$ hits (suffix at end)
      (2L, "d.com", "/files/report.pdfx"),  // $ rejects the longer tail
      (3L, "d.com", "/a/report.pdf/view"),  // mid-path .pdf not at end
      (4L, "d.com", "/cgi/run?x"),          // path carries the ?: gate on it
      (5L, "d.com", "/cgi/run"),            // no '?' → wildcard rule misses
      (6L, "d.com", "/x/sesssid=9"),        // '*sid=' matches mid-'sesssid'
      (7L, "d.com", ""),                    // bare '$' rule: root only
      (8L, "d.com", "/double/a/b/end"),     // '**' ≡ '*'
      (9L, "d.com", "/price/a$b"),          // mid-pattern '$' is literal
      (10L, "d.com", "/w/deep/x"),          // wildcard/literal octet tie
      (11L, "d.com", "/star")               // trailing-'*' rule ≡ prefix
    ).toDF("doc_id", "domain", "path")
    val robots = Seq(("d.com",
      "User-agent: *\n" +
        "Disallow: *.pdf$\n" +
        "Allow: /a\n" +
        "Disallow: /cgi*?\n" +
        "Disallow: *sid=\n" +
        "Disallow: $\n" +
        "Disallow: /double/**/end\n" +
        "Disallow: /price/*$b\n" +
        "Disallow: /w/*/x\n" +    // 6 octets with the wildcard vs...
        "Allow: /w/dee\n" +       // ...6 literal octets: tie → Allow wins
        "Disallow: /star*\n"))
      .toDF("domain", "robots_txt")
    val out = UrlOps.robotsGate(urls, UrlOps.parseRobots(robots))
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(3)), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((Some("*.pdf$"), false)))
    assert(out(2L) == ((None, true)))
    assert(out(3L) == ((Some("/a"), true))) // only the plain Allow matches
    assert(out(4L) == ((Some("/cgi*?"), false)))
    assert(out(5L) == ((None, true)))
    assert(out(6L) == ((Some("*sid="), false)))
    assert(out(7L) == ((Some("$"), false)))
    assert(out(8L) == ((Some("/double/**/end"), false)))
    assert(out(9L) == ((Some("/price/*$b"), false)))
    // '/w/*/x' (6 octets) and '/w/dee' (6 octets) both match /w/deep/x:
    // equal octets → Allow wins, the same tie rule as literal-vs-literal
    assert(out(10L) == ((Some("/w/dee"), true)))
    assert(out(11L) == ((Some("/star*"), false)))
  }

  test("robotsRuleMatches ≡ an independent regex reference over 4000 " +
       "randomized (pattern, path) cases") {
    import spark.implicits._
    // reference: quote literal segments, '*' → '.*', trailing '$' = full
    // match, otherwise prefix match (lookingAt) — a DIFFERENT engine for
    // the same §2.2.3 semantics, so agreement is evidence of the fold,
    // not of a shared implementation
    def ref(path: String, pattern: String): Boolean = {
      val anchored = pattern.endsWith("$")
      val pat = if (anchored) pattern.dropRight(1) else pattern
      val regex = pat.split("\\*", -1)
        .map(s => if (s.isEmpty) "" else java.util.regex.Pattern.quote(s))
        .mkString(".*")
      val p = java.util.regex.Pattern.compile(regex,
        java.util.regex.Pattern.DOTALL)
      if (anchored) p.matcher(path).matches()
      else p.matcher(path).lookingAt()
    }
    val rnd = new scala.util.Random(20260815L)
    val pathAb = "ab/?=12"
    val patAb = "ab/*$1"
    val cases = (0 until 4000).map { i =>
      val path = (0 until rnd.nextInt(13))
        .map(_ => pathAb(rnd.nextInt(pathAb.length))).mkString
      val pattern = (0 until rnd.nextInt(9))
        .map(_ => patAb(rnd.nextInt(patAb.length))).mkString
      (i.toLong, path, pattern)
    }.filter(_._3.nonEmpty) // parseRobots never emits an empty pattern
    val got = UrlOps.compileRules(
        cases.toDF("id", "path", "prefix"))
      .withColumn("m", UrlOps.robotsRuleMatches(col("path"),
        col("rx_anchored"), col("rx_segs")))
      .select("id", "m").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    var nMatch = 0
    cases.foreach { case (id, path, pattern) =>
      val want = ref(path, pattern)
      assert(got(id) == want,
        s"pattern '$pattern' vs path '$path': got ${got(id)}, want $want")
      if (want) nMatch += 1
    }
    // the case pool is non-degenerate: both outcomes occur in volume
    assert(nMatch > 100 && nMatch < cases.size - 200, s"nMatch=$nMatch")
  }

  test("robotsGateStateless matches robotsGate under wildcard rules") {
    import spark.implicits._
    val urls = (0L until 60L).map(i =>
      (i, if (i % 2 == 0) "d.com" else "e.org",
        s"/p${i % 7}/f${i % 5}" + (if (i % 3 == 0) ".pdf" else "") +
          (if (i % 4 == 0) "?sid=1" else "")))
      .toDF("doc_id", "domain", "path")
    val robots = Seq(
      ("d.com", "User-agent: *\nDisallow: *.pdf$\nAllow: /p1*.pdf$\n" +
        "Disallow: /p2*sid=\nDisallow: /p3\nAllow: /p3*f2"),
      ("e.org", "Disallow: /p4*\nallow: /p4/f*.pdf$\nDisallow: *?sid=1$"))
      .toDF("domain", "robots_txt")
    val rules = UrlOps.parseRobots(robots)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val a = UrlOps.robotsGateStateless(urls, rules).collect().map(key).toSet
    val b = UrlOps.robotsGate(urls, rules).collect().map(key).toSet
    assert(a == b)
    // and the wildcard rules actually fire in this fixture
    val hit = UrlOps.robotsGate(urls, rules).collect()
      .flatMap(r => Option(r.getString(3))).toSet
    assert(hit.exists(_.contains("*")))
  }

  test("robotsAllowedOnly: row-preserving gate, wildcard rules, " +
       "rule-less domains pass") {
    import spark.implicits._
    val listed = Seq(
      ("d.com", "https://d.com/extra/1", 7),   // *1$ → dropped
      ("d.com", "https://d.com/extra/10", 8),  // $ rejects the tail
      ("d.com", "https://d.com/keep/1", 9),    // not under /extra
      ("d.com", "https://d.com/extra/2", 4),   // different digit
      ("e.org", "https://e.org/extra/1", 5))   // no rules published
      .toDF("domain", "u", "payload")
    val rules = UrlOps.parseRobots(Seq(
      ("d.com", "User-agent: *\nDisallow: /extra/*1$"))
      .toDF("domain", "robots_txt"))
    val out = UrlOps.robotsAllowedOnly(listed, rules)
      .collect().map(r => (r.getString(1), r.getInt(2))).toSet
    // carried columns survive and ONLY the wildcard-hit row drops
    assert(out == Set(("https://d.com/extra/10", 8),
      ("https://d.com/keep/1", 9), ("https://d.com/extra/2", 4),
      ("https://e.org/extra/1", 5)))
  }

  test("parseRobotsGrouped: RFC 9309 group assembly and selection") {
    import spark.implicits._
    def rules(txt: String, agent: String): Set[(String, Boolean)] =
      UrlOps.parseRobotsGrouped(
        Seq(("d.com", txt)).toDF("domain", "robots_txt"), agent)
        .select("prefix", "allow").as[(String, Boolean)].collect().toSet
    val txt =
      "Disallow: /stray\n" +              // before any group: dropped
        "User-agent: GraftBot\nDisallow: /a\nAllow: /a/b\n\n" +
        "User-agent: *\n# comment\nUser-agent: OtherBot\n" + // merged UAs
        "Disallow: /c\n" +
        "User-agent: EvilBot\nDisallow: /\n" +
        "User-agent: graftbot\nDisallow: /z"  // 2nd exact group MERGES
    // exact agent match: both graftbot groups merge; star group ignored
    assert(rules(txt, "GraftBot") ==
      Set(("/a", false), ("/a/b", true), ("/z", false)))
    // unknown agent falls to the '*' group (reached via EITHER ua line)
    assert(rules(txt, "nobody") == Set(("/c", false)))
    assert(rules(txt, "OtherBot") == Set(("/c", false)))
    // an agent with its own group never sees '*' rules
    assert(rules(txt, "EvilBot") == Set(("/", false)))
    // no star group and no exact match: no rules at all
    assert(rules("User-agent: a\nDisallow: /x", "b").isEmpty)
    // a UA line AFTER rules starts a NEW group (its rules are separate)
    val split = "User-agent: a\nDisallow: /1\nUser-agent: b\nDisallow: /2"
    assert(rules(split, "a") == Set(("/1", false)))
    assert(rules(split, "b") == Set(("/2", false)))
  }

  test("resolveRef: the RFC 3986 §5.4 reference-resolution vectors") {
    import spark.implicits._
    val base = "http://a/b/c/d;p?q"
    def res(refs: Seq[String]): Map[String, String] =
      refs.map(r => r -> Seq((base, r)).toDF("b", "r")
        .select(UrlOps.resolveRef(col("b"), col("r"))).head().getString(0))
        .toMap
    val normal = Map(
      "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/", "/g" -> "http://a/g",
      "//g" -> "http://g", "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y", "#s" -> "http://a/b/c/d;p?q#s",
      "g#s" -> "http://a/b/c/g#s", "g?y#s" -> "http://a/b/c/g?y#s",
      ";x" -> "http://a/b/c/;x", "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y#s", "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/", "./" -> "http://a/b/c/",
      ".." -> "http://a/b/", "../" -> "http://a/b/",
      "../g" -> "http://a/b/g", "../.." -> "http://a/",
      "../../" -> "http://a/", "../../g" -> "http://a/g")
    val abnormal = Map(
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.", ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..", "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g", "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h", "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "http://x/y?z#w" -> "http://x/y?z#w")
    val got = res((normal ++ abnormal).keys.toSeq)
    for ((r, want) <- normal ++ abnormal)
      assert(got(r) == want, s"ref '$r': got '${got(r)}', want '$want'")
    // non-URL base fails open to the ref itself
    assert(Seq(("not a url", "g")).toDF("b", "r")
      .select(UrlOps.resolveRef(col("b"), col("r"))).head().getString(0)
      == "g")
    // pathless base merges relative refs onto '/'
    assert(Seq(("http://h?q=1", "g")).toDF("b", "r")
      .select(UrlOps.resolveRef(col("b"), col("r"))).head().getString(0)
      == "http://h/g")
  }

  test("resolveHost is hostOfResolved(resolveRef) on every adversarial pair") {
    import spark.implicits._
    val bases = Seq(null, "", "not a url", "http://a/b/c/d;p?q", "http://h",
      "http://h?q=1", "http://h#f", "HTTPS://User:pw@Host.COM:8443/p?x#f",
      "http://[::1]:8080/a/b", "https://a.com/r?next=https://b.com/x",
      "https://a.com/fetch/https://b.com/x", "://x/y", "ftp:///x", "//h/p",
      "a/b://c", "mailto:x@y.com", "http://h:/..")
    val refs = Seq(null, "", "g", "./g", ".", "..", "../..", "/g", "//g",
      "///x", "//u:p@H:1/p", "//[::1]/x", "?y", "#s", "?q#f", "g?y#s",
      "g/./h/../k", "https://X.com:80/p", "HTTP://Y.org",
      "http://h/x?next=https://b.com/x", "/fetch/https://b.com/x",
      "?next=https://b.com", "#https://b.com/x", "not a url", "mailto:a@b")
    val pairs = (for (b <- bases; r <- refs) yield (b, r)).toDF("b", "r")
    assert(pairs.count() == 425)
    val bad = mismatches(pairs, col("b"), col("r"))
    assert(bad.isEmpty, s"resolveHost differs on ${bad.take(5).mkString("; ")}")
  }

  test("resolveHost is hostOfResolved(resolveRef) on every fixture link") {
    val links = graft.SparkEntry.linkGraph(spark, "/root/testdata/sf0.001")
      .select("url", "href")
    assert(links.count() > 0)
    val bad = mismatches(links, col("url"), col("href"))
    assert(bad.isEmpty, s"resolveHost differs on ${bad.take(5).mkString("; ")}")
  }

  /** `(base, ref, resolveHost, hostOfResolved(resolveRef))` of every row
    * whose two hosts differ, nulls compared null-safely. */
  private def mismatches(df: DataFrame, base: Column, ref: Column): Seq[String] = {
    val fast = UrlOps.resolveHost(base, ref)
    val slow = UrlOps.hostOfResolved(UrlOps.resolveRef(base, ref))
    df.filter(!(fast <=> slow)).select(base, ref, fast, slow).collect()
      .map(_.toSeq.mkString("(", ", ", ")")).toSeq
  }

  test("parseRobotsMeta: crawl-delay and sitemap discovery") {
    import spark.implicits._
    val robots = Seq(
      // full URL value survives the first-colon split; fractional
      // delay; tolerant casing/whitespace; comment stripped
      ("a.com", "User-agent: *\ncrawl-delay:  2.5 # be nice\n" +
        "Sitemap: https://a.com/s.xml\nSitemap: https://a.com/a.xml"),
      // no sitemap, integer delay
      ("b.com", "Crawl-delay: 3\nDisallow: /x"),
      // neither directive: default delay, NULL sitemap
      ("c.com", "User-agent: *\nDisallow: /"),
      // a non-numeric delay drops to the default
      ("d.com", "Crawl-delay: fast"))
      .toDF("domain", "robots_txt")
    val got = UrlOps.parseRobotsMeta(robots).collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), Option(r.getString(2))))).toMap
    assert(got("a.com") == ((2.5, Some("https://a.com/a.xml"))))
    assert(got("b.com") == ((3.0, None)))
    assert(got("c.com") == ((1.0, None)))
    assert(got("d.com") == ((1.0, None)))
  }

  test("hostOfResolved anchors on the FIRST :// (embedded URLs)") {
    import spark.implicits._
    def h(u: String): String =
      Seq(u).toDF("u").select(UrlOps.hostOfResolved(col("u")))
        .head().getString(0)
    // redirect/tracking param embedding an absolute URL in the query
    assert(h("https://a.com/r?next=https://b.com/x") == "a.com")
    // path-embedded absolute URL (proxy/cache path shapes)
    assert(h("https://a.com/fetch/https://b.com/x") == "a.com")
    // fragment-embedded URL strips with the fragment
    assert(h("https://a.com/p#https://b.com/x") == "a.com")
    // plain forms keep working: port strips, case lowers, query-only
    assert(h("HTTPS://Host.COM:8443/p") == "host.com")
    assert(h("https://h.io?q=1") == "h.io")
    assert(h("https://h.io") == "h.io")
  }

  test("parseRobotsMeta is group-blind but conservative: max delay wins") {
    import spark.implicits._
    val robots = Seq(
      ("a.com", "User-agent: FastBot\nCrawl-delay: 1\n\n" +
        "User-agent: *\nCrawl-delay: 10"))
      .toDF("domain", "robots_txt")
    val r = UrlOps.parseRobotsMeta(robots).head()
    assert(r.getDouble(1) == 10.0) // never ruder than the applicable group
  }

  test("parseRobotsMetaGrouped scopes the delay to the obeyed group") {
    import spark.implicits._
    val robots = Seq(
      // FastBot's 1 s grant must not speed up a * crawler; graftbot's
      // exact group (merged across two declarations → max) beats both
      ("a.com", "User-agent: FastBot\nCrawl-delay: 1\n\n" +
        "User-agent: *\nCrawl-delay: 10\nSitemap: https://a.com/s.xml\n\n" +
        "User-agent: GraftBot\nCrawl-delay: 2.5\n\n" +
        "user-agent: graftbot\ncrawl-delay: 4"),
      // only another agent's group: no applicable delay → default 1.0,
      // but the file-wide Sitemap still surfaces
      ("b.com", "User-agent: OtherBot\nCrawl-delay: 9\n" +
        "Sitemap: https://b.com/s.xml"),
      // no groups at all → default delay, NULL sitemap
      ("c.com", "# nothing here"))
      .toDF("domain", "robots_txt")
    val got = UrlOps.parseRobotsMetaGrouped(robots, agent = "graftbot")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), Option(r.getString(2))))).toMap
    assert(got("a.com") == ((4.0, Some("https://a.com/s.xml"))))
    assert(got("b.com") == ((1.0, Some("https://b.com/s.xml"))))
    assert(got("c.com") == ((1.0, None)))
    // a * crawler gets the * group's 10, not FastBot's 1
    val star = UrlOps.parseRobotsMetaGrouped(robots, agent = "nobot")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(star("a.com") == 10.0)
  }

  test("crawlTraps: pagination/depth/session traps flag, static site " +
    "does not; keyed per host") {
    import spark.implicits._
    val urls = (
      // pagination trap: 20 paths, one digit-normalized skeleton
      (0 until 20).map(i => s"https://Cal.example.com/day/$i") ++
      // depth trap: 10 segments, tiny fan-out
      Seq("https://deep.example.com/a/b/c/d/e/f/g/h/i/leaf") ++
      // session trap: one path, 9 distinct queries
      (0 until 9).map(i => s"https://app.example.com/list?sid=$i") ++
      // clean: three static pages, repeated
      (0 until 12).map(i =>
        s"https://ok.example.org/${Seq("about", "contact", "pricing")(i % 3)}")
    ).toDF("url")
    val got = UrlOps.crawlTraps(urls).collect().map(r =>
      r.getAs[String]("host") -> ((r.getAs[Long]("n_urls"),
        r.getAs[Int]("max_depth"), r.getAs[Double]("path_fanout"),
        r.getAs[Double]("query_fanout"),
        r.getAs[Boolean]("is_trap")))).toMap
    assert(got.keySet == Set("cal.example.com", "deep.example.com",
      "app.example.com", "ok.example.org"))
    assert(got("cal.example.com") == ((20L, 2, 20.0, 1.0, true)))
    assert(got("deep.example.com") == ((1L, 10, 1.0, 1.0, true)))
    assert(got("app.example.com") == ((9L, 1, 1.0, 9.0, true)))
    assert(got("ok.example.org") == ((12L, 1, 1.0, 1.0, false)))
  }

  test("sitemap writer round-trips through the parsers; 50k-cap " +
    "sharding splits and the index lists every shard") {
    import spark.implicits._
    import java.sql.Date
    val urls = (
      // 7 URLs on a.com → 3 shards at cap 3; every third lacks lastmod
      (0 until 7).map(i => ("a.com", f"https://a.com/p$i%02d",
        if (i % 3 == 2) null
        else Date.valueOf(f"2026-02-${i + 1}%02d"))) ++
      Seq(("b.org", "https://b.org/only", Date.valueOf("2026-03-05")),
        // session-query URL: literal '&' (and a pre-escaped '&amp;')
        // MUST entity-escape in <loc> or the XML is not well-formed
        ("b.org", "https://b.org/l?sid=9&p=2&amp;x", null)))
      .toDF("domain", "u", "lastmod")
    val shards = UrlOps.renderUrlsets(urls, maxPerShard = 3)
    assert(shards.filter(col("domain") === "a.com").count() == 3)
    assert(shards.filter(col("domain") === "b.org").count() == 1)
    // index lists exactly the shard urls, in order
    val idx = UrlOps.renderSitemapIndex(shards)
    val listedShards = UrlOps.parseSitemapIndex(idx)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(listedShards == shards.select("domain", "shard_url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet)
    // urlset round trip: parse(render(x)) == x, nulls included
    val back = UrlOps.parseUrlset(shards.select("domain", "xml"))
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getDate(2)).map(_.toString))).toSet
    val want = urls.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getDate(2)).map(_.toString))).toSet
    assert(back == want)
    // every shard respects the cap
    val perShard = UrlOps.parseUrlset(
        shards.withColumn("domain", col("shard_url")))
      .groupBy("domain").count().collect().map(_.getLong(1))
    assert(perShard.forall(_ <= 3) && perShard.sum == 9)
    // well-formedness: every '&' in the rendered XML heads a known
    // entity — a raw session-query ampersand would violate the
    // sitemaps.org protocol (and any strict XML parser)
    val xmls = shards.select("xml").collect().map(_.getString(0))
    assert(xmls.exists(_.contains("sid=9&amp;p=2&amp;amp;x")))
    assert(xmls.forall(x => "&(?!(amp|lt|gt);)".r.findFirstIn(x).isEmpty))
  }

  test("robotsGateStateless equals the grouped robotsGate") {
    import spark.implicits._
    val urls = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "d.com" else "e.org", s"/p${i % 7}/x"))
      .toDF("doc_id", "domain", "path")
    val robots = Seq(
      ("d.com", "User-agent: *\nDisallow: /p1\nAllow: /p1/x\n" +
        "disallow: /p3\nAllow: /p3\nDisallow: /p5/x"),
      ("e.org", "Disallow: /p2\nallow:/p2/x\nDisallow: /p4"))
      .toDF("domain", "robots_txt")
    val rules = UrlOps.parseRobots(robots)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    assert(UrlOps.robotsGateStateless(urls, rules).collect().map(key).toSet ==
      UrlOps.robotsGate(urls, rules).collect().map(key).toSet)
  }

  test("sitemap index + urlset parse and recrawl schedule") {
    import spark.implicits._
    val idx = Seq(("d.com",
      "<?xml version=\"1.0\"?><sitemapindex>" +
        "<sitemap><loc>https://d.com/s0.xml</loc></sitemap>" +
        "<sitemap><loc>https://d.com/s1.xml</loc></sitemap>" +
        "</sitemapindex>")).toDF("domain", "xml")
    val shards = Seq(
      ("d.com", "https://d.com/s0.xml",
        "<urlset><url><loc>https://d.com/a</loc>" +
          "<lastmod>2026-02-01</lastmod></url>" +
          "<url><loc>https://d.com/b</loc></url></urlset>"),
      ("d.com", "https://d.com/s1.xml",
        "<urlset><url><loc>https://d.com/c</loc>" +
          "<lastmod>2026-01-05</lastmod></url></urlset>"))
      .toDF("domain", "shard_url", "xml")
    val locs = UrlOps.parseSitemapIndex(idx)
    assert(locs.as[(String, String)].collect().toSet ==
      Set(("d.com", "https://d.com/s0.xml"), ("d.com", "https://d.com/s1.xml")))
    val listed = UrlOps.parseUrlset(
      locs.join(shards, Seq("domain", "shard_url")).select("domain", "xml"))
    val got = listed.collect()
      .map(r => r.getString(1) -> Option(r.getDate(2)).map(_.toString)).toMap
    // per-entry lastmod pairing survives an entry WITHOUT a lastmod
    assert(got == Map(
      "https://d.com/a" -> Some("2026-02-01"),
      "https://d.com/b" -> None,
      "https://d.com/c" -> Some("2026-01-05")))
    val crawled = Seq(("d.com", "https://d.com/a", "2026-01-10"),
      ("d.com", "https://d.com/c", "2026-02-10"))
      .toDF("domain", "u", "c").withColumn("crawled_at", to_date(col("c")))
      .select("domain", "u", "crawled_at")
    val sched = UrlOps.recrawlSchedule(listed, crawled).collect()
      .map(r => r.getString(1) -> ((r.getString(3), r.getInt(4)))).toMap
    // b never crawled → new (rank 1); a modified after crawl → stale;
    // c crawled after its lastmod → not scheduled
    assert(sched == Map(
      "https://d.com/b" -> (("new", 1)),
      "https://d.com/a" -> (("stale", 2))))
  }

  test("pathOf: normalized match target (slash-stripped, no query)") {
    import spark.implicits._
    def p(u: String): String =
      Seq(u).toDF("u").select(UrlOps.pathOf(col("u"))).head.getString(0)
    assert(p("https://h.com/a/b/?q=1#f") == "/a/b")
    assert(p("https://h.com") == "")
    assert(p("HTTP://h.com/A") == "/A")
    assert(p("not a url") == "")
  }

  test("hostOf strips port and lowercases under the same parse") {
    import spark.implicits._
    val got = Seq("HTTPS://A.B.Example.COM:8443/x?y#z").toDF("u")
      .select(UrlOps.hostOf(col("u"))).head().getString(0)
    assert(got == "a.b.example.com")
  }
}
