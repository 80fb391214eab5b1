package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class HtmlSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("extract: tags, comments, script/style and entities") {
    val e = Html.extract(
      """<html><head><title> My &amp; Title </title>
        |<style>body { color: red }</style>
        |<script type="text/javascript">var x = "<p>not text</p>";</script>
        |</head><body>
        |<!-- a comment <a href="/x">not a link</a> -->
        |<h1>Head</h1><p>alpha &lt;beta&gt; gamma</p>
        |<a href="/1">one</a> <a class="z" href="/2">two</a>
        |</body></html>""".stripMargin)
    assert(e.title == "My & Title")
    assert(e.nLinks == 2)
    assert(e.text == "Head alpha <beta> gamma one two")
  }

  test("commented-out script dies with the comment; title never leaks to body") {
    val e = Html.extract(
      "<html><head><title>T</title></head><body>" +
        "<!-- <script>var y=1;</script> -->only</body></html>")
    assert(e.text == "only")
    assert(!e.text.contains("T"))
  }

  test("entity decode is single-pass: pre-escaped corpus text round-trips") {
    // '&amp;amp;' must decode to '&amp;' (once), never recurse to '&'
    assert(Html.decodeEntities("&amp;amp;") == "&amp;")
    assert(Html.decodeEntities("&#65;&#x42;c") == "ABc")
    assert(Html.decodeEntities("&bogus; &#xZZ; &#99999999999;") ==
      "&bogus; &#xZZ; &#99999999999;")
    // escape then extract-decode is the identity on arbitrary text
    val nasty = "a & b < c > d &lt; already-escaped &#65;"
    val e = Html.extract(s"<html><body><p>${Html.escape(nasty)}</p></body></html>")
    assert(e.text == nasty)
  }

  test("no <body>: falls back to whole document text") {
    val e = Html.extract("<p>free floating</p>")
    assert(e.text == "free floating")
    assert(e.title == "")
    assert(e.nLinks == 0)
  }

  test("no <body>: head and title still never leak into text") {
    val e = Html.extract(
      "<html><head><title>T-LEAK</title></head><p>hello</p></html>")
    assert(e.title == "T-LEAK")
    assert(e.text == "hello")
    // title element without a head wrapper
    val e2 = Html.extract("<title>ALSO-LEAK</title><p>body text</p>")
    assert(e2.title == "ALSO-LEAK")
    assert(e2.text == "body text")
  }

  test("'<!--' inside a script string must not swallow page text") {
    val e = Html.extract(
      """<script>var s="<!--";</script><p>KEEP</p><!-- note --><p>rest</p>""")
    assert(e.text == "KEEP rest")
  }

  test("surrogate numeric references pass through undecoded") {
    assert(Html.decodeEntities("&#xD800; &#55296; &#x10FFFF;") ==
      "&#xD800; &#55296; " + new String(Character.toChars(0x10FFFF)))
  }

  test("content-type match is case-insensitive") {
    import spark.implicits._
    val recs = Seq((1L, "response", "Text/HTML; charset=utf-8",
        "<body>cased</body>".getBytes("UTF-8")))
      .toDF("media_id", "record_type", "http_content_type", "html")
    val out = Html.extractFromRecords(recs).collect()
    assert(out.length == 1 && out.head.getString(4) == "cased")
  }

  test("whitespace collapse uses the RE2 class: vertical tab is NOT whitespace") {
    val e = Html.extract("<body>a \u000b b   \t\n c</body>")
    assert(e.text == "a \u000b b c")
  }

  test("decodeEntitiesCol: named core set, one pass, numeric passes through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def d(s: String): String =
      Seq(s).toDF("s").select(Html.decodeEntitiesCol(col("s")))
        .head().getString(0)
    assert(d("Tom &amp; Jerry &lt;3 &gt;!") == "Tom & Jerry <3 >!")
    assert(d("&quot;q&quot; &apos;a&apos;&nbsp;end") == "\"q\" 'a' end")
    // one pass: pre-escaped text round-trips, never recurses
    assert(d("&amp;amp;") == "&amp;")
    assert(d("&amp;lt;") == "&lt;")
    // unknown named and numeric references pass through verbatim
    // (numeric decode is the driver-side decodeEntities' job — Spark
    // chr is mod-256 where DuckDB chr is a code point)
    assert(d("&bogus; &#65; &#x42; & loose") == "&bogus; &#65; &#x42; & loose")
    assert(d("no entities") == "no entities")
    assert(d("") == "")
  }

  test("anchorsFromRecords: href verbatim, anchor entity-decoded") {
    import spark.implicits._
    val html = ("<html><body>" +
      "<a href=\"/a?x=1&amp=2\">Tom &amp; Jerry</a>" +
      "<a href=\"../up\" class=\"z\">plain</a>" +
      "<a href=\"https://b.com/x\">&lt;ext&gt;</a>" +
      "</body></html>").getBytes("UTF-8")
    val recs = Seq(
      (1L, "response", "text/html", "https://a.com/base/p", html),
      (2L, "request", "text/html", "https://a.com/q", html),
      (3L, "response", "image/png", "https://a.com/r", html))
      .toDF("media_id", "record_type", "http_content_type",
        "target_uri", "html")
    val out = Html.anchorsFromRecords(recs).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    // only the html response row survives; hrefs verbatim (the &amp=2
    // stays raw — URLs own their escaping), anchors decoded
    assert(out.toSeq == Seq(
      (1L, 0, "/a?x=1&amp=2", "Tom & Jerry"),
      (1L, 1, "../up", "plain"),
      (1L, 2, "https://b.com/x", "<ext>")))
  }

  test("anchorsFromRecords ∘ anchorTermCensus decodes exactly once") {
    import spark.implicits._
    // a page whose anchor text is PRE-ESCAPED entity talk: one decode
    // yields the entity names; a second (the bug the census must not
    // reintroduce) would collapse &amp;lt; all the way to '<'
    val html = ("<html><body>" +
      "<a href=\"/x\">use &amp;lt; here</a>" +
      "</body></html>").getBytes("UTF-8")
    val recs = Seq(
      (1L, "response", "text/html", "https://a.com/p", html))
      .toDF("media_id", "record_type", "http_content_type",
        "target_uri", "html")
    import org.apache.spark.sql.functions.{col, lit}
    val links = Html.anchorsFromRecords(recs)
      .select(col("media_id").as("doc_id"), lit("a.com").as("src_domain"),
        lit("b.com").as("dst_domain"), col("anchor"))
    val terms = Html.anchorTermCensus(links)
      .collect().map(_.getString(1)).toSet
    assert(terms == Set("use", "&lt;", "here"))
  }

  test("docs → warc.gz → records → extraction equals the closed form") {
    import spark.implicits._
    val docs = Seq(
      (3L, "srcA", "plain words here"),
      (4L, "srcB", "multi   space\tand\nnewline"),
      (9L, "srcC", "x & y < z")).toDF("doc_id", "source", "text")
    val out = Html.extractFromRecords(
      Html.parseDocArchives(Html.warcFromDocs(docs)))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getString(4))).toMap
    assert(out(3L) == (("Doc 3 - srcA", 4,
      "srcA/3 plain words here Tom & Jerry <3 >! ref-0 ref-1 ref-2 ref-3")))
    assert(out(4L) == (("Doc 4 - srcB", 5,
      "srcB/4 multi space and newline Tom & Jerry <3 >! ref-0 ref-1 ref-2 ref-3 ref-4")))
    assert(out(9L) == (("Doc 9 - srcC", 5,
      "srcC/9 x & y < z Tom & Jerry <3 >! ref-0 ref-1 ref-2 ref-3 ref-4")))
  }

  test("extraction stage is narrow: no exchange below the record scan") {
    import spark.implicits._
    val docs = Seq((1L, "s", "t")).toDF("doc_id", "source", "text")
    val plan = Html.extractFromRecords(
      Html.parseDocArchives(Html.warcFromDocs(docs)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
