package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

class CleanseSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def norm(s: String): String =
    Seq(s).toDF("t").select(Cleanse.normalizeText(col("t"))).head.getString(0)

  test("normalizeText composes NFC, strips controls/NBSP, collapses runs") {
    // decomposed e + combining acute (U+0301) → composed é
    assert(norm("café") == "café")
    // already-NFC text passes through untouched
    assert(norm("café") == "café")
    // tab, CR, LF, vertical tab, NBSP, DEL → spaces, runs collapsed, trimmed
    assert(norm(" a\t\tb\r\nc\u000bd e\u007ff  g ") == "a b c d e f g")
    assert(norm("") == "")
    assert(norm("   \t  ") == "")
  }

  test("NfcNormalize: interpreted eval agrees with the codegen'd plan") {
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = Seq("caf\u00e9", "cafe\u0301", "", "plain ascii",
      "A\u030a ring", "\ufb01 ligature stays under NFC")
    inputs.foreach { s =>
      val viaEval = graft.functions.NfcNormalize
        .nfc(UTF8String.fromString(s)).toString
      val viaPlan = Seq(s).toDF("t")
        .select(graft.functions.NfcNormalize(col("t"))).head.getString(0)
      assert(viaEval == viaPlan)
      assert(viaPlan == java.text.Normalizer
        .normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  test("normalizeText makes NFC-variant texts exact-dedup equal") {
    val df = Seq((1L, "café au lait"), (2L, "café au lait"))
      .toDF("doc_id", "text")
      .withColumn("text", Cleanse.normalizeText(col("text")))
    assert(Dedup.exact(df).count() == 1) // one content class after NFC
  }

  private def redact(s: String): String =
    Seq(s).toDF("t").select(Cleanse.redactPii(col("t"))).head.getString(0)

  test("redactPii scrubs emails, IPv4, and international phones") {
    assert(redact("mail bob.smith+x@sub.example.co.uk now") ==
      "mail <EMAIL> now")
    assert(redact("host 192.168.001.1 down") == "host <IP> down")
    assert(redact("call +1 (202) 555-0143 or +44 20/7946 0958.") ==
      "call <PHONE> or <PHONE>.")
    // bare digit runs are NOT phones (documented policy: too ambiguous)
    assert(redact("order 1234567 shipped in 2024") ==
      "order 1234567 shipped in 2024")
    // an email's digits must not be half-eaten by the phone pass
    assert(redact("a +331234567890b c user123456789@x.io") ==
      "a <PHONE>b c <EMAIL>")
  }

  test("removeBoilerplateLines drops corpus-frequent lines, keeps order") {
    val boiler = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"alpha content one\n$boiler\nalpha content two"),
      (2L, s"$boiler\nbeta body"),
      (3L, s"gamma text\n$boiler"),
      (4L, boiler), // document that is ONLY boilerplate
      (5L, "delta unique\nepsilon unique")
    ).toDF("doc_id", "text")
    val r = Cleanse.removeBoilerplateLines(docs, minDf = 3L)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == (("alpha content one\nalpha content two", 3L, 2L)))
    assert(r(2L) == (("beta body", 2L, 1L)))
    assert(r(3L) == (("gamma text", 2L, 1L)))
    assert(r(4L) == (("", 1L, 0L))) // row survives with empty text
    assert(r(5L) == (("delta unique\nepsilon unique", 2L, 2L)))
  }

  test("removeBoilerplateLines counts in-doc repeats once toward df") {
    val docs = Seq(
      (1L, "x\nx\nx\nbody one"), // 'x' three times in ONE doc: df contribution 1
      (2L, "body two")
    ).toDF("doc_id", "text")
    val r = Cleanse.removeBoilerplateLines(docs, minDf = 2L)
    // df('x') = 1 < 2 → nothing removed
    assert(r.agg(sum("n_kept")).head.getLong(0) == 5L)
  }

  test("piiReport censuses Cleanse's ONE pattern set and its redacted " +
    "column IS Cleanse.redactPii's output") {
    val docs = Seq(
      (1L, "write bob@example.com or +1 (202) 555-0143 from 10.0.0.1"),
      (2L, "no pii in this document at all"),
      (3L, "mails a@b.io c@d.org ip 8.8.8.8 order 1234567"),
      // bare NANP digits are NOT redacted (the documented Cleanse
      // policy the deleted TextOps duplicate contradicted)
      (4L, "call 202-555-0143 maybe")).toDF("doc_id", "text")
    val r = TextOps.piiReport(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    def counts(id: Long) = (r(id).getLong(1), r(id).getLong(2),
      r(id).getLong(3), r(id).getLong(5))
    assert(counts(1L) == ((1L, 1L, 1L, 3L)))
    assert(counts(2L) == ((0L, 0L, 0L, 0L)))
    assert(counts(3L) == ((2L, 1L, 0L, 3L)))
    assert(counts(4L) == ((0L, 0L, 0L, 0L)))
    assert(r(1L).getString(4) ==
      "write <EMAIL> or <PHONE> from <IP>")
    assert(r(4L).getString(4) == "call 202-555-0143 maybe")
    // the unification guarantee, asserted mechanically: the redacted
    // column equals Cleanse.redactPii applied to the same text
    val viaCleanse = docs.select(col("doc_id"),
      Cleanse.redactPii(col("text")).as("redacted"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    for ((id, row) <- r) assert(row.getString(4) == viaCleanse(id))
  }

  test("lineBoilerplate: census on the shared line kernel — df gate, " +
    "empty-line drop, pos-mixed FNV digest") {
    val boiler = "subscribe to our newsletter" // 27 chars, df = 3
    val docs = Seq(
      (1L, s"alpha one\n$boiler\n\nalpha two"), // empty line at pos 2
      (2L, s"$boiler\nbeta body"),
      (3L, s"gamma text\n$boiler")).toDF("doc_id", "text")
    val r = TextOps.lineBoilerplate(docs, minDf = 3L).collect()
      .map(x => (x.getLong(0),
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getLong(5)))).toMap
    def fnv(s: String) = graft.functions.HashExprs.fnv1a64(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // doc 1: "alpha one"@0 kept, boiler@1 dropped, ""@2 not censused,
    // "alpha two"@3 kept — pos numbering from the ORIGINAL split
    assert(r(1L) == ((3L, 2L, 18L, 27L,
      (fnv("alpha one") ^ 0L) ^ (fnv("alpha two") ^ 3L))))
    assert(r(2L) == ((2L, 1L, 9L, 27L, fnv("beta body") ^ 1L)))
    assert(r(3L) == ((2L, 1L, 10L, 27L, fnv("gamma text") ^ 0L)))
    // kernel-share guarantee: the census' keep/drop agrees with the
    // rewrite operator on the same corpus and threshold — modulo the
    // DOCUMENTED policy split on empty lines (the census drops doc 1's
    // empty line up front; the rewrite keeps it: df("") = 1 < minDf)
    val rewrite = Cleanse.removeBoilerplateLines(docs, minDf = 3L)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(rewrite(1L) == r(1L)._2 + 1) // + the kept empty line
    assert(rewrite(2L) == r(2L)._2)
    assert(rewrite(3L) == r(3L)._2)
  }
  test("FixMojibake: inverts Latin-1 and cp1252 mis-decodes, fails " +
    "closed on clean/invalid text, and is idempotent") {
    import graft.functions.FixMojibake
    def fix(s: String) = FixMojibake.repair(s)
    // the two signature damages
    assert(fix("caf\u00C3\u00A9") == ("caf\u00E9", true))
    assert(fix("m\u00C3\u00BCnchen") == ("m\u00FCnchen", true))
    assert(fix("it\u00E2\u20AC\u2122s") == ("it\u2019s", true))   // cp1252 specials
    // U+009D round-trips as a raw C1 control char (0x9D is undefined
    // in cp1252), so the right-quote mojibake repairs through the
    // Latin-1 identity map, not the specials table
    assert(fix("\u00E2\u20AC\u0153q\u00E2\u20AC\u009D") ==
      ("\u201Cq\u201D", true))
    // fail-closed: pure ASCII, REAL accented text, truncated UTF-8,
    // chars outside both maps
    assert(fix("plain ascii") == ("plain ascii", false))
    assert(fix("caf\u00E9 already fine") == ("caf\u00E9 already fine", false))
    assert(fix("bad\u00C3") == ("bad\u00C3", false))
    assert(fix("\u6C34 cjk") == ("\u6C34 cjk", false))
    // idempotent: a repaired string is a fixed point
    val (once, rep) = fix("caf\u00C3\u00A9 m\u00C3\u00BCnchen")
    assert(rep && fix(once) == (once, false))
    // the expression wraps the kernel and flags per row
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq((1L, "caf\u00C3\u00A9"), (2L, "ok")).toDF("doc_id", "text")
      .select(col("doc_id"), FixMojibake(col("text")).as("f"))
      .select(col("doc_id"), col("f.text"), col("f.repaired"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(rows(1L) == ("caf\u00E9", true) && rows(2L) == ("ok", false))
  }
  test("rare-token scrub: df-threshold UNK-ing preserves order and counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta RareOne gamma"),
      (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma rubyx"),
      (4L, "alpha beta gamma")).toDF("doc_id", "text")
    val r = graft.ext.Cleanse.rareTokenScrub(df, minDf = 3L).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_scrubbed"),
         x.getAs[String]("text"))).toMap
    // alpha/beta/gamma in 4 docs; rareone (case-folded) and rubyx in 1
    assert(r(1L) == ((4L, 1L, "alpha beta <unk> gamma")))
    assert(r(3L) == ((4L, 1L, "alpha beta gamma <unk>")))
    assert(r(2L) == ((3L, 0L, "alpha beta gamma")))
    assert(r(4L) == ((3L, 0L, "alpha beta gamma")))
  }

  test("ccReport: Luhn-valid cards redact, check-digit failures and " +
    "wrong-length runs survive untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "pay with 4111 1111 1111 1111 today"),       // valid Visa test
      (2L, "ref 4111 1111 1111 1112 is an order id"),    // Luhn fails
      (3L, "amex 378282246310005 and mc 5500-0055-5555-5559"), // 2 valid
      (4L, "short 1234 5678 901 run"),      // card-shaped, 12 digits: no
      (5L, "no digits at all here")).toDF("doc_id", "text")
    val r = graft.ext.Cleanse.ccReport(df).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((1L, 1L, "pay with <CC> today")))
    assert(r(2L)._2 == 0L &&
      r(2L)._3 == "ref 4111 1111 1111 1112 is an order id")
    assert(r(3L) == ((2L, 2L, "amex <CC> and mc <CC>")))
    assert(r(4L) == ((1L, 0L, "short 1234 5678 901 run")))
    assert(r(5L) == ((0L, 0L, "no digits at all here")))
  }

  test("ccReport redacts by match position: a valid card string " +
    "occurring INSIDE a longer invalid digit run stays untouched") {
    import spark.implicits._
    // the standalone 16-digit Visa test number is Luhn-valid; the
    // 20-digit id CONTAINS it as a substring but is itself one
    // (invalid) candidate match — a value-based global replace would
    // rewrite the id's interior, the positional rebuild must not
    val df = Seq(
      (1L, "card 4111111111111111 and id 94111111111111111999 end"))
      .toDF("doc_id", "text")
    val r = graft.ext.Cleanse.ccReport(df).collect().head
    assert(r.getLong(1) == 2L) // both runs are candidates
    assert(r.getLong(2) == 1L) // only the standalone card validates
    assert(r.getString(3) ==
      "card <CC> and id 94111111111111111999 end")
  }
}
