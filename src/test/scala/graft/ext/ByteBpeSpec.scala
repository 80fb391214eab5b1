package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.functions.{BpeKernel, ByteBpe, ByteBpeStats, Gpt2Split}

class ByteBpeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def pt(s: String): Seq[String] = Gpt2Split.pretokenize(s).toSeq

  test("gpt2 pretokenize: contractions, space fusion, lookahead ws") {
    assert(pt("it's  two  spaces ") ==
      Seq("it", "'s", " ", " two", " ", " spaces", " "))
    assert(pt("don't stop\n\ttabbed") ==
      Seq("don", "'t", " stop", "\n", "\t", "tabbed"))
    assert(pt("we're 99 dogs'x") ==
      Seq("we", "'re", " 99", " dogs", "'", "x"))
    // greedy symbol run absorbs a non-leading apostrophe (!!'s is NOT a
    // contraction); a pending space kills the contraction ( 'quote)
    assert(pt("x=42; a[i]*99 !!'s 'quote") ==
      Seq("x", "=", "42", ";", " a", "[", "i", "]*", "99", " !!'", "s",
        " '", "quote"))
    // CJK chars are letters; a trailing apostrophe stands alone
    assert(pt("水水水 water 99'") ==
      Seq("水水水", " water", " 99", "'"))
    // Cyrillic+Latin one letter run; emoji is a symbol, fused space
    assert(pt("дd 😀!") ==
      Seq("дd", " 😀!"))
    // only a SPACE fuses; a newline before a word stands alone
    assert(pt("a\nb") == Seq("a", "\n", "b"))
    assert(pt("") == Seq())
  }

  test("gpt2 pretokenize tiles the input (lossless)") {
    val cases = Seq("it's  two  spaces ", "don't stop\n\ttabbed",
      "x=42; a[i]*99 !!'s 'quote", "水水水 water 99'",
      "дd 😀!", "we're 99 dogs'x", "   ", "a  b c\r\n")
    cases.foreach { c => assert(pt(c).mkString == c, s"not a tiling: $c") }
  }

  test("byteSyms maps UTF-8 bytes to Latin-1 symbols 1:1") {
    assert(ByteBpe.byteSyms("ab") == "ab")
    assert(ByteBpe.byteSyms("水").map(_.toInt) == Seq(0xE6, 0xB0, 0xB4))
    assert(ByteBpe.byteSyms("д").map(_.toInt) == Seq(0xD0, 0xB4))
    assert(ByteBpe.byteSyms("😀").map(_.toInt) ==
      Seq(0xF0, 0x9F, 0x98, 0x80))
  }

  test("byte-level merge loop: space-fused merges and byte fallback") {
    val rules = BpeKernel.compile(TextOps.byteBpeFixtureMerges)
    def enc(pretok: String): Int =
      BpeKernel.encodeWord(ByteBpe.byteSyms(pretok), rules).length
    // " the" merges to [' ', 'the'] under rank order (t+h, th+e fire
    // before the space merges)
    assert(enc(" the") == 2)
    assert(enc(" two") == 3)   // ' t' + 'w' + 'o'
    assert(enc("'s") == 1)
    assert(enc(" 99") == 2)    // ' ' (no space+digit merge) + '99'
    // covered CJK/Cyrillic collapse to one token per char
    assert(enc("水水") == 2)
    assert(enc("д") == 1)
    // byte fallback: the emoji's 4 bytes only half-merge (F0+9F)
    assert(enc("😀") == 3)
    // an uncovered CJK char stays 3 single-byte tokens
    assert(enc("語") == 3)
  }

  test("byte-level and word-level token counts diverge on CJK/code") {
    import spark.implicits._
    val docs = Seq((1L, "語語語"), (2L, "café déjà"))
      .toDF("doc_id", "text")
    val word = TextOps.bpeReport(docs).select("doc_id", "n_bpe_tokens")
      .as[(Long, Long)].collect().toMap
    val byte = TextOps.byteBpeReport(docs)
      .select("doc_id", "n_byte_tokens").as[(Long, Long)].collect().toMap
    // word-level counts code points (3); byte-level counts UTF-8 bytes
    // of the uncovered char (9) — the CJK undercount the verdict cites
    assert(word(1L) == 3L && byte(1L) == 9L)
    // accented Latin: word-level counts code points, byte-level counts
    // the 2-byte UTF-8 encodings of é/à
    assert(byte(2L) > word(2L))
  }

  test("byte-level trainer learns a well-formed, kernel-usable table") {
    import spark.implicits._
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, s"the cat sat on the mat 水水 it's day $i"))
      .toDF("doc_id", "text")
    val learned = SequentialBpe.trainByteBpeMerges(docs, nMerges = 8)
    assert(learned.length == 8)
    // compiles => well-formed by BpeKernel's invariants
    val rules = BpeKernel.compile(learned.map(m => (m._1, m._2)))
    // the corpus is dominated by space-prefixed words: a leading-space
    // merge must be learned early (the GPT-2 vocabulary signature)
    assert(learned.exists(_._1.startsWith(" ")))
    // counts are occurrence-weighted and strictly positive
    assert(learned.forall(_._3 > 0))
    // applying the learned table through the report matches the kernel
    val got = TextOps.byteBpeReport(docs,
        merges = learned.map(m => (m._1, m._2)))
      .select("doc_id", "n_byte_tokens").as[(Long, Long)].collect().toMap
    val want = Gpt2Split.pretokenize("the cat sat on the mat 水水 it's day 0")
      .map(p => BpeKernel.encodeWord(ByteBpe.byteSyms(p), rules).length)
      .sum
    assert(got(0L) == want.toLong)
  }

  test("the design holds past fixture size: 200 merges train in-engine, " +
    "compile, apply, and round-trip") {
    import spark.implicits._
    // the real corpus (sf0.001 documents) with the x115-style messy
    // augmentation so CJK/emoji byte pairs compete with ASCII ones,
    // plus two rotating phonetic words per doc — the synthetic corpus
    // vocabulary alone exhausts its pair pool at ~170 merges, and 200
    // rounds must run against REAL pair competition, not dry out
    val phon = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
      "tango", "uniform", "victor", "whiskey", "xray", "yankee", "zulu")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), concat(col("text"), lit(" "),
        element_at(typedLit(Seq("it's  two  spaces ", "дd 😀! don't stop",
          "水水水 water 99'", "x=42; a[i]*99 !!'s 'quote")),
          (col("doc_id") % 4).cast("int") + 1),
        lit(" "), element_at(typedLit(phon),
          (col("doc_id") % 26).cast("int") + 1),
        lit(" "), element_at(typedLit(phon),
          ((col("doc_id") * 7 + 3) % 26).cast("int") + 1)).as("text"))
    val learned = SequentialBpe.trainByteBpeMerges(docs, nMerges = 200)
    assert(learned.length == 200,
      s"trainer went dry at ${learned.length} rules")
    // the one-pass trainer (ONE census job + driver delta maintenance,
    // vs 200 sequential corpus jobs) must emit the IDENTICAL table —
    // rule for rule, count for count — on the full 200-merge fixture
    assert(TextOps.trainByteBpeMergesFast(docs, nMerges = 200) == learned,
      "one-pass byte trainer diverged from the sequential trainer")
    val table = learned.map(m => (m._1, m._2))
    // compiles => well-formed by BpeKernel's invariants (every left/
    // right side is a base byte or an earlier merge's output)
    val rules = BpeKernel.compile(table)
    // counts are positive and non-increasing in training order up to
    // ties broken by pair order — at minimum, never increasing by >0
    // is NOT guaranteed (merges unlock new pairs), but positivity is
    assert(learned.forall(_._3 > 0))
    // GPT-2 vocabulary signature at scale: leading-space merges AND a
    // multi-byte (non-ASCII) merge both emerge in 200 rounds
    assert(learned.count(_._1.startsWith(" ")) >= 5)
    assert(learned.exists { case (a, b, _) =>
      (a + b).exists(c => c.toInt > 0x7f) })
    // round-trip: tokenization is a partition of the byte stream —
    // concatenated token symbols equal the pre-token's bytes, for
    // every pre-token of a sampled messy doc
    val sample = docs.filter(col("doc_id") < 8)
      .select("text").as[String].collect()
    sample.foreach { t =>
      Gpt2Split.pretokenize(t).foreach { p =>
        val syms = ByteBpe.byteSyms(p)
        val toks = BpeKernel.encodeWord(syms, rules)
        assert(toks.mkString == syms.mkString, s"round-trip broke on: $p")
      }
    }
    // more rules => no more tokens, on every doc (monotone compression)
    val at20 = TextOps.byteBpeReport(docs, merges = table.take(20))
      .select("doc_id", "n_byte_tokens").as[(Long, Long)].collect().toMap
    val at200 = TextOps.byteBpeReport(docs, merges = table)
      .select("doc_id", "n_byte_tokens").as[(Long, Long)].collect().toMap
    assert(at200.keySet == at20.keySet)
    assert(at20.forall { case (k, n20) => at200(k) <= n20 })
    assert(at200.values.sum < at20.values.sum)
  }

  test("production-size table: a 50k-rule GPT-2-format merges file " +
    "parses, compiles, and tokenizes IDENTICALLY to its trained prefix") {
    // the trained fixture merges padded to 50,000 rules with inert
    // chains (invalid-UTF-8 bytes — can never fire on real text), then
    // round-tripped through the published merges.txt format
    val trained = TextOps.byteBpeFixtureMerges
    val big = ByteBpe.padWithInertRules(trained, 50000)
    assert(big.size == 50000)
    val file = ByteBpe.renderGpt2Merges(big)
    val parsed = ByteBpe.parseGpt2Merges(file)
    assert(parsed == big, "merges.txt round trip broke")
    val rules = BpeKernel.compile(parsed)        // well-formed at 50k
    assert(rules.length == 50000)
    val small = BpeKernel.compile(trained)
    // the 50k table takes the min-rank hash path (>= threshold), the
    // trained prefix the sweep path — and every real pre-token must
    // segment identically because the pad is inert
    assert(rules.length >= BpeKernel.MinRankThreshold)
    assert(small.length < BpeKernel.MinRankThreshold)
    val texts = Seq("it's  two  spaces ", "дd 😀! don't stop",
      "水水水 water 99'", "x=42; a[i]*99 !!'s 'quote",
      "the quick brown fox jumps over 42 lazy dogs")
    texts.foreach { t =>
      Gpt2Split.pretokenize(t).foreach { p =>
        val syms = ByteBpe.byteSyms(p)
        val a = BpeKernel.encodeWord(syms, small).toSeq
        val b = BpeKernel.encodeWord(syms, rules).toSeq
        assert(a == b, s"50k segmentation diverged on '$p': $a vs $b")
      }
    }
    // the famous visible-alphabet fact: the space byte renders as Ġ,
    // and a real-world-style merges line decodes to (space, t)
    assert(ByteBpe.byteToVisible(0x20) == 'Ġ')
    assert(ByteBpe.parseGpt2Merges("#version: 0.2\nĠ t") ==
      Seq((" ", "t")))
  }

  test("decode(encode(text)) == text: the id<->token bijection on " +
    "CJK/emoji/code mixed text, kernel-level and expression-level") {
    import spark.implicits._
    import graft.functions.{ByteBpeDecode, ByteBpeIds}
    val table = TextOps.byteBpeFixtureMerges
    val vocab = ByteBpe.vocabOfMerges(table)
    val ranks = ByteBpe.ranksFromMerges(table)
    // vocab is the dense inverse of the rank map
    ranks.foreach { case (tok, r) => assert(vocab(r) == tok) }
    val rules = BpeKernel.compile(table)
    val cases = Seq("it's  two  spaces ", "дd 😀! don't stop",
      "水水水 water 99'", "x=42; a[i]*99 !!'s 'quote",
      "// code: for(i=0;i<n;i++){sum+=a[i];} 語", "", "   \t\n")
    // kernel level: pretokenize -> encode -> rank ids -> decode
    cases.foreach { text =>
      val ids = Gpt2Split.pretokenize(text).flatMap(p =>
        BpeKernel.encodeWord(ByteBpe.byteSyms(p), rules).map(ranks))
      assert(ByteBpe.decodeIds(ids, vocab) == text,
        s"kernel round trip broke on: '$text'")
    }
    // expression level: the registered x173 shape
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        ByteBpeDecode(ByteBpeIds(col("text"), table), table).as("rt"))
    assert(df.filter(col("rt") =!= col("text")).count() == 0)
    // foreign ids (corrupted stream / wrong vocab) decode to U+FFFD,
    // never throw — the torn-tail discipline at the id layer
    assert(ByteBpe.decodeIds(Array(65, 99999), vocab) == "A\uFFFD")
  }

  test("merges round trip preserves '#'-prefixed rules (markdown/code " +
    "corpora train them; only the #version header line is skipped)") {
    // '#' is its own visible-alphabet char, so a ('#','#') -> '##'
    // merge renders as the line "# #" — which must NOT be treated as
    // a comment. RoBERTa-style merges.txt files contain exactly this.
    val table = Seq("#" -> "#", "##" -> "#", " " -> "#", "t" -> "h")
    val file = ByteBpe.renderGpt2Merges(table)
    assert(file.startsWith("#version: 0.2\n"))
    assert(file.contains("\n# #"))
    val parsed = ByteBpe.parseGpt2Merges(file)
    assert(parsed == table, "lost a '#'-prefixed merge rule")
    // and the compiled kernel actually fires the rule chain
    val rules = BpeKernel.compile(parsed)
    val out = BpeKernel.encodeWord(ByteBpe.byteSyms("###"), rules).toSeq
    assert(out == Seq("###"), s"### should fuse via (#,#)->(##,#): $out")
  }

  test("merges parse skips '#version' on line 1 ONLY: a legit rule " +
    "whose left token renders as '#version…' survives below the header") {
    // '#version' is 8 printable-ASCII bytes, so a ('#version','!')
    // merge renders verbatim as the line '#version !' — reachable on
    // code corpora that trained the '#versio'+'n' chain first. The
    // HuggingFace contract skips the header line only.
    val table = Seq("#version" -> "!", "t" -> "h")
    val file = ByteBpe.renderGpt2Merges(table)
    assert(file == "#version: 0.2\n#version !\nt h")
    assert(ByteBpe.parseGpt2Merges(file) == table,
      "lost a '#version'-prefixed merge rule below the header")
    // headerless file whose first line is a REAL '#version…' rule:
    // that line is indistinguishable from a header, and the contract
    // (skip line 1 when it startsWith #version) drops it — documented
    assert(ByteBpe.parseGpt2Merges("#version !\nt h") == Seq("t" -> "h"))
    // the header must also be recognized behind a UTF-8 BOM or a
    // leading blank line (real exported files carry both) — without
    // this, '#version: 0.2' parsed as the bogus rule ("#version:",
    // "0.2") instead of being skipped
    assert(ByteBpe.parseGpt2Merges("\uFEFF#version: 0.2\nt h") ==
      Seq("t" -> "h"))
    assert(ByteBpe.parseGpt2Merges("\n#version: 0.2\nt h") ==
      Seq("t" -> "h"))
    // and a BOM'd HEADERLESS file still keeps its first rule
    assert(ByteBpe.parseGpt2Merges("\uFEFFt h") == Seq("t" -> "h"))
  }

  test("real-format merges.txt interop: a checked-in file in the " +
    "published layout parses in rank order and segments ' the' the " +
    "canonical way") {
    // src/test/resources/gpt2_merges_head.txt — the published GPT-2
    // file layout exactly ('#version: 0.2' header, one space-separated
    // visible-alphabet pair per line in rank order, space byte as Ġ),
    // carrying the table's widely-documented head rules
    val file = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/gpt2_merges_head.txt")),
      java.nio.charset.StandardCharsets.UTF_8)
    val parsed = ByteBpe.parseGpt2Merges(file)
    assert(parsed.size == 10)
    assert(parsed.head == (" ", "t"))            // rank 0: Ġ t
    assert(parsed(6) == (" t", "he"))            // rank 6: Ġt he
    val rules = BpeKernel.compile(parsed)
    // ' the' = [Ġ t h e] → (Ġ,t)@0 → (h,e)@2 → (Ġt,he)@6 → Ġthe:
    // the canonical GPT-2 segmentation, exercising rank precedence
    // across non-adjacent rules
    val out = BpeKernel.encodeWord(ByteBpe.byteSyms(" the"), rules).toSeq
    assert(out == Seq(" the"),
      s"' the' must fuse to one token via ranks 0/2/6: $out")
    // round-trip: render matches the file byte-for-byte (same header,
    // same visible alphabet, same rank order)
    assert(ByteBpe.renderGpt2Merges(parsed) == file.stripLineEnd)
  }

  test("tiktoken rank-file interop: ranks round-trip through base64, " +
    "and the rank-based encoder segments exactly like the merge loop") {
    import spark.implicits._
    // a REAL trained table (the in-engine path) → its implied rank
    // vocabulary → the published .tiktoken file format and back
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), concat(col("text"), lit(" "),
        element_at(typedLit(Seq("it's  two  spaces ", "дd 😀! don't stop",
          "水水水 water 99'", "x=42; a[i]*99 !!'s 'quote")),
          (col("doc_id") % 4).cast("int") + 1)).as("text"))
    val table = SequentialBpe.trainByteBpeMerges(docs, nMerges = 60)
      .map(m => (m._1, m._2))
    val ranks = ByteBpe.ranksFromMerges(table)
    val back = ByteBpe.parseTiktokenRanks(
      ByteBpe.renderTiktokenRanks(ranks))
    assert(back == ranks, "tiktoken file round trip broke")
    // corpus-wide: tiktoken's rank loop ≡ the merge loop, pre-token by
    // pre-token (the equivalence that lets a published .tiktoken vocab
    // drive the same kernel)
    val rules = BpeKernel.compile(table)
    val sample = docs.select("text").as[String].collect()
    var checked = 0
    sample.foreach { t =>
      Gpt2Split.pretokenize(t).foreach { p =>
        val syms = ByteBpe.byteSyms(p)
        val a = BpeKernel.encodeWord(syms, rules).toSeq
        val b = ByteBpe.encodeWordByRanks(syms, ranks).toSeq
        assert(a == b, s"rank loop diverged on '$p': $a vs $b")
        checked += 1
      }
    }
    assert(checked > 1000, s"fixture too small: $checked pretokens")
    // and a hand-read line: 'YWI= 256' is the bytes "ab" at rank 256
    assert(ByteBpe.parseTiktokenRanks("YWI= 256") == Map("ab" -> 256))
  }

  test("ByteBpeStats expression matches the kernel composition") {
    import spark.implicits._
    val texts = Seq("it's  two  spaces ", "水水水 water 99'",
      "x=42; a[i]*99 !!'s 'quote")
    val rules = BpeKernel.compile(TextOps.byteBpeFixtureMerges)
    val got = texts.zipWithIndex.map(t => (t._2.toLong, t._1))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        ByteBpeStats(col("text"), TextOps.byteBpeFixtureMerges).as("s"))
      .select("doc_id", "s.n_pretokens", "s.n_bytes", "s.n_byte_tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val pts = Gpt2Split.pretokenize(t)
      val syms = pts.map(ByteBpe.byteSyms)
      val want = (pts.length.toLong, syms.map(_.length.toLong).sum,
        syms.map(s => BpeKernel.encodeWord(s, rules).length.toLong).sum)
      assert(got(i.toLong) == want, s"mismatch on: $t")
    }
  }

  test("fertility census separates merge-covered text from an " +
    "untrained script (the Petrov-2023 parity signal)") {
    import spark.implicits._
    // 'the then there' merges under the ASCII fixture table; 山
    // (E5 B1 B1) has no fixture merge, so the run tokenizes at the
    // one-token-per-byte floor (3 per character)
    val docs = Seq((1L, "the then there another", "en"),
      (2L, "\u5c71\u5c71\u5c71\u5c71\u5c71 \u5c71\u5c71\u5c71\u5c71\u5c71", "zh"),
      (3L, "", "und")) // no pre-tokens -> dropped
      .toDF("doc_id", "text", "lang")
    val r = TextOps.fertilityByKey(docs, "lang")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(3), x.getLong(4), x.getDouble(5)))
      .toMap
    assert(r.keySet == Set("en", "zh"))
    // zh: every byte stays its own token -> the exact 1.0 floor
    assert(r("zh")._4 == 1.0)
    assert(r("zh")._2 == r("zh")._3) // n_bytes == n_byte_tokens
    // en: the merge table compresses -> strictly above the floor
    assert(r("en")._4 > 1.0)
    assert(r("en")._1 == 1L && r("zh")._1 == 1L)
  }

  test("vocab.json: render/parse duality, ids = vocabOfMerges positions, " +
    "JSON-escaped quote and backslash tokens survive") {
    // merges that FORM tokens containing '"' and '\' — printable ASCII
    // passes the visible encoding unchanged, so these must JSON-escape
    val merges = Seq(("\"", "a"), ("\\", "b"), ("\"a", "b"))
    val json = graft.functions.ByteBpe.renderGpt2Vocab(merges)
    val parsed = graft.functions.ByteBpe.parseGpt2Vocab(json)
    assert(parsed.size == 256 + 3)
    val vocab = graft.functions.ByteBpe.vocabOfMerges(merges)
    // every id maps back to its vocabOfMerges position
    parsed.foreach { case (visible, id) =>
      assert(graft.functions.ByteBpe.decodeVisible(visible) == vocab(id),
        s"id $id: $visible")
    }
    // the merge tokens land at 256/257/258 in rank order
    val byId = parsed.map(_.swap)
    assert(graft.functions.ByteBpe.decodeVisible(byId(256)) == "\"a")
    assert(graft.functions.ByteBpe.decodeVisible(byId(257)) == "\\b")
    assert(graft.functions.ByteBpe.decodeVisible(byId(258)) == "\"ab")
    // canonical: id order in the file
    assert(json.startsWith("{\"") && json.endsWith(":258}"))
  }
}
