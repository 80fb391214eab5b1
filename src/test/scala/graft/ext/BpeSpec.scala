package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.functions.{BpeKernel, BpeSubwords}

class BpeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val rules = BpeKernel.compile(TextOps.bpeFixtureMerges)

  private def enc(w: String): Seq[String] =
    BpeKernel.encodeWord(w, rules).toSeq

  test("hand-computed segmentations under the fixture table") {
    // "the": t h e → (t,h) → th e → (th,e) → the
    assert(enc("the") == Seq("the"))
    // "another": a n o t h e r → th → (th,e)→the → (a,n)→an; no (e,r):
    // the e is inside "the"
    assert(enc("another") == Seq("an", "o", "the", "r"))
    // "standing": s t a n d i n g → th:no → in → an → (s,t)→st →
    // (an,d)→and → (in,g)→ing
    assert(enc("standing") == Seq("st", "and", "ing"))
    // "question": q u e s t i o n → on → (e,s)→es → (q,u)→qu →
    // (i,on)→ion → (t,ion)→tion
    assert(enc("question") == Seq("qu", "es", "tion"))
    // "papers": p a p e r s → (e,r)→er → (er,s)→ers
    assert(enc("papers") == Seq("p", "a", "p", "ers"))
    // left-to-right within a rank: "ttt" under (t,h)? no pair; "aaa"
    // has no rule; "thth" → th th
    assert(enc("thth") == Seq("th", "th"))
    // single char and empty
    assert(enc("x") == Seq("x"))
    assert(enc("") == Seq())
    // unknown alphabet passes through as chars
    assert(enc("zzz") == Seq("z", "z", "z"))
  }

  test("rank-order application ≡ repeated-min-rank (the GPT-2 loop) " +
       "on the well-formed fixture table") {
    // deterministic pseudo-random words over the fixture alphabet
    val alpha = "theinandorsqugylcfp"
    var x = 0x12345678L
    def nextInt(bound: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 33) % bound).toInt + bound) % bound
    }
    (0 until 2000).foreach { _ =>
      val len = 1 + nextInt(14)
      val w = new String(Array.fill(len)(alpha(nextInt(alpha.length))))
      val a = BpeKernel.encodeWord(w, rules).toSeq
      val b = BpeKernel.encodeWordMinRank(w, rules).toSeq
      assert(a == b, s"formulations diverge on '$w': $a vs $b")
      assert(a.mkString == w, s"segmentation of '$w' lost characters")
    }
  }

  test("compile rejects malformed tables (fail closed)") {
    // component that is neither a char nor an earlier output
    intercept[IllegalArgumentException] {
      BpeKernel.compile(Seq("th" -> "e"))
    }
    // duplicate output symbol
    intercept[IllegalArgumentException] {
      BpeKernel.compile(Seq("t" -> "h", "t" -> "h"))
    }
    // empty component
    intercept[IllegalArgumentException] {
      BpeKernel.compile(Seq("" -> "h"))
    }
    // well-formed multi-level table compiles
    assert(BpeKernel.compile(Seq("t" -> "h", "th" -> "e")).length == 2)
  }

  test("expression: whole-text subwords, counts, nulls, report") {
    import spark.implicits._
    val df = Seq(
      (1L, "The question THE standing"),
      (2L, "zzz"),
      (3L, "   "),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      BpeSubwords(col("text"), TextOps.bpeFixtureMerges).as("subs")).collect()
    assert(out.find(_.getLong(0) == 1L).get.getSeq[String](1) ==
      Seq("the", "qu", "es", "tion", "the", "st", "and", "ing"))
    assert(out.find(_.getLong(0) == 2L).get.getSeq[String](1) ==
      Seq("z", "z", "z"))
    assert(out.find(_.getLong(0) == 3L).get.getSeq[String](1).isEmpty)
    assert(out.find(_.getLong(0) == 4L).get.isNullAt(1))

    val rep = TextOps.bpeReport(df).collect()
    // empty and null docs drop; fertility is exact division
    assert(rep.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val r1 = rep.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == 4L && r1.getLong(2) == 8L &&
      r1.getDouble(3) == 2.0)
  }

  test("supplementary characters split by CODE POINT, never into " +
       "surrogate halves — matching Spark substring and DuckDB substr") {
    val rocket = new String(Character.toChars(0x1F680)) // U+1F680, non-BMP
    assert(graft.functions.BpeKernel.codePoints(s"a${rocket}b").toSeq ==
      Seq("a", rocket, "b"))
    // no rule touches it → passes through whole, count = 3 not 4
    assert(enc(s"a${rocket}b") == Seq("a", rocket, "b"))
    // a merge table may use a supplementary char as a component
    val r2 = graft.functions.BpeKernel.compile(Seq(rocket -> "x"))
    assert(graft.functions.BpeKernel.encodeWord(s"$rocket" + "x", r2).toSeq ==
      Seq(rocket + "x"))
  }

  test("two merge tables in one session never share cache entries") {
    import spark.implicits._
    val df = Seq((1L, "standing standing")).toDF("doc_id", "text")
    def seg(m: Seq[(String, String)]): Seq[String] =
      df.select(BpeSubwords(org.apache.spark.sql.functions.col("text"), m))
        .head.getSeq[String](0)
    val fixture = seg(TextOps.bpeFixtureMerges)
    assert(fixture == Seq("st", "and", "ing", "st", "and", "ing"))
    // a different table over the same words must NOT reuse the
    // fixture's cached segmentations (the x98-vs-x106 poisoning bug)
    assert(seg(Seq("s" -> "t")) ==
      Seq("st", "a", "n", "d", "i", "n", "g",
        "st", "a", "n", "d", "i", "n", "g"))
    assert(seg(TextOps.bpeFixtureMerges) == fixture)
  }

  test("trainBpeMerges: hand-checked learning sequence, early stop, " +
       "and the learned table feeds the kernel") {
    import spark.implicits._
    // words: aa ×2, ab ×1 → round 1 merges (a,a) at count 2;
    // round 2 merges (a,b) at count 1; round 3 finds nothing and stops
    val docs = Seq((1L, "aa ab"), (2L, "aa")).toDF("doc_id", "text")
    val learned = SequentialBpe.trainBpeMerges(docs, nMerges = 5)
    assert(learned == Seq(("a", "a", 2L), ("a", "b", 1L)))
    // the learned table is well-formed: the kernel compiles and applies
    val rules2 = graft.functions.BpeKernel.compile(learned.map(m => (m._1, m._2)))
    assert(graft.functions.BpeKernel.encodeWord("aab", rules2).toSeq ==
      Seq("aa", "b"))
    // tie-break is (cnt DESC, pair ASC): "ba ca" both count 1 → (b,a)
    val tie = Seq((1L, "ba ca")).toDF("doc_id", "text")
    assert(SequentialBpe.trainBpeMerges(tie, nMerges = 1) == Seq(("b", "a", 1L)))
    // multi-round evolution: merged symbols join later pairs
    val deep = Seq((1L, "abc abc abc ab")).toDF("doc_id", "text")
    val l2 = SequentialBpe.trainBpeMerges(deep, nMerges = 2)
    // (a,b) ×4 first, then (ab,c) ×3
    assert(l2 == Seq(("a", "b", 4L), ("ab", "c", 3L)))
  }

  test("one-pass trainer property: identical to an INDEPENDENT naive " +
       "recount-per-round reference on 40 random weighted corpora") {
    // the reference re-derives everything per round from scratch — no
    // delta maintenance, no TreeSet, no inverted list — so a bookkeeping
    // bug in any of those three structures diverges here
    def cp(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
    def sweep(s: Vector[String], p1: String, p2: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == p1 && s(i + 1) == p2) {
          out += p1 + p2; i += 2
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    def naive(census: Seq[(Long, Vector[String])], n: Int)
        : Seq[(String, String, Long)] = {
      var st = census
      val out = Seq.newBuilder[(String, String, Long)]
      var r = 0
      var dry = false
      while (r < n && !dry) {
        val counts = scala.collection.mutable
          .HashMap.empty[(String, String), Long]
        st.foreach { case (m, s) =>
          var i = 0
          while (i + 1 < s.length) {
            counts.updateWith((s(i), s(i + 1)))(o =>
              Some(o.getOrElse(0L) + m))
            i += 1
          }
        }
        if (counts.isEmpty) dry = true
        else {
          val ((p1, p2), c) = counts.minBy { case ((a, b), c) =>
            (-c, a, b) }(Ordering.Tuple3(Ordering.Long,
              Ordering.comparatorToOrdering(
                new java.util.Comparator[String] {
                  def compare(x: String, y: String) = cp(x, y) }),
              Ordering.comparatorToOrdering(
                new java.util.Comparator[String] {
                  def compare(x: String, y: String) = cp(x, y) })))
          out += ((p1, p2, c))
          st = st.map { case (m, s) => (m, sweep(s, p1, p2)) }
          r += 1
        }
      }
      out.result()
    }
    val rng = new scala.util.Random(1515L)
    val alphabet = Vector("a", "b", "c", "д", "水")
    (1 to 40).foreach { trial =>
      val census = (1 to (2 + rng.nextInt(10))).map { _ =>
        val len = rng.nextInt(7)
        (1L + rng.nextInt(5),
          Vector.fill(len)(alphabet(rng.nextInt(alphabet.size))))
      }
      val want = naive(census, 15)
      val got = TextOps.trainMergesLocal(
        census.map { case (m, s) => (m, s.toArray) }, 15)
      assert(got == want, s"trial $trial diverged:\n got=$got\nwant=$want")
    }
  }

  test("one-pass trainer (pair-delta maintenance) is BIT-IDENTICAL to " +
       "the per-merge-job trainer: counts, ties, early stop, real corpus") {
    import spark.implicits._
    // the hand-checked cases above, replayed through the fast path
    val docs = Seq((1L, "aa ab"), (2L, "aa")).toDF("doc_id", "text")
    assert(TextOps.trainBpeMergesFast(docs, nMerges = 5) ==
      Seq(("a", "a", 2L), ("a", "b", 1L)))           // incl. early stop
    val tie = Seq((1L, "ba ca")).toDF("doc_id", "text")
    assert(TextOps.trainBpeMergesFast(tie, nMerges = 1) ==
      Seq(("b", "a", 1L)))
    // real corpus, deep table: sequential vs one-pass, tuple-for-tuple
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val seq30 = SequentialBpe.trainBpeMerges(corpus, nMerges = 30)
    val fast30 = TextOps.trainBpeMergesFast(corpus, nMerges = 30)
    assert(fast30 == seq30,
      "one-pass trainer diverged from the sequential trainer")
    // minCount is the documented Zipf-tail approximation knob: at 1 it
    // is exact; pruning can only remove count mass, never add it
    val pruned = TextOps.trainBpeMergesFast(corpus, nMerges = 10,
      minCount = 3L)
    assert(pruned.nonEmpty && pruned.forall(_._3 > 0))
  }

  test("packSequences re-denominated: BPE budget vs whitespace budget") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "the question"),      // 2 words, 4 bpe tokens
      (2L, "s", "standing papers"),   // 2 words, 7 bpe tokens
      (3L, "s", "zzz")                // 1 word, 3 bpe tokens
    ).toDF("doc_id", "source", "text")
    val bpe = Curation.packSequences(docs, "source", 8L,
        tokenCount = c => TextOps.bpeTokenCount(c))
      .orderBy("doc_id").collect()
    assert(bpe.map(_.getAs[Long]("n_tokens")).toSeq == Seq(4L, 7L, 3L))
    // cum-before: 0, 4, 11 → packs 0, 0, 1 at budget 8
    assert(bpe.map(_.getAs[Long]("pack_id")).toSeq == Seq(0L, 0L, 1L))
    // whitespace denomination would have packed all three together
    val ws = Curation.packSequences(docs, "source", 8L)
      .orderBy("doc_id").collect()
    assert(ws.map(_.getAs[Long]("pack_id")).toSeq == Seq(0L, 0L, 0L))
  }
}
