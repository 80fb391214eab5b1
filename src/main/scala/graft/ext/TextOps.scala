package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.LocalFs

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, document fingerprinting. All pure Column expressions
  * (whole-stage codegen) — per-document, embarrassingly parallel, no
  * shuffle.
  */
object TextOps {

  /** Tokenize on whitespace, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** The word rule: the non-empty [[tokens]] (a leading or repeated
    * whitespace run splits off empty strings, which are not words). */
  def words(text: Column): Column = filter(tokens(text), t => length(t) > 0)

  /** BPE-ish subword count: word-piece regex — runs of letters, runs of
    * digits, or single non-space symbols — a cheap proxy for tokenizer
    * budget accounting. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** The in-repo BPE merge table: 32 rank-ordered rules over common
    * English character pairs, WELL-FORMED by construction (every
    * component is a single char or an earlier rule's output — validated
    * by [[graft.functions.BpeKernel.compile]]). This is the vocabulary
    * FIXTURE standing in for a trained tokenizer's merges file: swap in
    * a real merges table (one pair per rank, exactly this shape) and
    * nothing else changes — the kernel, the budget operators, and the
    * oracle replay are all parameterized on the table. */
  val bpeFixtureMerges: Seq[(String, String)] = Seq(
    "t" -> "h",   // th
    "th" -> "e",  // the
    "i" -> "n",   // in
    "a" -> "n",   // an
    "o" -> "n",   // on
    "r" -> "e",   // re
    "e" -> "r",   // er
    "e" -> "d",   // ed
    "e" -> "s",   // es
    "o" -> "r",   // or
    "a" -> "t",   // at
    "s" -> "t",   // st
    "a" -> "r",   // ar
    "o" -> "u",   // ou
    "an" -> "d",  // and
    "in" -> "g",  // ing
    "t" -> "o",   // to
    "e" -> "n",   // en
    "o" -> "f",   // of
    "a" -> "l",   // al
    "i" -> "s",   // is
    "l" -> "e",   // le
    "c" -> "h",   // ch
    "s" -> "h",   // sh
    "q" -> "u",   // qu
    "i" -> "on",  // ion
    "t" -> "ion", // tion
    "er" -> "s",  // ers
    "l" -> "y",   // ly
    "d" -> "e",   // de
    "p" -> "r",   // pr
    "u" -> "s")   // us

  /** The document's exact BPE subword sequence under the fixture table
    * (or a supplied one) — one native expression, zero shuffle. */
  def bpeSubwords(text: Column,
                  merges: Seq[(String, String)] = bpeFixtureMerges): Column =
    graft.functions.BpeSubwords(text, merges)

  /** Exact BPE token count — the real denomination for packing /
    * mixing / chunking budgets (vs the whitespace proxy
    * [[tokenCount]]). */
  def bpeTokenCount(text: Column,
                    merges: Seq[(String, String)] = bpeFixtureMerges): Column =
    size(bpeSubwords(text, merges))

  /** Per-document tokenizer report: whitespace word count, exact BPE
    * token count, and fertility (BPE tokens per word — the
    * tokenizer-quality number reported for every real tokenizer;
    * one IEEE division, engine-portable). Empty docs (no words) are
    * dropped — no meaningful fertility, the x21 convention. */
  def bpeReport(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id",
                merges: Seq[(String, String)] = bpeFixtureMerges)
      : DataFrame = {
    val subs = bpeSubwords(col(textCol), merges)
    docs.select(col(idCol),
        size(words(col(textCol))).cast("long").as("n_words"),
        size(subs).cast("long").as("n_bpe_tokens"))
      .filter(col("n_words") > 0L)
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** The in-repo BYTE-level merge table: rank-ordered rules over UTF-8
    * byte sequences (Latin-1-wrapped, one char per byte), the GPT-2
    * vocabulary shape — note the leading-SPACE merges (" t", " th",
    * " the"): pre-tokens carry their leading space, so space fuses into
    * the word token exactly as in real byte-level vocabularies. The
    * CJK/Cyrillic rules cover 水 (E6 B0 B4) and д (D0 B4) end to end;
    * 😀 (F0 9F 98 80) is only HALF covered (F0+9F), leaving the byte
    * fallback visible: 3 tokens for a 4-byte character. Swap in a real
    * merges file (tiktoken's, GPT-2's) and nothing else changes. */
  val byteBpeFixtureMerges: Seq[(String, String)] = {
    import graft.functions.ByteBpe.rule
    // raw byte symbols (Latin-1-wrapped) for the multi-byte characters
    def b(xs: Int*): String = new String(xs.map(_.toChar).toArray)
    Seq(
      rule("t", "h"),      // th
      rule("th", "e"),     // the
      rule(" ", "t"),      // ␣t
      rule(" t", "h"),     // ␣th
      rule(" th", "e"),    // ␣the
      rule("i", "n"),      // in
      rule("a", "n"),      // an
      rule("o", "n"),      // on
      rule("e", "r"),      // er
      rule(" ", "a"),      // ␣a
      rule("r", "e"),      // re
      rule("'", "s"),      // 's — the contraction pre-token as one unit
      rule("'", "t"),      // 't
      rule(" ", "s"),      // ␣s
      rule("s", "t"),      // st
      rule("9", "9"),      // 99 — digit pair
      (b(0xE6), b(0xB0)),        // first two bytes of 水 (E6 B0 B4)
      (b(0xE6, 0xB0), b(0xB4)),  // full 水
      (b(0xD0), b(0xB4)),        // full д (D0 B4)
      (b(0xF0), b(0x9F)))        // half of emoji F0 9F 98 80 — fallback stays
  }

  /** Per-document byte-level tokenizer report under the GPT-2 pre-split
    * and a byte merge table: pre-token count, UTF-8 byte count, exact
    * byte-level BPE token count, and byte fertility (tokens per
    * pre-token). The real token denomination for packing / mixing /
    * chunking budgets on multilingual corpora, where the word-level
    * proxy ([[bpeReport]]) undercounts CJK/code by whole multiples.
    * Zero shuffle — one native expression per row. */
  def byteBpeReport(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id",
                    merges: Seq[(String, String)] = byteBpeFixtureMerges)
      : DataFrame =
    docs.select(col(idCol),
        graft.functions.ByteBpeStats(col(textCol), merges).as("s"))
      .select(col(idCol),
        col("s.n_pretokens").as("n_pretokens"),
        col("s.n_bytes").as("n_bytes"),
        col("s.n_byte_tokens").as("n_byte_tokens"))
      .filter(col("n_pretokens") > 0L)
      .withColumn("byte_fertility",
        col("n_byte_tokens").cast("double") /
          col("n_pretokens").cast("double"))

  /** Tokenizer-parity census (Petrov et al. 2023, "Language Model
    * Tokenizers Introduce Unfairness Between Languages"): the byte-BPE
    * budget rolled up per corpus slice — the report that shows which
    * languages/scripts pay more tokens per byte under a given merge
    * table (untrained scripts tokenize at one token PER BYTE — a CJK
    * character costs 3 — while merge-covered text compresses), i.e.
    * the fairness/pricing signal multilingual training budgets need.
    * Per key: doc count, summed pre-tokens/bytes/byte-tokens, and
    * `bytes_per_token` (higher = better compression; exactly 1.0 =
    * the no-merge floor). Docs with no pre-tokens drop (the
    * [[byteBpeReport]] convention — no meaningful ratio exists).
    *
    * Shape: the per-doc stats ride the one native zero-shuffle
    * [[graft.functions.ByteBpeStats]] expression; the rollup is one
    * partials-collapsing hash agg on the key (longs sum exactly; the
    * ratio is one IEEE division) — the x12 corpus-profile shape with
    * the tokenizer underneath. */
  def fertilityByKey(docs: DataFrame, keyCol: String,
                     merges: Seq[(String, String)] = byteBpeFixtureMerges,
                     textCol: String = "text"): DataFrame =
    docs.select(col(keyCol),
        graft.functions.ByteBpeStats(col(textCol), merges).as("s"))
      .select(col(keyCol),
        col("s.n_pretokens").as("np"),
        col("s.n_bytes").as("nb"),
        col("s.n_byte_tokens").as("nt"))
      .filter(col("np") > 0L)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("np").as("n_pretokens"),
        sum("nb").as("n_bytes"),
        sum("nt").as("n_byte_tokens"))
      .withColumn("bytes_per_token",
        col("n_bytes").cast("double") / col("n_byte_tokens").cast("double"))

  /** ONE-PASS BPE training — Sennrich's learning loop (sequentially:
    * one corpus job per merge) with the per-merge corpus jobs
    * removed: the corpus is scanned ONCE (the same
    * occurrence-weighted distinct-word census), and ALL `nMerges`
    * rounds run on the driver over that census with pair-count DELTA
    * maintenance (only words containing the winning pair are touched
    * per round, and only their changed pair counts update — nothing is
    * recounted). This is how Sennrich 2016's own learn_bpe runs, and
    * it removes the trainer's scale ceiling: the sequential form costs
    * one Spark job PER MERGE (50k jobs for a production vocabulary —
    * weeks of job-launch overhead alone at 100 TB); this form costs
    * ONE job at any merge count, then driver compute bounded by the
    * census size (Heaps-law sublinear in corpus size).
    *
    * EXACTNESS: identical tie-breaking ((cnt DESC, p1, p2) in UTF-8
    * binary = code-point order — the engine's string order) and the
    * identical left-to-right merge sweep, so the learned table is
    * BIT-IDENTICAL to the sequential trainer's at any merge count
    * (ByteBpeSpec pins it on the 200-merge fixture). `minCount`
    * (default 1 = exact) prunes census words below the threshold — the
    * standard Zipf-tail cut that bounds driver memory on a 100 TB
    * corpus (word types at minCount ≥ 2 shrink ~2×; the result may
    * then differ from the unpruned trainer's on pairs whose counts
    * ride hapax words, which is the documented approximation every
    * production trainer makes). */
  def trainBpeMergesFast(docs: DataFrame, nMerges: Int,
                         textCol: String = "text", minCount: Long = 1L)
      : Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"need nMerges >= 1: $nMerges")
    val census = docs
      .select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("m"))
      .filter(col("m") >= minCount)
      .collect()
      .map { r =>
        val w = r.getString(0)
        // code-point symbols — the local image of the engine census'
        // substring(w, i, 1) over sequence(1, length(w))
        val syms = w.codePoints().toArray
          .map(cp => new String(Character.toChars(cp)))
        (r.getLong(1), syms)
      }
    trainMergesLocal(census, nMerges)
  }

  /** BYTE-level sibling of [[trainBpeMergesFast]] — the one-pass form
    * of the sequential byte trainer: GPT-2 pre-token census in ONE job,
    * byte symbols, the same exact driver loop. Bit-identical to the
    * sequential trainer (ByteBpeSpec, 200-merge fixture). */
  def trainByteBpeMergesFast(docs: DataFrame, nMerges: Int,
                             textCol: String = "text", minCount: Long = 1L)
      : Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"need nMerges >= 1: $nMerges")
    val census = docs
      .select(explode(graft.functions.Gpt2Pretokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("m"))
      .filter(col("m") >= minCount)
      .collect()
      .map { r =>
        val syms = graft.functions.ByteBpe.byteSyms(r.getString(0))
          .toCharArray.map(String.valueOf)
        (r.getLong(1), syms)
      }
    trainMergesLocal(census, nMerges)
  }

  /** UTF-8-binary string comparison (code-point lexicographic) — the
    * order Spark's `orderBy` puts on StringType, which Java's UTF-16
    * `compareTo` breaks above the BMP (surrogates sort below U+E000). */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The engine's left-to-right single-rule merge sweep
    * (the sequential trainer's Column merge pass, locally): merge every non-overlapping
    * (p1, p2) adjacency, left preferential. */
  private def mergeSweep(syms: Array[String], p1: String, p2: String)
      : Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
        out += p1 + p2
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** The exact Sennrich loop over a collected (m, syms) census with
    * pair-count delta maintenance: a TreeSet mirror of the pair-count
    * map keeps the (cnt DESC, p1, p2) argmax O(log P) per round, a
    * pair → word-index inverted list bounds each round's work to the
    * words actually containing the winning pair, and per affected word
    * only the CHANGED pair counts update. Same argmax total order and
    * the same left-to-right sweep as the sequential trainer ⇒ the
    * merge tables are bit-identical. */
  private[ext] def trainMergesLocal(census: Seq[(Long, Array[String])],
                                    nMerges: Int)
      : Seq[(String, String, Long)] = {
    val ms = census.map(_._1).toArray
    val syms = census.map(_._2).toArray
    val pairCnt = scala.collection.mutable.HashMap
      .empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    val ordered = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String),
                    y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1) // cnt DESC
          if (c != 0) return c
          val a = cpCompare(x._2, y._2)
          if (a != 0) a else cpCompare(x._3, y._3)
        }
      })

    def pairBag(s: Array[String])
        : scala.collection.mutable.HashMap[(String, String), Long] = {
      val bag = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      var i = 0
      while (i + 1 < s.length) {
        val k = (s(i), s(i + 1))
        bag.update(k, bag.getOrElse(k, 0L) + 1L)
        i += 1
      }
      bag
    }

    def addDelta(p: (String, String), d: Long): Unit = {
      if (d == 0) return
      val old = pairCnt.getOrElse(p, 0L)
      val nv = old + d
      if (old > 0) ordered.remove((old, p._1, p._2))
      if (nv > 0) {
        pairCnt(p) = nv
        ordered.add((nv, p._1, p._2))
      } else pairCnt.remove(p)
    }

    // init: one pass over the census
    var wi = 0
    while (wi < syms.length) {
      val bag = pairBag(syms(wi))
      bag.foreach { case (p, c) =>
        addDelta(p, c * ms(wi))
        pairWords.getOrElseUpdate(p,
          scala.collection.mutable.BitSet.empty) += wi
      }
      wi += 1
    }

    val out = scala.collection.mutable
      .ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    while (r < nMerges && !ordered.isEmpty) {
      val (cnt, p1, p2) = ordered.first()
      out += ((p1, p2, cnt))
      val affected = pairWords.getOrElse((p1, p2),
        scala.collection.mutable.BitSet.empty).toArray
      affected.foreach { i =>
        val before = pairBag(syms(i))
        syms(i) = mergeSweep(syms(i), p1, p2)
        val after = pairBag(syms(i))
        before.foreach { case (p, c) =>
          val nc = after.getOrElse(p, 0L)
          addDelta(p, (nc - c) * ms(i))
          if (nc == 0L) {
            pairWords.get(p).foreach { s =>
              s -= i
              if (s.isEmpty) pairWords.remove(p)
            }
          }
        }
        after.foreach { case (p, c) =>
          if (!before.contains(p)) {
            addDelta(p, c * ms(i))
            pairWords.getOrElseUpdate(p,
              scala.collection.mutable.BitSet.empty) += i
          }
        }
      }
      r += 1
    }
    out.toSeq
  }

  /** Language-ID stopword tables (tiny, language-distinctive function
    * words). N-gram/stopword heuristic — no external models. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "para", "con", "del", "por"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Per-language stopword hit count over the token set. */
  def stopwordHits(text: Column, lang: String): Column =
    size(filter(tokens(text), t => t.isin(stopwords(lang): _*)))

  /** Language ID: argmax of stopword hit counts; 'und' (undetermined) when
    * no language scores a hit. */
  def langId(text: Column): Column = {
    val scores = stopwords.keys.toSeq.sorted.map(l =>
      struct(stopwordHits(text, l).as("hits"), lit(l).as("lang")))
    val best = greatest(scores: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Per-document Unicode-SCRIPT profile — the pre-language-ID signal
    * every multilingual crawl pipeline computes (stopword lang-ID like
    * [[langId]] only separates languages WITHIN a script; mixed-script
    * text needs the script census first): counts and fractions of
    * Latin / Han / Cyrillic characters plus the dominant script
    * ('und' when none present). Counts are `length(t) −
    * length(regexp_replace(t, \\p{script}, ''))` — Unicode script
    * properties are stable across engines for these major scripts, and
    * both Spark's `length` and DuckDB's count code points, so the
    * census replays exactly; fractions are one IEEE division each.
    * The dominant pick is the [[langId]] greatest-of-structs total
    * order (count, name). Pure per-row columns: zero shuffle. */
  def scriptProfile(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    def cnt(re: String): Column =
      (length(t) - length(regexp_replace(t, re, ""))).cast("long")
    val nL = cnt("\\p{IsLatin}")
    val nH = cnt("\\p{IsHan}")
    val nC = cnt("\\p{IsCyrillic}")
    docs.select(col(idCol), length(t).cast("long").as("n_total"),
        nL.as("n_latin"), nH.as("n_han"), nC.as("n_cyr"))
      .withColumn("latin_frac", col("n_latin").cast("double") /
        greatest(col("n_total"), lit(1L)).cast("double"))
      .withColumn("han_frac", col("n_han").cast("double") /
        greatest(col("n_total"), lit(1L)).cast("double"))
      .withColumn("cyr_frac", col("n_cyr").cast("double") /
        greatest(col("n_total"), lit(1L)).cast("double"))
      .withColumn("dominant",
        when(col("n_latin") + col("n_han") + col("n_cyr") === 0L, "und")
          .otherwise(greatest(
            struct(col("n_latin").as("n"), lit("latin").as("s")),
            struct(col("n_han").as("n"), lit("han").as("s")),
            struct(col("n_cyr").as("n"), lit("cyrillic").as("s")))
            .getField("s")))
  }

  /** Quality signals, reference heuristics for corpus filtering:
    * length, punctuation ratio, digit ratio, stopword ratio, mean word
    * length. */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val n = length(text).cast("double")
    val nPunct = (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
    val nDigit = (n - length(regexp_replace(text, "[0-9]", ""))).cast("double")
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val swHits = size(filter(toks, t => t.isin(stopwords("en"): _*))).cast("double")
    Seq(
      "n_chars" -> n,
      "n_tokens" -> nTok,
      "punct_ratio" -> nPunct / greatest(n, lit(1.0)),
      "digit_ratio" -> nDigit / greatest(n, lit(1.0)),
      "stopword_ratio" -> swHits / greatest(nTok, lit(1.0)),
      "mean_word_len" -> (n - nTok + 1) / greatest(nTok, lit(1.0)))
  }

  /** Composite quality score in [0,1]: long enough, low punct/digit noise,
    * has stopwords (i.e. looks like prose). */
  def qualityScore(text: Column): Column = {
    val sig = qualitySignals(text).toMap
    val lenScore = least(sig("n_tokens") / 20.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - sig("punct_ratio") * 5.0)
    val digitPenalty = greatest(lit(0.0), lit(1.0) - sig("digit_ratio") * 5.0)
    val swScore = least(sig("stopword_ratio") * 5.0, lit(1.0))
    (lenScore + punctPenalty + digitPenalty + swScore) / 4.0
  }

  /** Document fingerprint: order-sensitive rolling hash over tokens —
    * rotate-left-5 then XOR with the token's FNV-1a 64 hash. Equal for
    * exact duplicates, cheap to compare, and every step is a published
    * engine-independent spec (unlike xxhash64), so other systems — and the
    * DuckDB oracle — can recompute the same fingerprints. Runs as one
    * native codegen'd fold (graft.functions.RollingFnvFingerprint); the
    * previous aggregate() lambda evaluated interpreted per token. */
  def fingerprint(text: Column): Column =
    graft.functions.HashExprs.rolling_fnv_fingerprint(tokens(text))

  /** Standard corpus-profile report per grouping key; `n_distinct`
    * counts distinct texts (by md5) exactly. */
  def corpusProfile(docs: DataFrame, keyCol: String,
                    textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_docs"),
      graft.ops.Stable.avgD(length(t)).as("avg_chars"),
      graft.ops.Stable.avgD(tokenCount(t)).as("avg_tokens"),
      countDistinct(md5(t)).as("n_distinct"))
  }

  /** Per-document salient terms: the `topN` tokens of each document ranked
    * by tf/df — term frequency in the doc over document frequency in the
    * corpus (the exact-rational core of tf-idf; a log around 1/df is
    * monotone per-term but transcendental, and ln() differs across engines
    * in the last ulp while +−×÷ are IEEE-correctly-rounded everywhere, so
    * the plain ratio keeps ranking and output engine-portable). Ties break
    * on term ascending, making the pick total-order deterministic.
    *
    * Two shuffles at scale: one hash agg on (doc_id, term) for tf — which
    * also yields df as a count over its distinct rows — and one window on
    * doc_id for the rank. The df side is a per-term aggregate joined back
    * by term: bounded by vocabulary size, not corpus size. */
  def salientTerms(docs: DataFrame, topN: Int = 3,
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(words(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topN)
      .select("doc_id", "term", "tf", "df", "score")
  }

  /** Vocabulary-coverage / OOV audit — the tokenizer-prep step of a
    * training pipeline: fix a vocabulary (the `vocabSize` most frequent
    * corpus tokens, ties broken by token order so the cut is total-order
    * deterministic) and report, per document, how much of it falls
    * outside that vocabulary. High OOV rate flags encoding damage,
    * boilerplate languages, or domain mismatch before tokenizer training
    * wastes budget on them.
    *
    * Output: (doc_id, n_tokens, n_oov, oov_rate); empty-token docs are
    * dropped (no meaningful rate — the x21 convention).
    *
    * 100 TB posture: the census is ONE partial+final hash agg on the
    * token (repeats collapse map-side) and a TakeOrderedAndProject cut at
    * `vocabSize`; the vocabulary then BROADCASTS (bounded by vocabSize,
    * not the corpus) into a left join against the exploded token stream,
    * and the per-doc re-aggregation is the only corpus-sized shuffle. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 1000,
                    textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(words(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Corpus boilerplate n-gram report: the `topN` k-gram shingles by
    * DOCUMENT frequency — the census a pipeline runs to find templated
    * boilerplate ("click here to subscribe") before stripping it. Gram
    * strings come from the native StringShingles expression (one pass,
    * distinct per doc — so the count is docs-containing, not occurrences),
    * then one partial+final hash agg on the gram and a
    * TakeOrderedAndProject for the top-k: no sort of the full gram table,
    * no window. At 100 TB the agg key cardinality is the distinct-gram
    * count, and partial aggregation collapses repeats map-side. */
  def boilerplateNgrams(docs: DataFrame, k: Int = 3, topN: Int = 20,
                        textCol: String = "text"): DataFrame =
    docs.select(explode(
        graft.functions.StringShingles(col(textCol), k)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(topN)

  /** BM25 keyword search over the corpus: score every document against a
    * fixed bag of query terms and return the top `topN` — the retrieval
    * primitive behind quality-targeted corpus selection ("find docs about
    * X to upsample") and search-style eval-set mining.
    *
    * The scoring function is BM25 with the log replaced by its rational
    * idf core: `idf(t) = (N - df + 0.5) / (df + 0.5)` (the argument of
    * the standard `log`-idf). Per-document, per-term:
    * `idf * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl))`, summed over
    * terms in their given order. Dropping the monotone `log` changes the
    * relative weighting between terms (rare terms weigh more than
    * log-BM25 would), but every remaining operation — `+ − × ÷` on
    * IEEE doubles — is correctly rounded and engine-portable, so scores
    * (not just ranks) replay exactly in any engine: the DuckDB oracle
    * checks score equality with NO rounding tolerance. (ln() differs
    * across libm implementations in the last ulp; see [[salientTerms]]
    * for the same trade.)
    *
    * Plan shape: one hash-agg on (doc_id) builds tf for the |terms|
    * query terms via conditional counters (no explode-groupBy on the full
    * vocabulary — the agg width is |terms|, tiny); corpus stats
    * (N, avgdl, per-term df) reduce to ONE row and cross-join back as a
    * broadcast; the top-k is a TakeOrderedAndProject. At 100 TB: one
    * scan, one single-row broadcast, no vocabulary-sized state. */
  def bm25Search(docs: DataFrame, terms: Seq[String], topN: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75,
                 textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one query term")
    val toks = words(col(textCol))
    def tfOf(term: String): Column =
      size(filter(toks, t => t === term)).cast("double")
    val perDoc = docs.select(
      (col("doc_id") +: size(toks).cast("double").as("dl") +:
        terms.map(t => tfOf(t).as(s"tf_${t}"))): _*)
    // corpus stats: one row — N, total token count, and df per term
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      terms.map(t =>
        sum(when(col(s"tf_${t}") > 0, 1.0).otherwise(0.0)).as(s"df_${t}"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
    val termScores = terms.map { t =>
      val tf = col(s"tf_${t}")
      val idf = (col("n_docs") - col(s"df_${t}") + lit(0.5)) /
        (col(s"df_${t}") + lit(0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    }
    scored
      .withColumn("score", termScores.reduceLeft(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
      .select("doc_id", "dl", "score")
  }

  /** Build and persist the inverted index behind [[bm25SearchStored]]:
    * `postings(term, doc_id, tf)` and `doclens(doc_id, dl)` as parquet —
    * the retrieval twin of the x77 stored-PQ lifecycle (build once,
    * query many). At 100 TB the postings table is list-partitioned by
    * term prefix so a query's terms prune to their partitions; tf/dl are
    * whole numbers stored as the doubles the scorer consumes, so the
    * stored path replays [[bm25Search]] bit-for-bit. */
  def bm25BuildIndex(docs: DataFrame, dir: String,
                     textCol: String = "text"): Unit = {
    val toks = words(col(textCol))
    val base = docs.select(col("doc_id"), toks.as("ts"))
    LocalFs.write(base.select(col("doc_id"), explode(col("ts")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("double").as("tf")))
      .mode("overwrite").parquet(s"$dir/postings")
    LocalFs.write(
      base.select(col("doc_id"), size(col("ts")).cast("double").as("dl")))
      .mode("overwrite").parquet(s"$dir/doclens")
  }

  /** BM25 retrieval FROM STORAGE — answers the query from the persisted
    * postings alone: the query terms' postings load (partition-pruned at
    * scale), per-doc tf columns rebuild in term order, the one-row
    * corpus stats and per-term dfs collect to the driver and ride as
    * literals (the ADC discipline — no stats join in the plan), and the
    * scoring tree is [[bm25Search]]'s exactly, so stored ≡ inline
    * bit-for-bit. The corpus itself is never scanned at query time. */
  def bm25SearchStored(spark: org.apache.spark.sql.SparkSession,
                       dir: String, terms: Seq[String], topN: Int = 10,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25SearchStored needs at least one query term")
    val doclens = spark.read.parquet(s"$dir/doclens")
    val stats = doclens.agg(
      count(lit(1)).cast("double").as("n"), sum("dl").as("s")).head()
    val (nDocs, sumDl) = (stats.getDouble(0), stats.getDouble(1))
    val dfs = spark.read.parquet(s"$dir/postings")
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tfAggs = terms.map(t =>
      coalesce(max(when(col("term") === t, col("tf"))), lit(0.0))
        .as(s"tf_$t"))
    val perDoc = spark.read.parquet(s"$dir/postings")
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(tfAggs.head, tfAggs.tail: _*)
      .join(doclens, Seq("doc_id"))
    val avgdl = lit(sumDl) / lit(nDocs)
    val termScores = terms.map { t =>
      val tf = col(s"tf_$t")
      val df = lit(dfs.getOrElse(t, 0.0))
      val idf = (lit(nDocs) - df + lit(0.5)) / (df + lit(0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    }
    perDoc
      .withColumn("score", termScores.reduceLeft(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
      .select("doc_id", "dl", "score")
  }

  /** Bigram language-model quality score — the perplexity-style fluency
    * signal (CCNet buckets a crawl by LM perplexity; docs the corpus
    * model finds surprising are boilerplate, gibberish, or wrong-language
    * and get down-weighted). The model is the corpus itself: bigram
    * counts c2(w1,w2), history counts c1(w1) = Σ_w2 c2, vocabulary V,
    * add-one smoothing. Per the repo's rational-core convention (see
    * [[salientTerms]], [[bm25Search]]: ln() differs across engines in the
    * last ulp, +−×÷ are IEEE-correctly-rounded everywhere), the score
    * keeps the log's argument: the mean INVERSE smoothed conditional
    * probability over the document's bigrams,
    * `mean_i (c1(w1_i) + V) / (c2(w1_i, w2_i) + 1)` — low for fluent
    * text, up to c1+V for bigrams the corpus never saw. The per-doc mean
    * folds in (w1, w2)-sorted order so the double sum is sequential and
    * bit-exact across engines and partitionings (the DotFold discipline),
    * not an order-dependent aggregate.
    *
    * Shape at 100 TB: occurrences collapse map-side to (doc, w1, w2, m);
    * the model tables are aggregates bounded by distinct-bigram
    * cardinality joined back by content key; V is ONE row broadcast back.
    * No vocabulary-sized driver state, no cartesian beyond the single-row
    * broadcast. */
  def bigramLmScore(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val toks = words(col(textCol))
    val occ = ngramWindows(docs, 2, toks, Seq(col(idCol)))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val c2 = occ.groupBy("w1", "w2").agg(sum("m").as("c2"))
    val c1 = occ.groupBy("w1").agg(sum("m").as("c1"))
    val vocab = docs
      .select(explode(toks).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val valued = occ
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("val", col("m").cast("double") *
        ((col("c1") + col("v")).cast("double") /
         (col("c2") + lit(1L)).cast("double")))
    orderedMean(valued, idCol, Seq(col("w1"), col("w2")), sum("m"),
      "n_bigrams", "lm_score")
  }

  /** HyperLogLog vocabulary-cardinality estimate (Flajolet, Fusy,
    * Gandouet, Meunier 2007) — the sketch a 100 TB ingest uses to
    * price a vocabulary/census job BEFORE running it: distinct-token
    * count to ~1.04/√m relative error from m fixed registers, one
    * pass, no census. Spark's own `approx_count_distinct` is HLL++
    * with engine-internal hashing (unreplayable); [[HllAggregator]]
    * (x16) is the repo's typed-UDAF form of the same published
    * sketch. THIS is its RELATIONAL twin — registers as rows, every
    * step plain DataFrame algebra over the x82 hash kernel — which
    * buys two things the buffer form can't: the oracle inspects the
    * register TABLE itself, and the exact distinct count rides the
    * same bucket exchange (Σ per-bucket distinct suffixes), so the
    * one-row report prices its own error with zero extra passes:
    *
    *  - bucket = top p hash bits (unsigned shift), suffix z = the
    *    low 64−p bits;
    *  - rho(z) = leading-zero count of the suffix window + 1,
    *    computed as an INTEGER comparison fold (Σ [z ≥ 2^i] =
    *    floor(log2 z)+1 — no clz builtin, no floating log);
    *  - registers = max rho per bucket (duplicates are absorbed by
    *    max — the whole point); absent buckets are zero registers;
    *  - Z = Σ 2^−M over all m registers, carried ×2^64 as EXACT
    *    decimal integers (powers of two; a double sum would be
    *    merge-order-dependent);
    *  - E_raw = α_m·m²·2^64/Z_scaled (α_m = 0.7213/(1+1.079/m), the
    *    paper's constant for m ≥ 128), with the small-range linear-
    *    counting branch E = m·ln(m/V) when E_raw ≤ 2.5m and V > 0
    *    zero registers remain. 6-dp round on the estimate (the libm
    *    rule); the 64-bit hash needs no large-range correction.
    *
    * ONE bucket-keyed exchange (m keys, max/count partials collapse
    * map-side), one m-row final fold — scan-bound at any corpus
    * size. */
  def hllVocabEstimate(docs: DataFrame, p: Int = 10,
                       textCol: String = "text"): DataFrame = {
    require(p >= 7 && p <= 16, s"need 7 <= p <= 16 (alpha_m rule): $p")
    val m = 1 << p
    val zBits = 64 - p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val toks = docs.select(
        explode(graft.functions.ShingleHashesAll(col(textCol), 1)).as("sh"))
      .select(col("sh"),
        shiftrightunsigned(col("sh"), zBits).as("b"),
        col("sh").bitwiseAND(lit((1L << zBits) - 1L)).as("z"))
    val f = aggregate(sequence(lit(0), lit(zBits - 1)), lit(0),
      (acc, i) => acc +
        when(col("z") >= pow(lit(2.0), i).cast("long"), 1).otherwise(0))
    val regs = toks.withColumn("rho", lit(zBits + 1) - f)
      .groupBy("b")
      .agg(max("rho").as("mr"), countDistinct("sh").as("nd"))
    val two64 = new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(64))
    val one = regs.agg(
        count(lit(1)).as("n_hit"),
        sum(pow(lit(2.0), lit(64) - col("mr")).cast("decimal(38,0)"))
          .as("zs_hit"),
        sum("nd").as("exact_distinct"))
      .withColumn("n_zero", lit(m.toLong) - col("n_hit"))
      .withColumn("zsum",
        col("zs_hit") + col("n_zero").cast("decimal(38,0)") * lit(two64))
    val estRaw = (lit(alpha) * lit(m.toDouble * m.toDouble)) *
      (lit(math.pow(2.0, 64)) / col("zsum").cast("double"))
    val est = when(estRaw <= lit(2.5 * m) && col("n_zero") > 0L,
        round(lit(m.toDouble) *
          log(lit(m.toDouble) / col("n_zero").cast("double")), 6))
      .otherwise(round(estRaw, 6))
    one.select(lit(m.toLong).as("m"), col("n_zero"),
        est.as("estimate"), col("exact_distinct"))
      .withColumn("rel_err",
        round((col("estimate") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double"), 6))
  }

  /** Zipf rank–frequency fit — the corpus-law diagnostic (Zipf 1949;
    * Piantadosi 2014 review): natural language's term frequencies
    * follow `freq ∝ rank^s` with s ≈ −1, and a corpus whose fitted
    * slope strays far from −1 is usually machine-generated, templated,
    * or mis-tokenized — a one-row sanity gate on the whole text
    * pipeline. OLS on (ln rank, ln freq) over the top `topK` ranks
    * (the linear regime; the tail bends by design).
    *
    * DETERMINISM — the x204 scaled-integer discipline: ln is the one
    * libm call per coordinate and is immediately scaled-and-rounded to
    * an integer (`round(ln(v)·1e9)` as BIGINT), so Σx, Σy, Σxy, Σx²
    * are EXACT (products on a decimal ring) and the slope/intercept
    * are each ONE division of bit-reproducible operands. The naive
    * double OLS is the same cancellation trap the reward-z fix closed.
    *
    * Shape: ONE term-keyed census (bounded by vocabulary), a
    * TakeOrdered top-`topK` cut, then a rank window and the fit over a
    * `topK`-row frame — the global window is BOUNDED by the cut, never
    * by the corpus. */
  def zipfFit(docs: DataFrame, topK: Int = 200,
              textCol: String = "text"): DataFrame = {
    require(topK >= 3, s"need topK >= 3: $topK")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val census = docs
      .select(explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("term")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("freq"), asc("term"))
    def lnScaled(c: org.apache.spark.sql.Column) =
      round(log(c.cast("double")) * lit(1e9), 0).cast("long")
    val pts = census
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(lnScaled(col("rank")).as("xi"),
        lnScaled(col("freq")).as("yi"))
    pts.agg(
        count(lit(1)).as("n"),
        sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
        sum(col("xi").cast(dec) * col("yi").cast(dec)).as("sxy"),
        sum(col("xi").cast(dec) * col("xi").cast(dec)).as("sxx"))
      .select(col("n").as("n_ranks"),
        round((col("n").cast(dec) * col("sxy") -
            col("sx").cast(dec) * col("sy").cast(dec)).cast("double") /
          (col("n").cast(dec) * col("sxx") -
            col("sx").cast(dec) * col("sx").cast(dec)).cast("double"), 9)
          .as("slope"),
        round(((col("sy").cast("double") -
            ((col("n").cast(dec) * col("sxy") -
              col("sx").cast(dec) * col("sy").cast(dec)).cast("double") /
             (col("n").cast(dec) * col("sxx") -
              col("sx").cast(dec) * col("sx").cast(dec)).cast("double")) *
              col("sx").cast("double")) /
            col("n").cast("double")) / lit(1e9), 9).as("ln_intercept"))
  }

  /** Heaps-law vocabulary-growth fit — [[zipfFit]]'s companion corpus
    * law (Heaps 1978; Herdan): distinct vocabulary grows as
    * `V(N) ∝ N^beta` with beta ≈ 0.4–0.6 for natural text; a corpus
    * whose growth exponent collapses (template spam repeats the same
    * vocabulary) or approaches 1 (random keys never repeat) fails the
    * gate. Measured at five document-prefix checkpoints
    * (5 %, 10 %, 20 %, 40 %, 80 % of the id range) WITHOUT any
    * per-prefix scan: `V(k)` = terms whose FIRST document id is below
    * k (one term-keyed min), `N(k)` = tokens in docs below k (one
    * doc-keyed count) — both fall out of one census and five
    * conditional sums. The OLS on (ln N, ln V) is the x204/x208
    * scaled-integer route: exact moments, single divisions.
    *
    * Requires contiguous-from-zero doc ids (the fixture layout) for
    * the prefix semantics; checkpoints derive from the row count. */
  def heapsFit(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nDocs = docs.count()
    require(nDocs > 0, "heapsFit on an empty corpus")
    val fracs = Seq(0.05, 0.10, 0.20, 0.40, 0.80)
    val ks = fracs.map(f => math.ceil(f * nDocs.toDouble).toLong)
    val toks = docs.select(col(idCol),
      explode(words(col(textCol))).as("term"))
    val firsts = toks.groupBy("term").agg(min(col(idCol)).as("fid"))
    val vCols = ks.map(k =>
      sum(when(col("fid") < k, 1L).otherwise(0L)).as(s"v$k"))
    val vRow = firsts.agg(vCols.head, vCols.tail: _*).head()
    val nCols = ks.map(k =>
      sum(when(col(idCol) < k, 1L).otherwise(0L)).as(s"n$k"))
    val nRow = toks.agg(nCols.head, nCols.tail: _*).head()
    // the contiguous-from-zero doc_id precondition the prefix
    // semantics rest on — fail loud, not with a silently wrong fit
    val maxId = docs.agg(max(col(idCol))).head().getLong(0)
    require(maxId == nDocs - 1,
      s"heapsFit needs contiguous-from-zero $idCol: max=$maxId, n=$nDocs")
    def lnS(v: Long): Long = {
      val x = math.log(v.toDouble) * 1e9
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    }
    ks.indices.foreach { i =>
      require(nRow.getLong(i) > 0 && vRow.getLong(i) > 0,
        s"heapsFit checkpoint ${fracs(i)} is empty (N=${nRow.getLong(i)}, " +
          s"V=${vRow.getLong(i)}) — corpus too small for a log-log fit")
    }
    val pts = ks.indices.map(i =>
      (lnS(nRow.getLong(i)), lnS(vRow.getLong(i))))
    require(pts.map(_._1).distinct.length == pts.length,
      s"heapsFit needs distinct checkpoint sizes (degenerate OLS x): " +
        pts.map(_._1).mkString(","))
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val lnC = ((sy.toDouble - slope * sx.toDouble) / n.toDouble) / 1e9
    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    Seq((pts.length.toLong, vRow.getLong(ks.length - 1),
      nRow.getLong(ks.length - 1), r9(slope), r9(lnC)))
      .toDF("n_points", "v_last", "n_last", "beta", "ln_c")
  }

  /** The ORDER-N KN MODEL half of [[knScore]]'s chain, as distributed
    * ARPA level tables (CCNet ships its KenLM filter models this way;
    * KenLM's production default is order 5). `levels(k-1)` is the
    * \k-grams: section — columns `(gram array<string>, lp, lbow)` —
    * ready for [[graft.sources.Arpa.writeLevels]]'s streamed write:
    *
    *  - level n rows are the observed n-grams with the full
    *    interpolated probability (the [[knScore]] recursion, same
    *    parenthesization term for term, so the artifact round-trips
    *    against the inline scorer bit-for-bit under the 9-dp
    *    quantization);
    *  - levels n−1..2 rows are the continuation-type grams plus every
    *    CONTEXT gram the level above backs off through; every row
    *    carries a GENUINE probability — continuation grams the
    *    interpolated P_k, context-only grams (present only because a
    *    higher level backs off through them, e.g. document-tail
    *    windows) the null-safe backoff-interpolated value the ARPA
    *    walk itself would produce (`bow(ctx)·P_{k-1}(suffix)`, levels
    *    with no statistic passing straight through). Real toolchains
    *    (KenLM/SRILM) store genuine probabilities for such grams too:
    *    a −99 placeholder would be read as TERMINAL by any conforming
    *    scorer and poison held-out scores;
    *  - level 1 is the full vocabulary (every word in any n-gram
    *    position); words with no continuation statistic carry lp = −99
    *    (the SRILM zeroprob convention), grams that never head a
    *    higher-order gram omit the backoff (log 0).
    *
    * COUNT PRUNING (`prune`, 1-indexed by level like the SRILM
    * `gtNmin` cutoffs; empty = keep everything): a level-k entry is
    * emitted outright only when its count clears `prune(k-1)` — the
    * raw n-gram count at the top level, the continuation type count at
    * mid levels — plus the CLOSURE every valid ARPA needs: contexts of
    * kept level-(k+1) grams (they must exist to carry the backoff
    * weight) and suffixes of kept level-(k+1) grams (the walk must
    * land on a stored entry). Level 1 is never pruned (the SRILM
    * convention; `prune.head` must be ≤ 1). Probabilities of kept
    * entries are estimated from the UNPRUNED statistics (the
    * estimate-then-drop semantics of SRILM `ngram -prune` / KenLM
    * `--prune`); backoff weights are then RECOMPUTED so every
    * context's distribution renormalizes over what was actually kept:
    *
    *   `bow(c) = (1 − Σ_kept p(c·w)) / (1 − Σ_kept p_lower(suffix(c)·w))`
    *
    * with both mass sums over the 9-dp-quantized artifact
    * probabilities through the exact decimal route (order-invariant,
    * oracle-replayable; sub-resolution entries contribute 0 by
    * definition). In exact arithmetic this formula reduces to the
    * closed-form leftover mass `d·N1+(g·)/ctot(g)` when nothing is
    * pruned — the unpruned path keeps the closed form so existing
    * artifacts replay bit-for-bit.
    *
    * SCALE CONTRACT (the round-15 fix: no `collect()` of the n-gram
    * table anywhere): every level is a DataFrame bounded by
    * distinct-n-gram cardinality, built from ONE token census and
    * written from sorted executor partitions; pruning adds only
    * model-table-sized group-bys and equi-joins. `vocabSize > 0` maps
    * all but the top-V words (by count, ties word-asc) to `<unk>`
    * BEFORE the n-gram census — standard ARPA practice that bounds the
    * model at V^n-sparse and, at 100 TB, keeps the type tables
    * Heaps-law sublinear in the corpus rather than unbounded. A
    * 100 TB model needs BOTH bounds: the cap tames the vocabulary,
    * the count cutoffs tame the gram tail nobody can load. */
  def knArpaLevels(docs: DataFrame, order: Int, discount: Double = 0.75,
                   textCol: String = "text", vocabSize: Int = 0,
                   prune: Seq[Long] = Nil)
  : Seq[DataFrame] = {
    require(order >= 2 && order <= 8, s"need 2 <= order <= 8: $order")
    require(discount > 0 && discount < 1, s"need 0 < d < 1: $discount")
    require(prune.isEmpty || prune.length == order,
      s"prune needs one threshold per level (got ${prune.length} for " +
        s"order $order)")
    val thr = if (prune.isEmpty) Seq.fill(order)(1L)
              else prune.map(math.max(_, 1L))
    require(thr.head <= 1L,
      "level 1 (the vocabulary) is never count-pruned — cap it with " +
        "vocabSize instead")
    val pruning = thr.exists(_ > 1L)
    val n = order
    val ws = (1 to n).map(i => s"w$i")
    val toks = words(col(textCol))
    var grams = ngramWindows(docs, n, toks, Nil)
    if (vocabSize > 0) {
      // top-V keep list (deterministic ties) rides a broadcast into
      // n map-side left joins; misses become <unk> before any census
      val keep = docs.select(explode(toks).as("kw"))
        .groupBy("kw").agg(count(lit(1)).as("kc"))
        .orderBy(col("kc").desc, col("kw").asc).limit(vocabSize)
        .select("kw")
      for (i <- 1 to n) {
        val ki = broadcast(keep.select(col("kw").as(s"kw$i")))
        grams = grams
          .join(ki, col(s"w$i") === col(s"kw$i"), "left")
          .withColumn(s"w$i", coalesce(col(s"kw$i"), lit("<unk>")))
          .drop(s"kw$i")
      }
    }
    // the census — the one corpus-sized job; everything below is
    // model-table sized, so pin it once
    val tn = grams.groupBy(ws.map(col): _*).agg(count(lit(1)).as("cN"))
      .localCheckpoint()
    val (hTop, conts, hists, tot) = knTables(tn, n)
    val d = lit(discount)
    // null-safe P_k fold over continuation levels 2..k — knScore's
    // expressions verbatim wherever the statistic exists (so quantized
    // artifact probabilities match the inline recursion bit-for-bit),
    // with the two genuine-miss completions the ARPA walk itself uses:
    // a context with no level-j statistic passes P_{j-1} through
    // unchanged (absent bow = multiplier 1) and a word with no
    // continuation count bottoms out at the 1e-99 zeroprob
    def pSafe(k: Int): Column = {
      var p: Column = when(col("ck1").isNotNull,
          col("ck1").cast("double") / col("cktot").cast("double"))
        .otherwise(lit(1e-99))
      for (j <- 2 to k)
        p = when(col(s"ctot$j").isNotNull,
            greatest(coalesce(col(s"ck$j"), lit(0L)).cast("double") - d,
              lit(0.0)) / col(s"ctot$j").cast("double") +
            ((d * col(s"nf$j").cast("double")) /
              col(s"ctot$j").cast("double")) * p)
          .otherwise(p)
      p
    }
    // backoff-weight source for level k (UNPRUNED closed form): the
    // contexts of level k+1 (hTop for the top, hist(k+1) below), keys
    // SHIFTED one position right into level k's gram columns
    def bowSrc(k: Int): DataFrame = {
      val (src, totCol, nfCol, srcKeys) =
        if (k == n - 1) (hTop, "cHist", "nTopF", ws.init)
        else (hists(k + 1), s"ctot${k + 1}", s"nf${k + 1}",
          ws.takeRight(k + 1).init)
      src.select(srcKeys.zip(ws.takeRight(k))
        .map { case (s0, d0) => col(s0).as(d0) } :+
        col(totCol).as("btot") :+ col(nfCol).as("bnf"): _*)
    }
    val lbowCol = when(col("btot").isNotNull,
        round(log10((d * col("bnf").cast("double")) /
          col("btot").cast("double")), 9))
      .otherwise(lit(0.0))
    // kept-gram key sets per level, TOP-DOWN: threshold survivors plus
    // the context/suffix closure of the level above (contexts carry
    // the backoff weight, suffixes are where the walk lands) — only
    // materialized when pruning is active
    val keptKeys = scala.collection.mutable.Map[Int, DataFrame]()
    if (pruning) {
      keptKeys(n) = tn.filter(col("cN") >= thr(n - 1))
        .select(ws.map(col): _*)
      for (k <- (n - 1) to 2 by -1) {
        val gramCols = ws.takeRight(k)
        val up = keptKeys(k + 1)
        val base = conts(k).filter(col(s"ck$k") >= thr(k - 1))
          .select(gramCols.map(col): _*)
        val ctx = up.select(ws.takeRight(k + 1).init.zip(gramCols)
          .map { case (s0, d0) => col(s0).as(d0) }: _*)
        val suf = up.select(gramCols.map(col): _*)
        keptKeys(k) = base.unionByName(ctx).unionByName(suf).distinct()
      }
    }
    // per-level LP frames keyed by word columns (bows attach below).
    // level 1: full vocabulary (any position of any n-gram), never
    // pruned
    val vocab = tn.select(explode(array(ws.map(col): _*)).as(ws.last))
      .distinct()
    val lp1 = vocab.join(conts(1), Seq(ws.last), "left")
      .crossJoin(broadcast(tot))
      .select(col(ws.last),
        when(col("ck1").isNotNull,
          round(log10(col("ck1").cast("double") /
            col("cktot").cast("double")), 9))
          .otherwise(lit(-99.0)).as("lp"))
    // levels 2..n-1: kept grams (pruned) or continuation grams ∪
    // level-(k+1) contexts (unpruned); every row carries a GENUINE
    // probability via the null-safe fold — no -99 placeholders a
    // conforming scorer would read as terminal
    val lpMids = (2 to n - 1).map { k =>
      val gramCols = ws.takeRight(k)
      val rows =
        if (pruning) keptKeys(k)
        else conts(k).select(gramCols.map(col): _*)
          .unionByName(bowSrc(k).select(gramCols.map(col): _*)).distinct()
      var v = rows.join(conts(k), gramCols, "left")
        .join(hists(k), gramCols.init.toSeq, "left")
      for (j <- (k - 1) to 2 by -1)
        v = v.join(conts(j), ws.takeRight(j), "left")
          .join(hists(j), ws.takeRight(j).init, "left")
      v = v.join(conts(1), Seq(ws.last), "left")
        .crossJoin(broadcast(tot))
      k -> v.select(gramCols.map(col) :+
        round(log10(pSafe(k)), 9).as("lp"): _*)
    }.toMap
    // level n: observed (kept) n-grams with the full interpolated
    // probability
    val lpN = {
      val src = if (pruning) tn.join(keptKeys(n), ws.toSeq, "left_semi")
                else tn
      var v = src.join(hTop, ws.init.toSeq)
      for (k <- (n - 1) to 2 by -1)
        v = v.join(conts(k), ws.takeRight(k))
          .join(hists(k), ws.takeRight(k).init)
      v = v.join(conts(1), Seq(ws.last)).crossJoin(broadcast(tot))
      val pn = greatest(col("cN").cast("double") - d, lit(0.0)) /
            col("cHist").cast("double") +
          ((d * col("nTopF").cast("double")) /
            col("cHist").cast("double")) * pSafe(n - 1)
      v.select(ws.map(col) :+ round(log10(pn), 9).as("lp"): _*)
    }
    def lpFrame(k: Int): DataFrame =
      if (k == n) lpN else if (k == 1) lp1 else lpMids(k)
    // bow attach per level k (1..n-1). Pruned: renormalized over the
    // KEPT level-(k+1) mass, both sums 9-dp-quantized through the
    // exact decimal route (order-invariant, oracle-replayable);
    // degenerate contexts (quantized kept mass rounding to >= 1) clamp
    // to bow 0 = multiplier 1, the SRILM recompute-BOW clamp.
    // Unpruned: the historical closed form, bit-identical artifacts.
    def withBow(k: Int): DataFrame = {
      val gramCols = ws.takeRight(k)
      val lpK = lpFrame(k)
      val bowed =
        if (!pruning) lpK.join(bowSrc(k), gramCols.toSeq, "left")
          .select(gramCols.map(col) :+ col("lp") :+ lbowCol.as("lbow"): _*)
        else {
          val upCols = ws.takeRight(k + 1)
          val ctxAs = upCols.init.zip(gramCols)
            .map { case (s0, d0) => col(s0).as(d0) }
          val up = lpFrame(k + 1)
          val pq = round(pow(lit(10.0), col("lp")), 9)
          val hi = up.select(ctxAs :+ pq.as("pq"): _*)
            .groupBy(gramCols.map(col): _*)
            .agg(graft.ops.Stable.sumD(col("pq"), 18).as("shi"))
          val lo = up.select(upCols.map(col): _*)
            .join(lpK.select(gramCols.map(col) :+
              col("lp").as("lp_suf"): _*), gramCols.toSeq)
            .select(ctxAs :+
              round(pow(lit(10.0), col("lp_suf")), 9).as("pql"): _*)
            .groupBy(gramCols.map(col): _*)
            .agg(graft.ops.Stable.sumD(col("pql"), 18).as("slo"))
          lpK.join(hi, gramCols.toSeq, "left")
            .join(lo, gramCols.toSeq, "left")
            .select(gramCols.map(col) :+ col("lp") :+
              when(col("shi").isNotNull &&
                  lit(1.0) - col("shi") > 0 && lit(1.0) - col("slo") > 0,
                round(log10((lit(1.0) - col("shi")) /
                  (lit(1.0) - col("slo"))), 9))
                .otherwise(lit(0.0)).as("lbow"): _*)
        }
      bowed.select(array(gramCols.map(col): _*).as("gram"),
        col("lp"), col("lbow"))
    }
    val levelN = lpN.select(array(ws.map(col): _*).as("gram"),
      col("lp"), lit(0.0).as("lbow"))
    ((1 to n - 1).map(withBow) :+ levelN)
  }

  /** Score documents from a STORED ARPA model of ANY order — the x144
    * mean-inverse-probability convention under the artifact's
    * QUANTIZED probabilities: `p_q = round(10^lp, 9)` for an n-gram
    * the model holds, else the standard ARPA backoff route — walk down
    * the orders ADDING log backoff weights until a gram is found
    * (unseen words fall to the −99 zeroprob). The model rides 2n−1
    * broadcast literal frames into one scan-stage join cascade — the
    * inline/stored pair differs ONLY by the 9-dp artifact
    * quantization (ArpaSpec pins the relative gap). Backoff logs are
    * ADDED then exponentiated ONCE; BOTH branches publish the
    * probability through the artifact's 9-dp round (pow over summed
    * logs is a libm call — unquantized it leaks cross-engine ulps
    * into the score), and a probability whose 9-dp round floors to
    * exact 0 (possible below 5e-10 on real corpora) falls back to the
    * raw `10^lp` instead of poisoning the inverse-probability score
    * with Infinity.
    *
    * Models trained with a vocabulary cap carry `<unk>` in their
    * unigram section; when present, every scored token OUTSIDE the
    * model vocabulary maps to `<unk>` before lookup — the KenLM query
    * convention, and the inverse of the training-side cap, so a
    * capped model scores its own training corpus through the present
    * path rather than raining −99 zeroprobs. Models without `<unk>`
    * take the unmapped path unchanged. */
  def knScoreStoredArpa(spark: org.apache.spark.sql.SparkSession,
                        docs: DataFrame, arpaPath: String,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val (occ, n) = arpaOccLookups(spark, docs, arpaPath, textCol, idCol)
    knScoreTail(occ, n, idCol)
  }

  /** [[knScoreStoredArpa]] through the DISTRIBUTED model route: the
    * artifact reads back as per-level DataFrames
    * ([[graft.sources.Arpa.readLevels]]'s parquet sidecar) and the
    * lookup cascade joins against SCANS instead of driver-broadcast
    * literals — same walk, same quantization, hash-identical scores
    * (x225 proves it against x210's oracle), but the model never
    * transits the driver and each level join is free to go sort-merge
    * when the model side outgrows the broadcast threshold. This is
    * the scoring route for models past
    * [[graft.sources.Arpa.MaxReadBytes]] — at 100 TB even a pruned
    * order-5 web-corpus LM can be worker-RAM-sized, and the corpus ⋈
    * model joins then want the exchange, not a broadcast. */
  def knScoreStoredArpaLevels(spark: org.apache.spark.sql.SparkSession,
                              docs: DataFrame, arpaPath: String,
                              textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    val (occ, n) =
      arpaOccLookupsDist(spark, docs, arpaPath, textCol, idCol)
    knScoreTail(occ, n, idCol)
  }

  /** The published-score tail shared by the two stored-ARPA scoring
    * routes: the n-level backoff walk over the cascade's lookup
    * columns, the artifact's 9-dp quantization on both branches, and
    * the (gram-sorted, order-independent) per-document fold. */
  private def knScoreTail(occ: DataFrame, n: Int, idCol: String)
  : DataFrame = {
    val ws = (1 to n).map(i => s"w$i")
    val backLog = arpaBackoffLog(n)
    // BOTH branches publish through the artifact's 9-dp quantization
    // (with the zero-floor raw fallback): the backoff product is a
    // pow() over summed logs, and an unquantized pow leaks cross-
    // engine libm ulps straight into the score hash
    val pqr = round(pow(lit(10.0), col(s"lp$n")), 9)
    val bqr = round(pow(lit(10.0), backLog), 9)
    val pq = occ.withColumn("pq",
        when(col(s"lp$n").isNotNull,
          when(pqr > lit(0.0), pqr)
            .otherwise(pow(lit(10.0), col(s"lp$n"))))
        .otherwise(when(bqr > lit(0.0), bqr)
          .otherwise(pow(lit(10.0), backLog))))
      .withColumn("val", col("m").cast("double") / col("pq"))
    val (cntName, scoreName) = knNames(n, "_q")
    orderedMean(pq, idCol, ws.map(col), sum("m"), cntName, scoreName)
  }

  /** Published column names of a KN score of order `n`: order 2 is
    * `n_bigrams`/`kn_score`, higher orders `n_ngrams`/`kn<n>_score`;
    * `sfx` marks the stored-model route (`_q`). */
  private def knNames(n: Int, sfx: String = ""): (String, String) =
    if (n == 2) ("n_bigrams", s"kn_score$sfx")
    else ("n_ngrams", s"kn${n}_score$sfx")

  /** The ARPA walk's log for an order-n gram the model does not hold,
    * over [[occLookupsOver]] columns: the longest stored suffix's `lp`,
    * plus the backoff weight of every context passed on the way down
    * (absent bow = 0; an unseen word falls to the −99 zeroprob). */
  private def arpaBackoffLog(n: Int): Column = {
    var lg: Column = coalesce(col("lp1"), lit(-99.0))
    for (k <- 2 to n - 1)
      lg = when(col(s"lp$k").isNotNull, col(s"lp$k"))
        .otherwise(coalesce(col(s"cbow${k - 1}"), lit(0.0)) + lg)
    coalesce(col(s"cbow${n - 1}"), lit(0.0)) + lg
  }

  /** The per-document mean of `val` under a fixed summation order:
    * each `idCol` group collects its `val`s, sorts them by `orderCols`
    * (the gram words, or the in-doc position) and folds them left to
    * right, so the double sum is sequential and bit-exact across
    * engines and partitionings (the DotFold discipline). `cnt` is the
    * mean's denominator, published as `cntName`; the mean is
    * `scoreName`. */
  private def orderedMean(valued: DataFrame, idCol: String,
                          orderCols: Seq[Column], cnt: Column,
                          cntName: String, scoreName: String): DataFrame =
    valued.groupBy(col(idCol)).agg(
        cnt.as(cntName),
        aggregate(
          array_sort(collect_list(struct(orderCols :+ col("val"): _*))),
          lit(0.0), (acc, x) => acc + x.getField("val")).as("val_sum"))
      .select(col(idCol), col(cntName),
        (col("val_sum") / col(cntName)).as(scoreName))

  /** Per-gram LOG cross-entropy from a stored ARPA model — the LOG-
    * DOMAIN twin of [[knScoreStoredArpa]] and the statistic data-
    * selection methods actually subtract (Moore & Lewis 2010 select on
    * cross-entropy DIFFERENCE; CCNet thresholds perplexity = the same
    * quantity exponentiated). `h10 = −Σ m·log10 P / Σ m` where log10 P
    * is the ARPA walk's own log: the stored `lp` when the gram is
    * present, the SUMMED backoff logs on a miss — and every walk log
    * is a 9-dp decimal (or a short sum of them), so the score rides
    * the x204/x208 SCALED-INTEGER route: `round(lg·10⁹)` is an exact
    * long (the product sits within 1e-5 of its integer), the per-doc
    * sum `Σ m·lgi` is exact 64-bit arithmetic (overflow headroom:
    * a 10⁶-gram doc of −99 floors is ~1e17 ≪ 2⁶³), and the only
    * floating-point steps are two final divisions — deterministic
    * cross-engine with NO pow()/log()/decimal-cast anywhere.
    *
    * `collapse = false` scores one row per occurrence instead of
    * collapsing (id, gram) multiplicities first — the STREAM-legal
    * shape (one stateful aggregation); the exact integer sums make
    * the two forms equal bit for bit, which StreamingSpec pins. */
  def knCrossEntropyStoredArpa(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, arpaPath: String,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               collapse: Boolean = true,
                               passthrough: Seq[String] = Nil)
  : DataFrame = {
    val (occ, n) = arpaOccLookups(spark, docs, arpaPath, textCol,
      idCol, collapse, passthrough)
    val full = when(col(s"lp$n").isNotNull, col(s"lp$n"))
      .otherwise(arpaBackoffLog(n))
    val cntName = knNames(n)._1
    val lgi = round(full * lit(1e9)).cast("long")
    val keyCols = (idCol +: passthrough).map(col)
    occ.withColumn("ti", col("m") * lgi)
      .groupBy(keyCols: _*).agg(
        sum("m").as(cntName),
        sum("ti").as("tsum"))
      .select(keyCols ++ Seq(col(cntName),
        (-col("tsum").cast("double") / col(cntName) / lit(1e9))
          .as("h10")): _*)
  }

  /** Moore-Lewis cross-entropy difference selection (Moore & Lewis
    * 2010, "Intelligent selection of language model training data") —
    * THE classical domain-data-selection method, and the third
    * selection tier next to [[dsirLlr]] (distribution matching on
    * hashed features) and [[trainLogisticQuality]] (supervised
    * quality): score every document under an in-domain (TARGET)
    * language model and a GENERAL one, rank by
    * `ml_score = H_general − H_target` (documents the target model
    * finds easy relative to the general model look like the domain),
    * and mark the deterministic top-K (score desc, id asc — the x168
    * TakeOrderedAndProject cut, never a corpus sort).
    *
    * Both models are STORED ARPA artifacts ([[knArpaLevels]] →
    * [[graft.sources.Arpa.writeLevels]] — train once per snapshot,
    * score any stream), scored through the log-domain
    * [[knCrossEntropyStoredArpa]], so the whole statistic is rational
    * arithmetic over parsed 9-dp decimals — no transcendental call
    * anywhere in the scoring path. Train the models with a `vocabSize`
    * cap so OOV routes through `<unk>` (the Moore-Lewis paper's own
    * out-of-vocabulary handling) rather than −99 zeroprobs dominating
    * the difference.
    *
    * Shape at 100 TB: two broadcast-level scoring cascades + one
    * doc-keyed join; the cut is a bounded top-K broadcast back as a
    * membership flag. Docs too short to carry a gram drop (no
    * features), as across the KN tier. */
  def mooreLewisSelect(spark: org.apache.spark.sql.SparkSession,
                       docs: DataFrame, targetArpa: String,
                       generalArpa: String, selectK: Int,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(selectK >= 1, s"need selectK >= 1: $selectK")
    val ht = knCrossEntropyStoredArpa(spark, docs, targetArpa,
      textCol, idCol).toDF(idCol, "n_grams", "h_target")
    val hg = knCrossEntropyStoredArpa(spark, docs, generalArpa,
      textCol, idCol).toDF(idCol, "ng2", "h_general")
    val scored = ht.join(hg.select(col(idCol), col("h_general")),
        Seq(idCol))
      .withColumn("ml_score", col("h_general") - col("h_target"))
    val cut = scored.orderBy(col("ml_score").desc, col(idCol))
      .limit(selectK).select(col(idCol)).withColumn("sel", lit(true))
    scored.join(broadcast(cut), Seq(idCol), "left")
      .select(col(idCol), col("n_grams"), col("h_target"),
        col("h_general"), col("ml_score"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** BIGRAM stored-model MIXTURE scoring — static LM interpolation
    * (Jelinek & Mercer 1980; SRILM's `ngram -mix-lm`): per gram,
    * `p = λ·p_A + (1−λ)·p_B` where each component is its model's full
    * ARPA walk — THE classical domain adaptation move (a small
    * in-domain model sharpened by a large general one) and the
    * score-level companion of [[mooreLewisSelect]]'s selection. The
    * two models carry DIFFERENT vocabularies (an in-domain cap and a
    * general cap disagree by construction), so each occurrence maps
    * into each model's vocabulary SEPARATELY (`<unk>` per model) and
    * the walks join by POSITION, not by gram spelling. Published
    * score is the x144 convention — mean inverse probability over
    * the 9-dp-quantized mixture (the λ-blend is a pow() sum; the
    * round absorbs cross-engine libm ulps, the established x220
    * discipline), folded in position order.
    *
    * Shape at 100 TB: one bigram explode, 2×3 broadcast lookups
    * (lp2/lp1/bow1 per model), one doc-keyed fold — the stored-scorer
    * plan twice over, still zero corpus-sized state. */
  def knMixtureScoreStoredArpa(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, pathA: String,
                               pathB: String, lambda: Double,
                               textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    require(lambda > 0 && lambda < 1, s"need 0 < lambda < 1: $lambda")
    val occ = bigramDualLookups(spark, docs, pathA, pathB, textCol, idCol)
    val mix = round(lit(lambda) * pow(lit(10.0), dualLg("a")) +
      lit(1.0 - lambda) * pow(lit(10.0), dualLg("b")), 9)
    val pq = occ.withColumn("pq",
        when(mix > lit(0.0), mix)
          .otherwise(lit(lambda) * pow(lit(10.0), dualLg("a")) +
            lit(1.0 - lambda) * pow(lit(10.0), dualLg("b"))))
      .withColumn("val", lit(1.0) / col("pq"))
    orderedMean(pq, idCol, Seq(col("pos")), count(lit(1)), "n_bigrams",
      "mix_score_q")
  }

  /** Dual-model Moore-Lewis gate over ONE pass — the per-document
    * cross-entropy difference ([[mooreLewisSelect]]'s statistic) with
    * BOTH stored bigram models walked on the same occurrence rows: the
    * x223 positional dual-lookup cascade feeds one doc-keyed integer
    * aggregation carrying both scaled log sums, so the whole gate has
    * exactly ONE stateful operator — the stream-legal shape (the same
    * call gates a stream at the ingest door; two chained
    * [[knCrossEntropyStoredArpa]] scorers would be two stateful
    * aggregations). The scaled-integer sums make
    * this form bit-identical to the two-scorer batch composition.
    * Emits `(doc_id, n_bigrams, h_target, h_general, ml_score, pass)`
    * with `pass = ml_score ≥ minMl`. */
  def mooreLewisGate(spark: org.apache.spark.sql.SparkSession,
                     docs: DataFrame, targetArpa: String,
                     generalArpa: String, minMl: Double,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val occ = bigramDualLookups(spark, docs, targetArpa, generalArpa,
      textCol, idCol)
    def lgi(sfx: String) = round(dualLg(sfx) * lit(1e9)).cast("long")
    val agg = occ
      .withColumn("ta", lgi("a")).withColumn("tb", lgi("b"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"),
        sum("ta").as("sa"), sum("tb").as("sb"))
    def h(c: String) =
      -col(c).cast("double") / col("n_bigrams") / lit(1e9)
    agg.select(col(idCol), col("n_bigrams"),
        h("sa").as("h_target"), h("sb").as("h_general"))
      .withColumn("ml_score", col("h_general") - col("h_target"))
      .withColumn("pass", col("ml_score") >= minMl)
  }

  /** The POSITIONAL dual-model lookup cascade shared by
    * [[knMixtureScoreStoredArpa]] and [[mooreLewisGate]]: bigram
    * occurrences with their in-doc position, each occurrence mapped
    * into EACH model's vocabulary separately (`<unk>` per model —
    * the two caps disagree by construction), and both models'
    * lp2/lp1/bow1 broadcast lookups attached under `a`/`b` column
    * suffixes. [[dualLg]] builds the per-model walk log on top. */
  private def bigramDualLookups(
      spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      pathA: String, pathB: String, textCol: String, idCol: String)
  : DataFrame = {
    import spark.implicits._
    val ma = graft.sources.Arpa.read(pathA)
    val mb = graft.sources.Arpa.read(pathB)
    require(ma.order == 2 && mb.order == 2,
      s"the dual walk needs two order-2 models: ${ma.order}/${mb.order}")
    val toks = words(col(textCol))
    val nTok = size(toks)
    var occ = docs.select(col(idCol),
        posexplode(arrays_zip(
          slice(toks, lit(1), greatest(nTok - 1, lit(0))),
          slice(toks, lit(2), greatest(nTok - 1, lit(0)))))
          .as(Seq("pos", "bg")))
      .select(col(idCol), col("pos"),
        col("bg.0").as("w1"), col("bg.1").as("w2"))
    // per-model vocabulary mapping + level lookups, suffixed columns
    def attach(m: graft.sources.Arpa.Model, sfx: String): Unit = {
      val hasUnk = m.grams(0).contains(Vector("<unk>"))
      for (i <- 1 to 2) {
        val base = col(s"w$i")
        val mapped =
          if (!hasUnk) base
          else {
            val vocabDf = broadcast(m.grams(0).keys.map(_.head).toSeq
              .toDF(s"kw$sfx$i"))
            occ = occ.join(vocabDf, base === col(s"kw$sfx$i"), "left")
            coalesce(col(s"kw$sfx$i"), lit("<unk>"))
          }
        occ = occ.withColumn(s"$sfx$i", mapped)
        if (hasUnk) occ = occ.drop(s"kw$sfx$i")
      }
      val l2 = broadcast(m.grams(1).toSeq
        .map { case (g, (lp, _)) => (g(0), g(1), lp) }
        .toDF(s"k2a$sfx", s"k2b$sfx", s"lp2$sfx"))
      val l1 = broadcast(m.grams(0).toSeq
        .map { case (g, (lp, bow)) => (g.head, lp, bow) }
        .toDF(s"k1$sfx", s"lp1$sfx", s"bow1$sfx"))
      occ = occ
        .join(l2, col(s"${sfx}1") === col(s"k2a$sfx") &&
          col(s"${sfx}2") === col(s"k2b$sfx"), "left")
        .drop(s"k2a$sfx", s"k2b$sfx")
        .join(l1.select(col(s"k1$sfx"), col(s"lp1$sfx")),
          col(s"${sfx}2") === col(s"k1$sfx"), "left").drop(s"k1$sfx")
        .join(l1.select(col(s"k1$sfx").as(s"bk$sfx"),
          col(s"bow1$sfx")),
          col(s"${sfx}1") === col(s"bk$sfx"), "left").drop(s"bk$sfx")
    }
    attach(ma, "a")
    attach(mb, "b")
    occ
  }

  /** One model's bigram walk log over [[bigramDualLookups]] columns:
    * the stored lp on a hit, `bow(w1) + lp(w2)` on a miss. */
  private def dualLg(sfx: String): Column =
    when(col(s"lp2$sfx").isNotNull, col(s"lp2$sfx"))
      .otherwise(coalesce(col(s"bow1$sfx"), lit(0.0)) +
        coalesce(col(s"lp1$sfx"), lit(-99.0)))

  /** The shared occurrence/lookup cascade of the stored-ARPA scorers:
    * n-gram occurrences of `docs` (OOV mapped to `<unk>` when the
    * model carries one), joined against the model's 2n−1 broadcast
    * level frames — gram lookups `lp1..lpn` on every suffix length,
    * context backoffs `cbow1..cbow(n−1)` on the windows ending at
    * w_{n−1}. Returns the joined frame and the model order.
    *
    * The level frames are memoized per (artifact, session): building
    * them costs a driver-side encode of every model row, which would
    * otherwise be paid on EVERY scoring invocation. */
  private def arpaOccLookups(spark: org.apache.spark.sql.SparkSession,
                             docs: DataFrame, arpaPath: String,
                             textCol: String, idCol: String,
                             collapse: Boolean = true,
                             passthrough: Seq[String] = Nil)
  : (DataFrame, Int) = {
    import spark.implicits._
    val (lvl0, n, vocab0) =
      graft.ArtifactMemo("arpa_frames", Seq(arpaPath), scope = spark) {
        val m = graft.sources.Arpa.read(arpaPath)
        val ord = m.order
        require(ord >= 2, s"scoring needs order >= 2, model is order $ord")
        // one frame per level: key = space-joined words (tokens are
        // whitespace-free by the ARPA contract, so the join key is
        // collision-free), lp + bow as payload. Each frame is EAGERLY
        // localCheckpoint'ed at build: a bare `toDF` is a LocalRelation
        // whose rows live INSIDE the logical plan, so every scoring
        // invocation re-pays plan-embedded serialization and the
        // broadcast job re-ships the literal rows from the driver (r18
        // measurement: the broadcast-literal route ran ~2.4x the
        // sidecar-scan route on the SAME walk). Checkpointed once per
        // artifact, the frames are RDD blocks — scoring plans carry a
        // scan node, not a million-row literal.
        val frames = m.grams.zipWithIndex.map { case (g, i) =>
          val k = i + 1
          g.toSeq
            .map { case (gr, (lp, bow)) => (gr.mkString(" "), lp, bow) }
            .toDF(s"key$k", s"lp$k", s"bow$k")
            .localCheckpoint(true)
        }
        val hasUnk = m.grams(0).contains(Vector("<unk>"))
        val voc =
          if (!hasUnk) None
          else Some(m.grams(0).keys.map(_.head).toSeq.toDF("kw")
            .localCheckpoint(true))
        (frames: Seq[DataFrame], ord, voc)
      }
    val lvl = lvl0.map(broadcast)
    val vocab = vocab0.map(broadcast)
    (occLookupsOver(docs, lvl, n, vocab, textCol, idCol, collapse,
      passthrough), n)
  }

  /** The DISTRIBUTED twin of [[arpaOccLookups]]: level frames come
    * from the artifact's parquet sidecar
    * ([[graft.sources.Arpa.readLevels]]) instead of driver maps, so
    * the model never transits the driver and Catalyst picks the join
    * strategy per level from real scan stats — broadcast-hash when a
    * level fits the threshold, sort-merge when the model has outgrown
    * worker memory. The only driver-side actions are two bounded
    * scalars off the pruned level-1 partition (the order, the `<unk>`
    * probe). */
  private def arpaOccLookupsDist(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, arpaPath: String,
      textCol: String, idCol: String,
      collapse: Boolean = true, passthrough: Seq[String] = Nil)
  : (DataFrame, Int) = {
    val levels = graft.sources.Arpa.readLevels(spark, arpaPath)
    val n = levels.agg(max(col("k"))).head().getInt(0)
    require(n >= 2, s"scoring needs order >= 2, model is order $n")
    val lvl = (1 to n).map(k =>
      levels.filter(col("k") === k)
        .select(col("key").as(s"key$k"), col("lp").as(s"lp$k"),
          col("bow").as(s"bow$k")))
    val hasUnk = levels.filter(col("k") === 1 && col("key") === "<unk>")
      .limit(1).count() > 0
    val vocab =
      if (!hasUnk) None
      else Some(levels.filter(col("k") === 1)
        .select(col("key").as("kw")))
    (occLookupsOver(docs, lvl, n, vocab, textCol, idCol, collapse,
      passthrough), n)
  }

  /** The shared occurrence/lookup cascade body: n-gram occurrences of
    * `docs` (OOV mapped to `<unk>` through `vocab` when present),
    * joined against `lvl(k-1) = (key$k, lp$k, bow$k)` level frames —
    * gram lookups `lp1..lpn` on every suffix length, context backoffs
    * `cbow1..cbow(n−1)` on the windows ending at w_{n−1}. The level
    * frames' physical side is the CALLER's choice: [[arpaOccLookups]]
    * passes driver-built broadcast frames (the bounded-model route),
    * [[arpaOccLookupsDist]] passes sidecar scans (the big-model
    * route). `passthrough` columns survive next to `idCol`. */
  private def occLookupsOver(docs: DataFrame, lvl: Seq[DataFrame],
                             n: Int, vocab: Option[DataFrame],
                             textCol: String, idCol: String,
                             collapse: Boolean,
                             passthrough: Seq[String] = Nil)
  : DataFrame = {
    val ws = (1 to n).map(i => s"w$i")
    val keyCols = (idCol +: passthrough).map(col)
    var occ = ngramWindows(docs, n, words(col(textCol)), keyCols)
    vocab.foreach { vocabDf =>
      // the model vocabulary (unigram section — bounded by the cap
      // that produced it) rides into n map-side left joins;
      // out-of-vocabulary words become <unk> BEFORE lookups,
      // mirroring the builder's pre-census cap joins
      for (i <- 1 to n) {
        val ki = vocabDf.select(col("kw").as(s"kw$i"))
        occ = occ
          .join(ki, col(s"w$i") === col(s"kw$i"), "left")
          .withColumn(s"w$i", coalesce(col(s"kw$i"), lit("<unk>")))
          .drop(s"kw$i")
      }
    }
    // collapse = the batch shape (distinct grams join once, m carries
    // the multiplicity); collapse = false keeps one row per occurrence
    // (m = 1) — the STREAM shape, where the per-gram collapse would be
    // a second stateful aggregation and the integer walk sums make the
    // two provably equal
    occ =
      if (collapse) occ.groupBy(keyCols ++ ws.map(col): _*)
        .agg(count(lit(1)).as("m"))
      else occ.withColumn("m", lit(1L))
    // gram lookups: suffix of length k; context lookups: the k words
    // ending at w_{n-1} (what the level-(k+1) miss backs off through)
    for (k <- 1 to n)
      occ = occ.join(
        lvl(k - 1).select(col(s"key$k"), col(s"lp$k")),
        array_join(array(ws.takeRight(k).map(col): _*), " ") ===
          col(s"key$k"), "left").drop(s"key$k")
    for (k <- 1 to n - 1)
      occ = occ.join(
        lvl(k - 1).select(col(s"key$k").as(s"bkey$k"),
          col(s"bow$k").as(s"cbow$k")),
        array_join(array(ws.slice(n - 1 - k, n - 1).map(col): _*), " ") ===
          col(s"bkey$k"), "left").drop(s"bkey$k")
    occ
  }

  /** DSIR importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of its hashed word-BIGRAM
    * features under the target corpus' bucket distribution vs the raw
    * corpus' own — the distribution-MATCHING selection tier that picks
    * "looks like the target domain" where [[hashedLinearScore]]/
    * [[trainLogisticQuality]] pick "looks good". Features are the
    * engine's shingle hash (k = 2, [[graft.functions.ShingleHashesAll]])
    * bucketed to `dim` by pmod; both unigram-of-bucket models are
    * add-one smoothed over the `dim` buckets:
    *
    * `llr(x) = Σ_b m_b(x)·[ln((cp_b+1)/(Np+dim)) − ln((cq_b+1)/(Nq+dim))]`
    *
    * Per-doc terms fold in bucket order (partitioning-invariant); the
    * two ln() are the one non-rational step (the x85 convention —
    * round the published column at 9 dp, cross-engine ulps absorbed).
    * Returns the weight only — SELECTION is a policy on top (DSIR
    * resamples by weight; the deterministic engine form is a top-K
    * cut, a bounded TakeOrderedAndProject — see x168). Docs with
    * < 2 tokens have no features and drop.
    *
    * Shape at 100 TB: both bucket tables are ≤ dim rows (one
    * partial+final agg each, then broadcast); the corpus side is one
    * narrow shingle explode collapsing map-side to (doc, bucket, m),
    * two broadcast joins, one doc-keyed fold. Nothing outgrows the
    * corpus scan; the model state is 2·dim longs. */
  def dsirLlr(raw: DataFrame, target: DataFrame, dim: Int = 16384,
              textCol: String = "text", idCol: String = "doc_id")
  : DataFrame = {
    require(dim > 0, s"bucket dim must be positive: $dim")
    def buckets(d: DataFrame) = dsirBuckets(d, dim, textCol, Seq(idCol))
    val occ = buckets(raw).groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("m"))
    val p = buckets(target).groupBy("b").agg(count(lit(1)).as("cp"))
    val q = occ.groupBy("b").agg(sum("m").as("cq"))
    val np = p.agg(sum("cp").as("np"))
    val nq = q.agg(sum("cq").as("nq"))
    dsirFold(
      occ.join(broadcast(q), Seq("b"))
        .join(broadcast(p), Seq("b"), "left")
        .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
        .withColumn("term", col("m").cast("double") * dsirLnRatio(dim)),
      idCol, sum("m"))
  }

  /** THE DSIR feature kernel — shingle(k=2) explode → pmod bucket —
    * shared by every DSIR path (inline, model build, stored scorer,
    * streaming gate), so two paths can never bucket the same text
    * differently (the round-13 PII-duplication lesson). Emits `keep`'s
    * columns plus `b`. */
  private def dsirBuckets(d: DataFrame, dim: Int, textCol: String,
                          keep: Seq[String]): DataFrame =
    d.select(keep.map(col) :+
        explode(graft.functions.ShingleHashesAll(col(textCol), 2))
          .as("h"): _*)
      .select(keep.map(col) :+ pmod(col("h"), lit(dim.toLong)).as("b"): _*)

  /** Shared DSIR smoothed ln-ratio over (cp, cq, np, nq) columns —
    * ONE expression for every scoring path. */
  private def dsirLnRatio(dim: Int): Column = {
    val dimL = lit(dim.toLong)
    val lnp = log((coalesce(col("cp"), lit(0L)) + lit(1L)).cast("double") /
      (col("np") + dimL).cast("double"))
    val lnq = log((coalesce(col("cq"), lit(0L)) + lit(1L)).cast("double") /
      (col("nq") + dimL).cast("double"))
    lnp - lnq
  }

  /** Shared DSIR per-doc reduction: the b-ordered fold of `term` plus
    * the caller's gram-count aggregate. */
  private def dsirFold(terms: DataFrame, idCol: String,
                       nGrams: Column): DataFrame =
    terms.groupBy(col(idCol))
      .agg(nGrams.as("n_grams"),
        aggregate(array_sort(collect_list(struct(col("b"), col("term")))),
          lit(0.0), (a, x) => a + x.getField("term")).as("llr"))
      .select(col(idCol), col("n_grams"), col("llr"))

  /** Persist the DSIR bucket models (the x77/x96 stored-index
    * discipline applied to data selection): ONE parquet table
    * `dir/buckets(b, cp, cq)` — the full outer of the target and raw
    * bucket counts, nulls resolved to 0 at write so the reader never
    * re-derives smoothing inputs. Totals are NOT stored: `Np`/`Nq` are
    * exact integer sums of the stored columns, recomputed at load —
    * one fewer artifact to drift. At 100 TB the model is ≤ dim rows
    * regardless of corpus size: training costs the two bucket
    * aggregations once, and every later scoring run (batch or
    * streaming) pays only its own corpus scan. */
  def dsirBuildModel(raw: DataFrame, target: DataFrame, dir: String,
                     dim: Int = 16384, textCol: String = "text",
                     idCol: String = "doc_id"): Unit = {
    require(dim > 0, s"bucket dim must be positive: $dim")
    def buckets(d: DataFrame) = dsirBuckets(d, dim, textCol, Seq.empty)
    val p = buckets(target).groupBy("b").agg(count(lit(1)).as("cp"))
    val q = buckets(raw).groupBy("b").agg(count(lit(1)).as("cq"))
    LocalFs.write(p.join(q, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cq"), lit(0L)).as("cq")))
      .mode("overwrite").parquet(s"$dir/buckets")
  }

  /** Score documents against the STORED DSIR model — the same
    * expression tree as [[dsirLlr]] (add-one smoothing, per-gram ln
    * ratio, bucket-ordered fold), so scoring the training corpus from
    * storage is BIT-EQUAL to the inline run (the x96 proof shape).
    * Buckets absent from the model (possible for post-training
    * documents) smooth to cp = cq = 0 — the same add-one floor. The
    * model broadcasts (≤ dim rows). BATCH shape: the (doc, bucket)
    * pre-aggregation chains two stateful aggs, which Structured
    * Streaming rejects — streams go through [[dsirScoreStream]]. */
  def dsirScoreStored(spark: org.apache.spark.sql.SparkSession,
                      docs: DataFrame, dir: String, dim: Int = 16384,
                      textCol: String = "text", idCol: String = "doc_id")
  : DataFrame = {
    val model = spark.read.parquet(s"$dir/buckets")
    val np = model.agg(sum("cp").as("np"))
    val nq = model.agg(sum("cq").as("nq"))
    val occ = dsirBuckets(docs, dim, textCol, Seq(idCol))
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("m"))
    dsirFold(
      occ.join(broadcast(model), Seq("b"), "left")
        .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
        .withColumn("term", col("m").cast("double") * dsirLnRatio(dim)),
      idCol, sum("m"))
  }

  /** STREAM-legal stored-model scoring — [[dsirScoreStored]]'s shape
    * with the (doc, bucket) pre-aggregation removed: Structured
    * Streaming rejects two chained stateful aggregations, so per-
    * OCCURRENCE ln-ratio terms (the same [[dsirLnRatio]] on the same
    * [[dsirBuckets]] kernel) go straight into the one per-doc fold.
    * Equal addends sum adjacently in the b-ordered fold — agrees with
    * the batch scorer up to fp association of the m-repeated terms
    * (≪ 1e-9); the same call on a batch DataFrame is the bit-exact
    * twin StreamingSpec pins. */
  def dsirScoreStream(spark: org.apache.spark.sql.SparkSession,
                      docs: DataFrame, dir: String, dim: Int = 16384,
                      textCol: String = "text", idCol: String = "doc_id")
  : DataFrame = {
    val model = spark.read.parquet(s"$dir/buckets")
    val np = model.agg(sum("cp").as("np"))
    val nq = model.agg(sum("cq").as("nq"))
    dsirFold(
      dsirBuckets(docs, dim, textCol, Seq(idCol))
        .join(broadcast(model), Seq("b"), "left")
        .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
        .withColumn("term", dsirLnRatio(dim)),
      idCol, count(lit(1)))
  }

  /** The COMPOSED ingest gate — the streaming twin of the x171 batch
    * corpus build's per-document stages: every arriving document is
    * (1) PII-censused and SCRUBBED at the door ([[piiReport]] — all
    * downstream signals run on the REDACTED text, the x171 ordering),
    * (2) DSIR-priced against the stored bucket model, and (3) probed
    * against the stored minhash corpus index for near-dups — ONE
    * verdict row per document.
    *
    * Streaming legality is the design constraint: stages (1)-(3) are
    * stateless column algebra and stream-static broadcast joins, and
    * the whole composition ends in EXACTLY ONE stateful aggregation —
    * the three signal families ride one unioned row set (`self` rows
    * carry the PII census, `dsir` rows the per-occurrence ln-ratio
    * terms, `dup` rows the verified candidate jaccards) and fold in
    * one groupBy(doc). Chaining the three gates' own aggregations
    * would be 2+ stateful operators, which streaming rejects — the
    * same reshaping [[dsirScoreStream]] documents, applied to the
    * composition.
    *
    * Equivalences (StreamingSpec): streaming ≡ batch on the same call;
    * `(n_grams, llr)` BIT-equal to [[dsirScoreStream]] on the redacted
    * text (identical per-occurrence b-ordered fold — null-skipping
    * collect_list drops the self/dup rows from it); `max_jaccard` =
    * the per-doc max of the pairwise near-dup gate; PII columns ≡
    * [[piiReport]]. `dup_hit` is non-null max_jaccard (candidates are
    * pre-filtered at `minJaccard`). Docs with no 2-gram still emit
    * (the self row): n_grams 0, llr 0.0. */
  def ingestGate(spark: org.apache.spark.sql.SparkSession,
                 docs: DataFrame, dsirDir: String, index: DataFrame,
                 dim: Int = 16384, minJaccard: Double = 0.5,
                 numHashes: Int = 128, bands: Int = 32,
                 shingleK: Int = 3, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val pii = piiReport(docs, textCol, idCol)
    val nullL = lit(null).cast("long")
    val nullD = lit(null).cast("double")
    val self = pii.select(col(idCol), col("n_email"), col("n_ipv4"),
      col("n_phone"), col("n_pii"), nullL.as("b"), nullD.as("term"),
      nullD.as("jac"))
    // DSIR rows: the shared bucket kernel over the REDACTED text, the
    // stored model + totals broadcast (model ≤ dim rows)
    val model = spark.read.parquet(s"$dsirDir/buckets")
    val np = model.agg(sum("cp").as("np"))
    val nq = model.agg(sum("cq").as("nq"))
    val dsirRows = dsirBuckets(
        pii.select(col(idCol), col("redacted")), dim, "redacted",
        Seq(idCol))
      .join(broadcast(model), Seq("b"), "left")
      .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      .select(col(idCol), nullL.as("n_email"), nullL.as("n_ipv4"),
        nullL.as("n_phone"), nullL.as("n_pii"), col("b"),
        dsirLnRatio(dim).as("term"), nullD.as("jac"))
    // near-dup rows: banded minhash of the redacted text probing the
    // stored index (two stream-static equi-joins, both stateless);
    // multi-band collisions need no pre-dedup — the per-doc max below
    // is idempotent over repeats
    val rows = numHashes / bands
    def bandCols(mh: Column): Column = array((0 until bands).map { bd =>
      xxhash64(concat_ws(",",
        (0 until rows).map(r => element_at(mh, bd * rows + r + 1)): _*),
        lit(bd))
    }: _*)
    val bInc = pii
      .select(col(idCol),
        Dedup.tokenHashes(col("redacted"), shingleK).as("hs_b"))
      .withColumn("mh",
        graft.functions.HashExprs.min_hash(col("hs_b"), numHashes))
      .select(col(idCol), col("hs_b"),
        posexplode(bandCols(col("mh"))).as(Seq("band", "bucket")))
    val aKeys = index.select(col("doc_id").as("doc_a"),
      posexplode(bandCols(col("minhash"))).as(Seq("band", "bucket")))
    val aSets = index.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val dupRows = bInc.join(aKeys, Seq("band", "bucket"))
      .select(col(idCol), col("doc_a"), col("hs_b"))
      .join(aSets, "doc_a")
      .withColumn("jac",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          size(array_union(col("hs_a"), col("hs_b"))))
      .filter(col("jac") >= minJaccard)
      .select(col(idCol), nullL.as("n_email"), nullL.as("n_ipv4"),
        nullL.as("n_phone"), nullL.as("n_pii"), nullL.as("b"),
        nullD.as("term"), col("jac"))
    self.unionByName(dsirRows).unionByName(dupRows)
      .groupBy(col(idCol))
      .agg(max("n_email").as("n_email"), max("n_ipv4").as("n_ipv4"),
        max("n_phone").as("n_phone"), max("n_pii").as("n_pii"),
        count(col("term")).as("n_grams"),
        aggregate(array_sort(collect_list(
            when(col("b").isNotNull, struct(col("b"), col("term"))))),
          lit(0.0), (a, x) => a + x.getField("term")).as("llr"),
        max("jac").as("max_jaccard"))
      .withColumn("dup_hit", col("max_jaccard").isNotNull)
  }

  /** The CORPUS GATE composed with the stored-LM gates in ONE
    * stream-legal query — the round-17 composition gap: the s1-s4
    * ingest prefix (robots, PII scrub, stored-set line censor, Gopher)
    * AND the dual-model Moore-Lewis/perplexity verdicts, with exactly
    * ONE stateful aggregation. The trick is the [[ingestGate]]
    * union-of-row-families shape: the censor's line rows and the LM
    * walk's bigram-occurrence rows (both stateless scan-stage
    * derivations — the line side a stream-static anti-join, the gram
    * side the positional dual-lookup cascade with scaled-integer walk
    * logs) union into one row set, and a single doc-keyed aggregation
    * collects the kept lines AND both models' integer log sums.
    * Post-aggregation everything is column algebra: reassembly,
    * Gopher signals on the CLEANED text, `h_target`/`h_general`/
    * `ml_score` from the sums, the `h_general ≤ maxH10` perplexity
    * gate and the `ml_score ≥ minMl` domain gate, then optionally the
    * C4 stage (x215 rules, stateless).
    *
    * SCORING CONTRACT: the LM walks score the scrubbed, relined,
    * PRE-CENSOR text — at the door the censored text does not exist
    * until the composition's one aggregation has run, and a second
    * post-reassembly scoring pass would be a second stateful
    * operator. (Reline itself is score-neutral: it only rewrites
    * whitespace, and the tokenizer splits on any whitespace run.)
    * StreamingSpec pins the fused form ≡ the piecewise batch
    * composition (corpus gate ⋈ [[mooreLewisGate]]) bit for bit —
    * the integer sums make the equality exact. Docs whose text
    * carries no bigram have no LM signal and drop, the KN-tier
    * convention.
    *
    * Emits `(doc_id, source, text, n_lines, n_kept, n_bigrams,
    * h_target, h_general, ml_score)`. */
  def corpusLmGate(spark: org.apache.spark.sql.SparkSession,
                   docs: DataFrame, rules: DataFrame, boiler: DataFrame,
                   targetArpa: String, generalArpa: String,
                   maxH10: Double, minMl: Double, minWords: Long = 50L,
                   reline: Column => Column = identity,
                   c4MinWordsPerLine: Int = 0): DataFrame = {
    val s1 = graft.ext.UrlOps.robotsAllowedOnlyByPath(docs, rules)
      .select("doc_id", "source", "text")
    val s2 = s1.select(col("doc_id"), col("source"),
      reline(Cleanse.redactPii(col("text"))).as("text"))
    val nullL = lit(null).cast("long")
    val nullI = lit(null).cast("int")
    val nullS = lit(null).cast("string")
    // line rows: the censor's exploded/anti-joined lines (stateless)
    val lineRows = s2
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", Cleanse.lineHash(col("line")))
      .join(boiler.select("h"), Seq("h"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_lines"), col("pos"),
        col("line"), nullL.as("m"), nullL.as("ta"), nullL.as("tb"))
    // gram rows: the x223/mooreLewisGate dual-model walk columns
    // (stateless broadcast lookups), one row per bigram occurrence
    val occ = bigramDualLookups(spark, s2, targetArpa, generalArpa,
      "text", "doc_id")
    def lgi(sfx: String) = round(dualLg(sfx) * lit(1e9)).cast("long")
    val gramRows = occ
      .select(col("doc_id"), nullS.as("source"), nullL.as("n_lines"),
        nullI.as("pos"), nullS.as("line"), lit(1L).as("m"),
        lgi("a").as("ta"), lgi("b").as("tb"))
    // THE one stateful aggregation: kept-line reassembly + LM sums
    val agg = lineRows.unionByName(gramRows)
      .groupBy(col("doc_id"))
      .agg(first(col("source"), ignoreNulls = true).as("source"),
        first(col("n_lines"), ignoreNulls = true).as("n_lines"),
        array_join(transform(sort_array(collect_list(
            when(col("line").isNotNull,
              struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("text"),
        count(col("line")).as("n_kept"),
        sum("m").as("n_bigrams"),
        sum("ta").as("sa"), sum("tb").as("sb"))
      .filter(col("n_kept") > 0)
    val sig = gopherSignals(col("text")).toMap
    def h(c: String) =
      -col(c).cast("double") / col("n_bigrams") / lit(1e9)
    val gated = agg
      .filter(sig("n_words") >= minWords &&
        sig("n_words") <= 100000L &&
        sig("r_mean_word_len") && sig("r_symbol_ratio") &&
        sig("r_alpha_words") && sig("r_stopwords"))
      .withColumn("h_target", h("sa"))
      .withColumn("h_general", h("sb"))
      .withColumn("ml_score", col("h_general") - col("h_target"))
      .filter(col("h_general") <= maxH10 && col("ml_score") >= minMl)
      .select(col("doc_id"), col("source"), col("text"), col("n_lines"),
        col("n_kept"), col("n_bigrams"), col("h_target"),
        col("h_general"), col("ml_score"))
    if (c4MinWordsPerLine <= 0) gated
    else graft.ext.Curation.c4LineFilters(gated,
        minWordsPerLine = c4MinWordsPerLine,
        passthrough = Seq("source", "n_bigrams", "h_target",
          "h_general", "ml_score"))
      .filter(col("keep"))
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"), col("n_lines"), col("n_kept"),
        col("n_bigrams"), col("h_target"), col("h_general"),
        col("ml_score"))
  }

  /** ORDER-N interpolated Kneser-Ney (Kneser & Ney 1995; Chen &
    * Goodman 1999 §3, the full recursion KenLM ships at its production
    * default order 5), scoring each document under the corpus model:
    *
    * `P_n(w_n|hist) = max(c_n−d,0)/c_hist + (d·N1+(hist·)/c_hist)·P_{n-1}`
    * `P_k(w|ctx)   = max(ck_k−d,0)/ctot_k + (d·nf_k/ctot_k)·P_{k-1}`
    * `P_1(w)       = ck_1(w)/cktot`
    *
    * — the top level on raw n-gram counts, every lower level on
    * CONTINUATION type counts (level k's table counts the distinct
    * left words of each k-gram in the level-(k+1) TYPE table), the
    * Kneser-Ney insight applied at every backoff. At order 2 (x144) it
    * is absolute discounting plus the continuation back-off,
    *
    * `P_KN(w2|w1) = max(c2−d, 0)/c1 + (d·N1+(w1·)/c1) · N1+(·w2)/N1+(··)`
    *
    * where `c2/c1` are bigram/history counts, `N1+(w1·)` the distinct
    * continuations of `w1`, `N1+(·w2)` the distinct histories of `w2`
    * (the "how many contexts has this word followed" insight that
    * distinguishes KN from [[bigramLmScore]]'s add-one — 'francisco'
    * is frequent but follows only 'san') and `N1+(··)` the distinct
    * bigram count. At order 3 (x149):
    *
    * `P₃(w3|w1w2) = max(c3−d,0)/c12 + (d·N1+(w1w2·)/c12)·P₂c(w3|w2)`
    * `P₂c(w3|w2) = max(N1+(·w2w3)−d,0)/N1+(·w2·)
    *               + (d·N1+(w2·)/N1+(·w2·))·P₁c(w3)`
    * `P₁c(w3)   = N1+(·w3)/N1+(··)`
    *
    * with `N1+(·w2w3)` the distinct left-contexts of the bigram,
    * `N1+(·w2·)` their sum per middle word, `N1+(·w3)` the distinct
    * middles preceding w3 and `N1+(··)` the continuation-bigram type
    * total. Every count derives from ONE n-gram type table
    * ([[knTables]]) and the fixed discount `d` is exact in binary
    * (default 0.75); the spec checks orders 2 to 5 against a driver
    * reference bit-for-bit. Score is the x51/x144 convention: mean
    * inverse probability `mean_i m_i/P_n(i)` folded in
    * (w1..wn)-sorted order, published as `n_bigrams`/`kn_score` at
    * order 2 and `n_ngrams`/`kn<n>_score` above. Rational core, no
    * ln(), bit-exact across engines.
    *
    * Shape at 100 TB: occurrences collapse map-side; each of the
    * 2(n−1) model tables is bounded by distinct-n-gram cardinality
    * (strictly shrinking down the recursion) and joins back by content
    * key; the type total is ONE broadcast row. The join fan is linear
    * in the order — n−1 suffix-keyed hash joins, no all-pairs
    * anywhere. */
  def knScore(docs: DataFrame, order: Int, discount: Double = 0.75,
              textCol: String = "text", idCol: String = "doc_id")
  : DataFrame = {
    require(order >= 2 && order <= 8, s"need 2 <= order <= 8: $order")
    require(discount > 0 && discount < 1, s"need 0 < d < 1: $discount")
    val n = order
    val ws = (1 to n).map(i => s"w$i")
    val occ = ngramWindows(docs, n, words(col(textCol)), Seq(col(idCol)))
      .groupBy(col(idCol) +: ws.map(col): _*)
      .agg(count(lit(1)).as("m"))
    val tn = occ.groupBy(ws.map(col): _*).agg(sum("m").as("cN"))
    val (hTop, conts, hists, tot) = knTables(tn, n)
    var valued = occ.join(tn, ws).join(hTop, ws.init)
    for (k <- (n - 1) to 2 by -1)
      valued = valued.join(conts(k), ws.takeRight(k))
        .join(hists(k), ws.takeRight(k).init)
    valued = valued.join(conts(1), Seq(ws.last)).crossJoin(broadcast(tot))
    val d = lit(discount)
    var p: Column = col("ck1").cast("double") / col("cktot").cast("double")
    for (k <- 2 to n - 1)
      p = greatest(col(s"ck$k").cast("double") - d, lit(0.0)) /
            col(s"ctot$k").cast("double") +
          ((d * col(s"nf$k").cast("double")) /
            col(s"ctot$k").cast("double")) * p
    val pn = greatest(col("cN").cast("double") - d, lit(0.0)) /
          col("cHist").cast("double") +
        ((d * col("nTopF").cast("double")) / col("cHist").cast("double")) * p
    val (cntName, scoreName) = knNames(n)
    orderedMean(valued.withColumn("val", col("m").cast("double") / pn),
      idCol, ws.map(col), sum("m"), cntName, scoreName)
  }

  /** The n-gram windows of each document's token array `toks`: one row
    * per window, the `keyCols` then `w1..wn` (n zipped slices of the
    * array, so a document shorter than n tokens has none). */
  private def ngramWindows(docs: DataFrame, n: Int, toks: Column,
                           keyCols: Seq[Column]): DataFrame = {
    val nTok = size(toks)
    docs.select(keyCols :+
        explode(arrays_zip((1 to n).map(i =>
          slice(toks, lit(i), greatest(nTok - (n - 1), lit(0)))): _*))
          .as("g"): _*)
      .select(keyCols ++
        (0 until n).map(i => col(s"g.$i").as(s"w${i + 1}")): _*)
  }

  /** The KN model tables over an n-gram type table `tn(w1..wn, cN)`,
    * shared by [[knScore]] and [[knArpaLevels]]: `hTop` per history
    * (`cHist` = Σ cN, `nTopF` = distinct continuations), the
    * continuation type tables `conts(k)` for k = n−1..1 (`ck<k>`),
    * the history normalizers `hists(k)` for k = n−1..2 (`ctot<k>`,
    * `nf<k>`) and the one-row level-2 type total `cktot`. */
  private def knTables(tn: DataFrame, n: Int)
  : (DataFrame, Map[Int, DataFrame], Map[Int, DataFrame], DataFrame) = {
    val ws = (1 to n).map(i => s"w$i")
    val hTop = tn.groupBy(ws.init.map(col): _*)
      .agg(sum("cN").as("cHist"), count(lit(1)).as("nTopF"))
    // continuation type tables T_{n-1}..T_1, each built from the one
    // above (a row of T_{k+1} is a distinct (k+1)-gram, so count(*)
    // per k-suffix = distinct left words)
    val conts = scala.collection.mutable.Map[Int, DataFrame]()
    var cur = tn
    for (k <- (n - 1) to 1 by -1) {
      cur = cur.groupBy(ws.takeRight(k).map(col): _*)
        .agg(count(lit(1)).as(s"ck$k"))
      conts(k) = cur
    }
    // history normalizers H_k over T_k, k = n-1..2
    val hists = (2 to n - 1).map { k =>
      k -> conts(k).groupBy(ws.takeRight(k).init.map(col): _*)
        .agg(sum(s"ck$k").as(s"ctot$k"), count(lit(1)).as(s"nf$k"))
    }.toMap
    val tot = (if (n == 2) tn else conts(2)).agg(count(lit(1)).as("cktot"))
    (hTop, conts.toMap, hists, tot)
  }

  /** Gopher/MassiveText quality-rule flags (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", App. A1.1) — the rule-based document filter every crawl
    * pipeline runs before model-based scoring. Per document:
    *
    *  - `r_word_count`: 50 ≤ words ≤ 100,000
    *  - `r_mean_word_len`: mean word length in [3, 10] characters
    *  - `r_symbol_ratio`: `#` chars / words < 0.1 AND `...` occurrences
    *    / words < 0.1 — the paper applies the 0.1 threshold to each
    *    symbol's ratio separately (App. A1.1), not to their sum
    *  - `r_alpha_words`: > 80% of words contain ≥ 1 letter
    *  - `r_stopwords`: ≥ 2 distinct hits from the paper's 8-stopword list
    *  - `keep` = conjunction of all five.
    *
    * (The paper's two line-shape rules — bullet-start and ellipsis-end
    * line ratios — need line structure the single-line testdata lacks;
    * [[Cleanse.removeBoilerplateLines]] covers the line tier.)
    *
    * Every signal is exact integer/boolean algebra or one IEEE division
    * — engine-portable, so the oracle replays flags bit-for-bit. Pure
    * per-row columns: zero shuffle at any corpus size. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherSignals(text: Column): Seq[(String, Column)] = {
    val toks = words(text)
    val nWords = size(toks).cast("long")
    val totLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x)
    val meanLen = totLen.cast("double") / greatest(nWords, lit(1L)).cast("double")
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val nEll = ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3)
      .cast("long")
    val hashRatio = nHash.cast("double") /
      greatest(nWords, lit(1L)).cast("double")
    val ellRatio = nEll.cast("double") /
      greatest(nWords, lit(1L)).cast("double")
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val swHits = gopherStopwords.map(w =>
      when(array_contains(toks, w), 1).otherwise(0)).reduce(_ + _)
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanLen,
      "hash_ratio" -> hashRatio,
      "ellipsis_ratio" -> ellRatio,
      "alpha_frac" -> (nAlpha.cast("double") /
        greatest(nWords, lit(1L)).cast("double")),
      "sw_hits" -> swHits,
      "r_word_count" -> (nWords >= 50L && nWords <= 100000L),
      "r_mean_word_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "r_symbol_ratio" -> (hashRatio < 0.1 && ellRatio < 0.1),
      "r_alpha_words" -> (nAlpha.cast("double") >
        lit(0.8) * nWords.cast("double")),
      "r_stopwords" -> (swHits >= 2))
  }

  /** [[gopherSignals]] as a per-document report with the conjunctive
    * `keep` verdict. */
  def gopherRules(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val sig = gopherSignals(col(textCol))
    val flags = sig.collect { case (n, c) if n.startsWith("r_") => c }
    docs.select(
      (col(idCol) +: sig.map { case (n, c) => c.as(n) }) :+
        flags.reduce(_ && _).as("keep"): _*)
  }

  /** Exact length-distribution quantiles per group — the report a
    * pipeline reads before picking truncation/packing lengths. DISCRETE
    * quantiles by explicit rank arithmetic (value at row ceil(p·n) in the
    * (value, id) total order) rather than any engine's quantile builtin:
    * interpolation conventions differ across engines, exact rank picks
    * don't — every reported value is a value that exists in the data, and
    * the computation is engine-portable integer arithmetic. One window
    * shuffle on the group key + one tiny aggregation. */
  def lengthQuantiles(docs: DataFrame, keyCol: String,
                      valueCol: String, idCol: String = "doc_id",
                      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(valueCol), col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val ranked = docs
      .select(col(keyCol), col(valueCol), col(idCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("rn") === ceil(col("p") * col("n")))
    val aggs = ps.map(p => max(when(col("p") === p, col(valueCol)))
      .as(s"q${(p * 100).round}"))
    ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document under the corpus bigram LM ([[bigramLmScore]]) and split
    * each LANGUAGE into exact fluency terciles — `head` (most fluent
    * third, what CCNet keeps unconditionally), `middle`, `tail`. CCNet
    * buckets per language because perplexity scales are not comparable
    * across languages; the tercile rule here is exact rank arithmetic
    * (`rn·3 ≤ n` / `rn·3 ≤ 2n` in the (score, id) total order — integer
    * portable, no quantile-interpolation convention to disagree on).
    *
    * Shape at 100 TB: the LM scoring is x51's bounded-aggregate shape;
    * the bucketing adds ONE per-lang window (range-partitioned sort — the
    * x24/x25 posture) over the doc-level score rows, which are corpus
    * row count, not token count. Docs with no bigram (< 2 tokens) have
    * no score and are not bucketed, matching x51's domain. */
  def perplexityBuckets(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id",
                        langCol: String = "lang"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("lm_score"), col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(langCol))
    bigramLmScore(docs, textCol, idCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col(idCol), col(langCol), col("lm_score"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Hashed linear text classifier — the fastText/DCLM quality-filter
    * SHAPE (bag of hashed unigram features · weight vector → mean →
    * sign), with the weight vector supplied as a deterministic function
    * of the bucket id so the whole path is engine-portable: feature
    * bucket `floorMod(mix64(fnv(t)), dim)` (the [[Similarity.hashEmbed]]
    * kernel), weight `mix64(b + GOLDEN) / 2^63 ∈ [−1, 1)` (the Bloom/Cms
    * probe stream as a pseudo-trained weight table — swap in real
    * trained weights as a literal map and nothing else changes). The
    * per-doc score folds bucket terms in bucket order, so the double sum
    * is bit-exact across partitionings (the x51 discipline).
    *
    * Shape at 100 TB: one (doc, bucket) count aggregate with map-side
    * partials (≤ min(tokens, dim) rows per doc), one per-doc aggregate;
    * the weight table is a column FORMULA, not a join — a real trained
    * vector rides as a broadcast literal the same way the ADC tables do. */
  def hashedLinearScore(docs: DataFrame, dim: Int = 65536,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(dim > 0, s"feature dim must be positive: $dim")
    val th = docs.select(col(idCol),
      explode(graft.functions.ShingleHashesAll(col(textCol), 1)).as("h"))
    val cnt = th
      .groupBy(col(idCol), pmod(col("h"), lit(dim.toLong)).as("b"))
      .agg(count(lit(1)).as("c"))
    val weight = graft.functions.HashExprs
      .mix64_add_col(col("b"), Bloom.GOLDEN)
      .cast("double") / lit(9.223372036854775808e18)
    cnt
      .withColumn("term", col("c").cast("double") * weight)
      .groupBy(col(idCol))
      .agg(sum("c").as("n_tokens"),
        aggregate(array_sort(collect_list(struct(col("b"), col("term")))),
          lit(0.0), (a, x) => a + x.getField("term")).as("tsum"))
      .select(col(idCol), col("n_tokens"),
        (col("tsum") / col("n_tokens").cast("double")).as("q_score"))
      .withColumn("label",
        when(col("q_score") >= 0.0, "keep").otherwise("drop"))
  }

  /** TRAINED quality model — full-batch logistic regression run INSIDE
    * the engine (the model-based filtering step of CCNet/DCLM pipelines,
    * here with the training loop itself distributed instead of imported):
    * features are engine-portable text signals (token count / 100,
    * English-stopword ratio, plus a bias), the label is a deterministic
    * supervision stand-in (`n_chars ≥ 300` — substitute any labeled
    * column and nothing else changes), and each of the `iters` Lloyd-style
    * rounds is ONE bounded aggregate: gradient components are
    * decimal-routed sums ([[graft.ops.Stable.sumD]]), so the learned
    * weights are bit-identical under any partitioning and replayable by
    * an independent engine step for step. Scoring folds the final
    * weights back as literals; probabilities round to 9 dp to absorb the
    * ≤1-ulp cross-engine `exp` difference (the F7 conic convention).
    *
    * Shape at 100 TB: per iteration, one narrow scan + a 4-number
    * partial+final aggregate to the driver (cache the feature projection
    * to pay the scan once); scoring is a zero-shuffle projection. Driver
    * state is 3 doubles — no vocabulary, no model table. */
  def trainLogisticQuality(docs: DataFrame, iters: Int = 8, lr: Double = 4.0,
                           textCol: String = "text",
                           idCol: String = "doc_id",
                           labelCol: String = "n_chars"): DataFrame = {
    require(iters >= 1 && lr > 0, s"need iters >= 1, lr > 0: $iters, $lr")
    val feats = logisticFeats(docs, textCol, idCol, Some(labelCol))
    val w = trainLogisticWeightsOn(feats, iters, lr)
    scoreLogisticOn(feats, w, idCol)
  }

  /** The feature projection [[trainLogisticQuality]] trains on —
    * ONE definition so the stored-model lifecycle (x206) trains and
    * scores on the identical columns. The label `y` is projected ONLY
    * when `labelCol` is given (the training path) — stored-model
    * scoring passes None, so it analyzes cleanly on label-free
    * corpora and streams. `checkpoint = true` materializes the frame
    * ONCE (localCheckpoint, the x45 discipline) for the training
    * loop, which re-reads it iters times — without this the corpus
    * scan would be paid 9×. Score-only consumers (one scan) and
    * STREAMS (where checkpointing is illegal) pass false. */
  private[ext] def logisticFeats(docs: DataFrame, textCol: String,
                                 idCol: String, labelCol: Option[String],
                                 checkpoint: Boolean = true): DataFrame = {
    val toks = tokens(col(textCol))
    val cols = col(idCol) +:
      (labelCol.map(lc =>
        when(col(lc) >= 300L, 1.0).otherwise(0.0).as("y")).toSeq ++ Seq(
        (size(toks).cast("double") / lit(100.0)).as("f1"),
        (size(filter(toks, t => t.isin(stopwords("en"): _*))).cast("double") /
          greatest(size(toks).cast("double"), lit(1.0))).as("f2")))
    val f = docs.select(cols: _*)
    if (checkpoint) f.localCheckpoint() else f
  }

  private def zOf(wv: Array[Double]) =
    lit(wv(0)) + lit(wv(1)) * col("f1") + lit(wv(2)) * col("f2")

  /** The full-batch GD loop on a prepared feature frame; returns the
    * trained (bias, w1, w2). Deterministic: decimal-routed gradients,
    * driver arithmetic in a fixed order. */
  private def trainLogisticWeightsOn(feats: DataFrame, iters: Int,
                                     lr: Double): Array[Double] = {
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 0 until iters) {
      val p = lit(1.0) / (lit(1.0) + exp(-zOf(w)))
      val r = feats.agg(
        graft.ops.Stable.sumD(p - col("y")).as("s0"),
        graft.ops.Stable.sumD((p - col("y")) * col("f1")).as("s1"),
        graft.ops.Stable.sumD((p - col("y")) * col("f2")).as("s2"),
        count(lit(1)).as("n")).head()
      val n = r.getLong(3).toDouble
      w = Array(
        w(0) - lr * (r.getDouble(0) / n),
        w(1) - lr * (r.getDouble(1) / n),
        w(2) - lr * (r.getDouble(2) / n))
    }
    w
  }

  private def scoreLogisticOn(feats: DataFrame, w: Array[Double],
                              idCol: String): DataFrame = {
    val p = lit(1.0) / (lit(1.0) + exp(-zOf(w)))
    feats.select(col(idCol), round(p, 9).as("p_keep"),
      (round(p, 9) >= 0.5).as("pred_keep"))
  }

  /** Train the logistic quality model and return the WEIGHTS —
    * the artifact the x206 safetensors lifecycle persists. */
  def trainLogisticWeights(docs: DataFrame, iters: Int = 8,
                           lr: Double = 4.0, textCol: String = "text",
                           idCol: String = "doc_id",
                           labelCol: String = "n_chars"): Array[Double] = {
    require(iters >= 1 && lr > 0, s"need iters >= 1, lr > 0: $iters, $lr")
    trainLogisticWeightsOn(
      logisticFeats(docs, textCol, idCol, Some(labelCol)), iters, lr)
  }

  /** Score documents under GIVEN logistic weights (e.g. reloaded from
    * a safetensors artifact) — the same zero-shuffle literal-fold
    * scoring [[trainLogisticQuality]] ends with; weights persisted as
    * raw F64 round-trip bit-exactly, so stored scoring ≡ inline. */
  def scoreLogisticQuality(docs: DataFrame, w: Array[Double],
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(w.length == 3, s"need 3 weights, got ${w.length}")
    // one scan, no checkpoint, NO label projection — valid on a
    // STREAM and on label-free corpora (the weights are given)
    scoreLogisticOn(
      logisticFeats(docs, textCol, idCol, None, checkpoint = false),
      w, idCol)
  }

  // ----------------------------------------------------------------- PII

  /** Per-document PII census + the scrubbed text. The patterns and the
    * scrub are [[Cleanse]]'s — ONE pattern set engine-wide
    * ([[Cleanse.EmailRe]]/[[Cleanse.Ipv4Re]]/[[Cleanse.PhoneRe]], the
    * Java/RE2-common subset, international `+`-prefixed phones only —
    * see [[Cleanse.redactPii]] for the bare-digit-run rationale), so
    * the audit this report feeds counts EXACTLY what the scrub removes;
    * two drifting scrubbers is how a pipeline ships un-redacted PII.
    *
    * Match counts per pattern are censused on the RAW text
    * independently (so an audit can distinguish "had an email" from
    * "had a phone" even when redaction order would hide one inside the
    * other); the `redacted` column is the sequential
    * [[Cleanse.redactPii]] (email → IP → phone, order part of the
    * contract). One projection, no shuffle — scan-bound at any corpus
    * size. */
  def piiReport(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      regexp_count(t, lit(Cleanse.EmailRe)).cast("long").as("n_email"),
      regexp_count(t, lit(Cleanse.Ipv4Re)).cast("long").as("n_ipv4"),
      regexp_count(t, lit(Cleanse.PhoneRe)).cast("long").as("n_phone"),
      Cleanse.redactPii(t).as("redacted"))
      .withColumn("n_pii", col("n_email") + col("n_ipv4") + col("n_phone"))
  }

  // -------------------------------------------- corpus-level line dedup

  /** Per-(doc, line) census view shared by [[lineBoilerplate]] and
    * [[repetitionSignals]]: [[Cleanse.lineTable]] (THE engine-wide
    * split/hash/position kernel — same FNV-1a line hash as
    * [[Cleanse.removeBoilerplateLines]]'s df machinery, so a census
    * here and a rewrite there can never disagree on line identity)
    * with the census policy `dropEmpty = true`, raw line text dropped.
    * Everything downstream groups and joins on the 64-bit `h`, never
    * on the line string — at 100 TB the line text stays in its scan
    * partition and only (id, pos, h, len) rides any exchange. */
  private def lineTable(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    Cleanse.lineTable(docs, textCol, idCol, "\n", dropEmpty = true)
      .drop("line")

  /** CCNet-style corpus-level boilerplate line removal (Wenzek et al.
    * 2020 dedup lines across shards; Penedo et al. 2023 RefinedWeb §3.3):
    * a line occurring in ≥ `minDf` DISTINCT documents is boilerplate
    * (nav menus, cookie banners, footers) and is dropped from every
    * document; the rest are kept. Returns the per-document census
    * `(id, n_lines, n_kept, kept_chars, boiler_chars, kept_digest)`
    * where `kept_digest` is the order-independent set digest
    * `bit_xor(h XOR pos)` over kept lines (pos-mixing defeats XOR
    * cancellation of a line repeated within one document; the x152
    * manifest discipline).
    *
    * Shape: one explode → one (id, h) partial+final collapse → one
    * (h)-keyed doc count → one (h)-keyed equi-join back → one
    * (id)-keyed agg. The corpus-sized line derivation (re-lining,
    * split, FNV hashes) runs ONCE: every per-line statistic the census
    * publishes distributes exactly over (id, h) groups — counts and
    * char masses are sums, the digest is an XOR (associative,
    * commutative), and `line_df = countDistinct(id) per h` is a plain
    * count over the collapsed groups — so the frequency table and the
    * join-back both read the SAME group aggregate, whose exchange
    * ReuseExchange pays once (the historical shape derived the line
    * table twice: once under the countDistinct expand, once under the
    * join). The line FREQUENCY table is line-cardinality-sized, the
    * join is hash-partitioned on a 64-bit key — nothing all-pairs, no
    * raw-string exchange; the one skew risk (the empty/near-empty
    * mega-line) is removed up front by the trim-empty filter. 64-bit
    * collisions conflate two lines' frequencies (never corrupt a
    * digest asymmetrically) — at 10¹⁰ distinct lines the birthday
    * term is ~3·10⁻⁶ per line, documented as acceptable for a
    * keep/drop frequency gate. */
  def lineBoilerplate(docs: DataFrame, minDf: Long = 5L,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val lines = lineTable(docs, textCol, idCol)
    // per-(doc, line-hash) collapse: every downstream statistic is a
    // sum/XOR over these groups, bit-identical to the per-line form
    val grp = lines.groupBy(col(idCol), col("h"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("len")).as("len_sum"),
        bit_xor(col("h").bitwiseXOR(col("pos"))).as("dig"))
    val freq = grp.groupBy("h")
      .agg(count(lit(1)).as("line_df"))
    val kept = col("line_df") < lit(minDf)
    grp.join(freq, "h")
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_lines"),
        sum(when(kept, col("cnt")).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("len_sum")).otherwise(0L)).as("kept_chars"),
        sum(when(kept, lit(0L)).otherwise(col("len_sum")))
          .as("boiler_chars"),
        coalesce(bit_xor(when(kept, col("dig"))), lit(0L))
          .as("kept_digest"))
  }

  // ------------------------------------------- within-doc repetition

  /** Gopher repetition signals (Rae et al. 2021, Appendix A1.1) — the
    * WITHIN-document repetition gates that catch auto-generated and
    * template text exact/fuzzy dedup never sees (corpus dedup compares
    * documents to each other; these compare a document to itself):
    *
    *  - `dup_line_frac`     = 1 − distinct lines / lines
    *  - `dup_line_char_frac`= chars on repeat occurrences of a line /
    *                          total line chars (first occurrence free)
    *  - `top2_gram`, `top2_frac` = the most frequent word 2-gram and
    *    `count·len(gram) / len(text)` — the character share the single
    *    dominant 2-gram would cover. Tie on count → lexicographically
    *    LARGEST gram (total order, engine-portable).
    *  - `r_dup_line` (≤ 0.30), `r_top2` (≤ 0.20), `keep` — Gopher's
    *    published thresholds as flags.
    *
    * Shape: the line half is two hash-aggs keyed (id, h) then (id); the
    * 2-gram half explodes grams → (id, gram) counts → per-doc max →
    * one argmax join. All keys carry the doc id, so every exchange is
    * doc-partitioned — no corpus-global state, skew bounded by the
    * longest single document. */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    // --- duplicate lines
    val perLine = lineTable(docs, textCol, idCol)
      .groupBy(id, col("h"))
      .agg(count(lit(1)).as("cnt"), first(col("len")).as("len"))
    val lineSig = perLine.groupBy(id).agg(
      sum(col("cnt")).as("n_lines"),
      count(lit(1)).as("n_distinct_lines"),
      sum(col("cnt") * col("len")).as("line_chars"),
      sum((col("cnt") - lit(1L)) * col("len")).as("dup_chars"))
    // --- dominant word 2-gram (empty tokens filtered: a leading-
    // whitespace split yields a spurious "" token that would mint a
    // fake ' word' gram and inflate the token count). The token array
    // binds to a column in its OWN projection below the Generate, and
    // grams pair via arrays_zip over two slices — the knScore shape.
    // (An element_at(toks, i) inside a transform() lambda re-evaluates
    // the whole split/filter chain per element access — measured 2-3x
    // the runtime of this zip on the same corpus.)
    val pre = docs.select(id,
      length(col(textCol)).cast("long").as("n_chars"),
      words(col(textCol)).as("toks"))
    val nTok = size(col("toks"))
    val grams = pre.select(id, col("n_chars"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), greatest(nTok - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(nTok - 1, lit(0)))))
          .as("bg"))
      .select(id, col("n_chars"),
        concat_ws(" ", col("bg.0"), col("bg.1")).as("gram"))
      .groupBy(id, col("n_chars"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val mx = grams.groupBy(id).agg(max(col("cnt")).as("mx"))
    val top = grams.join(mx, idCol)
      .filter(col("cnt") === col("mx"))
      .groupBy(id, col("n_chars"), col("mx"))
      .agg(max(col("gram")).as("top2_gram"))
    // LEFT join: a <2-token document has no 2-gram but its line-half
    // signals are still census-worthy — it surfaces with null gram
    // columns and a trivially-passing top2 gate. (A doc with no
    // non-empty lines has no signals on either half and is absent.)
    lineSig.join(top, Seq(idCol), "left")
      .select(id,
        col("n_lines"),
        (lit(1.0) - col("n_distinct_lines").cast("double") /
          col("n_lines").cast("double")).as("dup_line_frac"),
        (col("dup_chars").cast("double") /
          col("line_chars").cast("double")).as("dup_line_char_frac"),
        col("top2_gram"),
        (col("mx").cast("double") * length(col("top2_gram")).cast("double") /
          col("n_chars").cast("double")).as("top2_frac"))
      .withColumn("r_dup_line", col("dup_line_frac") <= 0.30)
      .withColumn("r_top2", coalesce(col("top2_frac") <= 0.20, lit(true)))
      .withColumn("keep", col("r_dup_line") && col("r_top2"))
  }
}
