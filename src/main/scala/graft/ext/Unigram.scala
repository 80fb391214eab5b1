package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece family — Kudo 2018, "Subword
  * Regularization"): the OTHER major subword algorithm next to BPE.
  * Where BPE grows a vocabulary bottom-up by merging, unigram starts
  * from a large seed of candidate substrings and fits a unigram language
  * model over pieces by EM, pruning pieces the model stops using;
  * tokenization is the Viterbi (max-likelihood) segmentation.
  *
  * This implementation is the hard-EM (Viterbi-EM) variant: the E-step
  * uses the single best segmentation per word instead of the full
  * forward–backward lattice expectation, and pruning drops exactly the
  * pieces with zero Viterbi count (single-character pieces are never
  * dropped and their count floors at 1, so every word stays segmentable
  * — Kudo's "required characters" rule). Hard-EM is the documented
  * simplification; the fitted vocabulary converges to the same shape on
  * corpora without heavy segmentation ambiguity.
  *
  * DETERMINISM — every score is a SCALED-INTEGER log-prob:
  * `lp = halfAway(ln(count/total) * 1e9)` (one libm `ln`, one IEEE
  * division, one half-away-from-zero rounding — the suite's 9-dp ln
  * rule, stored ×1e9 as a BIGINT). The Viterbi DP then sums BIGINTs, so
  * path scores, comparisons, and tie-breaks are EXACT in any engine —
  * the DuckDB oracle replays the whole trainer (seed census, top-K cut,
  * both EM rounds as recursive-CTE Viterbi chains in lockstep over the
  * word census) and reproduces the vocabulary bit-for-bit. Ties in the
  * DP take the SMALLEST last-piece length; the seed cut ranks
  * (freq DESC, piece ASC).
  *
  * UNIT CONTRACT: positions, lengths, and substrings are UTF-16 code
  * units (the JVM string model). For BMP text — every fixture corpus —
  * these coincide with code points in both engines; supplementary-plane
  * text (emoji, rare CJK) would segment on surrogate boundaries, so a
  * corpus carrying it belongs on the byte-level BPE path
  * ([[TextOps.trainByteBpeMergesFast]]), which is unit-exact for ALL of
  * Unicode by construction.
  *
  * 100 TB shape: ONE corpus job (the occurrence-weighted distinct-word
  * census — the same scan [[TextOps.trainBpeMergesFast]] rides), then
  * driver compute bounded by census size × maxPieceLen. The census
  * itself is BOUNDED before the collect by `minCount` (the Zipf-tail
  * cut [[TextOps.trainBpeMergesFast]] documents — words above the
  * threshold number ≤ corpus_tokens/minCount) and optionally
  * `maxCensusWords` (SentencePiece's seed_sentencepiece_size top-M
  * cap), so the driver never holds an unbounded word table.
  * Words longer than `maxWordLen` are excluded from the census — the
  * standard guard against pathological unbroken blobs. The E-step is
  * embarrassingly parallel over census words if the census outgrows the
  * driver (mapPartitions with the piece table broadcast); at fixture
  * vocabulary sizes the driver loop is faster than a job launch.
  */
object Unigram {

  /** Half-away-from-zero to integer — DuckDB's round() semantics, which
    * plain `math.round` (half-up, toward +inf) gets WRONG for the
    * negative log-probs this trainer emits. The one driver-side rounding
    * of scaled logs (also [[TextOps.heapsFit]]'s log-log points). */
  private[ext] def halfAway(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  /** `halfAway(ln(c/t) * 1e9)` — the scaled-integer log-prob. ONE
    * parenthesization, mirrored verbatim by the oracle:
    * `ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1e9`. */
  private def lnScaled(c: Long, t: Long): Long =
    halfAway(math.log(c.toDouble / t.toDouble) * 1e9)

  /** Viterbi segmentation of one word under integer log-probs: maximize
    * the BIGINT path score; ties take the smallest last-piece length
    * (the ascending-l sweep with strict `>` replacement). Returns the
    * pieces right-to-left (backtrack order — only counts consume this).
    * Words with a character outside `lp` fall back to one piece per
    * character (cannot happen when segmenting the training corpus —
    * its single chars are never pruned). */
  def viterbi(word: String, lp: collection.Map[String, Long],
              maxPieceLen: Int): Seq[String] = {
    val n = word.length
    val best = new Array[Long](n + 1)
    val reach = new Array[Boolean](n + 1)
    val bl = new Array[Int](n + 1)
    reach(0) = true
    var i = 1
    while (i <= n) {
      var l = 1
      val lMax = math.min(maxPieceLen, i)
      while (l <= lMax) {
        if (reach(i - l)) lp.get(word.substring(i - l, i)) match {
          case Some(p) =>
            val s = best(i - l) + p
            if (bl(i) == 0 || s > best(i)) { best(i) = s; bl(i) = l }
          case None =>
        }
        l += 1
      }
      reach(i) = bl(i) != 0
      i += 1
    }
    if (!reach(n)) return word.map(_.toString)
    val out = List.newBuilder[String]
    var pos = n
    while (pos > 0) { out += word.substring(pos - bl(pos), pos); pos -= bl(pos) }
    out.result()
  }

  /** The occurrence-weighted word census: ONE corpus scan, with the
    * [[TextOps.trainBpeMergesFast]] driver-memory bounds. `minCount`
    * cuts the Zipf tail BEFORE the collect — distinct words grow
    * Heaps-law sublinear, but at 100 TB "sublinear" is still billions,
    * while words above any fixed count threshold are bounded by
    * corpus_tokens/minCount and in practice by the ~10^6-word shape of
    * natural language (SentencePiece's own default pipeline applies
    * exactly this cut). `maxCensusWords > 0` additionally keeps only
    * the top-M words (count DESC, word ASC — deterministic ties), the
    * seed cap SentencePiece calls seed_sentencepiece_size. Both
    * default OFF so the fixture vocabulary is bit-identical to the
    * unbounded census. */
  private def census(docs: DataFrame, textCol: String, maxWordLen: Int,
                     minCount: Long, maxCensusWords: Int)
  : Map[String, Long] = {
    var c = docs.select(explode(filter(TextOps.tokens(col(textCol)),
        t => length(t) > 0 && length(t) <= maxWordLen)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    if (minCount > 1L) c = c.filter(col("n") >= minCount)
    if (maxCensusWords > 0)
      c = c.orderBy(col("n").desc, col("w").asc).limit(maxCensusWords)
    c.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Train: returns the final vocabulary as (piece, count, lpScaled),
    * sorted by piece. `minCount`/`maxCensusWords` bound the driver
    * census (see [[census]]); the defaults replay the historical
    * unbounded trainer bit-for-bit. */
  def train(docs: DataFrame, topMulti: Int = 32, maxPieceLen: Int = 4,
            rounds: Int = 2, maxWordLen: Int = 64,
            textCol: String = "text", minCount: Long = 1L,
            maxCensusWords: Int = 0): Seq[(String, Long, Long)] = {
    val cen = census(docs, textCol, maxWordLen, minCount, maxCensusWords)
    // seed: every substring len 1..maxPieceLen, all start positions
    val seedF = collection.mutable.HashMap.empty[String, Long]
    cen.foreach { case (w, n) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        val lMax = math.min(maxPieceLen, w.length - i)
        while (l <= lMax) {
          val p = w.substring(i, i + l)
          seedF.update(p, seedF.getOrElse(p, 0L) + n)
          l += 1
        }
        i += 1
      }
    }
    val chars = seedF.filter(_._1.length == 1)
    val multi = seedF.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, f) => (-f, p) }.take(topMulti)
    var counts: Map[String, Long] = (chars ++ multi).toMap
    var total = counts.valuesIterator.sum
    var lp: Map[String, Long] =
      counts.map { case (p, f) => p -> lnScaled(f, total) }
    var r = 0
    while (r < rounds) {
      val cnt = collection.mutable.HashMap.empty[String, Long]
      cen.foreach { case (w, n) =>
        viterbi(w, lp, maxPieceLen)
          .foreach(p => cnt.update(p, cnt.getOrElse(p, 0L) + n))
      }
      counts = lp.keysIterator.flatMap { p =>
        val c = cnt.getOrElse(p, 0L)
        if (p.length == 1) Some(p -> math.max(c, 1L))
        else if (c > 0) Some(p -> c) else None
      }.toMap
      total = counts.valuesIterator.sum
      lp = counts.map { case (p, c) => p -> lnScaled(c, total) }
      r += 1
    }
    counts.keysIterator.toSeq.sorted.map(p => (p, counts(p), lp(p)))
  }

  /** Trained vocabulary as a DataFrame — the x196 surface. */
  def trainReport(spark: SparkSession,
                  vocab: Seq[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    vocab.toDF("piece", "count", "lp_scaled")
  }

  /** Apply: per-document fertility report under a trained vocabulary —
    * n_words (census-eligible words), n_pieces (Viterbi pieces), and
    * fertility = pieces per word. The piece table rides a broadcast
    * into one scan-stage UDF over the token array — zero exchange;
    * documents with no eligible words are dropped. */
  def report(docs: DataFrame, vocab: Seq[(String, Long, Long)],
             maxPieceLen: Int = 4, maxWordLen: Int = 64,
             textCol: String = "text"): DataFrame = {
    val lpMap: Map[String, Long] =
      vocab.map { case (p, _, l) => p -> l }.toMap
    val seg = udf((ws: Seq[String]) => {
      var np = 0L
      ws.foreach(w => np += viterbi(w, lpMap, maxPieceLen).length)
      np
    })
    val ws = filter(TextOps.tokens(col(textCol)),
      t => length(t) > 0 && length(t) <= maxWordLen)
    docs.select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        seg(col("ws")).as("n_pieces"))
      .withColumn("fertility",
        col("n_pieces").cast("double") / col("n_words").cast("double"))
  }
}
