package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps.tokens

/** The SEQUENTIAL BPE trainers: one Spark job per merge round. They are
  * the reference the one-pass trainers
  * ([[TextOps.trainBpeMergesFast]] / [[TextOps.trainByteBpeMergesFast]])
  * are pinned bit-identical against in BpeSpec and ByteBpeSpec; the
  * engine itself trains through the one-pass forms. */
object SequentialBpe {

  /** One left-to-right merge pass of the rule (p1, p2) over a symbol
    * array — the Column image of [[graft.functions.BpeKernel]]'s inner
    * loop and the exact twin of the oracle's list_reduce fold: the
    * accumulator ends with p1 and the next element is p2 → replace the
    * tail with the merged symbol (which can never itself be the left of
    * the same rule, so one pass suffices). */
  private def applyMergePass(syms: Column, p1: String, p2: String): Column =
    aggregate(
      transform(syms, s => array(s)),
      array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === p1 && element_at(x, 1) === p2,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(p1 + p2))))
        .otherwise(concat(acc, x)))

  /** TRAIN a BPE merge table FROM the corpus, inside the engine — the
    * tokenizer-training step itself distributed (the x85/x90 discipline
    * promoted to subword vocabularies; Sennrich 2016's learning loop):
    * start from the per-word character sequences, and per round pick
    * the adjacent symbol pair with the highest occurrence-weighted
    * count — ties broken on (pair) ascending, a total order — then
    * merge it everywhere. Returns the rules in training order with
    * their counts; the result is well-formed by construction, so
    * [[TextOps.bpeSubwords]] re-tokenizes with it directly.
    *
    * Every round is ONE bounded aggregate: pair counts collapse
    * map-side (keyed by symbol pair — vocabulary-bounded, not corpus-
    * bounded), a 1-row argmax reaches the driver, and the merge applies
    * to the DISTINCT-word state (localCheckpoint per round, the x45
    * lineage discipline). The corpus is scanned ONCE (the initial
    * word census); all `nMerges` rounds run over the vocabulary table,
    * whose size is Heaps-law sublinear in corpus size. Integer counts +
    * total-order argmax ⇒ the learned table is bit-identical under any
    * partitioning, replayable rule for rule by an independent engine. */
  def trainBpeMerges(docs: DataFrame, nMerges: Int,
                     textCol: String = "text")
      : Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"need nMerges >= 1: $nMerges")
    val vocab = docs
      .select(explode(filter(tokens(col(textCol)), t => length(t) > 0))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("m"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      .localCheckpoint()
    trainMergesFromVocab(vocab, nMerges)
  }

  /** BYTE-level sibling of [[trainBpeMerges]]: the vocabulary is the
    * corpus' DISTINCT GPT-2 pre-tokens (occurrence-weighted), the
    * initial state is each pre-token's UTF-8 byte sequence, and the
    * SAME learning loop runs over byte symbols — this is literally how
    * GPT-2-family vocabularies are trained (Sennrich's loop over
    * Radford's byte alphabet). The learned table is well-formed by
    * construction and feeds [[TextOps.byteBpeReport]] directly. */
  def trainByteBpeMerges(docs: DataFrame, nMerges: Int,
                         textCol: String = "text")
      : Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"need nMerges >= 1: $nMerges")
    val vocab = docs
      .select(explode(graft.functions.Gpt2Pretokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("m"))
      .withColumn("syms", graft.functions.ByteSymsExpr(col("w")))
      .localCheckpoint()
    trainMergesFromVocab(vocab, nMerges)
  }

  /** The shared Sennrich learning loop over a (w, m, syms) vocabulary
    * state: per round ONE vocabulary-bounded pair-count aggregate, a
    * 1-row total-order argmax (cnt desc, then (p1, p2) ascending —
    * for byte symbols the Latin-1 string order IS the byte-list
    * lexicographic order, so the oracle's INT[]-list ORDER BY matches
    * exactly), then one merge pass over the distinct state. */
  private def trainMergesFromVocab(vocab0: DataFrame, nMerges: Int)
      : Seq[(String, String, Long)] = {
    var vocab = vocab0
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var dry = false
    while (r < nMerges && !dry) {
      val n1 = greatest(size(col("syms")) - 1, lit(0))
      val top = vocab
        .select(col("m"), explode(arrays_zip(
          slice(col("syms"), lit(1), n1),
          slice(col("syms"), lit(2), n1))).as("pr"))
        .select(col("pr.0").as("p1"), col("pr.1").as("p2"), col("m"))
        .groupBy("p1", "p2").agg(sum("m").as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1)
        .collect()
      if (top.isEmpty) dry = true
      else {
        val (p1, p2, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((p1, p2, cnt))
        vocab = vocab
          .withColumn("syms", applyMergePass(col("syms"), p1, p2))
          .localCheckpoint()
        r += 1
      }
    }
    out.toSeq
  }

}
