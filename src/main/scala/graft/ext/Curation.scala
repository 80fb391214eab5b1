package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and training: benchmark-contamination detection,
  * deterministic sampling, and repetition-based quality filtering.
  *
  * Scale shapes: the benchmark set in [[contamination]] is eval-benchmark
  * sized (thousands of docs), so its shingle set broadcasts and the only
  * shuffle is the per-doc re-aggregation; [[hashSample]] is a pure filter
  * (no shuffle, no RNG state — reproducible across retries, executors, and
  * engine versions); [[repetitionRatio]] is pure column algebra over the
  * native ShingleHashes expression.
  */
object Curation {

  /** Benchmark-contamination check: for every document, the fraction of
    * its distinct k-gram shingles that appear anywhere in `benchmark` —
    * the standard train/eval overlap audit (an n-gram analogue of the
    * GPT-3/PaLM "13-gram overlap" decontamination reports). Hash-based:
    * both sides shingle through the native 64-bit ShingleHashes path, so
    * membership tests compare longs, not strings (collision odds
    * ~n·k/2^64 — immaterial to counts at any realistic corpus size).
    *
    * Output: one row per input doc — doc_id, n_sh (distinct shingles),
    * n_hit (shingles also present in the benchmark), contamination
    * (n_hit/n_sh). Docs whose shingle set is empty are dropped (no
    * meaningful ratio exists).
    *
    * 100 TB posture: the benchmark shingle set is DISTINCT'd then
    * broadcast — a left join against a broadcast hash table plus one
    * hash-partitioned re-aggregation on doc_id. The corpus side never
    * shuffles its text, only (doc_id, shingle-long) pairs. The same call
    * gates a STREAM: the benchmark side is static and bounded (a
    * stream-static join, no watermark), and the per-doc re-aggregation
    * is the plan's one stateful operator. */
  def contamination(docs: DataFrame, benchmark: DataFrame,
                    shingleK: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(Dedup.tokenHashes(col("text"), shingleK)).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1L))
    shinglePairs(docs, shingleK, "text", "doc_id")
      .join(broadcast(benchShingles), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(first("n_sh").as("n_sh"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_sh"))
  }

  /** n-gram novelty — the memorization/duplication audit (the WIMBD
    * "how much of this corpus is unique text" analysis, Elazar et al.
    * 2023): for every document, the fraction of its distinct k-gram
    * shingles that occur in NO other document. Low novelty marks docs
    * assembled from corpus-common text (boilerplate, mirrors, spam
    * spinners) — the doc-level complement of [[contamination]]'s
    * benchmark-level audit, on the same 64-bit shingle machinery.
    * Docs with fewer than k tokens have no shingles and are dropped.
    *
    * 100 TB posture (the x33 line-census shape): only (doc_id,
    * shingle-long) pairs ride the exchanges; the df table is ONE
    * shingle-keyed count bounded by distinct-gram cardinality, both
    * join sides canonicalize to the same exchange, and the re-agg is
    * doc-keyed — nothing all-pairs, no text on the wire. */
  def ngramNovelty(docs: DataFrame, shingleK: Int = 5,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val pairs = shinglePairs(docs, shingleK, textCol, idCol)
    // per-doc shingle sets are distinct, so count(*) = distinct docs
    val dfq = pairs.groupBy("shingle").agg(count(lit(1)).as("df"))
    pairs.join(dfq, "shingle")
      .groupBy(idCol)
      .agg(first("n_sh").as("n_sh"),
           sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_sh"))
  }

  /** One `(idCol, n_sh, shingle)` row per distinct k-gram shingle of
    * each document, `n_sh` its distinct-shingle count — the corpus side
    * of [[contamination]] and [[ngramNovelty]]. */
  private def shinglePairs(docs: DataFrame, k: Int, textCol: String,
                           idCol: String): DataFrame =
    docs.select(col(idCol), Dedup.tokenHashes(col(textCol), k).as("hs"))
      .select(col(idCol), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("shingle"))

  /** Token-distribution drift between two corpus snapshots — the
    * monitoring report a recurring-ingest pipeline alerts on (a crawl
    * whose unigram distribution lurches between months usually means a
    * scraper regression or a spam flood, not the web changing): add-one
    * smoothed KL(new‖old) over the union vocabulary, reported as the
    * top-`topK` contributing terms plus the corpus-wide total on every
    * row. Contributions are 9-dp rounded (the ln() libm rule) and the
    * total folds through the decimal route ([[graft.ops.Stable]]) so it
    * is order-independent; ties at the cut break on the term.
    *
    * Shape at 100 TB: one term-keyed census (map-side partials, bounded
    * by vocabulary size), the totals and the KL sum each ONE aggregated
    * row broadcast back, and the cut is TakeOrderedAndProject — the
    * corpora never shuffle their text. */
  def tokenDrift(oldDocs: DataFrame, newDocs: DataFrame, topK: Int = 20,
                 textCol: String = "text"): DataFrame = {
    def terms(df: DataFrame, snap: Int) = df.select(
      explode(TextOps.words(col(textCol))).as("term"), lit(snap).as("snap"))
    val census = terms(oldDocs, 0).unionByName(terms(newDocs, 1))
      .groupBy("term")
      .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("c_old"),
           sum(when(col("snap") === 1, 1L).otherwise(0L)).as("c_new"))
    val totals = census.agg(
      sum("c_old").as("n_old"), sum("c_new").as("n_new"),
      count(lit(1)).as("v"))
    val p = (col("c_new") + 1).cast("double") /
      (col("n_new") + col("v")).cast("double")
    val q = (col("c_old") + 1).cast("double") /
      (col("n_old") + col("v")).cast("double")
    val scored = census.crossJoin(broadcast(totals))
      .withColumn("contribution", round(p * log(p / q), 9))
    val klRow = scored.agg(
      round(graft.ops.Stable.sumD(col("contribution"), 12), 6).as("kl_total"))
    scored.crossJoin(broadcast(klRow))
      .orderBy(col("contribution").desc, col("term"))
      .limit(topK)
      .select("term", "c_old", "c_new", "contribution", "kl_total")
  }

  /** Deterministic hash-based sampling: keep a document iff
    * pmod(mix64(doc_id), den) < num — an exact num/den-rate sample that is
    * reproducible across runs, retries, partitionings, and engines
    * (splitmix64 is a published spec; no RNG state, no seed plumbing).
    * This is how a production pipeline pins a dev subset or an ablation
    * split of a 100 TB corpus: pure narrow filter, pushed to the scan,
    * zero shuffles. */
  def hashSample(docs: DataFrame, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"bad sample rate $num/$den")
    docs.filter(coin(col("doc_id"), lit(den.toLong)) < num.toLong)
  }

  /** The splitmix64 coin every deterministic sampler here draws:
    * `mix64(id)` folded into [0, modulus) by signed pmod; a sampler
    * keeps a row iff its coin falls below the row's threshold. */
  private def coin(id: Column, modulus: Column): Column =
    pmod(graft.functions.HashExprs.mix64_col(id), modulus)

  /** Deterministic stratified sample: the `perStratum` documents of each
    * stratum (source/domain/language) that rank first by splitmix64 of
    * their id — equal-count domain mixing with the same reproducibility
    * guarantees as [[hashSample]] (no RNG state; the picked set is stable
    * across runs, engines, and partitionings, and growing a stratum only
    * appends to its pick order, it never reshuffles it). One shuffle, on
    * the stratum key; rank is a window row_number with a unique
    * (hash, id) tiebreak so the cut is total-order deterministic.
    *
    * 100 TB note: a single giant stratum serializes into one window
    * partition — acceptable when strata are domains/sources (thousands of
    * docs each); for pathological strata sizes, pre-filter with
    * [[hashSample]] at a rate that over-samples `perStratum` and rank the
    * survivors. */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       perStratum: Int,
                       idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(graft.functions.HashExprs.mix64_col(col(idCol)),
               col(idCol))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perStratum)
      .drop("rk")
  }

  /** Contamination-safe train split — the split-hygiene step run before
    * training (the GPT-3/Pile convention: benchmark/eval material is
    * removed from train at the NEAR-DUP level, not just exact matches,
    * because a paraphrased eval document leaks just as hard): given a
    * deterministic eval partition, drop from train every document that
    * near-duplicates ANY eval document (exact-verified jaccard ≥
    * `minJaccard`), and return the surviving train corpus.
    *
    * Machinery is the proven incremental-dedup shape
    * ([[Dedup.incrementalVerifiedDups]] with eval as the stored index):
    * banding probe side = train, candidates exact-verified, and only
    * eval↔train pairs feed the drop list (train-internal near-dups are
    * dedup's business, not the split's). One anti-join back.
    *
    * 100 TB posture: eval is benchmark-sized, so its banded keys and
    * hash sets are small; train contributes the banding probe and one
    * anti-join — the same costs x42 already pays. */
  def decontaminatedTrainSplit(docs: DataFrame, isEval: org.apache.spark.sql.Column,
                               minJaccard: Double = 0.5): DataFrame = {
    val evalDocs = docs.filter(isEval)
    val train = docs.filter(!isEval)
    val pairs = Dedup.incrementalVerifiedDups(
      Dedup.minhashIndex(evalDocs), train, minJaccard = minJaccard)
    val drop = pairs
      .join(evalDocs.select(col("doc_id").as("doc_a")), "doc_a")
      .select(col("doc_b").as("doc_id")).distinct()
    train.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Deterministic training-order shuffle + sharding — the global
    * reorder a pipeline runs before sequence packing so training never
    * consumes documents in crawl/source order (adjacent near-identical
    * pages poison gradient batches). Two INDEPENDENT splitmix64 streams:
    * `shard = mix64(doc_id) mod nShards` balances shards, and the order
    * WITHIN a shard follows the composed `mix64(mix64(doc_id))` —
    * decorrelated from the shard hash (composition, not addition:
    * Catalyst's ANSI Add would throw on extreme ids, the native
    * expression wraps like every hash). No RNG state: the same corpus shuffles
    * identically on every run, engine, partitioning, and retry, and the
    * (hash, doc_id) tiebreak makes the order a total one.
    *
    * 100 TB posture: one shuffle (the window on the shard key); shard
    * sizes are binomially tight around n/nShards, so pick nShards to cap
    * the per-shard window partition (e.g. corpus/nShards ~ 10M docs). */
  def shuffleShards(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val h1 = graft.functions.HashExprs.mix64_col(col("doc_id"))
    val h2 = graft.functions.HashExprs.mix64_col(h1)
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))
    docs.select(col("doc_id"),
        pmod(h1, lit(nShards.toLong)).as("shard"), h2.as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Sequence packing — assign documents to fixed-token-budget packs for
    * training (the "pack to context length" step): within each shard
    * (source/domain), documents are taken in deterministic id order and a
    * document starts in the pack its running token count lands in:
    * `pack_id = (cumsum_before_this_doc) div budget`. This is contiguous
    * packing, not bin packing — a doc may straddle a budget boundary (the
    * consumer truncates or spills), in exchange for a shape that is pure
    * window algebra: one shuffle on the shard key, a cumulative sum, an
    * integer division. A true first-fit recurrence would need a
    * sequential pass per shard (flatMapGroups) and buys <1 budget of
    * wasted tail per pack over this.
    *
    * Deterministic: (shard, doc_id) is a total order, integer arithmetic
    * only — the same doc lands in the same pack on every engine. */
  def packSequences(docs: DataFrame, shardCol: String, budget: Long,
                    textCol: String = "text",
                    tokenCount: Column => Column = TextOps.tokenCount)
      : DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val w = Window.partitionBy(col(shardCol)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col(shardCol),
              tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        expr(s"(cum - n_tokens) DIV $budget"))
      .select("doc_id", shardCol, "n_tokens", "pack_id")
  }

  /** Length-bucketed batching report — the dynamic-batching question
    * (padding waste): eval and SFT loaders pad every sequence in a
    * batch to the batch maximum, so batching similar lengths together
    * is the lever. Documents bucket by `n_tokens div bucketWidth`,
    * batch in deterministic doc_id order within (shard, bucket), and
    * each batch's waste is `count·max − Σ len`. The per-(shard,bucket)
    * rollup carries the same-shard BASELINE waste (id-ordered batching
    * that ignores length) so the report prices the bucketing directly.
    *
    * Shape: two windows partitioned by (shard, bucket) and (shard) —
    * the [[packSequences]] skew contract (one shard's docs per
    * partition); output rows = shard × bucket count. */
  def lengthBatching(docs: DataFrame, shardCol: String = "source",
                     batchSize: Int = 8, bucketWidth: Int = 16,
                     textCol: String = "text"): DataFrame = {
    require(batchSize > 0 && bucketWidth > 0, "positive batch/bucket sizes")
    val base = docs.select(col(shardCol), col("doc_id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("nt"))
      .withColumn("bucket", expr(s"CAST(nt DIV $bucketWidth AS INT)"))
    def wasteOf(df: DataFrame, parts: Seq[String], out: String) = {
      df.withColumn("batch",
          expr(s"CAST((ROW_NUMBER() OVER (PARTITION BY ${parts.mkString(", ")} " +
               s"ORDER BY doc_id) - 1) DIV $batchSize AS INT)"))
        .groupBy((parts.map(col) :+ col("batch")): _*)
        .agg(count(lit(1)).as("cnt"), max("nt").as("mx"), sum("nt").as("sm"))
        .withColumn(out, col("cnt") * col("mx") - col("sm"))
    }
    val bucketed = wasteOf(base, Seq(shardCol, "bucket"), "waste")
      .groupBy(shardCol, "bucket")
      .agg(sum("cnt").as("n_docs"), count(lit(1)).as("n_batches"),
           sum("waste").as("waste_tokens"))
    val baseline = wasteOf(base, Seq(shardCol), "waste")
      .groupBy(shardCol)
      .agg(sum("waste").as("baseline_waste_tokens"))
    bucketed.join(broadcast(baseline), shardCol)
      .select(col(shardCol), col("bucket").cast("long").as("bucket"),
        col("n_docs"), col("n_batches"), col("waste_tokens"),
        col("baseline_waste_tokens"))
  }

  /** Per-source DATA CARD — the datasheet rollup every corpus release
    * ships (Gebru et al. 2021's "Datasheets for Datasets"; the model-
    * card data section): document and token mass, declared-language
    * spread with its entropy, and the Gopher-gate pass rate, one row
    * per source. The entropy folds ascending by language (the x183
    * replay-order rule, 6-dp rounded); the pass fraction is an exact
    * integer division. Two bounded aggregations — (source, lang) then
    * source — plus the per-doc gopher flags fused into the scan. */
  def dataCard(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val keep = TextOps.gopherRules(docs, textCol)
      .select(col("doc_id"), col("keep"))
    val base = docs.select(col("source"), col("lang"), col("doc_id"),
        size(TextOps.words(col(textCol))).cast("long").as("nt"),
        length(col(textCol)).cast("long").as("nc"))
      .join(keep, "doc_id")
    val perLang = base.groupBy("source", "lang")
      .agg(count(lit(1)).as("c"), sum("nt").as("nt"), sum("nc").as("nc"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("nk"))
    val langs = array_sort(collect_list(struct(col("lang"), col("c"))))
    val s = aggregate(col("ls"), lit(0.0),
      (acc, x) => acc + x.getField("c").cast("double") *
        log(x.getField("c").cast("double")))
    perLang.groupBy("source")
      .agg(sum("c").as("n_docs"), sum("nt").as("n_tokens"),
           sum("nc").as("n_chars"), count(lit(1)).as("n_langs"),
           sum("nk").as("n_keep"), langs.as("ls"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_langs"),
        round((log(col("n_docs").cast("double")) -
          s / col("n_docs").cast("double")) /
          log(lit(2.0)), 6).as("lang_entropy"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("gopher_keep_frac"))
  }

  /** Best-fit-decreasing BIN packing — the "fewer truncations" packing
    * tier (Ding et al. 2024, "Fewer Truncations Improve Language
    * Modeling"): unlike [[packSequences]]' contiguous window (a doc may
    * straddle a budget boundary), BFD never splits a document — docs
    * sort by (tokens DESC, doc_id) within a shard and each goes to the
    * bin with the SMALLEST remaining capacity that still fits (ties →
    * lowest bin id); no fit opens a new bin. An oversize doc opens its
    * own bin whose remainder goes negative and never fits again — one
    * rule, no special case.
    *
    * This is the sequential per-shard pass the packSequences scaladoc
    * prices: `flatMapGroups` with one shard's (id, len) pairs in
    * memory — 16 bytes/doc, so a billion-doc shard costs ~16 GB and
    * the shard key must be sized accordingly (source×day, not source).
    * The shuffle carries (shard, id, len) triples only; assignment is
    * deterministic on every engine — the oracle replays it doc by doc
    * in a recursive CTE. */
  def packBestFit(docs: DataFrame, shardCol: String = "source",
                  budget: Long = 128L,
                  textCol: String = "text"): DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(shardCol).cast("string"),
        col("doc_id").cast("long"),
        TextOps.tokenCount(col(textCol)).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard: String, rows: Iterator[(String, Long, Long)]) =>
        val sorted = rows.map(r => (r._2, r._3)).toArray
          .sortBy { case (id, nt) => (-nt, id) }
        // best-fit state: remaining capacity → bin ids holding it
        val byRem = new java.util.TreeMap[Long, java.util.TreeSet[Long]]()
        var nBins = 0L
        def park(rem: Long, bin: Long): Unit =
          byRem.computeIfAbsent(rem,
            _ => new java.util.TreeSet[Long]()).add(bin)
        sorted.iterator.map { case (id, nt) =>
          val e = byRem.ceilingEntry(nt)
          val bin =
            if (e == null) {
              val b = nBins; nBins += 1
              park(budget - nt, b); b
            } else {
              val set = e.getValue
              val b = set.pollFirst()
              if (set.isEmpty) byRem.remove(e.getKey)
              park(e.getKey - nt, b); b
            }
          (shard, id, nt, bin)
        }
      }
      .toDF(shardCol, "doc_id", "n_tokens", "bin_id")
  }

  /** Packing-efficiency report over [[packSequences]] — the number a
    * pipeline owner reads before touching the pack budget: per shard,
    * pack count, token mass, the largest pack, how many packs overflow
    * the budget (a doc straddling a boundary lands whole in its pack —
    * the sequential-greedy contract), and the fill ratio against
    * `n_packs × budget`. Two bounded hash aggregations on top of the
    * packing window; output rows = shard count. */
  def packEfficiency(docs: DataFrame, shardCol: String, budget: Long,
                     textCol: String = "text"): DataFrame =
    packSequences(docs, shardCol, budget, textCol)
      .groupBy(col(shardCol), col("pack_id"))
      .agg(sum("n_tokens").as("pack_tokens"))
      .groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_packs"),
        sum("pack_tokens").as("total_tokens"),
        max("pack_tokens").as("max_pack_tokens"),
        sum(when(col("pack_tokens") > budget, 1L).otherwise(0L))
          .as("n_overflow"))
      .withColumn("fill_ratio",
        col("total_tokens").cast("double") /
          (col("n_packs") * lit(budget)).cast("double"))

  /** Document chunking — the "split to context length" preprocessing
    * twin of [[packSequences]]: long documents split into windows of at
    * most `chunkTokens` tokens, consecutive windows overlapping by
    * `overlap` tokens (overlap preserves cross-boundary context; 0 for
    * disjoint splits). Tokens are the non-empty whitespace tokens; the
    * chunk text is the window re-joined with single spaces (the
    * normalization a tokenizer sees anyway). Documents with no tokens
    * yield no chunks.
    *
    * Pure narrow algebra: token split, a per-doc `sequence` of window
    * starts, one posexplode — zero shuffles, embarrassingly parallel at
    * any corpus size. Deterministic: (doc_id, chunk_idx) is a total
    * order. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, overlap: Int = 0,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0, s"chunk size must be positive: $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap")
    val step = chunkTokens - overlap
    val toks = TextOps.words(col(textCol))
    docs
      .select(col(idCol), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col(idCol), col("toks"), col("n"),
        // window starts: 0, step, 2·step, … while the window still adds
        // tokens beyond the previous one's overlap (start < n − overlap);
        // docs shorter than the overlap still get their single chunk
        posexplode(sequence(lit(0),
          greatest(col("n") - overlap - 1, lit(0)), lit(step)))
          .as(Seq("chunk_idx", "start")))
      .select(col(idCol), col("chunk_idx"),
        least(lit(chunkTokens), col("n") - col("start")).as("chunk_tokens"),
        array_join(slice(col("toks"), col("start") + 1, lit(chunkTokens)),
          " ").as("chunk_text"))
  }

  /** Temperature-flavored domain rebalancing: down-sample each stratum
    * (source/domain) at `rate(d) = min(1, target / sqrt(n_d))` — small
    * domains pass through whole, large domains are thinned toward
    * `target·sqrt(n_d)` docs, flattening the domain distribution the way
    * temperature sampling (α = 0.5) does but WITHOUT cross-domain
    * normalization, so each domain's keep-set is independent of every
    * other domain (append-stable, and engine-portable: `sqrt` is an IEEE
    * correctly-rounded primitive, unlike `pow`, so DuckDB reproduces the
    * rates bit-exactly).
    *
    * Membership is the same deterministic splitmix64 coin as
    * [[hashSample]]: keep iff `mix64(doc_id) mod 2²⁰ < floor(rate·2²⁰)`.
    * A power-of-two modulus keeps the threshold arithmetic exact (no
    * double-rounding ambiguity at the cut). Plan: one count per stratum
    * (tiny), broadcast back, then a pure filter — one aggregation
    * shuffle at any corpus size. */
  def inverseSqrtSample(docs: DataFrame, strataCol: String,
                        target: Double): DataFrame = {
    require(target > 0, s"target must be positive, got $target")
    val denom = 1L << 20
    val counts = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_d"))
      .withColumn("keep_below",
        floor(least(lit(1.0), lit(target) / sqrt(col("n_d").cast("double")))
          * denom).cast("long"))
      .select(col(strataCol), col("keep_below"))
    docs.join(broadcast(counts), strataCol)
      .filter(coin(col("doc_id"), lit(denom)) < col("keep_below"))
      .drop("keep_below")
  }

  /** Probability-proportional-to-size sample — deterministic PPS
    * (Poisson) sampling, the token-aware way to subsample a mixed corpus:
    * include a document iff `floorMod(splitmix64(id), W) < expected·w`,
    * where `w` is the document's weight (chars/tokens/bytes), `W = Σw`
    * over the corpus, so the inclusion probability is `expected·w / W`
    * (capped at 1 for heavyweight docs) and the expected sample size is
    * `expected`. Like [[hashSample]], the draw is pure integer
    * arithmetic on the splitmix hash — no RNG state, engine-replayable,
    * and the picked set is stable across runs and partitionings.
    *
    * Shape: ONE single-row aggregate (the corpus weight) broadcast back;
    * the corpus side is a narrow codegen'd filter — it never shuffles. */
  def ppsSample(docs: DataFrame, weightCol: String, expected: Int,
                idCol: String = "doc_id"): DataFrame = {
    require(expected > 0, s"expected sample size must be positive: $expected")
    // greatest(1): an all-zero-weight corpus must yield the empty sample
    // (nothing satisfies floorMod < 0), not an ANSI divide-by-zero in pmod
    val total = docs.agg(
      greatest(lit(1L), sum(col(weightCol).cast("long"))).as("pps_w_total"))
    docs.crossJoin(broadcast(total))
      .filter(coin(col(idCol), col("pps_w_total"))
        < col(weightCol).cast("long") * expected)
      .drop("pps_w_total")
  }

  /** Token-budget domain mixing — the Pile/Dolma-style recipe step:
    * every stratum (language/source/domain) is cut to at most `budget`
    * tokens, so no domain can dominate the training mix. Per stratum,
    * the keep rate is `min(1, budget / T)` where `T` is the stratum's
    * token total, drawn per document as
    * `floorMod(splitmix64(id), T) < min(T, budget)` — expected kept
    * tokens per stratum = min(T, budget), pure integer splitmix
    * arithmetic (no RNG state, engine-replayable), and strata under
    * budget pass through whole because the rule degenerates to
    * `floorMod < T` ≡ always true.
    *
    * Shape: one tiny per-stratum token-total aggregate broadcast back;
    * the corpus side is a broadcast join + narrow codegen'd filter — it
    * never shuffles. */
  def tokenBudgetMix(docs: DataFrame, strataCol: String, budget: Long,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"token budget must be positive: $budget")
    val totals = docs.groupBy(col(strataCol))
      .agg(sum(TextOps.tokenCount(col(textCol)).cast("long")).as("t_total"))
      .withColumn("keep_below", least(col("t_total"), lit(budget)))
    docs.join(broadcast(totals), strataCol)
      .filter(coin(col(idCol), col("t_total")) < col("keep_below"))
      .drop("t_total", "keep_below")
  }

  /** Repetition ratio — the duplicate-k-gram fraction of each document
    * (Gopher/MassiveText-style repetition quality signal): 1 −
    * distinct_kgrams / total_kgrams. Boilerplate-heavy or looping text
    * scores high; `keep` flags docs at or under `maxRatio`. total =
    * max(n_tokens − k + 1, 0) by construction; distinct comes from the
    * same native ShingleHashes pass the dedup tier uses. Pure column
    * algebra — no shuffle, no UDF. Docs with zero k-grams (shorter than k
    * tokens) report ratio 0 and keep=true: no evidence of repetition. */
  def repetitionRatio(docs: DataFrame, k: Int = 2,
                      maxRatio: Double = 0.5): DataFrame =
    docs
      .select(col("doc_id"), repGramCounts(k)._1.as("n_grams"),
              repGramCounts(k)._2.as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
        .otherwise(lit(0.0)))
      .withColumn("keep", col("rep_ratio") <= maxRatio)

  /** (total, distinct) k-gram counts of the `text` column — the FILTERED
    * token count (empty strings from leading/repeated whitespace dropped)
    * matches the tokenization ShingleHashes applies, so total and
    * distinct count the same gram population. Pure columns, reusable
    * inline by composite pipelines without a join. */
  private def repGramCounts(k: Int): (org.apache.spark.sql.Column,
                                      org.apache.spark.sql.Column) = {
    val toks = TextOps.words(col("text"))
    (greatest(size(toks) - (k - 1), lit(0)).cast("long"),
     size(Dedup.tokenHashes(col("text"), k)).cast("long"))
  }

  /** The repetition keep-flag as a single column (see
    * [[repetitionRatio]]). */
  def repetitionKeep(k: Int = 2, maxRatio: Double = 0.5)
      : org.apache.spark.sql.Column = {
    val (total, dist) = repGramCounts(k)
    when(total > 0,
      lit(1.0) - dist.cast("double") / total <= maxRatio)
      .otherwise(lit(true))
  }

  /** Per-document curation AUDIT — the "why was this document dropped"
    * view of [[curationPipeline]]: every gate's verdict as a boolean
    * flag plus the near-dup census, with `kept` ≡ membership in the
    * pipeline's output (spec-asserted against it). At 100 TB this is
    * the debugging product a corpus owner reads — per-source gate
    * pass-rates — before touching any threshold. Same universe and
    * same plan shapes as the pipeline (the flags are free: the filters
    * just become projections); shingle-less docs stay out of scope,
    * the x21 convention. */
  def curationAudit(docs: DataFrame, benchmark: DataFrame,
                    keepLang: String = "en", minQuality: Double = 0.5,
                    maxRep: Double = 0.5, maxContam: Double = 0.5,
                    minJaccard: Double = 0.4): DataFrame = {
    val sig = docs.select(col("doc_id"), col("source"),
      (TextOps.langId(col("text")) === keepLang).as("pass_lang"),
      (TextOps.qualityScore(col("text")) >= minQuality).as("pass_quality"),
      repetitionKeep(k = 2, maxRatio = maxRep).as("pass_rep"))
    val cont = contamination(docs, benchmark)
      .select(col("doc_id"),
        (col("contamination") < maxContam).as("pass_contam"))
    val dup = Dedup.duplicateMembers(
        Dedup.jaccardPairs(docs, shingleK = 3, minJaccard = minJaccard)
          .select("doc_a", "doc_b"))
      .select(col("doc_id"), lit(true).as("dup_hit"))
    sig.join(cont, "doc_id")
      .join(dup, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("dup_hit"), lit(false)))
      .drop("dup_hit")
      .withColumn("kept", col("pass_lang") && col("pass_quality") &&
        col("pass_rep") && col("pass_contam") && !col("is_dup"))
  }

  /** Per-key gate pass-rate rollup over a [[curationAudit]] frame — the
    * one-screen summary a corpus owner reads before touching thresholds:
    * how many docs each gate passes, per source (or any key). Exact
    * integer counts (no rate division — engine-portable by
    * construction); ONE partial+final hash agg on the key. */
  def gateRates(audit: DataFrame, keyCol: String = "source"): DataFrame =
    audit.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("pass_lang").cast("long")).as("n_lang"),
      sum(col("pass_quality").cast("long")).as("n_quality"),
      sum(col("pass_rep").cast("long")).as("n_rep"),
      sum(col("pass_contam").cast("long")).as("n_contam"),
      sum(col("is_dup").cast("long")).as("n_dup"),
      sum(col("kept").cast("long")).as("n_kept"))

  /** END-TO-END corpus curation — the composed product every upstream
    * operator exists to feed: the KEPT corpus after the standard filter
    * chain of a training-data pipeline:
    *
    *  1. language gate   — predicted language == `keepLang` (x7's langId)
    *  2. quality gate    — composite quality score >= `minQuality` (x8)
    *  3. repetition gate — duplicate-2-gram ratio <= `maxRep` (x23)
    *  4. decontamination — benchmark shingle overlap < `maxContam` (x21)
    *  5. near-dedup      — drop non-representative members of exact-
    *                       jaccard duplicate clusters (x4 edges → x27
    *                       components → x28 semantics)
    *
    * Gates 1-3 are pure columns computed in ONE scan (no joins); gate 4
    * joins the per-doc contamination aggregate (benchmark side broadcast);
    * gate 5 anti-joins the bounded cluster drop-list. At 100 TB the plan
    * is: one corpus scan for the signal columns, the x21-shaped
    * contamination join, the x4/x27 dedup machinery on its own key space,
    * one anti-join — nothing quadratic, nothing driver-side. Docs whose
    * shingle set is empty cannot be contamination-scored and are dropped
    * (the x21 convention). */
  def curationPipeline(docs: DataFrame, benchmark: DataFrame,
                       keepLang: String = "en", minQuality: Double = 0.5,
                       maxRep: Double = 0.5, maxContam: Double = 0.5,
                       minJaccard: Double = 0.4): DataFrame = {
    // spread the one-partition fixture scan before the per-row text
    // signals / shingle hashing (guarded no-op on wide inputs; see
    // Multimodal.spreadNarrowInput and curationAudit)
    val docsW = Multimodal.spreadNarrowInput(docs)
    val sig = docsW.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"),
      TextOps.langId(col("text")).as("pred_lang"),
      TextOps.qualityScore(col("text")).as("quality"),
      repetitionKeep(k = 2, maxRatio = maxRep).as("rep_keep"))
    val cont = contamination(docsW, benchmark)
      .select(col("doc_id"), col("contamination"))
    val drop = Dedup.duplicateMembers(
      Dedup.jaccardPairs(docsW, shingleK = 3, minJaccard = minJaccard)
        .select("doc_a", "doc_b"))
    sig.join(cont, "doc_id")
      .filter(col("pred_lang") === keepLang &&
        col("quality") >= minQuality && col("rep_keep") &&
        col("contamination") < maxContam)
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars", "quality",
        "contamination")
  }

  /** The [[chatRender]] template: the system header, and a role's tag
    * `<|role|>` (each turn renders as tag, newline, content, newline). */
  private val chatHeader = "<|system|>\nYou are a helpful assistant.\n"
  private val tagOpen = "<|"
  private val tagClose = "|>"
  private def roleTag(role: String): String = tagOpen + role + tagClose

  /** Conversation rendering — the SFT/chat-data prep step: corpora ship
    * conversations as JSON turn arrays (the interchange reality), and
    * training consumes ONE template-rendered string per conversation
    * with role sentinels. This op does the full round trip in-plan:
    * build the turn-array JSON (here synthesized deterministically from
    * the document tokens — `turnTokens` words per turn, roles
    * alternating user/assistant), parse it back through Spark's real
    * JSON machinery (`from_json` with a pinned schema — never inferred,
    * the [[graft.sources.JsonLines]] rule), and fold the turns into the
    * rendered training text with a deterministic template.
    *
    * Everything is narrow column algebra — JSON build, parse, render
    * and the per-role counters all fuse into the scan; zero shuffle at
    * any corpus size. */
  def chatRender(docs: DataFrame, turnTokens: Int = 8,
                 textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    require(turnTokens > 0, s"turnTokens must be positive: $turnTokens")
    val toks = TextOps.words(col(textCol))
    val k = ceil(size(toks).cast("double") / lit(turnTokens.toDouble))
      .cast("int")
    val turnsOut = transform(
      sequence(lit(0), k - 1),
      i => struct(
        when(i % 2 === 0, "user").otherwise("assistant").as("role"),
        array_join(slice(toks, i * turnTokens + 1, lit(turnTokens)), " ")
          .as("content")))
    val convSchema = ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType))))
    val conv = docs
      .filter(size(toks) > 0)
      .select(col(idCol), to_json(turnsOut).as("conv_json"))
    val turns = from_json(col("conv_json"), convSchema)
    val rendered = concat(
      lit(chatHeader),
      aggregate(turns, lit(""), (acc, t) => concat(acc,
        lit(tagOpen), t.getField("role"), lit(tagClose + "\n"),
        t.getField("content"), lit("\n"))),
      lit(roleTag("end")))
    conv.select(col(idCol),
      size(turns).as("n_turns"),
      size(filter(turns, t => t.getField("role") === "user")).as("n_user_turns"),
      length(rendered).as("rendered_chars"),
      rendered.as("rendered"))
  }

  /** Fill-in-the-middle transform — the code/infilling training-data
    * prep step (Bavarian et al. 2022, "Efficient Training of Language
    * Models to Fill in the Middle"): a deterministic `fimPct`% of
    * documents are split at two character cuts into (prefix, middle,
    * suffix) and re-emitted in PSM sentinel order
    * `<pre>P<suf>S<mid>M`, teaching the model to infill; the rest pass
    * through untouched. Character-level splitting (the SantaCoder
    * variant) so the op runs BEFORE tokenization.
    *
    * Determinism discipline (the [[hashSample]] rule): no RNG state —
    * three independent splitmix64 streams off the document id drive
    * cut 1 (`mix64(id)`), cut 2 (`mix64²(id)`) and the apply gate
    * (`mix64³(id)`), each folded by signed pmod. The same doc gets the
    * same cuts on every run, retry, partitioning, and engine — and the
    * oracle replays the chains in HUGEINT. Cut columns ride along for
    * auditability. Pure narrow column algebra: fuses into the scan,
    * zero shuffle at any corpus size. */
  def fimTransform(docs: DataFrame, fimPct: Int = 50,
                   preTok: String = "<|fim_prefix|>",
                   sufTok: String = "<|fim_suffix|>",
                   midTok: String = "<|fim_middle|>",
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(fimPct >= 0 && fimPct <= 100, s"fimPct in [0,100]: $fimPct")
    val h1 = graft.functions.HashExprs.mix64_col(col(idCol))
    val h2 = graft.functions.HashExprs.mix64_col(h1)
    val h3 = graft.functions.HashExprs.mix64_col(h2)
    val n = length(col(textCol)).cast("long")
    val m = n + lit(1L)
    val c1 = pmod(h1, m)
    val c2 = pmod(h2, m)
    val staged = docs.select(col(idCol), col(textCol),
      n.as("n"),
      least(c1, c2).cast("int").as("cut_lo"),
      greatest(c1, c2).cast("int").as("cut_hi"),
      (pmod(h3, lit(100L)) < fimPct.toLong).as("fim_applied"))
    val pre = col(textCol).substr(lit(1), col("cut_lo"))
    val mid = col(textCol).substr(col("cut_lo") + 1,
      col("cut_hi") - col("cut_lo"))
    val suf = col(textCol).substr(col("cut_hi") + 1,
      col("n").cast("int") - col("cut_hi"))
    staged.select(col(idCol), col("fim_applied"),
      col("cut_lo").cast("long").as("cut_lo"),
      col("cut_hi").cast("long").as("cut_hi"),
      when(col("fim_applied"),
        concat(lit(preTok), pre, lit(sufTok), suf, lit(midTok), mid))
        .otherwise(col(textCol)).as(textCol))
  }

  /** T5-style span corruption — the denoising-objective data prep
    * (Raffel et al. 2020 §3.1.4; UL2's R-denoiser): mask contiguous
    * token spans with sentinel tokens, emit the `inputs` sequence
    * (spans replaced by `<extra_id_k>`) and the `targets` sequence
    * (each sentinel followed by the tokens it hid, closed by a final
    * sentinel) — the (inputs, targets) pair an encoder-decoder trains
    * on.
    *
    * Deterministic blocked variant (so an independent engine can
    * replay it exactly — the [[fimTransform]] discipline): the token
    * stream partitions into fixed `blockTokens` blocks; every FULL
    * block contributes one `spanTokens`-token span whose offset inside
    * the block is `pmod(mix64(doc_id·2²⁰ + blockIdx), blockTokens −
    * spanTokens + 1)` — corruption rate = spanTokens/blockTokens
    * (3/20 = the paper's 15%), spans never overlap by construction,
    * and the tail short block stays clean. Ids must stay below 2⁴³
    * (the block index packs into the low 20 bits).
    *
    * Pure narrow column algebra — the per-block offsets, both token
    * reassemblies and the sentinel numbering all fuse into the scan;
    * zero shuffle at any corpus size. */
  def spanCorrupt(docs: DataFrame, blockTokens: Int = 20,
                  spanTokens: Int = 3,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val toks = TextOps.words(col(textCol))
    val staged = docs.select(col(idCol), toks.as("ts"))
      .withColumn("n", size(col("ts")))
    val (nb, inputs, targets) =
      corruptCols(col("ts"), col("n"), blockTokens, spanTokens, idCol)
    staged.select(col(idCol),
      col("n").cast("long").as("n_tokens"),
      nb.cast("long").as("n_spans"),
      inputs.as("inputs"),
      targets.as("targets"))
  }

  /** The blocked-corruption kernel shared by [[spanCorrupt]] and
    * [[ul2Denoisers]]: over a token-array column `ts` of size `n`,
    * returns (block count, inputs string, targets string) for block
    * size `B` and span length `L`. */
  private def corruptCols(ts: Column, n: Column, B: Int, L: Int,
                          idCol: String): (Column, Column, Column) = {
    require(B > L && L > 0, s"need blockTokens > spanTokens > 0: $B/$L")
    val nb = floor(n / B).cast("int")
    val blocks = when(nb > 0, sequence(lit(0), nb - 1))
      .otherwise(array().cast("array<int>"))
    def off(b: Column) = pmod(
      graft.functions.HashExprs.mix64_col(
        col(idCol) * lit(1048576L) + b.cast("long")),
      lit((B - L + 1).toLong)).cast("int")
    def sentinel(k: Column) =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    val inputsToks = concat(
      flatten(transform(blocks, b =>
        concat(
          slice(ts, b * B + 1, off(b)),
          array(sentinel(b)),
          slice(ts, b * B + off(b) + L + 1, lit(B) - off(b) - L)))),
      slice(ts, nb * B + 1, n - nb * B))
    val targetsToks = concat(
      flatten(transform(blocks, b =>
        concat(array(sentinel(b)),
               slice(ts, b * B + off(b) + 1, lit(L))))),
      array(sentinel(nb)))
    (nb, array_join(inputsToks, " "), array_join(targetsToks, " "))
  }

  /** UL2 mixture-of-denoisers (Tay et al. 2022): every document is
    * deterministically assigned one of three denoising objectives and
    * prepped for it — mode 0 = R (regular: the [[spanCorrupt]] 15%
    * short spans, 3-of-20), mode 1 = S (sequential/prefix-LM: one cut,
    * inputs = prefix + sentinel, targets = sentinel + continuation),
    * mode 2 = X (extreme: long spans at high rate, 8-of-16 = 50%).
    * The mode stream is `mix64(doc_id + 1000003)` — independent of the
    * block-offset and cut streams, so re-bucketing the mixture never
    * moves any span. (The S-branch cut input `mix64(doc_id·2^20)`
    * COINCIDES with the R/X block-0 offset input — the same hash, not
    * an independent stream; harmless because the three modes are
    * mutually exclusive per document, so the two draws are never both
    * consumed.) All three branches are column algebra under ONE
    * CaseWhen (codegen evaluates only the matched branch); zero
    * shuffle at any corpus size. */
  def ul2Denoisers(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val toks = TextOps.words(col(textCol))
    val staged = docs.select(col(idCol), toks.as("ts"))
      .withColumn("n", size(col("ts")))
    val mode = pmod(
      graft.functions.HashExprs.mix64_add_col(col(idCol), 1000003L),
      lit(3L)).cast("int")
    val (nbR, inR, tgR) = corruptCols(col("ts"), col("n"), 20, 3, idCol)
    val (nbX, inX, tgX) = corruptCols(col("ts"), col("n"), 16, 8, idCol)
    val cut = pmod(
      graft.functions.HashExprs.mix64_col(col(idCol) * lit(1048576L)),
      col("n").cast("long") + 1L).cast("int")
    val inS = array_join(concat(
      slice(col("ts"), lit(1), cut), array(lit("<extra_id_0>"))), " ")
    val tgS = array_join(concat(
      array(lit("<extra_id_0>")),
      slice(col("ts"), cut + 1, col("n") - cut)), " ")
    staged.select(col(idCol), mode.as("mode"),
      col("n").cast("long").as("n_tokens"),
      when(mode === 1, lit(1)).when(mode === 0, nbR).otherwise(nbX)
        .cast("long").as("n_spans"),
      when(mode === 1, inS).when(mode === 0, inR).otherwise(inX)
        .as("inputs"),
      when(mode === 1, tgS).when(mode === 0, tgR).otherwise(tgX)
        .as("targets"))
  }

  /** Word-blocklist census — the C4-style "bad words" curation stage
    * (Raffel et al. 2020 dropped any page containing a term from a
    * fixed blocklist; RefinedWeb and FineWeb keep the same gate): for
    * each blocklist term, how many documents contain it and how many
    * token occurrences exist. The census is what you run BEFORE
    * committing to a list — it prices each term's corpus cost.
    *
    * Shape at 100 TB: the blocklist is list-sized (hundreds to a few
    * thousand terms), so membership is a literal IN-list evaluated
    * map-side inside the token explode — no join, and the only
    * exchange carries (term) keys for the final list-sized count
    * aggregation, with map-side partial counts collapsing each
    * partition to ≤|list| rows first. */
  def blocklistCensus(docs: DataFrame, terms: Seq[String],
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    docs.select(col(idCol),
        explode(TextOps.words(col(textCol))).as("term"))
      .filter(col("term").isin(terms.map(_.toLowerCase): _*))
      .groupBy("term")
      .agg(countDistinct(col(idCol)).as("n_docs"),
           count(lit(1)).as("n_occurrences"))
  }

  /** The enforcement half of [[blocklistCensus]]: drop every document
    * containing ANY blocklist term (token-boundary matching — "class"
    * does not trip on "ass"; the exact C4 rule). Pure column algebra:
    * `arrays_overlap(tokens, lit(list))` fuses into the scan — no
    * explode, no join, no shuffle. */
  def blocklistGate(docs: DataFrame, terms: Seq[String],
                    textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val lst = array(terms.map(t => lit(t.toLowerCase)): _*)
    docs.filter(!arrays_overlap(TextOps.tokens(col(textCol)), lst))
  }

  /** Character-entropy gate — the compressibility quality signal: pages
    * whose order-0 character entropy is far below the language's norm
    * are template/repetition junk, far above it are gibberish or
    * binary-in-text; both tails get cut. Per doc: character count,
    * distinct code points, entropy in bits (6-dp rounded — the house
    * ln() libm rule) and the keep verdict. One narrow pass — the
    * [[graft.functions.CharEntropy]] kernel fuses into the scan. */
  def entropyGate(docs: DataFrame, minBits: Double = 2.0,
                  maxBits: Double = 6.0,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val e = graft.functions.CharEntropy(col(textCol))
    docs.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        e.getField("n_distinct").cast("long").as("n_distinct"),
        round(e.getField("ent_bits"), 6).as("ent_bits"))
      .filter(col("n_chars") > 0)
      .withColumn("keep",
        col("ent_bits") >= minBits && col("ent_bits") <= maxBits)
  }

  /** Loss-mask spans for the [[chatRender]] template — the SFT step
    * after rendering: training runs loss ONLY on assistant content, so
    * the pipeline must emit, per conversation, the exact character
    * spans of each assistant turn's content inside the rendered string.
    * One row per assistant turn: 0-based `[span_start, span_end)`, the
    * span's length, and the extracted `span_text` itself (self-checking:
    * it must equal the turn content the template folded in).
    *
    * Offsets are CLOSED-FORM over the token array — every turn before
    * turn i is a full `turnTokens`-token turn, so the running offset is
    * header + role sentinels + separators + the character mass of the
    * first i·turnTokens tokens — which keeps the op pure per-row column
    * algebra (explode + arithmetic, no window, no shuffle) and lets an
    * independent engine replay it exactly. */
  def chatLossMask(docs: DataFrame, turnTokens: Int = 8,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(turnTokens > 0, s"turnTokens must be positive: $turnTokens")
    val toks = TextOps.words(col(textCol))
    val staged = docs
      .select(col(idCol), toks.as("ts"))
      .withColumn("ntok", size(col("ts")))
      .filter(col("ntok") > 0)
      .withColumn("k",
        ceil(col("ntok").cast("double") / lit(turnTokens.toDouble)).cast("int"))
      // assistant turns are the odd indices 1, 3, … below k
      .select(col(idCol), col("ts"), col("ntok"),
        explode(filter(sequence(lit(0), col("k") - 1),
          i => i % 2 === 1)).as("turn_idx"))
    val i = col("turn_idx")
    // char mass of the first i·T tokens (all prior turns are full)
    val priorChars = length(array_join(
      slice(col("ts"), lit(1), i * turnTokens), ""))
    // prior turn strings: role sentinel + '\n' + content + '\n', where
    // content adds (T−1) separators per full turn. i is odd, so the i
    // prior turns are ⌈i/2⌉ user + ⌊i/2⌋ assistant tags:
    // Σ = ⌊i/2⌋·(user + assistant) + user
    val (user, asst) = (roleTag("user").length, roleTag("assistant").length)
    val priorLen = floor(i / 2).cast("int") * (user + asst) + lit(user) +
      i * 2 + priorChars + i * (turnTokens - 1)
    val content = array_join(slice(col("ts"), i * turnTokens + 1,
      lit(turnTokens)), " ")
    val start = lit(chatHeader.length).cast("long") +
      priorLen.cast("long") + lit(asst + 1L) // assistant tag + '\n'
    staged.select(col(idCol), i.cast("int").as("turn_idx"),
      start.as("span_start"),
      (start + length(content)).as("span_end"),
      length(content).cast("long").as("span_chars"),
      content.as("span_text"))
  }

  /** Crawl snapshot diff — the monthly-recrawl bookkeeping step every
    * web corpus needs (Common Crawl ships a fresh snapshot every month;
    * an incremental pipeline wants to re-process only what moved): two
    * (url, content-hash) snapshots full-outer-join on the URL and each
    * row classifies as `added` / `removed` / `changed` / `unchanged`.
    *
    * Shape at 100 TB: content hashes are computed IN the archive scan
    * (16 bytes per page), so the join shuffles (url, hash) pairs only —
    * page payloads never cross the wire; the full-outer hash join is
    * the canonical two-snapshot shape and AQE handles snapshot-size
    * asymmetry. Downstream, `added ∪ changed` is the re-process set and
    * `removed` is the tombstone set. */
  def crawlDiff(oldSnap: DataFrame, newSnap: DataFrame,
                keyCol: String = "target_uri",
                hashCol: String = "h"): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("k"), col(hashCol).as("oh"))
    val n = newSnap.select(col(keyCol).as("k"), col(hashCol).as("nh"))
    o.join(n, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") =!= col("nh"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** The SHARD-MANIFEST row layer (dataset versioning): deterministic
    * shard key (`doc_id mod nShards`), char mass, and the
    * order-independent row digest `mix64(fingerprint(text) ⊕ doc_id)`
    * — mixing with the id makes per-row values unique, so the XOR set
    * digest downstream cannot cancel on byte-identical duplicate
    * documents. Pure per-row columns, no shuffle. */
  def manifestRows(docs: DataFrame, nShards: Int = 16,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1: $nShards")
    docs.select(
      (col(idCol) % nShards).cast("int").as("shard"),
      length(col(textCol)).cast("long").as("nc"),
      graft.functions.HashExprs.mix64_col(
        TextOps.fingerprint(col(textCol))
          .bitwiseXOR(col(idCol))).as("rd"))
  }

  /** Per-shard manifest: doc count, char mass, XOR set digest — equal
    * manifests ⇔ equal corpus (up to fingerprint collisions); one
    * flipped byte flips its row's digest and therefore the shard's.
    * One partial+final aggregation over [[manifestRows]]; partials
    * collapse map-side at any corpus size and XOR is partitioning-
    * invariant by construction. On a stream the same call keeps the
    * manifest current as ONE update-mode aggregation whose state is
    * three words per shard: XOR's self-inverse associativity keeps the
    * digest O(1) per key, where a sequence hash would need the whole
    * history. */
  def shardManifest(docs: DataFrame, nShards: Int = 16,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame =
    manifestRows(docs, nShards, textCol, idCol)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
        expr("bit_xor(rd)").as("digest"))

  /** Manifest DIFF between two snapshots: per shard, old/new counts +
    * digests and the changed verdict — the "which shards re-process"
    * decision read off two bounded manifests, never a corpus-sized
    * comparison. */
  def manifestDiff(oldManifest: DataFrame, newManifest: DataFrame)
      : DataFrame =
    oldManifest.select(col("shard"), col("n_docs").as("n_old"),
        col("digest").as("d_old"))
      .join(newManifest.select(col("shard"), col("n_docs").as("n_new"),
        col("digest").as("d_new")), Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("d_old"), lit(0L)).as("d_old"),
        coalesce(col("d_new"), lit(0L)).as("d_new"))
      .withColumn("changed",
        col("n_old") =!= col("n_new") || col("d_old") =!= col("d_new"))

  /** RENDEZVOUS (highest-random-weight) shard assignment — Thaler &
    * Ravishankar 1998: a key's shard is `argmax_s mix64(key + s·GOLDEN)`
    * (the Bloom/CMS splitmix64 probe-stream family), ties to the
    * smallest shard index. The property mod-N sharding lacks: growing
    * `n → n+1` moves ONLY the keys whose new weight tops their old
    * maximum — an expected 1/(n+1) of the corpus — instead of n/(n+1);
    * the assignment is pure per-row arithmetic, so shard layout needs
    * no coordination state anywhere, at any corpus size. */
  def rendezvousShard(id: Column, nShards: Int): Column = {
    require(nShards >= 1, s"need nShards >= 1: $nShards")
    import graft.functions.HashExprs
    val ws = (0 until nShards).map(s =>
      HashExprs.mix64_add_col(id, s * HashExprs.GOLDEN))
    if (nShards == 1) lit(0)
    else {
      val m = greatest(ws: _*)
      // first-match CASE = smallest index on (measure-zero) ties; the
      // last index is the residual branch
      (0 until nShards - 1).tail
        .foldLeft(when(ws.head === m, 0)) { (acc, s) =>
          acc.when(ws(s) === m, s) }
        .otherwise(nShards - 1)
    }
  }

  /** The RESIZE report for [[rendezvousShard]]: each doc's shard under
    * `before` and `after` shard counts and whether it moves — the
    * audit a 100 TB corpus reads before re-sharding (the moved set IS
    * the copy bill; for HRW growth it is the after-shard's fraction
    * only). */
  def rendezvousResize(docs: DataFrame, before: Int, after: Int,
                       idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        rendezvousShard(col(idCol), before).as("shard_before"),
        rendezvousShard(col(idCol), after).as("shard_after"))
      .withColumn("moved", col("shard_before") =!= col("shard_after"))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — score every raw
    * document by how much more likely its hashed-n-gram profile is
    * under a TARGET distribution than under the raw pool, the signal
    * DSIR resamples by to tilt a crawl toward a target domain without
    * training a classifier. Features are the paper's: unigram + bigram
    * token shingles hashed into `nBuckets` buckets (the native
    * ShingleHashesAll family — FNV-1a tokens, polynomial combine,
    * mix64 finalize — signed-pmod'd into buckets); each side's bucket
    * distribution gets add-one smoothing:
    * `p̂[b] = (c[b] + 1) / (Σc + nBuckets)`.
    *
    * Per the repo's rational-core convention ([[TextOps.bm25Search]],
    * [[TextOps.bigramLmScore]]: ln() differs across engines in the last
    * ulp; `+ − × ÷` are IEEE-correctly-rounded everywhere), the score
    * keeps the log's argument per n-gram and averages:
    * `dsir_score = mean_i p̂_target[b_i] / p̂_raw[b_i]` over the doc's
    * n-gram occurrences — a monotone-per-gram surrogate of the paper's
    * summed log-ratio (arithmetic rather than geometric mean), > 1 for
    * target-like docs. The per-doc mean folds in bucket order (each
    * bucket appears once per doc after the count agg), so the double
    * sum is sequential and bit-exact across engines and partitionings
    * (the DotFold discipline).
    *
    * Shape at 100 TB: occurrences collapse map-side to (doc, bucket,
    * m); BOTH model tables are `nBuckets`-row aggregates and the
    * totals are ONE row — all broadcast back; the target membership is
    * a per-row predicate, not a join. One corpus-keyed shuffle total
    * (the per-doc re-aggregation), no vocabulary-sized driver state. */
  def dsirWeights(docs: DataFrame, isTarget: Column, nBuckets: Int = 1024,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val grams = concat(
      graft.functions.ShingleHashesAll(col(textCol), 1),
      graft.functions.ShingleHashesAll(col(textCol), 2))
    val occ = docs
      .select(col(idCol), isTarget.as("is_t"), explode(grams).as("h"))
      .select(col(idCol), col("is_t"),
        pmod(col("h"), lit(nBuckets.toLong)).as("b"))
    val perDoc = occ.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("m"))
    val rawCounts = occ.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgtCounts = occ.filter(col("is_t"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = occ.agg(count(lit(1)).as("nr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("nt"))
    val nb = lit(nBuckets.toLong)
    val valued = perDoc
      .join(rawCounts, Seq("b"))
      .join(tgtCounts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("val", col("m").cast("double") *
        (((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
          (col("nt") + nb).cast("double")) /
         ((col("cr") + lit(1L)).cast("double") /
          (col("nr") + nb).cast("double"))))
    valued.groupBy(col(idCol)).agg(
        sum("m").as("n_grams"),
        aggregate(
          array_sort(collect_list(struct(col("b"), col("val")))),
          lit(0.0), (acc, x) => acc + x.getField("val")).as("val_sum"))
      .select(col(idCol), col("n_grams"),
        (col("val_sum") / col("n_grams")).as("dsir_score"))
  }

  /** Needle-in-a-haystack eval synthesis (Kamradt's NIAH probe, the
    * long-context recall harness every context-extension paper
    * reports): `nEvals` synthetic contexts, each a deterministic
    * filler of exactly `budget` tokens drawn from the corpus (docs
    * assign to evals by splitmix64 mod nEvals and concatenate in
    * (hash, id) order — no RNG state, stable across runs, engines and
    * partitionings, the [[hashSample]] guarantee) with a needle
    * sentence spliced in at a depth that sweeps 0 %, 25 %, 50 %, 75 %,
    * 100 % across evals (depth is THE variable the harness plots). The
    * expected answer (`7·eval+13`) rides along for the grader.
    *
    * 100 TB shape: ONE eval-keyed exchange of (hash, id, tokens)
    * triples — each eval's group is bounded by the docs that fit the
    * budget plus one, and `nEvals` bounds output rows; the splice is
    * per-group array surgery, never a global sort. Evals whose filler
    * pool undershoots the budget are DROPPED (a short context would
    * silently distort the depth sweep — fail closed). */
  def needleEvals(docs: DataFrame, nEvals: Int = 20,
                  budget: Int = 256,
                  textCol: String = "text"): DataFrame = {
    require(nEvals >= 1 && budget >= 4, s"bad params: $nEvals, $budget")
    val toks = TextOps.words(col(textCol))
    val h = graft.functions.HashExprs.mix64_col(col("doc_id"))
    val w = Window.partitionBy(col("ev")).orderBy(col("h"), col("doc_id"))
    val assigned = docs.select(col("doc_id"), toks.as("ts"),
        h.as("h"), pmod(h, lit(nEvals.toLong)).as("ev"))
      .withColumn("cum", sum(size(col("ts"))).over(w))
      // keep every doc that STARTS before the budget line (its tail is
      // sliced off below), so the filler always reaches `budget` when
      // the pool allows
      .filter(col("cum") - size(col("ts")) < budget)
    assigned.groupBy(col("ev"))
      .agg(slice(flatten(transform(
          array_sort(collect_list(struct(col("h"), col("doc_id"),
            col("ts")))),
          s => s.getField("ts"))), 1, budget).as("filler"))
      .filter(size(col("filler")) === budget)
      .select(col("ev").as("eval_id"),
        (floor((col("ev") % 5).cast("double") / 4.0 * budget))
          .cast("int").as("needle_pos"),
        col("filler"),
        (col("ev") * 7 + 13).as("answer"))
      .withColumn("needle", array(lit("the"), lit("magic"),
        lit("number"), lit("is"), col("answer").cast("string")))
      .select(col("eval_id"), col("needle_pos"), col("answer"),
        array_join(concat(
          slice(col("filler"), lit(1), col("needle_pos")),
          col("needle"),
          slice(col("filler"), col("needle_pos") + 1,
            lit(budget) - col("needle_pos"))), " ").as("text"),
        (lit(budget) + size(col("needle"))).cast("long").as("n_tokens"))
  }

  /** Temperature-scaled mixture weights (Conneau et al. 2020 XLM-R
    * §3.1; Lample & Conneau 2019 §3.1): sampling share
    * `w_s ∝ n_s^alpha` with `alpha = 1/T < 1` flattens the corpus-size
    * distribution so low-resource sources are up-sampled — THE standard
    * multilingual/multi-source mixing rule ([[inverseSqrtSample]] is
    * the alpha = 0.5 special case; this is the report for arbitrary
    * temperature). Per source: doc/token mass, natural share,
    * temperature share, and the boost factor (temperature ÷ natural —
    * > 1 means up-sampled).
    *
    * DETERMINISM: `pow` is the one libm call — its result is rounded
    * to 9 dp (the suite's ln() rule) BEFORE any arithmetic, the powered
    * masses sum through an exact DECIMAL(28,9) route, and every output
    * share is one IEEE division of exactly-reproducible operands,
    * rounded at 9 dp. 100 TB shape: ONE source-keyed aggregate (rows =
    * source count), a one-row broadcast of the two totals — text never
    * shuffles. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3,
                     keyCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    val m = docs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("r",
        round(pow(col("n_tokens").cast("double"), lit(alpha)), 9))
    val totals = m.agg(sum("n_tokens").as("tt"),
      graft.ops.Stable.sumD(col("r"), 9).as("tr"))
    m.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tt").cast("double"), 9)
          .as("natural_share"),
        round(col("r") / col("tr"), 9).as("temp_share"),
        round((col("r") / col("tr")) /
          (col("n_tokens").cast("double") / col("tt").cast("double")), 9)
          .as("boost"))
  }

  /** Per-prompt reward standardization — the normalization reward-model
    * training data gets before pairwise loss construction (Stiennon et
    * al. 2020 §C: rewards are only comparable WITHIN a prompt; raw
    * scales drift across prompts and annotators): z = (r − μ_p)/σ_p per
    * prompt. Prompts with one candidate or zero variance carry NULL z
    * (undefined, not a throw — the ANSI divide guard).
    *
    * DETERMINISM — the SCALED-INTEGER moment route (the unigram-trainer
    * discipline): the naive `E[r²] − μ²` over decimal-routed doubles is
    * catastrophic-cancellation territory (sub-ulp cast differences
    * between engines amplify through the subtraction into 1e-8 z
    * drift). Instead each reward quantizes ONCE to the 9-dp integer
    * `ri = round(round(r, 9)·1e9)`, the per-prompt sums S = Σri and
    * Q = Σri² are EXACT integers (Q rides a decimal ring — ri² alone
    * is ~1e18, a prompt of 10 would overflow a BIGINT sum), and
    *   z = (n·ri − S) / sqrt(n·Q − S²)
    * is algebraically identical to (r − μ)/σ with exact-integer
    * numerator and radicand — ONE sqrt, ONE division, one 9-dp round.
    * ONE prompt-keyed aggregate broadcast-joined back. */
  def rewardStandardize(docs: DataFrame, promptCol: String,
                        rewardCol: String,
                        idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ri = round(round(col(rewardCol), 9) * lit(1e9), 0).cast("long")
    val scaled = docs.select(col(idCol), col(promptCol),
      col(rewardCol).as("reward"), ri.as("ri"))
    val stats = scaled.groupBy(col(promptCol)).agg(
      count(lit(1)).as("n"),
      sum(col("ri")).as("s"),
      sum(col("ri").cast(dec) * col("ri").cast(dec)).as("q"))
      .withColumn("rad",
        col("n").cast(dec) * col("q") - col("s").cast(dec) * col("s").cast(dec))
    scaled.join(broadcast(stats), promptCol)
      .select(col(idCol), col(promptCol), col("reward"),
        when(col("n") > 1 && col("rad") > 0,
          round((col("n") * col("ri") - col("s")).cast("double") /
            sqrt(col("rad").cast("double")), 9))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Preference-pair assembly for DPO/RLHF training data (Rafailov et
    * al. 2023 §4: each prompt contributes one (chosen, rejected)
    * completion pair; Ouyang et al. 2022 §3.2 ranks K completions per
    * prompt by reward). Given docs carrying a prompt key and a scalar
    * reward, emit per prompt the best-vs-worst pair — chosen = highest
    * (reward, then LOWEST id on ties), rejected = lowest (reward, then
    * lowest id) — and keep only pairs whose reward margin clears
    * `minMargin` (near-tie pairs teach the model noise; the margin gate
    * is the standard filter).
    *
    * 100 TB shape: ONE exchange keyed by prompt; both extremes ride one
    * aggregate (two min/max(struct) partials, map-side combined), so
    * completions-per-prompt never materializes as a list. Texts stay
    * behind — output is (prompt, ids, rewards, margin); the trainer
    * joins text back by id. */
  def preferencePairs(docs: DataFrame, promptCol: String,
                      rewardCol: String, minMargin: Double,
                      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_candidates"),
        max(struct(col(rewardCol).as("r"), (-col(idCol)).as("ni"),
          col(idCol).as("id"))).as("c"),
        min(struct(col(rewardCol).as("r"), col(idCol).as("id"))).as("j"))
      .filter(col("n_candidates") > 1 &&
        col("c.r") - col("j.r") >= minMargin)
      .select(col(promptCol), col("n_candidates"),
        col("c.id").as("chosen_id"), col("j.id").as("rejected_id"),
        col("c.r").as("chosen_reward"), col("j.r").as("rejected_reward"),
        (col("c.r") - col("j.r")).as("margin"))

  /** CCNet perplexity buckets (Wenzek et al. 2020, "CCNet: Extracting
    * high quality monolingual datasets from web crawl data" §4.3) —
    * the curation move that made Common Crawl usable: score every
    * document under a language model and split each LANGUAGE into
    * head / middle / tail perplexity terciles; training recipes then
    * sample head-heavy. The LM here is the in-repo KN bigram scorer
    * ([[TextOps.knScore]] at order 2 — x144's engine-portable mean
    * inverse probability); CCNet ships KenLM 5-grams, and the
    * [[ccnetBucketsScored]] seam runs the SAME tercile operator over
    * the stored order-5 ARPA score (x221 — the production shape).
    *
    * Assignment is by SCORE GROUP, not per-row rank: per (lang,
    * 9-dp-rounded score) group, the group is `head` iff its inclusive
    * cumulative count fits in the first third (`3·cum ≤ n`), `middle`
    * through the second (`3·cum ≤ 2n`), else `tail` — ties never
    * split across a boundary (CCNet thresholds by score VALUE for the
    * same reason), and the integer rule replays exactly. Documents
    * too short to carry a bigram are unscored and drop, as in x144.
    *
    * Shape at 100 TB: scoring is the x144 plan; the tercile window
    * runs over the (lang, score) GROUP table — bounded by distinct
    * rounded scores per language, never a per-document sort — and its
    * per-language cutoffs broadcast back through one left join on the
    * language. For corpora where distinct scores approach corpus size,
    * CCNet's own production answer is thresholds from a hash-sample —
    * [[ccnetBucketsSampledScored]], proven by x224.
    *
    * LAZINESS NOTE: construction EAGERLY executes the scoring cascade
    * ([[ccnetBucketsScored]] pins the narrow scored projection with a
    * blocking `localCheckpoint` for its two consumers), so building
    * this frame runs jobs — it is not a pure plan. */
  def ccnetBuckets(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   langCol: String = "lang"): DataFrame =
    ccnetBucketsScored(
      TextOps.knScore(docs, 2, textCol = textCol, idCol = idCol),
      docs, scoreCol = "kn_score", cntCol = "n_bigrams",
      idCol = idCol, langCol = langCol)

  /** The tercile HALF of [[ccnetBuckets]] over an ALREADY-SCORED
    * frame — the seam CCNet's production shape needs: Wenzek et al.
    * score with a stored KenLM 5-gram, so the x221 composition feeds
    * this exact operator with [[TextOps.knScoreStoredArpa]] over the
    * x210 artifact instead of the inline bigram chain. `scored` must
    * carry (idCol, cntCol, scoreCol). The verdict is the group rule
    * in its value form: [[ccnetThresholds]] over the full corpus, then
    * [[ccnetApplyThresholds]] — exact, because cumulative counts rise
    * with the score, so the groups that pass `3·cum ≤ n` are a prefix
    * of the score order and `ppl ≤ t_head` selects exactly that prefix.
    * Swapping the language model swaps ONE input, not the operator
    * shape. */
  def ccnetBucketsScored(scored: DataFrame, docs: DataFrame,
                         scoreCol: String, cntCol: String,
                         idCol: String = "doc_id",
                         langCol: String = "lang"): DataFrame =
    ccnetTerciles(scored, docs, scoreCol, cntCol, idCol, langCol)(identity)

  /** The tercile kernel of [[ccnetBucketsScored]] and
    * [[ccnetBucketsSampledScored]]: per-language cutoffs from the
    * `census` of the pinned (id, lang, cnt, ppl) projection, applied to
    * every document. The projection is materialized ONCE because two
    * consumers read it (the census and the verdict), so the upstream
    * scoring cascade (for x221 a 9-broadcast-join stored-ARPA walk
    * over the corpus) never runs twice; a four-column row is far
    * cheaper to pin than to rescore. No score or language reaching it
    * is NULL (each scorer emits a score only for a doc with at least
    * one gram, and every document carries its language); a NULL would
    * fall through to `tail`. */
  private def ccnetTerciles(scored: DataFrame, docs: DataFrame,
                            scoreCol: String, cntCol: String,
                            idCol: String, langCol: String)
                           (census: DataFrame => DataFrame): DataFrame = {
    val withLang = scored
      .withColumn("ppl", round(col(scoreCol), 9))
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol), col(cntCol), col("ppl"))
      .localCheckpoint(true)
    ccnetApplyThresholds(withLang,
        ccnetThresholds(census(withLang), "ppl", langCol), "ppl", langCol)
      .select(col(idCol), col(langCol), col(cntCol), col("ppl"),
        col("bucket"))
  }

  /** Per-language tercile THRESHOLDS from a scored frame — the
    * boundary VALUES the [[ccnetBuckets]] group rule implies:
    * `t_head` = the largest score whose inclusive score-group
    * cumulative count fits the first third (`3·cum ≤ n`), `t_mid`
    * the largest through the second. CCNet's production pipeline
    * ships exactly this artifact (per-language `p33`/`p66` cutoffs
    * computed once, applied to every shard); a language so skewed
    * that no score group fits a third carries a NULL cutoff and the
    * apply rule routes everything past it. Input needs one row per
    * document with (`langCol`, `scoreCol`); output is one row per
    * language — bounded by language cardinality, always
    * broadcastable. */
  def ccnetThresholds(scored: DataFrame, scoreCol: String = "ppl",
                      langCol: String = "lang"): DataFrame = {
    val groups = scored.groupBy(col(langCol), col(scoreCol))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(langCol).orderBy(col(scoreCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    groups
      .withColumn("cum", sum("c").over(wcum))
      .withColumn("n", sum("c").over(Window.partitionBy(langCol)))
      .groupBy(col(langCol))
      .agg(max(when(col("cum") * 3 <= col("n"), col(scoreCol)))
             .as("t_head"),
           max(when(col("cum") * 3 <= col("n") * 2, col(scoreCol)))
             .as("t_mid"))
  }

  /** Apply stored per-language cutoffs to a scored frame: bucket =
    * `head` iff score ≤ t_head, `middle` iff ≤ t_mid, else `tail`
    * (the ≤-rule is the group rule's value form: on thresholds from
    * the full corpus the two assignments coincide exactly, because
    * t_head IS the head groups' max score). NULL cutoffs — a language
    * missing from the threshold table, or one whose sample never
    * filled a third — compare to nothing and fall through to `tail`.
    * One broadcast left join; zero shuffles beyond the score's own.
    * This is the shard-scoring half of CCNet's two-phase production
    * shape (thresholds once, applied everywhere) and the streaming
    * bucket gate's verbatim batch twin. */
  def ccnetApplyThresholds(scored: DataFrame, thresholds: DataFrame,
                           scoreCol: String = "ppl",
                           langCol: String = "lang"): DataFrame =
    scored.join(broadcast(thresholds), Seq(langCol), "left")
      .withColumn("bucket",
        when(col(scoreCol) <= col("t_head"), lit("head"))
          .when(col(scoreCol) <= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("t_head", "t_mid")

  /** CCNet buckets with SAMPLED thresholds — the production
    * composition for corpora where distinct scores approach corpus
    * size (the [[ccnetBuckets]] scaladoc's own caveat): estimate the
    * per-language cutoffs on a deterministic [[hashSample]] of the
    * scored corpus (splitmix64 of the id — reproducible across runs,
    * partitionings, engines), then verdict EVERY document against the
    * broadcast cutoff table. The group-table window now runs over the
    * sample's score groups (num/den of the corpus) instead of the
    * full corpus's, and the full-corpus side does no window at all —
    * one broadcast join. Same five-column schema as
    * [[ccnetBucketsScored]]; x224 proves the composition against the
    * sample-replaying oracle. */
  def ccnetBucketsSampledScored(scored: DataFrame, docs: DataFrame,
                                scoreCol: String, cntCol: String,
                                num: Int, den: Int,
                                idCol: String = "doc_id",
                                langCol: String = "lang"): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"bad sample rate $num/$den")
    ccnetTerciles(scored, docs, scoreCol, cntCol, idCol, langCol)(
      _.filter(coin(col(idCol), lit(den.toLong)) < num.toLong))
  }

  /** Cross-source DUPLICATION MATRIX — the data-card table a corpus
    * release needs next to the per-source masses: how much of source
    * A is a near-copy of source B (web mirrors, syndication, the
    * books/web leak). Verified near-dup pairs ([[Dedup.jaccardPairs]]
    * — LSH-banded, exact-jaccard checked, never all-pairs) pick up
    * their endpoints' sources through two doc-keyed joins and roll up
    * per UNORDERED source pair (`least/greatest` — the matrix is
    * symmetric, so (A,B) and (B,A) are one row; the diagonal is the
    * intra-source dup load). `max_jaccard` rides along (max is
    * merge-order-safe; per-pair jaccards are IEEE-exact, x4's
    * contract). Pair volume is the dedup tier's own bound; the rollup
    * is source²-sized. */
  def crossSourceDupMatrix(docs: DataFrame, shingleK: Int = 3,
                           minJaccard: Double = 0.4): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, shingleK, minJaccard)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_1"),
        greatest(col("sa"), col("sb")).as("source_2"))
      .agg(count(lit(1)).as("n_pairs"), max("jaccard").as("max_jaccard"))
  }

  /** SPAN-level benchmark DECONTAMINATION — the surgical form of the
    * x21 audit: instead of DROPPING a contaminated document (x42's
    * split discards real data around a quoted benchmark line), strip
    * exactly the token spans whose k-gram windows appear in the
    * benchmark set — the PaLM/GPT-4-era decontamination contract
    * (remove the overlapping subsequence, keep the document).
    *
    * Mechanics: the benchmark's window hashes distinct and (being
    * eval-sized) broadcast; corpus windows that hit merge into
    * maximal spans and strip through the [[Dedup.exactSubstrStrip]]
    * tail — `(doc_id, n_tokens, n_removed, text)`, every input row
    * surviving. Spans shorter than `shingleK` tokens are invisible
    * (window resolution — the same bound the census documents).
    *
    * Shape at 100 TB: one semi-join of corpus windows against the
    * broadcast benchmark set, one doc-keyed island window, a bounded
    * span list per doc. The same call gates a STREAM (stream-static
    * semi-join, the near-dup-gate discipline) when the reassembly
    * aggregation is its only stateful operator. */
  def decontaminateSpans(docs: DataFrame, benchmark: DataFrame,
                         shingleK: Int = 3, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val bset = benchmark.select(
        explode(graft.functions.ShingleHashesAll(col(textCol), shingleK))
          .as("wh"))
      .distinct()
    val win = docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.ShingleHashesAll(col(textCol), shingleK))
        .as(Seq("pos", "wh")))
    val removable = win.join(broadcast(bset), Seq("wh"), "left_semi")
      .select("doc_id", "pos")
    Dedup.stripPositionsReport(docs, removable, shingleK, textCol)
  }

  /** C4 cleaning rules (Raffel et al. 2020 §2.2 — the heuristics that
    * built the T5 corpus, still the baseline cleaning pass RefinedWeb/
    * FineWeb compare against). Line level: keep a line only when it
    * ends in terminal punctuation (`.` `!` `?` `"` — the paper's
    * sentence heuristic), carries at least `minWordsPerLine` words,
    * and does not mention "javascript" (the paper's boilerplate-
    * warning tell). Page level: `keep` is false for documents with
    * fewer than `minKeptLines` surviving lines (the "< 3 sentences"
    * rule), containing the phrase "lorem ipsum", or containing `{`
    * (the code tell). Documents are REPORTED, not dropped — the gate
    * composes downstream like [[TextOps.gopherRules]].
    *
    * Pure per-row column algebra (every check is string/array math on
    * the document itself — unlike the x33 censor there is no corpus
    * state), so the plan is scan → project with ZERO exchange at any
    * corpus size and the same call is valid on a stream. */
  def c4LineFilters(docs: DataFrame, minWordsPerLine: Int = 5,
                    minKeptLines: Int = 3, textCol: String = "text",
                    idCol: String = "doc_id",
                    passthrough: Seq[String] = Nil): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keptArr = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) &&
      size(TextOps.words(l)) >= minWordsPerLine &&
      !lower(l).contains("javascript"))
    docs.select(col(idCol) +: passthrough.map(col) :+
        size(lines).cast("long").as("n_lines") :+
        size(keptArr).cast("long").as("n_kept") :+
        array_join(keptArr, "\n").as("clean_text") :+
        lower(col(textCol)).as("__lt"): _*)
      .withColumn("keep",
        col("n_kept") >= minKeptLines &&
        !col("__lt").contains("lorem ipsum") &&
        !col("__lt").contains("{"))
      .drop("__lt")
  }
}
