package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** SURVEY §2.9 — the reference's NRT fire feed, restated as Structured
  * Streaming.
  *
  * The reference polls `NASA/LANCE/SNPP_VIIRS/C2` in batch and recomputes
  * each calendar window from scratch (complete-mode semantics,
  * DataDownloader_SNPP_VIIRS_V1.py:137-141, 220-238). Streaming-native
  * restatement: file source → event-time watermark → per-day window +
  * running max composite. All builtin stateful aggs — no custom StateStore.
  *
  * A stream is a DataFrame, so a batch operator whose plan is stream-
  * legal (stateless column algebra, stream-static joins, at most one
  * stateful aggregation) is called directly on a stream — e.g.
  * [[graft.ext.Curation.contamination]], [[graft.ext.TextOps.piiReport]],
  * [[graft.ext.TextOps.dsirScoreStream]] — and StreamingSpec pins each
  * streamed ≡ batch. This object holds only the stream-specific shapes:
  * the watermarked and sessionized feeds, the gates whose batch form
  * needs a second stateful operator or a window, and the compositions
  * that add a stage to what they call.
  */
object StreamingOps {

  /** Daily max-composite over a streaming pixel/event feed with late-data
    * tolerance. `dateCol` must be a timestamp. */
  def dailyMaxStream(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                     valueCol: String, watermark: String = "2 days"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), "1 day").as("day") +: keyCols.map(col)): _*)
      .agg(max(valueCol).as("max_value"), count(lit(1)).as("n"))

  /** Streaming exact dedup — the x1 content-hash dedup restated for a
    * document stream: keep the first arrival of each content hash, drop
    * every copy that arrives within `watermark` of it.
    * `dropDuplicatesWithinWatermark` is the variant whose state actually
    * expires — plain `dropDuplicates("content_hash")` would keep one state
    * entry per distinct hash FOREVER (the watermark only evicts dedup
    * state when the event-time column is part of the key, which it is not
    * here). At 100 TB/day this is the shape that keeps dedup state finite;
    * the contract is correspondingly windowed: a duplicate arriving more
    * than `watermark` after its original passes through. */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String = "text",
                     watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Fire-episode sessionization: consecutive detections of the same cell
    * within `gapMinutes` of each other collapse into one episode row
    * (start, end, peak, n). Custom state via flatMapGroupsWithState —
    * the one stateful shape the builtin windowed aggs can't express
    * (variable-length, gap-delimited sessions). */
  case class FireEvent(cell: Long, ts: java.sql.Timestamp, frp: Double)
  case class EpisodeState(start: Long, last: Long, peak: Double, n: Long)
  case class Episode(cell: Long, start: java.sql.Timestamp,
                     end: java.sql.Timestamp, peak: Double, n: Long)

  /** Streaming variant. The input MUST carry an event-time watermark
    * (`events.withWatermark("ts", …)`): the open episode of an idle cell is
    * closed by an event-time timeout when the watermark passes
    * `last + gap`, so episodes emit even if their cell never fires again.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[FireEvent],
                 gapMinutes: Long): org.apache.spark.sql.Dataset[Episode] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    def fn(cell: Long, it: Iterator[FireEvent],
           state: GroupState[EpisodeState]): Iterator[Episode] = {
      if (state.hasTimedOut) {
        // watermark passed last + gap with no new events: close and drop
        val out = state.getOption.map { s =>
          Episode(cell, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.last), s.peak, s.n)
        }
        state.remove()
        out.iterator
      } else {
        val sorted = it.toSeq.sortBy(_.ts.getTime)
        var out = List.empty[Episode]
        var st = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          st match {
            case Some(s) if t - s.last <= gapMs =>
              st = Some(s.copy(last = t, peak = math.max(s.peak, e.frp), n = s.n + 1))
            case Some(s) => // gap exceeded: close the episode, open a new one
              out ::= Episode(cell, new java.sql.Timestamp(s.start),
                new java.sql.Timestamp(s.last), s.peak, s.n)
              st = Some(EpisodeState(t, t, e.frp, 1))
            case None =>
              st = Some(EpisodeState(t, t, e.frp, 1))
          }
        }
        st.foreach { s =>
          state.update(s)
          // must be strictly beyond the current watermark or Spark rejects it
          state.setTimeoutTimestamp(
            math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
        }
        out.reverseIterator
      }
    }
    events.groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Batch flush of all open sessions (for bounded/batch runs): closes
    * every episode. Batch flatMapGroupsWithState never times out states,
    * so bounded pipelines call this to materialize complete episodes. */
  def sessionizeBatch(events: org.apache.spark.sql.Dataset[FireEvent],
                      gapMinutes: Long): org.apache.spark.sql.Dataset[Episode] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.cell).flatMapGroups { (cell, it) =>
      val sorted = it.toSeq.sortBy(_.ts.getTime)
      val out = scala.collection.mutable.ListBuffer.empty[Episode]
      var st: Option[EpisodeState] = None
      sorted.foreach { e =>
        val t = e.ts.getTime
        st match {
          case Some(s) if t - s.last <= gapMs =>
            st = Some(s.copy(last = t, peak = math.max(s.peak, e.frp), n = s.n + 1))
          case Some(s) =>
            out += Episode(cell, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.peak, s.n)
            st = Some(EpisodeState(t, t, e.frp, 1))
          case None => st = Some(EpisodeState(t, t, e.frp, 1))
        }
      }
      st.foreach(s => out += Episode(cell, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.last), s.peak, s.n))
      out.iterator
    }
  }

  /** Streaming near-dup ingest gate: every incoming document is checked
    * against the STORED corpus fingerprint index
    * ([[graft.ext.Dedup.minhashIndex]] — (doc_id, hs, minhash)) as it
    * arrives, so near-dups of the existing corpus are flagged before
    * they land. Two stream-static equi-joins, both stateless: the
    * stream's banded keys probe the index's banded keys, then verified
    * candidates fetch the index doc's hash set for the EXACT jaccard —
    * the same arithmetic as the batch [[graft.ext.Dedup
    * .incrementalVerifiedDups]] (StreamingSpec pins stream ≡ batch).
    * The final per-pair aggregation only dedups multi-band collisions
    * (state is bounded by emitted matches, not the stream).
    *
    * Scope: gates against the index only — increment-internal dups are
    * the batch job's business (they need cross-batch state). */
  def streamingNearDupGate(docStream: DataFrame, index: DataFrame,
                           minJaccard: Double = 0.5, numHashes: Int = 128,
                           bands: Int = 32, shingleK: Int = 3): DataFrame = {
    val rows = numHashes / bands
    def bandCols(mh: Column): Column = array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rows).map(r => element_at(mh, b * rows + r + 1)): _*),
        lit(b))
    }: _*)
    val bInc = docStream
      .select(col("doc_id").as("doc_b"),
        graft.ext.Dedup.tokenHashes(col("text"), shingleK).as("hs_b"))
      .withColumn("mh",
        graft.functions.HashExprs.min_hash(col("hs_b"), numHashes))
      .select(col("doc_b"), col("hs_b"),
        posexplode(bandCols(col("mh"))).as(Seq("band", "bucket")))
    val aKeys = index.select(col("doc_id").as("doc_a"),
      posexplode(bandCols(col("minhash"))).as(Seq("band", "bucket")))
    val aSets = index.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    bInc.join(aKeys, Seq("band", "bucket"))
      .select("doc_a", "doc_b", "hs_b")
      .join(aSets, "doc_a")
      .withColumn("jaccard",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          size(array_union(col("hs_a"), col("hs_b"))))
      .filter(col("jaccard") >= minJaccard)
      .groupBy("doc_a", "doc_b").agg(max("jaccard").as("jaccard"))
  }

  /** Streaming MOJIBAKE gate: [[graft.functions.FixMojibake]] per
    * arriving document — encoding damage is repaired BEFORE any
    * downstream signal reads the text (regex patterns, shingles and
    * token hashes all key on bytes, so unrepaired mojibake silently
    * forks every content-keyed operator). Pure column algebra, ZERO
    * state, append mode; fail-closed semantics mean a clean stream
    * passes through byte-identical. StreamingSpec pins ≡ batch. */
  def streamingMojibakeGate(docStream: DataFrame,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    val f = graft.functions.FixMojibake(col(textCol))
    docStream.withColumn("__f", f)
      .withColumn(textCol, col("__f.text"))
      .withColumn("repaired", col("__f.repaired"))
      .drop("__f")
  }

  /** The streaming twin of [[graft.ext.CorpusBuild.run]]'s s1-s4
    * PREFIX — every per-document curation stage of the batch corpus
    * build, run at the ingest door over ONE composed query:
    *
    *  1. robots gate — the RFC 9309 verdict per arrival
    *     ([[graft.ext.UrlOps.robotsAllowedOnlyByPath]]: sorted rules
    *     broadcast on the static side, stateless, every column
    *     carried);
    *  2. PII scrub — [[graft.ext.Cleanse.redactPii]], pure algebra;
    *  3. line censor against the STORED boilerplate-line set
    *     ([[graft.ext.Cleanse.boilerplateLineSet]], the batch census
    *     persisted per corpus snapshot — corpus-wide df is state a
    *     stream cannot see, the stored-index discipline again):
    *     stream-static left-anti + the composition's ONE stateful
    *     aggregation (the reassembly);
    *  4. Gopher gates on the CLEANED text — pure algebra over the
    *     aggregated rows, same signal expressions as the batch
    *     [[graft.ext.TextOps.gopherRules]].
    *
    * Input must carry (doc_id, source, text, domain, path). Emits
    * CorpusBuild's s4 schema (doc_id, source, text, n_lines, n_kept);
    * the stages 5+ (near-dup, DSIR, pack, export) are corpus-level by
    * nature and stay with the batch job — [[graft.ext.TextOps.ingestGate]]
    * covers their per-arrival probes. StreamingSpec pins the streamed
    * prefix ≡ batch s4 on the same documents.
    *
    * `c4MinWordsPerLine > 0` folds the x215 C4 cleaning rules
    * ([[graft.ext.Curation.c4LineFilters]]) in as a FIFTH stage over
    * the censored text: pure per-row algebra AFTER the composition's
    * one stateful aggregation, so the stream shape is unchanged —
    * page-level failures drop, survivors emit the C4-cleaned text and
    * the C4 stage's line counts in the same five-column schema
    * (StreamingSpec pins ≡ the batch s4→C4 composition). */
  def streamingCorpusGate(docStream: DataFrame, rules: DataFrame,
                          boiler: DataFrame, minWords: Long = 50L,
                          reline: Column => Column = identity,
                          c4MinWordsPerLine: Int = 0)
      : DataFrame = {
    val s1 = graft.ext.UrlOps.robotsAllowedOnlyByPath(docStream, rules)
      .select("doc_id", "source", "text")
    val s2 = s1.select(col("doc_id"), col("source"),
      graft.ext.Cleanse.redactPii(col("text")).as("text"))
    val s3 = graft.ext.Cleanse.censorLinesAgainst(
        s2.withColumn("text", reline(col("text"))), boiler,
        passthrough = Seq("source"))
      .filter(col("n_kept") > 0)
      .select("doc_id", "source", "text", "n_lines", "n_kept")
    val sig = graft.ext.TextOps.gopherSignals(col("text")).toMap
    val s4 = s3.filter(sig("n_words") >= minWords &&
      sig("n_words") <= 100000L &&
      sig("r_mean_word_len") && sig("r_symbol_ratio") &&
      sig("r_alpha_words") && sig("r_stopwords"))
    if (c4MinWordsPerLine <= 0) s4
    else graft.ext.Curation.c4LineFilters(s4,
        minWordsPerLine = c4MinWordsPerLine,
        passthrough = Seq("source"))
      .filter(col("keep"))
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"), col("n_lines"), col("n_kept"))
  }

  /** Streaming SPAN-level benchmark decontamination — the x218 gate
    * at the ingest door. Same semantics as
    * [[graft.ext.Curation.decontaminateSpans]] (every arriving row
    * survives; exactly the token spans whose k-gram windows appear in
    * the static benchmark set strip out), re-expressed in the ONE
    * stream-legal shape: the doc-keyed island-merge WINDOW of the
    * batch strip tail is a window function (illegal on a stream), so
    * here the benchmark-hit positions gather through the query's one
    * stateful aggregation (`collect_list` per doc — bounded by the
    * doc's window count) and the islands merge in a sorted column-
    * algebra fold with the identical `pos − prev ≤ k` rule. The
    * benchmark side is eval-sized and broadcasts; the mark join is a
    * stateless stream-static left join. StreamingSpec pins streamed ≡
    * batch on the x218 fixture. */
  def streamingDecontamGate(docStream: DataFrame, benchmark: DataFrame,
                            shingleK: Int = 3): DataFrame = {
    val bset = benchmark.select(
        explode(graft.functions.ShingleHashesAll(col("text"), shingleK))
          .as("wh"))
      .distinct().withColumn("hit", lit(true))
    // posexplode_outer keeps window-less docs (short texts) flowing
    val base = docStream.select(col("doc_id"), col("text"),
      posexplode_outer(
        graft.functions.ShingleHashesAll(col("text"), shingleK))
        .as(Seq("pos", "wh")))
    val marked = base.join(broadcast(bset), Seq("wh"), "left")
    val agg = marked.groupBy("doc_id")
      .agg(first(col("text")).as("text"),
        sort_array(collect_list(when(col("hit"), col("pos"))))
          .as("rps"))
    // gaps-and-islands as a fold over the sorted hit positions — the
    // batch rule verbatim (break when pos − prev > k; span end =
    // island's last pos + k − 1), no window function anywhere
    val spans = expr(s"""
      aggregate(rps,
        named_struct(
          'sp', cast(array() as array<struct<s: int, e: int>>),
          'prev', -${shingleK + 1}),
        (acc, p) -> if(size(acc.sp) > 0 and p - acc.prev <= $shingleK,
          named_struct(
            'sp', concat(slice(acc.sp, 1, size(acc.sp) - 1),
              array(named_struct('s', element_at(acc.sp, -1).s,
                'e', p + ${shingleK - 1}))),
            'prev', p),
          named_struct(
            'sp', concat(acc.sp,
              array(named_struct('s', p, 'e', p + ${shingleK - 1}))),
            'prev', p)),
        acc -> acc.sp)""")
    val toks = graft.functions.TokenSplit(col("text"))
    agg.withColumn("spans", spans)
      .withColumn("kept",
        filter(transform(toks, (t, i) => struct(i.as("i"), t.as("t"))),
          s => !exists(col("spans"),
            x => s.getField("i").between(x.getField("s"),
              x.getField("e"))))
          .getField("t"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text"))
  }

  /** Streaming image near-dup ingest gate — the perceptual-hash twin of
    * [[streamingNearDupGate]]: incoming image payloads decode to aHashes
    * (narrow mapPartitions, valid on a stream), band into the 4×16-bit
    * pigeonhole keys, and probe the STORED hash index through a
    * stateless stream-static equi-join; the exact popcount verify runs
    * only on bucket collisions. State is bounded by emitted matches.
    *
    * `hashIndex` is an [[graft.ext.Multimodal.imageHashes]] table the
    * batch job persists once per corpus snapshot. Scope: gates against
    * the index only (increment-internal dups are the batch job's
    * business). */
  def streamingImageDupGate(mediaStream: DataFrame, hashIndex: DataFrame,
                            maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4×16-bit pigeonhole blocking guarantees maxDist ≤ 3, got $maxDist")
    def fp: Column =
      shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo"))
    def banded(hashes: DataFrame, side: String): DataFrame =
      hashes.select(col("media_id").as(s"media_$side"),
          fp.as(s"fp_$side"))
        .select(col(s"media_$side"), col(s"fp_$side"),
          posexplode(array((0 until 4).map(q =>
            shiftright(col(s"fp_$side"), q * 16).bitwiseAND(0xFFFFL)): _*))
            .as(Seq("band", "bucket")))
    val inc = banded(graft.ext.Multimodal.imageHashes(mediaStream), "b")
    val idx = banded(hashIndex, "a")
    inc.join(idx, Seq("band", "bucket"))
      .withColumn("dist",
        graft.ext.Dedup.hamming(col("fp_a"), col("fp_b")))
      .filter(col("dist") <= maxDist)
      .groupBy("media_a", "media_b").agg(min("dist").as("dist"))
  }

  /** Streaming EDIT-DISTANCE ingest gate — the short-string
    * (instruction/title) twin of [[streamingNearDupGate]]: each arriving
    * string takes its [[graft.ext.Dedup.editNearDups]] block key (first
    * token, `length div lenBucket`) in the scan stage and probes the
    * STORED index through one stateless stream-static equi-join;
    * `levenshtein()` verifies only bucket collisions. Emits
    * (doc_a = index, doc_b = arrival, dist ≤ maxDist); zero state —
    * arrival-internal dups are the batch job's business. Same blocking
    * recall trade as the batch operator, documented there. */
  def streamingEditGate(docStream: DataFrame, index: DataFrame,
                        maxDist: Long = 3, lenBucket: Int = 16): DataFrame = {
    val toks = graft.ext.TextOps.words(col("text"))
    val inc = docStream.select(col("doc_id").as("doc_b"),
      col("text").as("txt_b"), element_at(toks, 1).as("k1"),
      expr(s"length(text) div $lenBucket").as("k2"))
    inc.join(
        index.select(col("doc_id").as("doc_a"), col("txt").as("txt_a"),
          col("k1"), col("k2")),
        Seq("k1", "k2"))
      // threshold form: the DP early-exits at O(maxDist · n) per pair
      // instead of O(m · n), and returns -1 beyond the threshold
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("txt_a"), col("txt_b"), maxDist.toInt)
          .cast("long").as("dist"))
      .filter(col("dist") >= 0L && col("dist") <= maxDist)
  }

  /** Streaming PERPLEXITY gate from a STORED ARPA language model —
    * CCNet's production gate shape (Wenzek et al. 2020 score arriving
    * crawl text under a stored KenLM and threshold on perplexity) at
    * the ingest door: each arriving document walks the model's
    * broadcast level frames in the LOG domain
    * ([[graft.ext.TextOps.knCrossEntropyStoredArpa]] with
    * `collapse = false` — the per-gram multiplicity collapse would be
    * a second stateful aggregation, and the scaled-integer walk sums
    * make the uncollapsed form bit-identical), then thresholds the
    * per-gram log10 cross-entropy. Emits
    * `(doc_id, n_grams, h10, pass)`; state is ONE doc-keyed integer
    * aggregation, the model is static broadcast data. Docs too short
    * to carry a gram have no signal and drop, as across the KN tier. */
  def streamingPerplexityGate(spark: SparkSession, docStream: DataFrame,
                              arpaPath: String, maxH10: Double)
      : DataFrame =
    graft.ext.TextOps.knCrossEntropyStoredArpa(spark, docStream,
        arpaPath, collapse = false)
      .withColumn("pass", col("h10") <= maxH10)

  /** Streaming CCNet BUCKET gate — the ingest-door form of the x221/
    * x224 composition: arriving documents score under the stored
    * (capped+pruned) ARPA model through the one-aggregation
    * log-domain walk ([[graft.ext.TextOps.knCrossEntropyStoredArpa]],
    * uncollapsed — bit-identical to batch by the scaled-integer
    * sums), then take their head/middle/tail verdict from the STORED
    * per-language threshold table the batch job computed
    * ([[graft.ext.Curation.ccnetThresholds]] over a corpus snapshot —
    * corpus-wide terciles are state a stream cannot see, the
    * stored-index discipline). The threshold apply is one stateless
    * broadcast left join ([[graft.ext.Curation.ccnetApplyThresholds]]
    * verbatim — languages missing from the table fall through to
    * `tail`), so the whole gate keeps EXACTLY one stateful operator.
    * Input must carry a `lang` column (it rides the aggregation as a
    * doc-functional group key). Emits
    * `(lang, doc_id, n_grams, h10, bucket)`; StreamingSpec pins ≡ the
    * batch threshold application on the same scores. */
  def streamingCcnetBucketGate(spark: SparkSession,
                               docStream: DataFrame, arpaPath: String,
                               thresholds: DataFrame): DataFrame =
    graft.ext.Curation.ccnetApplyThresholds(
      graft.ext.TextOps.knCrossEntropyStoredArpa(spark, docStream,
        arpaPath, collapse = false, passthrough = Seq("lang")),
      thresholds, scoreCol = "h10")

  /** Streaming BLOOM membership gate — x226 at the ingest door: each
    * arriving document's k-gram windows probe the STORED Bloom word
    * table ([[graft.ext.Sketch.bloomBuild]] over the benchmark set,
    * persisted by the batch job) and the doc reports how many of its
    * windows the filter claims. The word table is m/32 rows — SMALLER
    * than the exact distinct-hash set [[streamingDecontamGate]]
    * broadcasts, which is the production reason this gate exists: when
    * the reference set outgrows the exact broadcast, the filter keeps
    * membership at the door O(m) with ZERO false negatives (a clean
    * doc can read contaminated, never the reverse — route flagged docs
    * to the batch exact join). Probing is scan-stage seed-hash algebra
    * + one stream-static broadcast join; the per-(doc, window) verdict
    * AND the per-doc rollup ride ONE stateful aggregation (the window
    * bit-verdict folds into the same groupBy via a conjunction over
    * the k bits). Emits `(doc_id, n_windows, n_maybe_hits)`.
    * StreamingSpec pins ≡ the batch probe rollup. */
  def streamingBloomGate(docStream: DataFrame, words: DataFrame,
                         mBits: Int, k: Int,
                         shingleK: Int = 3): DataFrame = {
    val probes = docStream.select(col("doc_id"),
      explode_outer(array_distinct(
        graft.functions.ShingleHashesAll(col("text"), shingleK)))
        .as("key"))
    // ONE stateful aggregation: the per-(key, seed) bit rows gather
    // per doc (bounded by k × the doc's window count), and both the
    // per-window conjunction and the per-doc rollup are column
    // algebra over the collected list — a distinct key is a maybe-hit
    // iff NO seed row of it reads false
    graft.ext.Sketch.bloomProbeBits(probes, words, "key", mBits, k,
        keep = Seq("doc_id"))
      .groupBy("doc_id")
      .agg(collect_list(when(col("key").isNotNull,
        struct(col("key"), col("bit")))).as("lst"))
      .select(col("doc_id"),
        size(array_distinct(transform(col("lst"),
          x => x.getField("key")))).cast("long").as("n_windows"),
        (size(array_distinct(transform(col("lst"),
            x => x.getField("key")))) -
          size(array_distinct(transform(filter(col("lst"),
            x => !x.getField("bit")), x => x.getField("key")))))
          .cast("long").as("n_maybe_hits"))
  }

  /** Run a streaming aggregation over existing parquet as a bounded stream
    * (memory sink), for batch-equivalence testing. Returns the final table.
    */
  def runBounded(spark: SparkSession, agg: DataFrame, name: String,
                 mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q: StreamingQuery = agg.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
