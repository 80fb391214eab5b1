package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.LocalFs

/** The END-TO-END corpus build — crawl to training binary as one
  * composed DAG, the product shape of the reference pipeline
  * (`DataDownloader_V2.py:110-168` chains fetch → transform → export
  * in one driver; this is that chain over the LLM-curation tier):
  *
  *   robots gate → PII scrub → line-boilerplate censor → Gopher
  *   gates → near-dup removal → DSIR selection → sequence packing →
  *   MMIDIDX export.
  *
  * Each stage is an already-proven operator ([[UrlOps.robotsGate]],
  * [[Cleanse.redactPii]]/[[Cleanse.removeBoilerplateLines]],
  * [[TextOps.gopherRules]], [[Dedup.jaccardPairs]]/[[Dedup.dedupCorpus]],
  * [[TextOps.dsirLlr]], [[Curation.packSequences]],
  * [[graft.sources.BinIdx]]); what THIS operator owns is the
  * composition: gate ordering (scrub before the censor so redaction
  * tags can be censused; dedup AFTER cleanse so near-dup copies that
  * differ only in chrome still collide), row-identity threading
  * (doc_id joins at every boundary), and the export reconciliation.
  *
  * Scale posture: every stage is its own bounded shuffle over a
  * monotonically SHRINKING corpus; stage outputs are eagerly
  * `localCheckpoint`ed because s3-s6 each feed 2-3 downstream
  * consumers (gopher + join, dedup's shingle scans + anti-join, DSIR's
  * raw/target sides + the cut, pack + export + layout) which would
  * otherwise replay the whole upstream chain per consumer — the
  * Pregel lineage discipline applied to a pipeline instead of a loop.
  * At 100 TB swap the localCheckpoints for reliable `checkpoint`s or
  * intermediate parquet landings (the plan shape is unchanged); the
  * stage tables after gating are corpus-sized, never token-sized —
  * token-level rows exist only inside the censor/dedup/DSIR
  * aggregations and the final in-task shard render.
  */
object CorpusBuild {

  /** Every stage surface, for audits and the count-invariant spec:
    * `sN` tables shrink monotonically (a gate may only drop rows);
    * `report` is one row per exported sequence reconciling pack and
    * export (`n_tokens` must equal `n_tokens_idx` row for row). */
  final case class Stages(s1Robots: DataFrame, s2Scrubbed: DataFrame,
                          s3Censored: DataFrame, s4Gopher: DataFrame,
                          s5Deduped: DataFrame, s6Selected: DataFrame,
                          packed: DataFrame, report: DataFrame)

  /** Run the chain. `docs` must carry (doc_id, source, text) — any
    * fixture planting happens upstream; `urls` carries (doc_id,
    * domain, path) and `rules` a [[UrlOps.parseRobots]] table.
    * `isTarget` selects the DSIR target slice AMONG survivors;
    * `selectK` is the resampling cut on the 9-dp-rounded per-gram
    * LLR ratio. `minWords` is the corpus-tuned Gopher word-count
    * floor (the other four rules run at paper thresholds). `reline`
    * imposes line structure AFTER the scrub and BEFORE the censor —
    * identity for real corpora (they arrive with newlines); flat
    * synthetic fixtures pass a chunker. The order is forced: the
    * scrub must see unbroken text (a redaction pattern spanning
    * spaces dies on an injected newline), the censor needs lines. */
  def run(docs: DataFrame, urls: DataFrame, rules: DataFrame,
          isTarget: Column, minWords: Long = 50L, minDfLine: Long = 20L,
          minJaccard: Double = 0.4, selectK: Int = 180,
          packBudget: Long = 2048L, nShards: Int = 4,
          reline: Column => Column = identity): Stages = {
    // 1. robots: fetch-compliance before anything else touches a doc
    val allowed = UrlOps.robotsGate(urls, rules)
      .filter(col("allowed")).select("doc_id")
    val s1 = docs.join(allowed, "doc_id")
    // 2. scrub at the door — PII never flows further downstream
    val s2 = s1.select(col("doc_id"), col("source"),
      Cleanse.redactPii(col("text")).as("text"))
    // 3. corpus-wide line censor; a doc losing every line drops out.
    // The scrubbed+relined table materializes ONCE before the censor:
    // removeBoilerplateLines reads its input three times (line table,
    // df census, n_lines count), and without this boundary each pass
    // re-ran the robots join + the redactPii regex battery + the
    // reline transform over the whole corpus (r18 stage profile: s3
    // was 83% of the chain). localCheckpoint stores partitions in
    // place — no exchange carries line strings — so the censor's
    // split+hash re-derivation stays the honest strings-stay-put
    // trade while the regex CPU is paid once.
    val s2r = s2.withColumn("text", reline(col("text")))
      .localCheckpoint(true)
    val s3 = Cleanse.removeBoilerplateLines(s2r, minDf = minDfLine)
      .filter(col("n_kept") > 0)
      .join(s2r.select("doc_id", "source"), "doc_id")
      .localCheckpoint(true)
    // 4. Gopher quality gates on the CLEANED text
    val keep4 = TextOps.gopherRules(s3)
      .filter(col("n_words") >= minWords && col("n_words") <= 100000L &&
        col("r_mean_word_len") && col("r_symbol_ratio") &&
        col("r_alpha_words") && col("r_stopwords"))
      .select("doc_id")
    val s4 = s3.join(keep4, "doc_id").localCheckpoint(true)
    // 5. near-dup clusters on the cleaned text, component-min survivor
    val s5 = Dedup.dedupCorpus(s4,
        Dedup.jaccardPairs(s4, shingleK = 3, minJaccard = minJaccard)
          .select("doc_a", "doc_b"))
      .localCheckpoint(true)
    // 6. DSIR: price every survivor against the target slice, keep
    //    the top-K on the ulp-proof rounded ratio (the x168 cut)
    val top6 = TextOps.dsirLlr(s5, s5.filter(isTarget))
      .orderBy(round(col("llr") / col("n_grams"), 9).desc, col("doc_id"))
      .limit(selectK).select("doc_id")
    val s6 = s5.join(broadcast(top6), "doc_id").localCheckpoint(true)
    // 7. pack; 8. export, scan back, reconcile per sequence
    val packed = Curation.packSequences(s6, "source", packBudget)
    val parsed = graft.sources.BinIdx.read(
        graft.sources.BinIdx.shardsFromDocs(s6, nShards = nShards))
      .select(col("shard"), col("pos"),
        col("n_tokens").cast("long").as("n_tokens_idx"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_sum"))
    val layout = s6
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy("shard").orderBy("doc_id")) - 1).cast("int"))
    val report = parsed.join(layout, Seq("shard", "pos"))
      .join(packed.select("doc_id", "n_tokens", "pack_id"), "doc_id")
      .join(s6.select("doc_id", "source", "n_lines", "n_kept"), "doc_id")
      .select(col("doc_id"), col("source"), col("n_lines"), col("n_kept"),
        col("n_tokens"), col("pack_id"), col("shard"), col("pos"),
        col("n_tokens_idx"), col("id_sum"))
    Stages(s1, s2, s3, s4, s5, s6, packed, report)
  }

  /** The TRAINED-TOKENIZER export — stage 8 of the one-DAG product
    * (x211): the byte-BPE vocabulary is fitted to the CURATED
    * SURVIVORS (the production order — curate first, then train the
    * tokenizer on what survived, then tokenize), the survivors encode
    * to trained ids, and the directory holds the complete loadable
    * artifact set a training job consumes:
    *
    *   s6/          curated survivor table (parquet, for reconcile)
    *   shards/      MMIDIDX binidx shards over trained token ids
    *   merges.txt   the GPT-2-format merge table sidecar
    *   vocab.json   the GPT-2-format id assignment sidecar
    *
    * Scale posture: training is the one-pass census trainer
    * ([[TextOps.trainByteBpeMergesFast]], Zipf-tail-bounded driver
    * state); encoding is a scan-stage expression; the shard write is
    * one keyed exchange ([[graft.sources.BinIdx.shardsFromIds]]). */
  def tokenizedExport(s6: DataFrame, outDir: String, nShards: Int = 4,
                      nMerges: Int = 12): Unit = {
    val cols = s6.select("doc_id", "source", "text", "n_lines", "n_kept")
    LocalFs.write(cols).mode("overwrite").parquet(s"$outDir/s6")
    val merges = TextOps.trainByteBpeMergesFast(cols, nMerges = nMerges)
      .map(m => (m._1, m._2))
    val ids = cols.select(col("doc_id"),
      graft.functions.ByteBpeIds(col("text"), merges).as("ids"))
    LocalFs.write(graft.sources.BinIdx.shardsFromIds(ids, nShards = nShards))
      .mode("overwrite").parquet(s"$outDir/shards")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "merges.txt"),
      graft.functions.ByteBpe.renderGpt2Merges(merges))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "vocab.json"),
      graft.functions.ByteBpe.renderGpt2Vocab(merges))
  }

  /** Reload [[tokenizedExport]]'s artifacts and reconcile: parse the
    * shards back, DECODE every sequence through the merges.txt
    * sidecar, and join the survivor layout — `roundtrip` is TRUE only
    * when decode(sidecar, .bin) reproduces the curated text bit for
    * bit (byte-level BPE is lossless; any merge-table, id-assignment,
    * layout or sidecar-serde bug flips it false). */
  def tokenizedReport(spark: org.apache.spark.sql.SparkSession,
                      dir: String, nShards: Int = 4): DataFrame = {
    val sidecar = graft.functions.ByteBpe.parseGpt2Merges(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "merges.txt")))
    val s6 = spark.read.parquet(s"$dir/s6")
    val parsed = graft.sources.BinIdx.read(spark.read.parquet(s"$dir/shards"))
      .withColumn("decoded",
        graft.functions.ByteBpeDecode(col("ids"), sidecar))
    val layout = s6
      .select(col("doc_id"), col("source"), col("n_lines"), col("n_kept"),
        col("text"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy("shard").orderBy("doc_id")) - 1).cast("int"))
    parsed.join(layout, Seq("shard", "pos"))
      .select(col("doc_id"), col("source"), col("n_lines"), col("n_kept"),
        col("shard"), col("pos"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("decoded") === col("text")).as("roundtrip"))
  }
}
