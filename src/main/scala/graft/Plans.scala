package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.execution.ExplainMode

/** Formatted physical plans of registered queries, at sf0.001: plan
  * SHAPE is sf-independent, and eagerly-materializing queries
  * (checkpointed loops, stored-artifact builds) stay cheap there.
  *
  * Usage:
  *  - `runMain graft.Plans` rewrites PLANS.md with the headline picks
  *    below — the plan-review artifact backing SURVEY §9's scale claims;
  *  - `runMain graft.Plans <outDir> <tag> <q1,q2,...>` writes each named
  *    query's plan to `<outDir>/<query>_<tag>.txt` — the before/after
  *    plan evidence for optimization rounds (`plans/r<N>/`).
  *
  * Queries that localCheckpoint internally show only the tail of their
  * DAG (the loop body executes at plan time); loop-internal shapes are
  * pinned by PlanSpec/GraphSpec assertions instead. */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length == 3,
      "usage: Plans [<outDir> <tag> <q1,q2,...>]")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.001"
    def plan(name: String): String = masked(
      SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))(
        spark, sf).queryExecution.explainString(ExplainMode.fromString("formatted")))
    args match {
      case Array(outDir, tag, names) =>
        Files.createDirectories(Paths.get(outDir))
        for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan(name))
          println(s"[plans] wrote $outDir/${name}_$tag.txt")
        }
      case _ => writePlansMd(plan)
    }
    spark.stop()
  }

  /** A plan with its run-dependent text masked, so two runs of the same
    * code print the same bytes, from any checkout: the checkout root in
    * a checked-in fixture's path (`<checkout>/src/test/resources/…`), the
    * random suffix of a stored artifact's temp dir
    * (`graft_pq_store_<…>`), the source line of an RDD's call site
    * (`Similarity.scala:<n>`, it moves with any edit above it), and
    * lambda class names and identity hashes (`Lambda@<…>`). Expression,
    * exchange-plan and RDD ids are session-wide counters whose values
    * depend on what ran before, and a higher-order function's lambda
    * variable takes its `_<n>` suffix from a JVM-wide counter that every
    * lambda built anywhere advances; so each is renumbered by first use
    * in this plan (`#1`, `plan_id=1`, `RDD[1]`, `lambda x_1`), keeping
    * which operator reads which attribute. */
  private def masked(plan: String): String = {
    val fixed = plan
      .replace(Paths.get("").toAbsolutePath.toString + "/", "<checkout>/")
      .replaceAll("(graft_[A-Za-z0-9_]+?_store_)[^/\\]\\s]+", "$1<…>")
      .replaceAll("(\\w+\\.scala):\\d+", "$1:<n>")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{4,8}\\b", "@<…>")
    Seq("#", "plan_id=", "RDD\\[", "lambda [xyz]_").foldLeft(fixed) {
      (text, prefix) =>
        val ids = scala.collection.mutable.Map[String, Int]()
        s"($prefix)(\\d+)".r.replaceAllIn(text, m => Regex.quoteReplacement(
          m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
  }

  private def writePlansMd(plan: String => String): Unit = {
    val picks = Seq(
      "s1_scan_project" -> "Filter + projection pushed into the parquet scan (PushedFilters, 3-column ReadSchema).",
      "a1_mean_composite" -> "Mean composite: partial+final HashAggregate around one Exchange; decimal-routed sums stay in codegen.",
      "j3_broadcast_dim" -> "Threshold/dimension join: BroadcastHashJoin (part side broadcast), then partial+final aggregation.",
      "w1_minmax_norm" -> "Per-raster normalization: a single Window exchange on the partition key, no extra sort.",
      "x2_dedup_minhash" -> "MinHash LSH: shuffle-free native signature projection, band-bucket self-join, pair groupBy.",
      "j5_asof" -> "As-of join: union + keyed window (one exchange) instead of an inequality join.",
      "x5_ann_cosine" -> "Brute-force ANN: codegen'd fold dot product + TakeOrderedAndProject top-k (no global sort).",
      "j8_star_join" -> "Star join: fact scan through three chained BroadcastHashJoins, one exchange at the final small group-by.",
      "x17_ann_ivf" -> "IVF ANN: broadcast centroids, map-side assignment scores into one hash-agg argmax, broadcast probe semi-join, TakeOrderedAndProject re-rank.",
      "s4_geotiff_scan" -> "GeoTIFF scan: binaryFile source, per-file decode in its own task, no exchange anywhere.",
      "a7_clip_area" -> "Exact polygon clip: range source + map-side scalar clip, filter, no exchange.",
      "x20_embed_neardup" -> "Embedding near-dup: bucket-key self-join where both sides canonicalize to the SAME exchange (one shuffle write, two reads); exact cosine streams through the pair filter.",
      "x21_contamination" -> "Contamination audit: benchmark shingle set distinct'd then BROADCAST; the corpus side shuffles only (doc_id, shingle-long) pairs into one per-doc re-aggregation.",
      "x22_hash_sample" -> "Deterministic hash sample: a single codegen'd splitmix64 filter fused into the scan stage — no exchange, no RNG.",
      "x34_bm25" -> "BM25 retrieval: per-term tf as conditional counters in the corpus scan, ONE stats row broadcast back, TakeOrderedAndProject top-k — no vocabulary-sized state, no global sort.",
      "x35_temp_resample" -> "Inverse-sqrt domain rebalancing: per-stratum counts reduce small and broadcast back; the corpus side is scan → broadcast-join → codegen'd splitmix64 filter, never shuffled.",
      "x33_line_dedup" -> "Line-level boilerplate removal: line df aggregated on the engine-wide FNV line-hash keys (partial+final, bounded by distinct-line cardinality), anti-join back, order-preserving per-doc reassembly.",
      "x37_repeated_spans" -> "Repeated-substring census: native positional window hashes, ONE hash-agg shuffle on the 64-bit key, semi-join of surviving positions, gaps-and-islands span merge in one doc_id window.",
      "x38_semdedup" -> "SemDeDup: broadcast centroid assignment argmax, within-cluster pair join keyed on cid (never all-pairs), component contraction on the edge set only.",
      "x39_bloom_anti" -> "Bloom-pre-filtered drop-list subtraction: the sketch rides into the scan as one literal; only Bloom-positive rows reach the exact anti-join.",
      "t2_gap_fill" -> "Temporal gap-fill: per-key bounds agg + dense-grid generate + left join; all four IGNORE NULLS bracketing frames share ONE window exchange.",
      "x40_vocab_coverage" -> "Vocabulary/OOV audit: token census partial+final, TakeOrderedAndProject vocabulary cut, vocab BROADCAST back, one per-doc re-aggregation.",
      "j9_interval_join" -> "Interval containment join: intervals explode to time buckets, points own one bucket — an equi-join plus map-side refine, no BroadcastNestedLoopJoin.",
      "f7_lcc_reproject" -> "Conic CRS reprojection: range source + one scalar projection (the LCC inverse UDF), no exchange — reprojection is free at any scale.",
      "x45_dedup_products" -> "Fused dedup products: ONE jaccardPairs + connected-components pays for the component map, census, and kept split; the corpus re-joins the bounded cluster map (AQE broadcast) and aggregates per source.",
      "x47_mp4_probe" -> "Container metadata probe: per-row box walk inside the scan stage via mapPartitions, no exchange — corpus-wide media profiling never touches pixel bytes.",
      "x50_image_neardup" -> "Perceptual image near-dup: ImageIO decode feeds ONE repartition exchange that both banding sides reuse (decode runs once), band-keyed equi-join, exact popcount verify — never all-pairs.",
      "x51_lm_score" -> "Bigram-LM fluency score: occurrences collapse map-side to (doc, w1, w2, m); model joins are content-keyed equi-joins bounded by distinct-bigram cardinality; the vocabulary is ONE broadcast row.",
      "x53_sessionize" -> "Batch sessionization: the gap-rule window and the session rollup share ONE user-key exchange; skew bound is one user's event count.",
      "x55_token_mix" -> "Token-budget domain mixing: per-stratum token totals reduce small and broadcast back; the corpus side is scan → broadcast-join → codegen'd splitmix filter, never shuffled.",
      "x56_chunk_docs" -> "Context-length chunking: token split, per-doc window starts, one posexplode — pure narrow algebra, zero exchange at any corpus size.",
      "x65_pq_codes" -> "PQ encode: all 8 subspace argmins as codegen'd column algebra in the scan stage — zero exchange, zero join; a 100 TB corpus compresses 32x in one narrow map.",
      "x66_pq_ann" -> "PQ ADC retrieval: the 8x16 query distance table rides as literal arrays (no join), approximate distances stream through a TakeOrderedAndProject rerank cut, exact cosine re-ranks 50 rows.",
      "x67_int8_quant" -> "Int8 quantization audit: scale, codes, saturation, and residual MSE all per-row in the scan stage — zero exchange.",
      "x68_gopher_rules" -> "Gopher rule filter: five rule flags + keep as exact integer/boolean algebra fused into the scan — zero exchange.",
      "x70_ivfpq_ann" -> "IVF-PQ: the probe list is chosen driver-side and cell assignment is a literal argmax, so the whole query is scan -> codegen'd isin filter -> ADC -> TakeOrdered — zero exchange, zero join.",
      "x71_ivf_balance" -> "IVF list balance: literal-argmax assignment fused into the scan; the only exchange is the nCentroids-key count with map-side partials.",
      "x72_ivfadc_ann" -> "Residual IVFADC: prune, residual zip_with, code argmin, per-list CASE table lookup — all scan-stage column algebra; zero exchange, zero join, TakeOrdered rerank.",
      "x75_pq_neardup" -> "PQ-blocked near-dup: ids-only banding exchange (65,536 keys/band), candidate pairs dedupe as bare ids, vectors re-enter only at the bounded verify join — never all-pairs, never an array on the wire.",
      "x77_pq_stored_ann" -> "Stored-codes ADC retrieval: the code table scans from parquet at rest, the query table rides as literals, raw vectors enter only at the 50-row rerank join.",
      "x78_pq_band_balance" -> "PQ band occupancy report: one banding scan, one (band, key) count with map-side partials, one per-band rollup — the pre-flight that prices the dedup self-join.",
      "x76_frame_audio_probe" -> "Compressed-audio frame-header probe: per-row header walk inside the scan stage via mapPartitions, no exchange — corpus audio profiling never reads payload bits.",
      "f7_ps_reproject" -> "Polar stereographic CRS: range source + one scalar projection (the PS inverse UDF + longitude wrap), no exchange.",
      "x80_html_extract" -> "WARC → HTML → text: archive synthesis, gzip-member inflation, record parse and extraction all in ONE narrow task chain — zero exchange; at scale the unit of parallelism is the archive file.",
      "x84_crawl_curation" -> "Crawl curation composition: extraction feeds langid + Gopher flags as fused column algebra on the same pass — the whole ingest-to-gate pipeline has zero exchanges.",
      "x82_quality_classifier" -> "Hashed linear classifier: per-token buckets collapse in a map-side partial count; the weight table is a codegen'd FORMULA (no join); one per-doc aggregate with an ordered fold.",
      "x85_trained_quality" -> "Trained logistic scoring: the final weights fold back as literals — scoring is scan → project, zero exchange (training itself is iters × one bounded aggregate).",
      "x90_pca_projection" -> "PCA projection: the trained principal direction rides as a literal into a codegen'd dot fold — scan → project, zero exchange (the one moment pass collapses map-side to 2,080 keys).",
      "x96_bm25_stored" -> "Stored BM25: the query terms' postings scan (partition-prunable by term at scale), one per-doc conditional-max agg, doclens join, literal stats — the corpus table appears nowhere in the plan.",
      "x97_pca_variance" -> "PCA variance report: the moments collapse map-side in ONE allocation-free pass; the report itself is a one-row literal projection — no exchange anywhere.",
      "x98_bpe_tokens" -> "Exact BPE tokenization: the merge loop is one native expression fused into the scan (merge table rides in the expression tree, per-thread word cache) — zero exchange at any corpus size.",
      "x103_bpe_pack" -> "BPE-denominated packing: the exact token count replaces the whitespace proxy inside the same single window exchange — re-denominating budgets changes no plan shape.",
      "x99_url_domains" -> "URL normalization + registered domain: pure codegen'd string algebra per row — zero exchange; the suffix table is a literal CASE chain.",
      "x104_domain_rollup" -> "Registered-domain rollup: narrow normalize/domain projection into ONE partial+final hash agg on the domain key.",
      "x100_quantile_sketch" -> "HDR quantile sketch: typed UDAF with map-side partial merge (vector adds) — one exchange carrying 14.8 KiB sketches per partition, no sort of the corpus.",
      "x101_pca_topk" -> "Top-k PCA projections: all three deflated axes ride as literals into codegen'd dot folds — scan → project, zero exchange (training reused ONE moment pass).",
      "x102_mjpeg_frames" -> "MJPEG frame sampling: per-container RIFF walk + JPEG entropy decode inside the map task via mapPartitions. The one exchange is the narrow round-robin generator spread (ids only, before payloads exist) — at production scale containers arrive already wide and the spread is a guarded no-op.",
      "f7_tmerc_reproject" -> "Parameterized TM CRS: range source + one scalar projection (the EPSG:27700 Krüger inverse UDF with the rectified-origin offset), no exchange.",
      "x108_subword_census" -> "Subword census via the custom Generator: scan → Generate(bpe_explode) → partial+final hash agg → TakeOrderedAndProject — one exchange, no array materialization, no global sort.",
      "x107_domain_mix" -> "Domain-aware rebalancing: per-domain counts reduce small and broadcast back; the corpus side is scan → derived-domain project → broadcast-join → splitmix filter, never shuffled.",
      "x112_cdc_chunks" -> "CDC chunk dedup: per-doc anchor window (ONE doc-keyed exchange), chunk fingerprints collapse per (doc, chunk), the census is one hash agg on the 64-bit fingerprint — the x37 posture at chunk granularity.",
      "x109_robots_gate" -> "Robots compliance gate: the rule table parses from per-domain documents (bounded by domains × rules) and BROADCASTS; the corpus side joins on the domain key and re-aggregates the precedence argmax per URL — one bounded exchange whose max-struct partials collapse map-side.",
      "x110_script_profile" -> "Unicode-script profile: four regexp-census counts and the dominant-script argmax fused into the scan as codegen'd column algebra — zero exchange.",
      "x111_sitemap_audit" -> "Sitemap coverage audit: listing and crawled sets distinct on (domain, url), ONE full-outer equi-join, per-domain classification rollup — set algebra on content keys, never all-pairs.",
      "x113_zip_scan" -> "ZIP WebDataset shards: per-archive central-directory walk + member inflate inside the scan task via mapPartitions — no exchange; the shard is the unit of parallelism.",
      "x114_crawl_frontier" -> "Crawl frontier COMPOSITION: the x111 listing (left join + phantom explode), an anti-join against the crawled set, the broadcast x109 rule table, and one bounded per-URL argmax re-aggregation — each fragment keeps its own proven shape; composing them adds no new corpus-sized exchange.",
      "x115_bytebpe_tokens" -> "Byte-level BPE report: GPT-2 pre-split, UTF-8 byte merge loop and all three counts in ONE native expression fused into the scan (merge table in the expression tree, per-thread pre-token cache) — zero exchange at any corpus size.",
      "x116_recrawl_schedule" -> "Recrawl schedule: nested sitemap XML parses through two narrow explodes and a domain-keyed join (dimension-sized sides), the crawl-state join is one bounded equi-join, and the rank is a per-domain window — skew bound is one domain's sitemap size.",
      "x117_exif_probe" -> "JPEG EXIF/JFIF probe: per-row marker walk + TIFF IFD parse inside the scan stage via mapPartitions, no exchange — image-corpus profiling never touches entropy-coded bytes.",
      "x119_bytebpe_trained_tokens" -> "Trained byte tokenizer applied: the x118-learned merge table folds back into the SAME single native expression as x115 — training changes the literal table, not the plan.",
      "x120_politeness_schedule" -> "Politeness schedule: the x116 ranking joins the BROADCAST per-domain robots metadata (delay + sitemap discovery gate); fetch times are one codegen'd product — no new corpus-sized exchange.",
      "x121_bytebpe_pack" -> "Byte-BPE-denominated packing: the x115 native byte-token count replaces the counter inside the SAME single window exchange as x103 — re-denominating the budget in real training tokens changes no plan shape.",
      "x122_robots_groups" -> "RFC 9309 robots groups: group assembly is two line-order windows + two bounded aggregations on the dimension-sized rule table (domains x rules, broadcast at any corpus size); the selected-and-merged table feeds the unchanged x109 precedence gate.",
      "x123_link_graph" -> "RFC 3986 reference resolution: explode to hrefs, then resolution + host + registered domain as ONE flat-regex projection above the Generate — zero exchange at any corpus size, and the flat component extraction keeps whole-stage codegen under Janino's method limit.",
      "x125_binary_ann" -> "Binary sign-bit ANN: two 32-bit sign words fold in the scan stage, Hamming is two XOR+popcounts, and BOTH cuts (Hamming pre-cut, cosine rerank) are TakeOrderedAndProject — no exchange, no global sort; floats are read only by the 20-row rerank.",
      "x126_binary_stored_ann" -> "STORED sign-word ANN: the Hamming cut scans ONLY the persisted (vec_id, w0, w1) table — its ReadSchema carries no embedding column (PlanSpec-asserted) — and the float vectors enter through the bounded 20-row rerank equi-join; both cuts TakeOrderedAndProject.",
      "x128_anchor_census" -> "Anchor-term census: entity decode + term split as scan-stage column algebra above the href Generate, then ONE partial+final hash agg keyed by (dst_domain, term) — bounded by the census vocabulary, counts collapse map-side.",
      "x129_crawl_traps" -> "Crawl-trap census: host/path/query splits + the digit-collapse regex in the scan stage, then ONE hash agg per host whose three distinct-counts expand map-side — no join, no sort, dimension-sized output.",
      "x114b_frontier_stateless" -> "Stateless frontier twin: x114's composition with the narrow url projection RECOMPUTED per branch (no checkpoint scan in the plan) — the 100 TB shape; the per-branch codegen'd URL chains are the measured Janino cost the checkpointed twin dodges at fixture scale.",
      "x137_ranked_frontier" -> "Authority-ranked frontier: the x116 schedule joined to the checkpointed rank vector, priority as a codegen'd product, and the global fetch-next cut as TakeOrderedAndProject — a bounded top-k per tick, never a full-corpus sort.",
      "x138_cocitation" -> "Co-citation: the edge-sized checkpoint self-joined on the source key (ordered pairs), counts collapsing map-side — pair volume bounded by out-degree squared, now capped upstream (maxOutDeg drops mega-hubs before the self-join).",
      "x145_crawl_budget" -> "Hamilton crawl-budget apportionment: quota algebra as per-row columns over one broadcast rank sum; the remainder is a TakeOrderedAndProject top-R cut broadcast back as a membership flag — NO single-partition window anywhere in the plan.",
      "x148_geotagged_join" -> "EXIF GPS x pixel grid: the GPS sub-IFD walk is a per-task mapPartitions over the payload scan (no shuffle to extract fixes), the fix table broadcasts into the J1 cell equi-join — the raster side never shuffles.",
      "x149_kn3_score" -> "Trigram Kneser-Ney: occurrence rows collapse map-side, five model tables all bounded by distinct-trigram cardinality join back by content key, type total is ONE broadcast row, per-doc ordered fold — the x144 plan one order higher.",
      "x152_shard_manifest" -> "Shard manifest: fingerprint + mix64 digest as scan-stage columns, ONE partial+final shard aggregation (XOR/count/sum partials collapse map-side) — the dataset-versioning artifact costs one narrow pass at any corpus size.",
      "x151_zipf_fit" -> "Zipf fit: token census partial+final, the head cut as TakeOrderedAndProject (never a vocabulary sort), a <=1000-row rank window, one decimal-routed regression aggregate.",
      "x160_salsa" -> "SALSA: per half-round one edge equi-join + one key-partitioned partial+final agg; NO normalization aggregate (mass conservation) — 2 fewer one-row barriers per round than HITS.",
      "x164_line_census" -> "Boilerplate line census: the x33 kernel's (id, pos, h, len) rows, df on the 64-bit hash (partial+final), ONE equi-join back, per-doc rollup with the XOR digest — raw line text never rides an exchange.",
      "x165_repetition" -> "Gopher repetition signals: line half = two hash aggs keyed (id, h) then (id); gram half = doc-keyed counts, per-doc max, argmax join — every exchange carries the doc id, skew bounded by the longest document.",
      "x166_kn5_score" -> "Order-5 Kneser-Ney: occurrences collapse map-side; 8 model tables (all bounded by distinct-5-gram cardinality, strictly shrinking down the continuation chain) join back by suffix key; type total ONE broadcast row.",
      "f7_osgb_datum" -> "Legacy-datum CRS to WGS84: range source + one scalar projection (Krueger inverse + Helmert shift in a single UDF), no exchange — the datum shift is free at any raster volume.",
      "x168_dsir_select" -> "DSIR selection: both bucket models reduce to <= dim rows and broadcast; the corpus side is one shingle explode collapsing map-side, two broadcast joins, a doc-keyed fold, and a bounded TakeOrdered cut broadcast back — never a corpus sort.",
      "x173_bpe_roundtrip" -> "Detokenization parity: encode and decode are TWO chained native expressions fused into the scan (both tables ride the expression tree as one string each) — zero exchange; the bijection audit is free at any corpus size.",
      "x174_mp4_jpeg_frames" -> "MP4 'jpeg' sample-track decode: the stsc/stsz/stco demux walk + baseline JPEG decode run per container inside the map task via mapPartitions — the x102 posture (one narrow guarded generator-spread exchange, ids only) in the ISO-BMFF container.",
      "x175_packed_binidx" -> "Packed-sequence export: the x26 pack window (ONE source-key exchange), a pack-keyed concat aggregation, the in-task shard render, and the parse — pack identity is closed-form (src#·2^16 + pack_id), so NO global row_number anywhere.",
      "x181_fim_transform" -> "FIM transform: three splitmix64 streams, the cut/substr/concat algebra and the apply gate are ALL codegen'd column math fused into the scan — zero exchange, zero state; infilling prep is free at any corpus size.",
      "x182_blocklist_census" -> "Blocklist census: the literal IN-list evaluates map-side inside the token explode (no join for a list-sized vocabulary); the only exchange carries term keys into a partial+final count bounded by |blocklist|.",
      "x183_entropy_gate" -> "Entropy gate: the per-row CharEntropy kernel + 6-dp round + tail cut fuse into the scan — zero exchange; the compressibility signal costs one pass over the bytes it reads.",
      "x184_chat_loss_mask" -> "SFT loss-mask spans: closed-form offsets mean explode + per-row arithmetic only — no window, no join, zero exchange; the mask rides the same narrow pass that renders the template.",
      "x185_span_corrupt" -> "T5 span corruption: per-block splitmix offsets and both token reassemblies are higher-order column functions fused into the scan — zero exchange, zero state; denoising prep never shuffles.",
      "x186_ngram_novelty" -> "n-gram novelty: only (doc_id, shingle-long) pairs ride the exchanges; the df table is ONE shingle-keyed count bounded by gram cardinality and the re-agg is doc-keyed — the x33 census shape, never all-pairs.",
      "x187_token_drift" -> "Token-distribution drift: one term-keyed census with map-side partials, totals and the decimal-routed KL each ONE broadcast row, TakeOrderedAndProject cut — the corpora never shuffle their text.",
      "x188_ul2_denoisers" -> "UL2 mixture: mode routing and all three denoiser branches (R/S/X) ride one CaseWhen of higher-order column functions in the scan stage — zero exchange, zero state; codegen evaluates only the matched branch per row.",
      "x189_length_batching" -> "Length-bucketed batching report: two shard-partitioned windows (bucketed + baseline), bounded per-batch aggs, the per-shard baseline broadcast back — output rows = shard x bucket, never a global sort.",
      "x190_data_card" -> "Per-source data card: gopher flags fuse into the scan, then (source, lang) -> source two-level aggregation with map-side partials; the entropy fold rides a bounded collect_list per source — output rows = source count.",
      "x191_bestfit_pack" -> "Best-fit-decreasing packing: ONE shard-keyed exchange of (shard, id, len) triples into a per-shard sequential flatMapGroups (TreeMap best-fit, 16 bytes/doc of state) — the honest shape for an inherently sequential recurrence; text never crosses the wire.",
      "x193_rare_token_scrub" -> "Rare-token scrub: the x33 census shape — (doc, pos, term) triples, ONE term-keyed distinct-doc df bounded by vocabulary size, join back, doc-keyed position-sorted reassembly; no text on the df exchange.",
      "x194_edit_neardup" -> "Blocked Levenshtein near-dup: ONE block-keyed exchange, pairs stream from posexplode+slice (no m^2 array), levenshtein once per unordered pair; group cap bounds the quadratic core — never all-pairs.",
      "x195_preference_pairs" -> "Preference pairs: ONE prompt-keyed aggregate — both extremes ride min/max(struct) partials with map-side combine; no window, no per-prompt list, texts never shuffle.",
      "x197_unigram_tokens" -> "Unigram tokenizer apply: the trained piece table is a broadcast local value inside one scan-stage UDF over the token array — zero exchange, zero join; training cost was paid ONCE by the memoized census-job trainer.",
      "x199_kmeans_census" -> "K-means census: assignment is a literal-centroid argmax fused into the scan (vectors never shuffle), then ONE cid-keyed aggregate; each Lloyd training iteration was ONE aggregation whose exchange carries k x dim scalars, never vectors.",
      "x202_abtt_topk" -> "ABTT retrieval: mean/axis are driver literals off the shared moment pass; per-vector correction + cosine are folds fused into the scan -> TakeOrdered. Zero exchange, zero join at any corpus size.",
      "x210_kn5_arpa_stored" -> "Stored order-5 ARPA scoring: the reloaded model rides as 9 BROADCAST level frames (5 gram lookups + 4 backoff contexts) into the occurrence stream — the artifact is the bounded side, the corpus shuffles once into the doc-keyed occurrence agg and once into the score fold; no model-sized exchange anywhere.",
      "x212_stored_censor" -> "Stored-set line censor: the persisted boilerplate table (df >= minDf survivors — tiny) anti-joins the line explode on the 64-bit hash, then ONE doc-keyed order-preserving reassembly — the streaming gate's exact batch shape.",
      "x213_exactsubstr_strip" -> "ExactSubstr owner election: the min-(doc,pos) owner rides the SAME window-census aggregate (no extra exchange over x37), non-owner positions island-merge in one doc-keyed window, spans strip as a bounded per-doc list.",
      "x214_ccnet_buckets" -> "CCNet terciles: the x144 scoring plan, then the bucket window over the (lang, score) GROUP table — bounded by distinct rounded scores, never a per-document sort; the per-language cutoffs broadcast back into one verdict join.",
      "x216_luhn_cc_scrub" -> "Luhn card scrub: candidate extraction, the checksum fold, and the replace fold are ALL codegen'd column algebra fused into the scan — zero exchange; checksum-gated PII costs one pass.",
      "x217_hll_vocab" -> "Relational HyperLogLog: rho via an integer comparison fold in the scan stage, ONE m-key exchange whose max/count-distinct partials collapse map-side, an m-row final fold — cardinality at scan speed, no census.",
      "x226_bloom_decontam" -> "Relational Bloom filter: the word table is ONE bit_or aggregation bounded at m/32 rows and BROADCASTS into the probe join; probing is scan-stage seed-hash algebra + one doc-keyed verdict agg — membership at scan speed, state independent of the benchmark size.",
      "x227_countmin_heavy" -> "Count-Min heavy hitters: registers are ONE count aggregation bounded at d·w cells and BROADCAST back into the estimate join; the exact top-20 cut is TakeOrderedAndProject — frequency estimates at scan speed, state independent of vocabulary.",
      "x215_c4_filters" -> "C4 cleaning rules: every line rule and page tell is string/array algebra fused into the scan — zero exchange at any corpus size, the same call is stream-valid.",
      "x218_decontam_strip" -> "Span decontamination: the benchmark shingle set distinct'd then BROADCAST into one semi-join; removable positions island-merge in ONE doc-keyed window; the span list per doc is bounded.",
      "x219_dup_matrix" -> "Cross-source dup matrix: rides the banded jaccardPairs tier (never all-pairs); endpoint sources attach via two doc-keyed equi-joins, the rollup is source²-sized.",
      "x220_kn_arpa_pruned" -> "Capped+pruned stored ARPA scoring: the pruned model rides as 5 broadcast level frames; the corpus shuffles once into the doc-keyed occurrence agg — pruning changed the artifact, not the scoring plan.",
      "x221_ccnet_stored_pruned" -> "CCNet terciles over the STORED capped+pruned score: the bounded-model broadcast-level cascade feeds the same score-GROUP tercile window as x214 — the model side is driver-loadable by construction at any corpus scale.",
      "x224_ccnet_sampled" -> "CCNet sampled thresholds: the x144 scoring plan, a pushed splitmix64 hash-filter carves the sample, the tercile window runs over the SAMPLE's score groups only, and every document verdicts through one BROADCAST cutoff join — no full-corpus window anywhere.",
      "x228_kn5_arpa_pruned" -> "The production LM artifact: capped+pruned ORDER-5 scoring — same broadcast-level cascade as x220, the model 59x smaller than the unbounded x210 artifact; pruning changed the artifact, not the plan.",
      "x229_ccnet_kn5_pruned" -> "CCNet at full production fidelity (pruned KenLM 5-gram): the bounded order-5 cascade feeds the x214 score-GROUP tercile window — the end state of the stored-LM arc, driver-loadable at any corpus scale.",
      "x225_kn5_arpa_dist" -> "Distributed-read stored scoring: the model is 9 partition-pruned parquet sidecar scans (never a driver literal) joined into the occurrence stream — broadcast-hash while the model fits the threshold, sort-merge-able past it; same walk, same hashes as x210.",
      "x222_moore_lewis" -> "Moore-Lewis selection: two broadcast-level log-domain scoring cascades (scaled-integer sums, no pow anywhere), one doc-keyed join, and the top-K cut as TakeOrderedAndProject broadcast back as a flag — never a corpus sort.",
      "x223_lm_mixture" -> "LM interpolation: one bigram explode with SIX broadcast lookups (lp2/lp1/bow1 per model), the λ-blend as scan-stage algebra, one doc-keyed positional fold — domain adaptation costs one narrow pass, zero corpus-sized state.")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.Plans` at sf0.001 (plan shapes are scale-\n")
    sb.append("independent; AQE may further coalesce at runtime). Commentary notes\n")
    sb.append("the property each plan is expected to show; PlanSpec asserts them.\n\n")
    sb.append("Not planned here, deliberately: x105/x106 and x118/x119's TRAINING\n")
    sb.append("loops are driver-side iterations whose per-round plan is the x85\n")
    sb.append("shape (one vocabulary-bounded aggregate + a 1-row argmax); the\n")
    sb.append("query output of x105/x118 is the learned table itself (a driver-\n")
    sb.append("side toDF), so its 'plan' is a LocalTableScan by construction.\n")
    sb.append("x124's PageRank rounds eagerly localCheckpoint (Pregel-style), so\n")
    sb.append("its final plan — and x127's, which is a TakeOrderedAndProject cut\n")
    sb.append("of the same vector — is a checkpoint scan; the per-round shape is\n")
    sb.append("one edge equi-join + one dest-key partial+final agg + a one-row\n")
    sb.append("dangling cross join (see Graph.pageRank scaladoc + GraphSpec).\n")
    sb.append("x171's corpus-build stages likewise checkpoint at each gate\n")
    sb.append("boundary (s3-s6 each feed 2-3 consumers), so its final plan reads\n")
    sb.append("checkpoints; each STAGE's plan is its standalone operator's shape,\n")
    sb.append("already planned here (x109/x32/x33/x68/x4+x27/x168/x26/x170).\n")
    sb.append("x172's build half persists shards+sidecar once (storedDir); the\n")
    sb.append("query half is a parquet scan + mapPartitions parse + the decode\n")
    sb.append("expression + a 4-partition layout window — the x96 stored shape.\n")
    sb.append("x211 composes the x171 chain (same checkpointed gate boundaries)\n")
    sb.append("with the x119 trained-byte-BPE expression over the s6 survivors —\n")
    sb.append("its final plan likewise reads checkpoints; the added stage is the\n")
    sb.append("zero-exchange native-expression encode already planned at x119.\n")
    picks.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(plan(name))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("[plans] wrote PLANS.md")
  }
}
