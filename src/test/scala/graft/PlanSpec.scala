package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these operators scale —
  * filter pushdown to parquet, column pruning, broadcast joins for
  * dimensions, partial aggregation, codegen — verified against the actual
  * optimized plans, not assumed. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The shuffles a physical plan runs, found through AQE's wrapper and
    * its query stages. A `ReusedExchangeExec` is a leaf here, so a reused
    * shuffle counts once, where its exchange is planned. */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    PlanWalk.collect(plan) { case e: ShuffleExchangeExec => e }
  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def executed(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan
  }

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("s1: filter is pushed to the parquet scan, schema pruned to 3 cols") {
    val p = planString("s1_scan_project")
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_orderkey,1000)"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") &&
      p.contains("struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"),
      s"columns not pruned:\n$p")
  }

  test("p4: date-range predicates reach the scan") {
    val p = planString("p4_daterange")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
           p.contains("LessThan(o_orderdate"), s"range not pushed:\n$p")
  }

  test("j3: dimension join is broadcast, aggregation is partial+final") {
    val p = planString("j3_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), s"not broadcast:\n$p")
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
    // partial aggregation before the exchange (map-side combine)
    val ix = p.indexOf("partial_")
    assert(ix >= 0, s"no partial aggregation:\n$p")
  }

  test("j2: semi join stays broadcast (no shuffle of the big side)") {
    val p = planString("j2_semi")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"semi join shape wrong:\n$p")
  }

  test("a1: whole-stage codegen covers the aggregate") {
    val df = SparkEntry.queries("a1_mean_composite")(spark, sf)
    df.collect() // AQE finalizes the plan on execution
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark whole-stage-codegen stages in the simple form;
    // both partial (stage 1) and final (stage 2) aggregates must be inside
    assert(p.contains("*(1) HashAggregate") || p.contains("*(1) ColumnarToRow"),
      s"scan+partial agg not codegen'd:\n$p")
    assert(p.contains("*(2) HashAggregate"), s"final agg not codegen'd:\n$p")
  }

  test("w1: single window exchange, no extra sort beyond the window's") {
    val plan = executed("w1_minmax_norm")
    assert(shuffles(plan).size <= 1, s"window should shuffle once:\n$plan")
  }

  test("x13 top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = executed("x13_topk_events").toString
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("x2 minhash: fingerprints computed without explode/shuffle before LSH") {
    // signature stage must be a pure projection over the scan: exactly the
    // exchanges needed for the band-bucket self-join + pair group (no
    // extra distinct shuffle of signature arrays)
    val df = ext.Dedup.minhashSignature(
      Tables.documents(spark, sf))
    assert(shuffles(df.queryExecution.executedPlan).isEmpty,
      "signature computation must not shuffle")
  }

  test("x2: banding exchange carries doc ids only, no signature arrays") {
    // a fresh session (own SQLConf, shared context) with broadcast off gives
    // the at-scale shuffle-join plan even on the tiny test file
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false") // plain tree, so
    // EnsureRequirements' exchanges are visible without executing
    val df = SparkEntry.queries("x2_dedup_minhash")(s2, sf)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val banding = shuffles.filter(_.outputPartitioning.toString.contains("band"))
    assert(banding.nonEmpty, "banding exchange not found")
    banding.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]),
        s"signature array shuffled through the banding exchange: ${e.output}")
    }
  }

  test("x2: the shingle-hash scan is computed once (exchange reuse)") {
    val df = SparkEntry.queries("x2_dedup_minhash")(spark, sf)
    df.collect() // let AQE finalize so stage reuse is visible
    // AdaptiveSparkPlanExec.toString prints Final + Initial plans; only the
    // final one is what ran
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = p.split("FileScan").length - 1
    assert(scans == 1, s"document scan ran $scans times — reuse lost:\n$p")
  }

  test("x3: hamming distance pruned before the pair-distinct exchange") {
    val lp = SparkEntry.queries("x3_dedup_simhash")(spark, sf)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val aggs = lp.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, s"distinct did not compile to Aggregate:\n$lp")
    // the dist <= 6 predicate must sit below the Aggregate (Catalyst folds
    // it all the way into the block-join condition)
    assert(aggs.exists(_.child.toString.contains("<= 6")),
      s"far pairs shuffle through the distinct:\n$lp")
  }

  test("partitioned layout: date filter prunes partitions") {
    import spark.implicits._
    TempDirs.withTempDir("prune") { tmp =>
      Seq(("2025-01-01", "a", 1.0), ("2025-02-01", "b", 2.0))
        .toDF("month", "band", "v")
        .write.partitionBy("month", "band").parquet(s"$tmp/t")
      val read = spark.read.parquet(s"$tmp/t").filter($"month" === "2025-01-01")
      val scan = read.queryExecution.executedPlan.toString
      // partition filters present on the scan node (directory-level pruning —
      // inputFiles lists the unpruned relation, so assert via the plan + rows)
      assert(scan.contains("PartitionFilters") &&
             scan.contains("isnotnull(month"), s"no partition pruning:\n$scan")
      assert(read.count() == 1)
    }
  }

  test("x124 edge input: no interpreted expression, every projection " +
      "inside whole-stage codegen") {
    val df = SparkEntry.linkGraph(spark, sf).select("src_domain", "dst_domain")
    val plan = df.queryExecution.executedPlan
    val interpreted = PlanWalk.collect(plan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case e: HigherOrderFunction => e
        case e: CodegenFallback => e
      }))
    assert(interpreted.isEmpty, s"interpreted: ${interpreted.map(_.prettyName)}\n$plan")
    val projects = PlanWalk.collect(plan) { case p: ProjectExec => p }
    val fused = PlanWalk.collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(_.child.collect { case p: ProjectExec => p })
    assert(projects.nonEmpty && projects.forall(p => fused.exists(_ eq p)),
      s"a projection runs outside whole-stage codegen:\n$plan")
  }

  test("j8: three chained broadcast joins, fact side shuffles only for the agg") {
    val p = executed("j8_star_join").toString
    assert(p.split("BroadcastHashJoin").length - 1 == 3,
      s"expected 3 broadcast joins:\n$p")
    // the only hash-partitioned exchange is the final group-by
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"fact side should not shuffle before the final agg:\n$p")
  }

  test("x17 IVF: broadcast centroids/probes, top-k without a global sort") {
    val p = executed("x17_ann_ivf").toString
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"re-rank sorts globally:\n$p")
  }

  test("s4 GeoTIFF scan and a7 exact clip run with no exchange") {
    Seq("s4_geotiff_scan", "a7_clip_area").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("x22 hash sample: a pure narrow filter, no exchange of any kind") {
    val p = executed("x22_hash_sample").toString
    assert(!p.contains("Exchange"), s"sample shuffles:\n$p")
  }

  test("x21 contamination: benchmark shingles broadcast, corpus never " +
       "broadcast") {
    val p = planString("x21_contamination")
    assert(p.contains("BroadcastExchange"), s"benchmark not broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"not a broadcast join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$p")
    // the broadcast SUBTREE must be the DISTINCT'd benchmark side — an
    // aggregate strictly below the BroadcastExchange in the tree — never
    // the raw corpus. Walk the indented tree text: take the lines deeper-
    // indented than the BroadcastExchange node and demand the distinct's
    // HashAggregate among them.
    val tree = executed("x21_contamination").toString.linesIterator.toVector
    val bxIdx = tree.indexWhere(_.contains("BroadcastExchange"))
    assert(bxIdx >= 0, s"no BroadcastExchange in executed plan:\n$tree")
    def indent(s: String): Int = s.segmentLength(c => !c.isLetter)
    val bxIndent = indent(tree(bxIdx))
    val subtree = tree.drop(bxIdx + 1).takeWhile(l => indent(l) > bxIndent)
    assert(subtree.exists(_.contains("HashAggregate")),
      s"broadcast side is not the distinct'd benchmark set:\n${tree.mkString("\n")}")
  }

  test("x23 repetition ratio: no shuffle, no UDF — one codegen'd stage") {
    val p = executed("x23_repetition").toString
    assert(!p.contains("Exchange"), s"repetition shuffles:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"UDF in the hot path:\n$p")
  }

  test("x30 boilerplate census: partial agg + top-k, no global sort or window") {
    val p = executed("x30_boilerplate_ngrams").toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k is a full sort:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no map-side combine before the gram exchange:\n$p")
    assert(!p.contains("Window"), s"needless window:\n$p")
  }

  test("x29 salient terms: df side aggregates before its join — no " +
       "corpus-sized broadcast, no cartesian") {
    val p = executed("x29_salient_terms").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    // exactly one window (the per-doc rank); tf/df are hash aggs
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
  }

  test("x31/x32 cleansing: pure narrow column work, no exchange, no UDF") {
    for (q <- Seq("x31_normalize", "x32_pii_redact")) {
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
        s"$q uses a UDF:\n$p")
    }
  }

  test("x34 bm25: single-row stats broadcast, top-k without a global sort") {
    val p = executed("x34_bm25").toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k is a full sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"),
      s"stats row not broadcast:\n$p")
    // the per-doc tf/dl side must NOT shuffle — it is a narrow projection
    // feeding the broadcast join directly
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus side shuffled for the stats join:\n$p")
  }

  test("x35 inverse-sqrt resample: stratum counts broadcast back, corpus " +
       "side never shuffles") {
    val p = executed("x35_temp_resample").toString
    assert(p.contains("BroadcastHashJoin"), s"counts join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for the rate join:\n$p")
  }

  test("x36 curation pipeline: gates fused into the scan, benchmark " +
       "broadcast, nothing quadratic") {
    val p = executed("x36_curation_pipeline").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    // the contamination benchmark side must broadcast (x21 shape)
    assert(p.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"UDF in the gate columns:\n$p")
  }

  test("x33 line dedup: df keyed on line hashes — aggregates before the " +
       "join-back, no cartesian") {
    val p = executed("x33_line_dedup").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    // line identity is THE engine-wide FNV line hash (Cleanse.lineHash)
    // since the x164 unification — never the raw line string
    assert(p.contains("rolling_fnv_fingerprint"),
      s"line df not keyed on the FNV line hash:\n$p")
    assert(p.contains("HashAggregate"), s"no hash agg for line df:\n$p")
  }

  test("x37 repeated spans: window census is a hash agg on the 64-bit " +
       "key; positions semi-join; no cartesian") {
    val p = executed("x37_repeated_spans").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    assert(p.contains("LeftSemi"), s"duplicated-window probe not a semi-join:\n$p")
    assert(p.contains("shingle_hashes_all"),
      s"window hashing not the native single-pass expression:\n$p")
    assert(p.contains("HashAggregate"), s"window census not a hash agg:\n$p")
  }

  test("x38 semdedup: centroids broadcast, pair generation is a cid " +
       "equi-join, never all-pairs") {
    val p = executed("x38_semdedup").toString
    assert(!p.contains("CartesianProduct"), s"all-pairs blowup:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
    // the within-cluster self-join must be keyed on cid
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
           p.contains("ShuffledHashJoin"), s"no keyed pair join:\n$p")
  }

  test("x39 bloom anti-join: the sketch rides as ONE literal (no " +
       "16k-element CreateArray), probes are codegen'd, drop join is anti") {
    val p = executed("x39_bloom_anti").toString
    assert(p.contains("LeftAnti"), s"no exact anti-join behind the bloom:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    // a CreateArray of thousands of literals would print as array(1,2,…;
    // the single Literal prints as a truncated opaque constant instead
    assert(!p.contains("array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0"),
      s"bloom words materialized as a per-row CreateArray:\n$p")
  }

  test("j9 interval join: bucket equi-join, never a nested loop") {
    val p = executed("j9_interval_join").toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$p")
  }

  test("x41 shuffle-shards: ONE window exchange on the shard key, " +
       "hashes codegen'd") {
    val p = executed("x41_shuffle_shards").toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly the window exchange ($exchanges):\n$p")
    assert(p.contains("mix64"), s"shard/order hashes not the native expression:\n$p")
  }

  test("x42 incremental dedup: banding equi-joins only, nothing quadratic") {
    val p = executed("x42_incremental_dedup").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    assert(p.contains("xxhash64"), s"banding keys missing:\n$p")
  }

  test("x43 decontaminated split: anti-join product, nothing quadratic") {
    val p = executed("x43_decontaminated_split").toString
    assert(p.contains("LeftAnti"), s"no anti-join back to train:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
  }

  test("t2 gap fill: all four bracketing frames share one window " +
       "exchange on the series key") {
    val p = executed("t2_gap_fill").toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    // one for the monthly agg, one for the per-key bounds agg, one for
    // the window (join reuses) — the four IGNORE NULLS frames must NOT
    // each add their own
    assert(exchanges <= 4, s"window frames not sharing exchanges ($exchanges):\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window operator:\n$p")
  }

  test("f7 conic/azimuthal/polar reprojections: pure projection, " +
       "zero exchange") {
    Seq("f7_lcc_reproject", "f7_laea_reproject", "f7_ps_reproject",
        "f7_sinu_reproject").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("x47/x48/x76 media probes: metadata walk in the scan stage, " +
       "zero exchange") {
    Seq("x47_mp4_probe", "x48_webm_probe", "x76_frame_audio_probe").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("x49 image hashes: decode stays in the map task; the only " +
       "exchange is the narrow generator spread (ids + text, no payload)") {
    val plan = executed("x49_image_hash")
    val p = plan.toString
    assert(shuffles(plan).size == 1, s"extra exchanges:\n$p")
    assert(p.contains("RoundRobinPartitioning"),
      s"spread exchange not round-robin:\n$p")
  }

  test("x54 AVI frames: container walk in the scan stage, zero exchange") {
    val p = executed("x54_avi_frames").toString
    assert(!p.contains("Exchange"), s"frame sampling shuffles:\n$p")
  }

  test("x50 image near-dup: band-keyed equi-join, never all-pairs") {
    val p = executed("x50_image_neardup").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
  }

  test("x59 hash embeddings: native hash expr, partial-agged counts, " +
       "one window for the norm — two exchanges, no join") {
    val p = executed("x59_hash_embed").toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected (doc,dim) agg + doc window ($exchanges):\n$p")
    assert(p.contains("shingle_hashes_all") || p.contains("ShingleHashesAll") ||
           p.contains("shinglehashesall"),
      s"token hashing not the native expression:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"norm computed via a join instead of the window:\n$p")
  }

  test("x60 hash ANN: query weights ride as a literal (no join for the " +
       "query side), top-k without a global sort") {
    val p = executed("x60_hash_ann").toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k is a full sort:\n$p")
    assert(!p.contains("Join"), s"query side joined instead of literal:\n$p")
  }

  test("x61/x62 audio fingerprints: decode in the scan stage; pair " +
       "search is the banded equi-join, never all-pairs") {
    val p61 = executed("x61_audio_fingerprint").toString
    assert(!p61.contains("Exchange"), s"fingerprinting shuffles:\n$p61")
    val p62 = executed("x62_audio_neardup").toString
    assert(!p62.contains("CartesianProduct") &&
           !p62.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p62")
  }

  test("x63 cross-modal audit: both pair searches banded, merge is an " +
       "equi-join — nothing quadratic") {
    val p = executed("x63_crossmodal_audit").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
  }

  test("x58 image dedup: banded pairs + anti-join, nothing quadratic") {
    val p = executed("x58_dedup_images").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$p")
    assert(p.contains("LeftAnti"), s"drop list not an anti-join:\n$p")
  }

  test("x51 bigram LM: model joins are content-keyed equi-joins, the " +
       "only nested loop is the single-row vocabulary broadcast") {
    val p = executed("x51_lm_score").toString
    assert(!p.contains("CartesianProduct"), s"cartesian in the plan:\n$p")
    // the vocabulary is ONE row: its crossJoin must ride a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"),
      s"vocabulary row not broadcast:\n$p")
  }

  test("x52 pps sample: corpus-weight row broadcast back, corpus side " +
       "never shuffles") {
    val p = executed("x52_pps_sample").toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled for the weight total:\n$p")
    assert(p.contains("mix64"), s"draw not the native hash expression:\n$p")
  }

  test("x55 token mix: per-stratum totals broadcast back, corpus side " +
       "never shuffles") {
    val p = executed("x55_token_mix").toString
    assert(p.contains("BroadcastHashJoin"), s"totals join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for the totals join:\n$p")
  }

  test("x53 sessionize: window and session rollup share ONE exchange " +
       "on the user key") {
    val p = executed("x53_sessionize").toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly the user-key exchange ($exchanges):\n$p")
  }

  test("x56 chunking: pure narrow algebra, zero exchange") {
    val p = executed("x56_chunk_docs").toString
    assert(!p.contains("Exchange"), s"chunking shuffles:\n$p")
  }

  test("x57 funnel: window and rollup share ONE exchange on the user key") {
    val p = executed("x57_funnel").toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly the user-key exchange ($exchanges):\n$p")
  }

  test("x45 fused dedup products: cluster map re-joins are broadcast, " +
       "no shuffled join on the corpus side") {
    val p = executed("x45_dedup_products").toString
    assert(p.contains("BroadcastHashJoin"),
      s"cluster map not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side got a shuffled join:\n$p")
  }

  test("x65 PQ encode: codegen'd map, zero exchange, no join") {
    val p = executed("x65_pq_codes").toString
    assert(!p.contains("Exchange"), s"PQ encode shuffles:\n$p")
    assert(!p.contains("Join"), s"PQ encode joins:\n$p")
  }

  test("x66 PQ ADC: literal distance table (never a model join), rerank " +
       "is ONE bounded broadcast id-join, cut is a TakeOrdered, " +
       "never a full sort") {
    // r18: the code table materializes before the ADC sum (the Janino
    // 64 KB stage split) and raw vectors re-enter through a rerank-row
    // broadcast equi-join — the annPqStoredQuery discipline. The ADC
    // TABLE itself must stay a literal (no join against the model),
    // and nothing may shuffle: the only join allowed is broadcast.
    val plan = executed("x66_pq_ann")
    val p = plan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no top-k cut:\n$p")
    assert(!p.toLowerCase.contains("sortexec"), s"full sort crept in:\n$p")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"PQ ADC shuffles:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rerank join is not broadcast:\n$p")
  }

  test("x67 int8 audit and x68 gopher rules: pure per-row algebra, " +
       "zero exchange") {
    Seq("x67_int8_quant", "x68_gopher_rules").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("x70 IVF-PQ: probe list and cell argmax are literals — scan → " +
       "filter → ADC → TakeOrdered; no shuffle, rerank join broadcast") {
    // r18: same code-table stage split + broadcast rerank join as x66.
    val plan = executed("x70_ivfpq_ann")
    val p = plan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no rerank cut:\n$p")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"IVF-PQ shuffles:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rerank join is not broadcast:\n$p")
  }

  test("x72 residual IVFADC: same zero-exchange zero-join shape as x70") {
    val p = executed("x72_ivfadc_ann").toString
    assert(!p.contains("Exchange"), s"residual IVFADC shuffles:\n$p")
    assert(!p.contains("Join"), s"residual IVFADC joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no rerank cut:\n$p")
  }

  test("x75: the banding exchange carries ids and Long keys only — " +
       "no vector arrays (the minhash ids-only discipline)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val df = SparkEntry.queries("x75_pq_neardup")(s2, sf)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val banding = shuffles.filter(_.outputPartitioning.toString.contains("band"))
    assert(banding.nonEmpty, "banding exchange not found")
    banding.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]),
        s"vector payload rides the banding exchange: ${e.output}")
    }
  }

  test("Lloyd iteration: no join, and no exchange carries the vector " +
       "column — assignment is a literal argmax fused into the scan") {
    // AQE-off session so EnsureRequirements' exchanges are visible in the
    // plan tree without executing (the x2 banding-test convention)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val emb = Tables.embeddings(s2, sf)
    val cents = ext.Similarity.coarseCentroids(emb, 4)
    val df = ext.Similarity.lloydAssignAgg(emb, cents, "embedding")
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("Join"), s"Lloyd assignment joins:\n$plan")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, "expected the (cid, pos) partial-sum exchange")
    shuffles.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]),
        s"vector payload rides the Lloyd exchange: ${e.output}")
    }
  }

  test("x71 IVF balance: ONE exchange (the nCentroids-key count), " +
       "partial aggregation map-side") {
    val p = executed("x71_ivf_balance").toString
    assert(p.contains("partial_count"), s"no map-side partials:\n$p")
    // the assignment itself must be scan-stage column algebra: nothing
    // between the file scan and the partial count but the argmax Project
    val scanIx = p.indexOf("FileScan")
    val partialIx = p.indexOf("partial_count")
    assert(partialIx >= 0 && scanIx > partialIx,
      s"partial count not directly over the scan:\n$p")
    assert(!p.substring(partialIx, scanIx).contains("Exchange"),
      s"assignment shuffles before the count:\n$p")
  }

  test("x79/x80/x84 crawl tier: archive parse, extraction and gates all " +
       "ride one narrow pass — zero exchange") {
    Seq("x79_warc_scan", "x80_html_extract", "x84_crawl_curation").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("x85/x90 trained-model scoring: weights fold back as literals — " +
       "scan → project, zero exchange, no join") {
    Seq("x85_trained_quality", "x90_pca_projection").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q scoring shuffles:\n$p")
      assert(!p.contains("Join"), s"$q scoring joins:\n$p")
    }
  }

  test("x82 classifier: map-side partial counts; weight table is a " +
       "formula, not a join") {
    val p = executed("x82_quality_classifier").toString
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partials:\n$p")
    assert(!p.contains("Join"), s"weight lookup joined instead of computed:\n$p")
  }

  test("x98 BPE / x99 URL / x101 top-k PCA: merge table, suffix rules " +
       "and axes all ride as literals — zero exchange, zero join") {
    Seq("x98_bpe_tokens", "x99_url_domains", "x101_pca_topk").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), s"$q joins:\n$p")
    }
  }

  test("x100 HDR sketch: ONE exchange carrying per-partition sketch " +
       "partials, no sort of the corpus") {
    val plan = executed("x100_quantile_sketch")
    val p = plan.toString
    assert(shuffles(plan).size == 1, s"extra exchanges:\n$p")
    assert(!p.contains("Sort"), s"sketch path sorts the corpus:\n$p")
  }

  test("x102 MJPEG sampling: per-container decode stays in the map task " +
       "— the only exchange is the narrow generator spread (ids only)") {
    val plan = executed("x102_mjpeg_frames")
    val p = plan.toString
    assert(shuffles(plan).size == 1, s"extra exchanges:\n$p")
    assert(p.contains("RoundRobinPartitioning"),
      s"spread exchange not round-robin:\n$p")
  }

  test("x129 crawl traps: no join — one expand-backed hash agg per host") {
    val p = executed("x129_crawl_traps").toString
    assert(!p.contains("Join"), s"trap census joins:\n$p")
    assert(p.contains("Expand"), s"distinct counts not expanded:\n$p")
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
  }

  test("x128 anchor census: partial+final agg above the generate — " +
       "counts collapse map-side") {
    val p = executed("x128_anchor_census").toString
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
    assert(p.contains("Generate"), s"no explode below the agg:\n$p")
  }

  test("x137 ranked frontier: the global fetch-next cut is " +
       "TakeOrderedAndProject, not a full sort") {
    val p = executed("x137_ranked_frontier").toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k sorts globally:\n$p")
  }

  test("x145 crawl budget: remainder apportionment has NO single-" +
       "partition window — the top-R cut is TakeOrderedAndProject") {
    val p = executed("x145_crawl_budget").toString
    assert(!p.contains("Window"), s"global window in the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"remainder cut sorts globally:\n$p")
  }

  test("x148 geotagged join: GPS fixes broadcast into the cell join — " +
       "the raster side never shuffles") {
    val p = executed("x148_geotagged_join").toString
    assert(p.contains("BroadcastHashJoin"), s"cell join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"raster side shuffles:\n$p")
  }

  test("x149 trigram KN: model joins are content-keyed, the type total " +
       "is a broadcast row, no global sort") {
    val p = executed("x149_kn3_score").toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    // the one-row type total enters as a broadcast cross join, never a
    // shuffled join; and nothing in the plan globally sorts
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"type total is not a broadcast row:\n$p")
    assert(!p.contains("\n   Sort ") && !p.contains("GlobalSort"),
      s"global sort in plan:\n$p")
  }

  test("x126 stored binary ANN: the Hamming scan reads only the words " +
       "table — no embedding column until the bounded rerank join") {
    val p = planString("x126_binary_stored_ann")
    // two scans: the signwords store (vec_id, w0, w1) and the rerank
    // side. The store scan's ReadSchema must not carry the float array.
    val scans = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    val wordScans = scans.filter(s => s.contains("w0") && s.contains("w1"))
    assert(wordScans.nonEmpty, s"no words-table scan found:\n$p")
    assert(wordScans.forall(!_.contains("embedding")),
      s"words scan reads the embedding column:\n$p")
    // both cuts stay TakeOrderedAndProject — no global sort
    assert(p.contains("TakeOrderedAndProject"), s"no top-k cut:\n$p")
  }
  test("x173/x176 scan-stage expressions: encode+decode and the " +
    "mojibake repair run with zero exchange") {
    val p1 = executed("x173_bpe_roundtrip").toString
    assert(!p1.contains("Exchange"), s"roundtrip audit shuffles:\n$p1")
    val p2 = executed("x176_mojibake_repair").toString
    assert(!p2.contains("Exchange"), s"mojibake repair shuffles:\n$p2")
  }

  test("x181/x183/x184 curation transforms: FIM, entropy gate and " +
    "loss-mask spans are scan-fused — zero exchange") {
    Seq("x181_fim_transform", "x183_entropy_gate", "x184_chat_loss_mask")
      .foreach { q =>
        val p = executed(q).toString
        assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
        assert(!p.contains("CartesianProduct"), s"$q goes all-pairs:\n$p")
      }
  }

  test("x185 span corruption: per-block offsets and both reassemblies " +
    "fuse into the scan — zero exchange") {
    val p = executed("x185_span_corrupt").toString
    assert(!p.contains("Exchange"), s"span corruption shuffles:\n$p")
  }

  test("x188 UL2 mixture: all three denoiser branches ride one CaseWhen " +
    "in the scan stage — zero exchange") {
    val p = executed("x188_ul2_denoisers").toString
    assert(!p.contains("Exchange"), s"UL2 prep shuffles:\n$p")
  }

  test("x191 best-fit packing: ONE shard-keyed exchange carrying " +
    "(shard, id, len) triples only — text never shuffles") {
    val p = executed("x191_bestfit_pack").toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nEx == 1, s"expected the one groupByKey exchange:\n$p")
    // token counting happens below the exchange: the shuffled row is
    // the serialized (shard, id, len) triple, not the document
    assert(p.contains("SerializeFromObject"), s"object boundary missing:\n$p")
  }

  test("x192/x193: tokenizer compare joins two scan-fused reports; the " +
    "scrub is the census shape — nothing all-pairs") {
    Seq("x192_tokenizer_compare", "x193_rare_token_scrub").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoop"), s"$q all-pairs:\n$p")
    }
  }

  test("x194 edit near-dup: block-keyed pair generation, never a " +
    "cartesian; x195 preference pairs: one aggregate, no window") {
    Seq("x194_edit_neardup", "x195_preference_pairs").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoop"), s"$q all-pairs:\n$p")
    }
    val pp = executed("x195_preference_pairs").toString
    assert(!pp.contains("Window"), s"x195 grew a window:\n$pp")
    assert(pp.contains("partial_min") || pp.contains("partial"),
      s"x195 lost map-side partials:\n$pp")
  }

  test("x197 unigram apply: the piece table is broadcast-local — one " +
    "scan stage, zero exchange, zero join") {
    val p = executed("x197_unigram_tokens").toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"x197 grew an exchange or join:\n$p")
  }

  test("x199 kmeans census: literal-centroid argmax fused into the " +
    "scan — no join; one cid-keyed aggregate") {
    val p = executed("x199_kmeans_census").toString
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"x199 grew a join:\n$p")
    val p2 = executed("x200_cluster_sample").toString
    assert(!p2.contains("Join") && p2.contains("Window"),
      s"x200 shape off:\n$p2")
    assert(!p2.contains("Window [")
      || !p2.contains("windowspecdefinition()"),
      s"x200 window lost its partition key:\n$p2")
  }

  test("x189/x190 reports: every window carries a partition key, small " +
    "sides broadcast, nothing all-pairs") {
    Seq("x189_length_batching", "x190_data_card").foreach { q =>
      val p = executed(q).toString
      assert(!p.contains("CartesianProduct"), s"$q goes all-pairs:\n$p")
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toList
      specs.foreach { s =>
        assert(s.split(",").length > 2, s"$q: unpartitioned window: $s\n$p")
      }
    }
    val p189 = executed("x189_length_batching").toString
    assert(p189.contains("BroadcastHashJoin") ||
           p189.contains("BroadcastExchange"),
      s"baseline rollup not broadcast:\n$p189")
  }

  test("x186 ngram novelty: shingle-keyed df + doc re-agg, nothing " +
    "all-pairs, no text on the exchanges") {
    val p = executed("x186_ngram_novelty").toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"), s"all-pairs crept in:\n$p")
    // the only join key is the 64-bit shingle — a SortMergeJoin or
    // shuffled hash join on `shingle` is the expected 100 TB shape
    assert(p.contains("shingle"), s"novelty lost its shingle key:\n$p")
  }

  test("x187 token drift: term census + one-row broadcasts + " +
    "TakeOrdered cut — no global sort of the vocabulary") {
    val p = executed("x187_token_drift").toString
    assert(p.contains("TakeOrderedAndProject"), s"full sort at the cut:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cross:\n$p")
  }

  test("x182 blocklist census: no join — the IN-list is map-side; ONE " +
    "exchange keyed by term with partial aggregation") {
    val plan = executed("x182_blocklist_census")
    val p = plan.toString
    assert(!p.contains("Join"), s"list-sized vocabulary joined:\n$p")
    assert(shuffles(plan).size <= 2,
      s"expected the term-key count exchanges only:\n$p")
    assert(p.contains("partial"), s"no map-side partial aggregation:\n$p")
  }

  test("x174 MP4 sample-track decode: demux + JPEG stay in the map task; " +
    "the only exchange is the narrow generator spread (ids, no payload)") {
    val plan = executed("x174_mp4_jpeg_frames")
    val p = plan.toString
    assert(shuffles(plan).size == 1, s"extra exchanges:\n$p")
    assert(p.contains("RoundRobinPartitioning"),
      s"spread exchange not round-robin:\n$p")
  }

  test("x175 packed export: pack window + group agg + layout — no " +
    "single-partition window, no cartesian product") {
    val p = planString("x175_packed_binidx")
    assert(!p.contains("CartesianProduct"), s"all-pairs crept in:\n$p")
    // every windowspecdefinition must carry a partition column (the
    // closed-form puid replaced any global row_number)
    import scala.util.matching.Regex
    val specs = new Regex("windowspecdefinition\\(([^)]*)\\)")
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty)
    specs.foreach { args =>
      val first = args.split(",").head.trim
      assert(!(first.contains(" ASC") || first.contains(" DESC")),
        s"partitionless window in x175: $args")
    }
  }

  test("x177/x178 WebDataset: shard build is one group exchange; the " +
    "scan side decodes in its task — no extra corpus exchange, never " +
    "all-pairs") {
    val plan1 = executed("x177_webdataset_images")
    val p1 = plan1.toString
    assert(shuffles(plan1).size <= 2 && !p1.contains("CartesianProduct"),
      s"x177 shuffles beyond the shard group-by:\n$p1")
    val p2 = executed("x178_media_corpus_build").toString
    assert(!p2.contains("CartesianProduct"),
      s"x178 went all-pairs:\n$p2")
  }

  test("x210 stored order-5 ARPA scoring: all nine model-level joins " +
    "are BROADCAST (the artifact is the bounded side), no sort-merge " +
    "join, no cartesian") {
    val p = executed("x210_kn5_arpa_stored").toString
    val nBroadcast = p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin")
    assert(nBroadcast >= 9, s"expected >= 9 broadcast model joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a model join fell back to sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in x210:\n$p")
  }

  test("x225 distributed-read stored scoring: the model side is " +
    "parquet sidecar scans (never a driver literal) — broadcast-hash " +
    "under the default threshold, sort-merge once broadcast is off") {
    // default threshold: the sf0.001 sidecar is tiny -> every model
    // join broadcasts, exactly the x210 shape but fed by scans
    val sBc = spark.newSession()
    sBc.conf.set("spark.sql.adaptive.enabled", "false")
    val pB = SparkEntry.queries("x225_kn5_arpa_dist")(sBc, sf)
      .queryExecution.executedPlan.toString
    val nBroadcast = pB.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin")
    assert(nBroadcast >= 9, s"expected >= 9 broadcast model joins:\n$pB")
    assert(!pB.contains("LocalTableScan"),
      s"a model level rode the driver as a literal:\n$pB")
    assert(!pB.contains("CartesianProduct"), s"cartesian in x225:\n$pB")
    // broadcast off = the at-scale plan for a model past worker
    // memory: the SAME query flips every model join to sort-merge —
    // the route an unbounded artifact takes instead of a driver OOM
    val sSm = spark.newSession()
    sSm.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sSm.conf.set("spark.sql.adaptive.enabled", "false")
    val pS = SparkEntry.queries("x225_kn5_arpa_dist")(sSm, sf)
      .queryExecution.executedPlan.toString
    assert(pS.contains("SortMergeJoin"),
      s"model joins did not flip to sort-merge:\n$pS")
    assert(!pS.contains("BroadcastHashJoin"),
      s"a broadcast survived the -1 threshold:\n$pS")
    assert(!pS.contains("CartesianProduct"), s"cartesian in x225:\n$pS")
  }

  test("x221 ccnet over the bounded stored model: the tercile window " +
    "is lang-partitioned over the score-GROUP table (never a global " +
    "or per-document sort), the verdict joins back hash-keyed") {
    val p = executed("x221_ccnet_stored_pruned").toString
    assert(p.contains("Window"), s"no tercile window in x221:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"an UNPARTITIONED window would serialize the corpus:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"x221 join degenerated:\n$p")
  }

  test("x224 ccnet sampled thresholds: the cutoff table joins back " +
    "BROADCAST, the tercile window runs on the sample side only, and " +
    "nothing goes all-pairs") {
    val p = executed("x224_ccnet_sampled").toString
    assert(p.contains("BroadcastHashJoin"),
      s"threshold verdict join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"x224 join degenerated:\n$p")
  }

  test("x226/x227 sketches: the bounded state table (Bloom words / CMS " +
    "registers) broadcasts into the probe join; nothing goes all-pairs; " +
    "the CMS top-20 cut is TakeOrderedAndProject") {
    val pb = executed("x226_bloom_decontam").toString
    assert(pb.contains("BroadcastHashJoin"),
      s"Bloom word table did not broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct") &&
      !pb.contains("BroadcastNestedLoopJoin"),
      s"x226 join degenerated:\n$pb")
    val pc = executed("x227_countmin_heavy").toString
    assert(pc.contains("BroadcastHashJoin"),
      s"CMS register table did not broadcast:\n$pc")
    assert(pc.contains("TakeOrderedAndProject"),
      s"x227 top-20 is not a bounded cut:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"cartesian in x227:\n$pc")
  }

  test("x212 stored-set censor: the boilerplate anti-join is hash-keyed " +
    "(never all-pairs) and the reassembly window-free — one doc-keyed " +
    "aggregation") {
    val p = executed("x212_stored_censor").toString
    assert(p.contains("LeftAnti"), s"no anti-join in x212:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"x212 join degenerated:\n$p")
    assert(!p.contains("Window"), s"unexpected window in x212:\n$p")
  }

  test("x213 owner election rides the census aggregate; x216/x217 " +
    "scan-fused kernels never join the corpus against itself") {
    // x213: every window is doc-partitioned (the island merge), the
    // candidate join is hash-keyed, nothing all-pairs
    val p13 = executed("x213_exactsubstr_strip").toString
    assert(!p13.contains("CartesianProduct") &&
      !p13.contains("BroadcastNestedLoopJoin"),
      s"x213 went all-pairs:\n$p13")
    // x216: pure scan-stage algebra — no join, no exchange at all
    val p16 = executed("x216_luhn_cc_scrub").toString
    assert(!p16.contains("Exchange") && !p16.contains("Join"),
      s"x216 should be scan-fused:\n$p16")
    // x217: one bucket-keyed exchange pair (partial+final agg) plus
    // the one-row finisher; no join anywhere
    val p17 = executed("x217_hll_vocab").toString
    assert(!p17.contains("Join"), s"x217 should be join-free:\n$p17")
    assert(p17.contains("partial"), s"x217 partials missing:\n$p17")
  }
}
