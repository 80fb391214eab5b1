package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication over a `documents(doc_id, text,
  * …)` table. Four tiers, cheapest first:
  *
  *  1. exact      — content-hash groupBy (one shuffle on the hash key)
  *  2. minhash    — MinHash + LSH banding: near-dup candidates via an
  *                  equi-join on band buckets, never an O(n²) cross join
  *  3. simhash    — 64-bit weighted fingerprint, hamming-distance candidates
  *                  via block keys
  *  4. jaccard    — exact n-gram Jaccard verification on candidate pairs
  *
  * All shuffle keys are content-derived (hash/band/block), so the plan
  * scales horizontally: at 100 TB each stage is a hash-partitioned
  * shuffle-join on bounded-cardinality keys. No collect(), no cartesian.
  */
object Dedup {

  /** 1. Exact dedup: md5 of normalized text → group; keeps the smallest
    * doc_id as the canonical representative. */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Base token-hash array: distinct 64-bit shingle hashes, computed in one
    * native pass (graft.functions.ShingleHashes — tokenizer + k-gram +
    * hash + dedupe in a single expression; the declarative
    * split/transform/distinct/xxhash chain's interpreted lambdas dominated
    * the dedup bench). Per-seed hash families derive from these inside
    * MinHashSignature/SimHash64. */
  def tokenHashes(text: Column, shingleK: Int): Column =
    graft.functions.ShingleHashes(text, shingleK)

  /** 2. MinHash signature via the native expression — one row per doc, no
    * explode, no shuffle, whole-stage codegen. */
  def minhashSignature(docs: DataFrame, textCol: String = "text",
                       numHashes: Int = 16, shingleK: Int = 3): DataFrame =
    docs.withColumn("minhash",
      graft.functions.HashExprs.min_hash(
        tokenHashes(col(textCol), shingleK), numHashes))

  /** The band rule's rows per band: `numHashes` must split into
    * `bands` whole bands of at least one hash each — zero rows would key
    * every band on the empty string (an all-pairs join), and a remainder
    * would drop the trailing hashes silently. */
  private[graft] def bandRows(numHashes: Int, bands: Int): Int = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes=$numHashes must split into whole bands, got bands=$bands")
    numHashes / bands
  }

  /** LSH band keys of a signature column: one
    * `xxhash64(concat_ws(",", band's hashes), band)` per band, in band
    * order — every MinHash banding join keys on these (the caller
    * posexplodes them into `(band, bucket)`). */
  private[graft] def bandKeys(mh: Column, numHashes: Int,
                              bands: Int): Column = {
    val rows = bandRows(numHashes, bands)
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rows).map(r => element_at(mh, b * rows + r + 1)): _*),
        lit(b))
    }: _*)
  }

  /** Exact Jaccard of two hash-set columns. */
  private[graft] def exactJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** LSH band key: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band. Docs sharing ANY band bucket are candidates.
    * A pair colliding in several bands is deduplicated by grouping on the
    * two long ids — NOT by distinct over the signature arrays, whose
    * array-comparison shuffle benched ~4× slower. */
  def lshCandidates(withSig: DataFrame, bands: Int = 4,
                    rowsPerBand: Int = 4): DataFrame = {
    val banded = withSig.select(
      col("doc_id"), col("minhash"),
      posexplode(bandKeys(col("minhash"), bands * rowsPerBand, bands))
        .as(Seq("band", "bucket")))
    val a = banded.select(col("doc_id").as("doc_a"), col("band"), col("bucket"),
                          col("minhash").as("sig_a"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"), col("bucket"),
                          col("minhash").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("est_jaccard",
        minhashJaccard(col("sig_a"), col("sig_b"), bands * rowsPerBand))
      .groupBy("doc_a", "doc_b")
      .agg(max("est_jaccard").as("est_jaccard"))
  }

  /** Candidates-only banding: same band-bucket equi-join as
    * [[lshCandidates]] but carrying ONLY `doc_id` through the exchange — no
    * signature arrays (128 longs ≈ 2 KB/row at verification settings, ~30×
    * the width of the three small columns kept here) and no similarity
    * estimate, which the exact-verification path recomputes anyway. Pair
    * dedup is a distinct over two longs. */
  def lshCandidatePairs(withSig: DataFrame, bands: Int,
                        rowsPerBand: Int): DataFrame = {
    val banded = withSig.select(
      col("doc_id"),
      posexplode(bandKeys(col("minhash"), bands * rowsPerBand, bands))
        .as(Seq("band", "bucket")))
      .select("doc_id", "band", "bucket")
    val a = banded.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Estimated Jaccard from signature agreement. */
  def minhashJaccard(sigA: Column, sigB: Column, numHashes: Int = 16): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / numHashes

  /** 2. full MinHash near-dup pipeline → candidate pairs with estimated
    * similarity ≥ threshold. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
                      numHashes: Int = 16, bands: Int = 4,
                      shingleK: Int = 3): DataFrame = {
    val sig = minhashSignature(docs, "text", numHashes, shingleK)
    lshCandidates(sig, bands, bandRows(numHashes, bands))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** 2c. MinHash+LSH with exact verification — the standard production
    * shape: LSH banding proposes candidates (equi-join, no cross join),
    * then each candidate pair is verified with the EXACT jaccard of its
    * token-hash sets, so the output is exact similarities, not estimates
    * (and is oracle-checkable against an exact all-pairs computation).
    * 128 hashes / 32 bands keeps the candidate-recall miss probability at
    * ~(1-j⁴)³² — ~5e-8 at j=0.8 — so no true pair above the threshold is
    * dropped in practice. Verification joins are doc_id equi-joins against
    * the bounded candidate set: two hash-partitioned shuffles at 100 TB. */
  def minhashVerifiedDups(docs: DataFrame, minJaccard: Double = 0.5,
                          numHashes: Int = 128, bands: Int = 32,
                          shingleK: Int = 3): DataFrame = {
    // one ShingleHashes pass feeds BOTH the signature and the verification
    // sets. The hash table is consumed by three subtrees (signature scan,
    // hs_a join, hs_b join) and Spark recomputes unscoped subtrees per
    // consumer; the explicit repartition makes all three read the SAME
    // exchange (ReuseExchange: identical canonicalized subtrees dedupe to
    // one shuffle write + three reads), so the shingle scan — the dominant
    // per-doc cost — runs once. Shuffle files are cleaned by the
    // ContextCleaner when the query ends, unlike a persist(), which pinned
    // executor storage for the session lifetime (round-3 leak).
    val sh = docs.select(col("doc_id"), tokenHashes(col("text"), shingleK).as("hs"))
      .repartition(col("doc_id"))
    val sig = sh.select(col("doc_id"),
      graft.functions.HashExprs.min_hash(col("hs"), numHashes).as("minhash"))
    val cand = lshCandidatePairs(sig, bands, bandRows(numHashes, bands))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("jaccard", exactJaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 2b'. Stored MinHash index — one row per doc: (doc_id, hs, minhash).
    * A production pipeline writes this once per corpus snapshot (parquet,
    * partitioned/bucketed on doc_id) so the daily increment never
    * re-shingles the corpus. */
  def minhashIndex(docs: DataFrame, numHashes: Int = 128,
                   shingleK: Int = 3): DataFrame =
    docs.select(col("doc_id"), tokenHashes(col("text"), shingleK).as("hs"))
      .withColumn("minhash",
        graft.functions.HashExprs.min_hash(col("hs"), numHashes))

  /** 2d. Incremental verified near-dups — the daily-increment shape: new
    * documents are checked against the STORED corpus index (built by
    * [[minhashIndex]], never recomputed here) and against each other, in
    * one banding pass. Candidate generation restricts the banding join's
    * probe side to the increment, so its size is O(increment × bands),
    * not O(corpus × bands); verification is the same exact-jaccard
    * equi-join as [[minhashVerifiedDups]]. Output pairs are
    * (existing-or-earlier doc_a, new doc_b); doc ids must be unique
    * across both inputs.
    *
    * 100 TB posture: the corpus side contributes only its banded keys
    * (3 longs/row/band) and the hash sets of verified candidates; with
    * the index bucketed on doc_id the verify joins are co-located, and
    * the whole daily job touches O(corpus) cheap keys + O(increment)
    * text. */
  def incrementalVerifiedDups(index: DataFrame, incoming: DataFrame,
                              minJaccard: Double = 0.5,
                              numHashes: Int = 128, bands: Int = 32,
                              shingleK: Int = 3): DataFrame = {
    val inc = minhashIndex(incoming, numHashes, shingleK)
    val all = index.select("doc_id", "hs", "minhash")
      .withColumn("is_new", lit(false))
      .unionByName(inc.withColumn("is_new", lit(true)))
      .repartition(col("doc_id")) // one shared exchange for all consumers
    def banded(df: DataFrame) = df.select(col("doc_id"), col("is_new"),
      posexplode(bandKeys(col("minhash"), numHashes, bands))
        .as(Seq("band", "bucket")))
      .select("doc_id", "is_new", "band", "bucket")
    val a = banded(all).select(col("doc_id").as("doc_a"),
      col("is_new").as("new_a"), col("band"), col("bucket"))
    val b = banded(all.filter(col("is_new")))
      .select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") =!= col("doc_b"))
      // new-new pairs appear in both orders: keep the (smaller, larger)
      // one; corpus-new pairs only ever appear as (corpus, new)
      .filter(!col("new_a") || col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(all.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(all.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("jaccard", exactJaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The stored-index probe — stateless, so a stream can run it: each
    * `inc` row `(idCol, hs_b)` bands its minhash against the band keys
    * of the stored [[minhashIndex]] (one equi-join), each candidate
    * fetches the index doc's hash set `hs_a` (a second equi-join), and
    * the pairs with an exact Jaccard ≥ `minJaccard` emit as
    * `(doc_a, idCol, hs_b, hs_a, jaccard)`. A pair colliding in several
    * bands repeats; the caller's aggregation absorbs the repeats. */
  private[graft] def indexProbe(inc: DataFrame, idCol: String,
                                index: DataFrame, minJaccard: Double,
                                numHashes: Int, bands: Int): DataFrame = {
    val bInc = inc
      .withColumn("mh",
        graft.functions.HashExprs.min_hash(col("hs_b"), numHashes))
      .select(col(idCol), col("hs_b"),
        posexplode(bandKeys(col("mh"), numHashes, bands))
          .as(Seq("band", "bucket")))
    val aKeys = index.select(col("doc_id").as("doc_a"),
      posexplode(bandKeys(col("minhash"), numHashes, bands))
        .as(Seq("band", "bucket")))
    val aSets = index.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    bInc.join(aKeys, Seq("band", "bucket"))
      .select(col("doc_a"), col(idCol), col("hs_b"))
      .join(aSets, "doc_a")
      .withColumn("jaccard", exactJaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** 3. SimHash: 64-bit fingerprint — per bit, sum +1/-1 votes of each
    * shingle's hash bit, weighted by nothing (uniform). Pure array algebra,
    * one row per doc. */
  def simhash(docs: DataFrame, textCol: String = "text",
              shingleK: Int = 2): DataFrame =
    docs.withColumn("simhash",
      graft.functions.HashExprs.sim_hash(tokenHashes(col(textCol), shingleK)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 3. SimHash near-dups: compute fingerprints, then candidate-block and
    * verify exact hamming ≤ maxDist (see [[simhashNearDupsFromFp]]). */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
                      shingleK: Int = 2): DataFrame =
    simhashNearDupsFromFp(simhash(docs, "text", shingleK), maxDist)

  /** Blocked near-dup search over precomputed fingerprints
    * `(doc_id, simhash)`. The blocking scheme adapts to `maxDist` so the
    * pigeonhole recall guarantee actually covers the requested radius:
    *
    *  - maxDist ≤ 3 → 4 blocks of 16 bits (≤3 flips leave ≥1 of 4 blocks
    *    clean); 4 exploded rows/doc, 16-bit key entropy.
    *  - maxDist ≤ 6 → ≤6 flips leave ≥2 of 8 byte-blocks clean, so any
    *    qualifying pair shares at least one *pair of bytes*. Keying on all
    *    C(8,2)=28 sorted byte-pairs keeps 16-bit key entropy — single-byte
    *    keys would have only 256 values per position and melt one shuffle
    *    partition per common byte at corpus scale.
    *  - maxDist = 7 → single 8-bit byte blocks (8 keys; accepted entropy
    *    loss, documented smallest-radius guarantee that still holds).
    *
    * Verification is always the exact popcount of the XOR, so blocking only
    * affects recall, never precision. */
  def simhashNearDupsFromFp(fp: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"simhash blocking supports maxDist in [0,7], got $maxDist")
    def byteAt(i: Int): Column =
      shiftright(col("simhash"), i * 8).bitwiseAND(0xFFL)
    val keys: Seq[Column] =
      if (maxDist <= 3)
        (0 until 4).map(q =>
          shiftright(col("simhash"), q * 16).bitwiseAND(0xFFFFL))
      else if (maxDist <= 6)
        for { i <- 0 until 8; j <- (i + 1) until 8 }
          yield shiftleft(byteAt(i), 8).bitwiseOR(byteAt(j))
      else (0 until 8).map(byteAt)
    val blocked = fp.select(col("doc_id"), col("simhash"),
      posexplode(array(keys: _*)).as(Seq("block_idx", "block")))
    val a = blocked.select(col("doc_id").as("doc_a"), col("block_idx"),
                           col("block"), col("simhash").as("fp_a"))
    val b = blocked.select(col("doc_id").as("doc_b"), col("block_idx"),
                           col("block"), col("simhash").as("fp_b"))
    a.join(b, Seq("block_idx", "block"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              hamming(col("fp_a"), col("fp_b")).as("dist"))
      .filter(col("dist") <= maxDist) // prune BEFORE the distinct exchange:
      .distinct()                     // far pairs never shuffle
  }

  /** Connected components over an undirected edge list — the dedup
    * COMPLETION step: near-dup tiers emit pairwise edges, but the unit of
    * removal is the duplicate CLUSTER (a∼b, b∼c ⇒ {a,b,c} keep one), i.e.
    * the connected component of the similarity graph.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — each round is two
    * window-min passes + distincts, pure hash-partitioned DataFrame ops on
    * the node key, and the edge set contracts toward a star forest rooted
    * at each component's minimum id in O(log²) rounds regardless of
    * component diameter. A naive min-label propagation needs
    * diameter-many rounds — a 1000-hop chain of near-dups (common in
    * crawl data: a∼b∼c∼… shingle chains) would need 1000 shuffles; this
    * needs ~10. Each round's result is `localCheckpoint`ed to truncate
    * lineage (iterative plans otherwise grow exponentially in the
    * optimizer); on a fault-tolerant production cluster, substitute
    * `checkpoint` to a reliable store.
    *
    * Convergence is detected by an order-independent edge-set checksum
    * (count + XOR of xxhash64(u,v)) — two scalar aggregations per round,
    * no edge-set `except` join. Throws if `maxIter` rounds do not
    * converge rather than returning a partial clustering.
    *
    * ADAPTIVE small-graph path: dedup edge sets are bounded by actual
    * duplication, not corpus size — a 100 TB crawl with 20 % near-dups
    * yields an edge set orders of magnitude smaller than the corpus, and
    * it is ALREADY materialized (the canonical-distinct exchange) before
    * iteration starts, so its size is known for free. When it fits one
    * task (`localEdgeThreshold` edges, ≤ ~hundreds of MB), the star
    * rounds' ~8 × 4-stage shuffle schedule costs more than the graph is
    * worth: a single-task union-find (the same AQE philosophy — re-plan
    * on observed size) finishes in one narrow pass with the identical
    * output. Above the threshold the O(log²)-round distributed
    * contraction runs as before. Both paths emit the same (doc_id,
    * rep_id = component-min) mapping — property-tested against each
    * other.
    *
    * Input: two long id columns (undirected; self-loops and duplicate /
    * reversed pairs tolerated). Output: `(doc_id, rep_id)` for EVERY node
    * appearing in the edge list, with `rep_id` = min doc_id of its
    * component (representatives map to themselves). */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
                          dstCol: String = "doc_b",
                          maxIter: Int = 25,
                          localEdgeThreshold: Long = 4L * 1000 * 1000)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // canonical (u > v) undirected pairs
    var e = edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
              least(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    val nEdges = e.count()
    if (nEdges <= localEdgeThreshold) {
      val spark = edges.sparkSession
      import spark.implicits._
      return e.select(col("u"), col("v")).as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          // union-find with path compression; merging always roots the
          // smaller id, so each tree root IS its component's min id
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val nxt = parent(c); parent(c) = r; c = nxt
            }
            r
          }
          val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
          it.foreach { case (u, v) =>
            if (!parent.contains(u)) { parent(u) = u; nodes += u }
            if (!parent.contains(v)) { parent(v) = v; nodes += v }
            val ru = find(u); val rv = find(v)
            if (ru != rv) {
              if (ru < rv) parent(rv) = ru else parent(ru) = rv
            }
          }
          nodes.iterator.map(n => (n, find(n)))
        }
        .toDF("doc_id", "rep_id")
    }

    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star: every neighbor b > a re-points at m = min(N(a) ∪ {a});
    // small-star: every neighbor b < a (plus a itself) re-points at
    // m = min of those neighbors. Both emit canonical (child > parent).
    def largeStar(df: DataFrame): DataFrame = {
      val nbrs = df.select(col("u").as("a"), col("v").as("b"))
        .union(df.select(col("v").as("a"), col("u").as("b")))
      nbrs
        .withColumn("m",
          least(min(col("b")).over(Window.partitionBy("a")), col("a")))
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(df: DataFrame): DataFrame = {
      val nbrs = df.select(col("u").as("a"), col("v").as("b"))
        .union(df.select(col("v").as("a"), col("u").as("b")))
      val sm = nbrs.where(col("b") < col("a"))
        .withColumn("m", min(col("b")).over(Window.partitionBy("a")))
      sm.select(col("b").as("u"), col("m").as("v"))
        .union(sm.select(col("a").as("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var cur = checksum(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nxt = checksum(next)
      converged = nxt == cur
      e = next
      cur = nxt
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")

    // e is now a star forest: (child, componentMin). Roots map to self.
    val children = e.select(col("u").as("doc_id"), col("v").as("rep_id"))
    val roots = e.select(col("v").as("doc_id")).distinct()
      .join(children.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("rep_id"))
    children.union(roots)
  }

  /** Deduplicated corpus: the actual dedup PRODUCT — every document except
    * the non-representative members of each near-dup cluster. Docs in no
    * cluster pass through untouched (the anti-join's left side is the
    * full corpus; the right side is only the bounded drop-list). */
  def dedupCorpus(docs: DataFrame, edges: DataFrame): DataFrame =
    docs.join(duplicateMembers(edges), Seq("doc_id"), "left_anti")

  /** The drop-list of a near-dup edge set `(doc_a, doc_b)`: every
    * member of a connected component except its representative, as
    * one `doc_id` column. */
  private[graft] def duplicateMembers(edges: DataFrame): DataFrame =
    connectedComponents(edges).where(col("rep_id") =!= col("doc_id"))
      .select("doc_id")

  /** Policy-based survivor selection — [[dedupCorpus]] keeps the min-id
    * member of each duplicate cluster; real pipelines keep the BEST copy
    * (longest, highest quality score, most recent). Survivor = the
    * cluster member maximizing `scoreCol`, ties to the smallest id (the
    * `max(struct(score, −id))` argmax — one aggregate per cluster, no
    * window). Unclustered docs pass through untouched.
    *
    * Shape at 100 TB: the component map is bounded by CLUSTERED docs;
    * the score join and the per-cluster argmax live entirely on that
    * bounded set, and the corpus pays one anti-join against the loser
    * ids — identical cost to the min-id policy. */
  def dedupCorpusByScore(docs: DataFrame, edges: DataFrame,
                         scoreCol: String): DataFrame = {
    val cc = connectedComponents(edges)
    val best = cc
      .join(docs.select(col("doc_id"), col(scoreCol)), Seq("doc_id"))
      .groupBy("rep_id")
      .agg(max(struct(col(scoreCol).as("s"), (-col("doc_id")).as("nid")))
        .as("b"))
      .select(col("rep_id"), (-col("b.nid")).as("keep_id"))
    val losers = cc.join(best, Seq("rep_id"))
      .where(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The dedup products FUSED: x27's component map, x44's cluster-size
    * census, and x28's kept/removed split all derive from one
    * jaccardPairs + connectedComponents computation here, instead of each
    * query independently paying the edge shuffle (the 4× duplicated cost
    * the round-5 review measured at 2.6–3.8 s per query). Output is a
    * per-source curation report: total docs, kept docs, removed
    * near-dup members, clusters represented (rep doc in this source), and
    * the largest such cluster.
    *
    * 100 TB posture: the component map is bounded by CLUSTERED docs (far
    * smaller than the corpus); it is localCheckpointed once and joined
    * twice — equi-joins AQE broadcasts when small, never forced. The
    * corpus is scanned once. */
  def dedupProducts(docs: DataFrame, shingleK: Int = 3,
                    minJaccard: Double = 0.8, maxDf: Int = 4096): DataFrame = {
    val edges = jaccardPairs(docs, shingleK, minJaccard, maxDf)
      .select("doc_a", "doc_b")
    val cc = connectedComponents(edges).localCheckpoint()
    // cluster_size keyed at the REP doc: members carry null
    val repSizes = cc.groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
      .select(col("rep_id").as("doc_id"), col("cluster_size"))
    docs.select("doc_id", "source")
      .join(cc, Seq("doc_id"), "left")
      .join(repSizes, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rep_id").isNull || col("rep_id") === col("doc_id"),
          1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rep_id").isNotNull && col("rep_id") =!= col("doc_id"),
          1L).otherwise(0L)).as("n_removed"),
        sum(when(col("rep_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_clusters"),
        max(col("cluster_size")).as("max_cluster"))
  }

  /** 4. Exact n-gram Jaccard for pairs sharing ≥1 shingle, via the
    * postings-list pattern: group `(doc_id, n_sh)` by shingle hash (ONE big
    * shuffle) and emit the pair combinations of each posting map-side. Each
    * posting entry carries its document's set size, so
    * |A∪B| = |A|+|B|−|A∩B| falls out of the pair aggregation directly — no
    * per-document sizes dimension and no broadcast of it (the round-1
    * version broadcast one row per document: a driver OOM at corpus scale).
    * The join key is the 64-bit shingle hash, not the string — cheaper
    * shuffle, collision odds ~n²·k/2⁶⁴.
    *
    * Shingles with document frequency above `maxDf` are dropped before pair
    * generation: one boilerplate shingle shared by m documents builds an
    * m-element aggregation buffer and emits m²/2 pairs — quadratic skew on a
    * single key — while carrying ~no Jaccard signal. The cap is not silent:
    * the postings stage publishes `observe("jaccard_df_cap")` metrics
    * (`shingles_kept` / `shingles_dropped`), readable from a
    * QueryExecutionListener or `Observation`. */
  def jaccardPairs(docs: DataFrame, shingleK: Int = 3,
                   minJaccard: Double = 0.8,
                   maxDf: Int = 4096): DataFrame = {
    val sh = docs
      .select(col("doc_id"), tokenHashes(col("text"), shingleK).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
              explode(col("hs")).as("shingle"))
    // postings list per shingle → all (a<b) pairs, generated map-side;
    // sort_array on the struct orders by doc_id (first field)
    val postings = sh.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("docs"))
      .filter(size(col("docs")) > 1)
      .observe("jaccard_df_cap",
        sum(when(size(col("docs")) > maxDf, 1L).otherwise(0L))
          .as("shingles_dropped"),
        sum(when(size(col("docs")) <= maxDf, 1L).otherwise(0L))
          .as("shingles_kept"))
      .filter(size(col("docs")) <= maxDf)
    // pair emission as two chained generates (posexplode anchor + explode
    // of the tail slice) rather than one nested transform/flatten lambda:
    // generates and slice() are whole-stage-codegen'd, while higher-order
    // lambdas run interpreted with a per-element closure allocation — the
    // lambda version was the suite's only allocation-heavy interpreted hot
    // path and degraded 15x under host memory pressure (BENCH_r03/r04)
    // while codegen'd queries degraded ~1.5x. Pairs stream row-by-row; no
    // m²/2 intermediate array is ever materialized.
    val pairs = postings
      .select(posexplode(col("docs")).as(Seq("i", "a")), col("docs"))
      .select(col("a"), explode(
        slice(col("docs"), col("i") + lit(2), size(col("docs")))).as("b"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.n_sh").as("size_a"), col("b.n_sh").as("size_b"))
    pairs.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"),
           first("size_a").as("size_a"), first("size_b").as("size_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 5. Exact repeated-substring spans — the distributed analogue of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", which removes repeated
    * ≥50-token spans rather than whole near-dup documents). A suffix
    * array is inherently sequential; the shuffle-friendly equivalent is
    * k-token window hashing: a span of ≥ k tokens repeats corpus-wide iff
    * every one of its k-windows repeats, so
    *
    *  1. hash every k-token window IN POSITION (native ShingleHashesAll —
    *     one interpreted-free pass per doc, duplicates kept),
    *  2. count corpus-wide occurrences per window hash (ONE hash-agg
    *     shuffle on the 64-bit key, partials combine map-side),
    *  3. semi-join positions whose window repeats (`n_occ >= minCount`,
    *     same-doc repeats included, matching the suffix-array census),
    *  4. merge surviving positions into maximal spans per doc
    *     (gaps-and-islands: window positions p, p' chain while
    *     p' - p <= k, i.e. their token ranges overlap or touch; one
    *     shuffle on doc_id).
    *
    * Output: one row per maximal span — (doc_id, span_start, span_end
    * inclusive token indexes, n_windows). Spans shorter than k tokens
    * cannot be detected (window resolution), exactly as the reference
    * suffix-array approach bounds detection at its minimum match length.
    *
    * 100 TB posture: two content-keyed shuffles (window hash, doc_id) and
    * a semi-join whose right side is the repeated-window set (heavy-tail
    * bounded; AQE broadcasts it when small). No all-pairs, no driver
    * state, no per-doc broadcast. Hash values are engine-internal —
    * results depend only on hash distinctness (collision odds ~n²/2⁶⁴). */
  def repeatedSpans(docs: DataFrame, windowK: Int = 8, minCount: Long = 2,
                    textCol: String = "text"): DataFrame = {
    require(windowK >= 2, s"windowK must be >= 2, got $windowK")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    import org.apache.spark.sql.expressions.Window
    val win = docs.select(col("doc_id"),
      posexplode(graft.functions.ShingleHashesAll(col(textCol), windowK))
        .as(Seq("pos", "wh")))
    val dup = win.groupBy("wh").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
      .select("wh")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    win.join(dup, Seq("wh"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= windowK, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("g", sum("brk").over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("pos").cast("long").as("span_start"),
           (max("pos") + lit(windowK - 1)).cast("long").as("span_end"),
           count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Companion to [[repeatedSpans]]: rebuild each document's text with
    * every repeated-span token removed (ALL occurrences — the
    * conservative variant; Lee et al. keep one arbitrary occurrence,
    * which requires electing a global owner per duplicate cluster). Docs
    * with no spans pass through untouched via the left join. The per-doc
    * span list is bounded (≤ nTokens/k maximal spans), so the
    * collect_list/array lambda work is map-side small. */
  def stripRepeatedSpans(docs: DataFrame, spans: DataFrame,
                         textCol: String = "text"): DataFrame = {
    val sp = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    // the SAME tokenizer (Character.isWhitespace boundaries) that produced
    // the span positions in repeatedSpans — a regex \s+ split is ASCII-only
    // and misaligns indexes on Unicode-whitespace documents
    val toks = graft.functions.TokenSplit(col(textCol))
    docs.join(sp, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, lower(col(textCol)))
          .otherwise(array_join(
            filter(transform(toks, (t, i) => struct(i.as("i"), t.as("t"))),
              s => !exists(col("spans"),
                sp => s.getField("i").between(
                  sp.getField("span_start"), sp.getField("span_end"))))
            .getField("t"), " ")))
      .select(col("doc_id"), col("clean_text"))
  }

  /** ExactSubstr with OWNER ELECTION — the Lee et al. 2022 product
    * itself (their suffix-array dedup keeps ONE occurrence of each
    * repeated span and removes the rest), closing the limitation
    * [[stripRepeatedSpans]] documents: that conservative variant
    * removes ALL occurrences because it elects no owner. Here every
    * duplicated k-token window has a deterministic owner — its
    * globally FIRST occurrence in (doc_id, pos) order — and only
    * NON-OWNER occurrences become removable; removable positions
    * merge into maximal spans (the [[repeatedSpans]] gaps-and-islands)
    * and strip from their documents. The first document to carry a
    * span keeps it; every later copy loses it — window-resolution
    * approximation of the suffix-array rule, exact for spans ≥ k
    * (adjacent windows of one span can in principle elect owners in
    * different documents, splitting custody of a long span — same
    * resolution bound the census documents).
    *
    * Output per document (every input row survives): `n_tokens`,
    * `n_removed`, and the rebuilt `text` (space-joined surviving
    * tokens — empty when everything was someone else's span).
    *
    * 100 TB posture: ONE window-keyed hash agg carrying (count,
    * min-(doc,pos)) partials that combine map-side, one equi-join
    * back (never all-pairs), one doc-keyed window for the island
    * merge, one bounded span list per doc. Owner election adds ZERO
    * exchanges over the census — the min rides the same aggregate. */
  def exactSubstrStrip(docs: DataFrame, windowK: Int = 8,
                       textCol: String = "text"): DataFrame = {
    require(windowK >= 2, s"windowK must be >= 2, got $windowK")
    import org.apache.spark.sql.expressions.Window
    val win = docs.select(col("doc_id"),
      posexplode(graft.functions.ShingleHashesAll(col(textCol), windowK))
        .as(Seq("pos", "wh")))
    val own = win.groupBy("wh")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("owner"))
      .filter(col("n_occ") >= 2)
      .select(col("wh"), col("owner"))
    val removable = win.join(own, Seq("wh"))
      .filter(!(col("doc_id") === col("owner.doc_id") &&
        col("pos") === col("owner.pos")))
      .select("doc_id", "pos")
    stripPositionsReport(docs, removable, windowK, textCol)
  }

  /** The shared STRIP TAIL of [[exactSubstrStrip]] and
    * [[Curation.decontaminateSpans]]: merge removable window
    * positions into maximal spans (gaps-and-islands, one doc-keyed
    * window), strip the covered tokens, and report
    * `(doc_id, n_tokens, n_removed, text)` — every input row
    * survives; the span list per doc is bounded (≤ nTokens/k). */
  private[ext] def stripPositionsReport(docs: DataFrame,
                                        removable: DataFrame,
                                        windowK: Int,
                                        textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = removable
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= windowK, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("g", sum("brk").over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + lit(windowK - 1)).cast("long").as("span_end"))
    val sp = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    val toks = graft.functions.TokenSplit(col(textCol))
    docs.join(sp, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, toks)
          .otherwise(filter(
            transform(toks, (t, i) => struct(i.as("i"), t.as("t"))),
            s => !exists(col("spans"),
              x => s.getField("i").between(x.getField("span_start"),
                x.getField("span_end"))))
            .getField("t")))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text"))
  }

  /** Content-defined chunk dedup — anchor-based chunking (Manber 1994,
    * "Finding similar files in a large file system"; the token-stream
    * shape of LBFS/rsync content-defined chunking): a token is an
    * ANCHOR iff its hash's low bits are zero (`hash mod maskMod == 0`,
    * expected chunk length = maskMod tokens), chunks are the token
    * spans each anchor closes, and a chunk's fingerprint is the
    * rotl5-XOR fold of its token hashes in order (the x10 fingerprint
    * spec at chunk granularity). Because boundaries are CONTENT
    * positions, an insertion early in a document shifts only the chunk
    * it lands in — unlike fixed windows, where everything downstream
    * re-fingerprints; that resynchronization property is the whole
    * point of CDC. Output per doc: chunk count, chunks shared with ≥1
    * other doc, and the duplicated fraction — the partial-overlap
    * signal exact/minhash dedup (whole-doc granularity) cannot see.
    *
    * Every hash step is the repo's one published family (FNV-1a per
    * token via the native ShingleHashesAll k=1 expression, splitmix64
    * finalize, rotl5-XOR fold), so the oracle replays chunking and
    * census end to end in HUGEINT arithmetic.
    *
    * Shape at 100 TB: anchors and chunk ids are one per-doc window
    * (skew bound = one document's token count), fingerprints collapse
    * per (doc, chunk), and the census is one hash agg on the 64-bit
    * fingerprint — duplicate-chunk mass collapses map-side exactly
    * like the x37 window census. */
  def cdcChunkDedup(docs: DataFrame, maskMod: Long = 16L,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(maskMod >= 2, s"maskMod must be >= 2: $maskMod")
    // pmod over the SIGNED long equals the oracle's unsigned-low-bits
    // HUGEINT `uh % maskMod` only when maskMod is a power of two; a
    // non-power-of-two modulus would silently give the engine and the
    // oracle different anchor sets, so fail closed here
    require((maskMod & (maskMod - 1)) == 0L,
      s"maskMod must be a power of two (unsigned-low-bits anchor): $maskMod")
    import org.apache.spark.sql.expressions.Window
    val hs = docs.select(col(idCol),
      posexplode(graft.functions.ShingleHashesAll(col(textCol), 1))
        .as(Seq("pos", "h")))
    // power-of-two mod of the signed long == unsigned low bits, the
    // oracle's HUGEINT uh % maskMod
    val anchored = hs.withColumn("anchor",
      pmod(col("h"), lit(maskMod)) === 0L)
    val w = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = anchored
      .withColumn("chunk_id", coalesce(
        sum(when(col("anchor"), 1L).otherwise(0L)).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_toks"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("h")))),
          lit(0L),
          (a, x) => shiftleft(a, 5).bitwiseOR(shiftrightunsigned(a, 59))
            .bitwiseXOR(x.getField("h"))).as("fp"))
    val dups = chunks.groupBy("fp")
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("fp"), lit(1).as("dup"))
    chunks.join(dups, Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L))
          .as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Edit-distance (Levenshtein) nearest neighbor under blocking — the
    * short-string near-dup tier (instruction/title dedup: Self-Instruct
    * §3.2 keeps a new instruction only when its similarity to every
    * stored one is below threshold; news pipelines dedup headlines the
    * same way). Shingle tiers miss single-character edits on SHORT
    * strings (one edit flips most of a 3-gram set), and edit distance is
    * exactly the metric they're compared under.
    *
    * Blocking, not all-pairs: candidates must share (first token,
    * `length(text) div lenBucket`). A true near-dup pair that disagrees
    * in its first token or falls across a length boundary is missed —
    * the standard recall/cost trade of blocked record linkage
    * (documented, parameterized). Groups above `maxGroup` are dropped
    * and counted via `observe("edit_block_cap")` — same contract as
    * [[jaccardPairs]]' df cap.
    *
    * Per surviving doc: the minimum edit distance to any block-mate and
    * the arg-min neighbor (ties → lower neighbor id, via one
    * min(struct)). 100 TB shape: ONE exchange keyed by block; pairs are
    * generated map-side by the posexplode+slice stream (no m² array);
    * `levenshtein()` is evaluated once per unordered pair and both
    * orientations are exploded from the same row. Text rides the block
    * exchange — this tier is priced for short strings, so the cap and
    * the length of the strings bound the cost, not corpus size. */
  /** The stored short-string index the streaming edit gate probes:
    * (doc_id, txt, k1, k2) under [[editNearDups]]' block keys. */
  def editIndex(docs: DataFrame, lenBucket: Int = 16,
                textCol: String = "text"): DataFrame = {
    val toks = TextOps.words(col(textCol))
    docs.select(col("doc_id"), col(textCol).as("txt"),
      element_at(toks, 1).as("k1"),
      expr(s"length($textCol) div $lenBucket").as("k2"))
  }

  def editNearDups(docs: DataFrame, lenBucket: Int = 16,
                   maxGroup: Int = 256,
                   textCol: String = "text"): DataFrame = {
    val toks = TextOps.words(col(textCol))
    val keyed = docs.select(col("doc_id"), col(textCol).as("txt"),
      element_at(toks, 1).as("k1"),
      expr(s"length($textCol) div $lenBucket").as("k2"))
    val blocks = keyed.groupBy("k1", "k2")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("txt"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .observe("edit_block_cap",
        sum(when(size(col("ds")) > maxGroup, 1L).otherwise(0L))
          .as("blocks_dropped"))
      .filter(size(col("ds")) <= maxGroup)
    val pairs = blocks
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"), explode(
        slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("b"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        levenshtein(col("a.txt"), col("b.txt")).cast("long").as("d"))
    pairs
      .select(explode(array(
        struct(col("ia").as("doc_id"), col("d"), col("ib").as("nb")),
        struct(col("ib").as("doc_id"), col("d"), col("ia").as("nb"))))
        .as("e"))
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(min(struct(col("e.d"), col("e.nb"))).as("m"))
      .select(col("doc_id"), col("m.d").as("min_edit_dist"),
        col("m.nb").as("neighbor_id"))
  }
}
