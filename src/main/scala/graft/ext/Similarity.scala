package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.LocalFs

/** Similarity search and embedding compression over an embedding column
  * (`array<float>`) — the full index ladder a 100 TB vector corpus climbs:
  *
  *  - brute-force cosine top-k (the exactness baseline every tier is
  *    measured against — see [[annRecall]]);
  *  - LSH bucketing (random-hyperplane signs) for partition-pruned probes;
  *  - IVF inverted lists ([[annIvf]], Lloyd-trainable) with the
  *    [[ivfListBalance]] partition-sizing report;
  *  - product quantization ([[pqCodebooks]]/[[pqEncode]]/[[annPq]],
  *    Jégou et al. 2011) — 32× compression, ADC table-lookup scoring;
  *  - the composed [[annIvfPq]] and residual-encoded [[annIvfPqResidual]]
  *    (exact faiss IVFADC layout) — coarse prune, then ADC on the sliver;
  *  - int8 scalar quantization ([[int8QuantAudit]]) and feature-hashed
  *    text embeddings ([[hashEmbed]]) for corpora without vectors;
  *  - SemDeDup and embedding near-dup for semantic corpus dedup.
  *
  * The tiers share one kernel set, each step written once:
  * [[rerankCut]] (bounded candidate cut, id equi-join back to the
  * vectors, exact-cosine top-k), [[recallAtK]] (overlap with the exact
  * cut), [[pqEncode]] + [[adcSum]] (the code table and its ADC lookup
  * sum), [[cellArgmax]] (the literal-centroid struct argmax),
  * [[assignJoin]] (the broadcast-join max(struct) assignment),
  * [[lloyd]] (the Lloyd re-mean loop), [[lshPlanes]], [[widen]], and the
  * driver-side [[dotD]]/[[matVec]] folds of the spectral tier.
  *
  * Numeric discipline throughout: every dot product is an in-order fold
  * ([[graft.functions.DotFold]] ≡ DuckDB's sequential list_dot_product),
  * every argmin/argmax tiebreak is total-ordered, so each index replays
  * bit-exactly in the oracle.
  */
object Similarity {

  /** Dot product of an array column with a literal query vector, via the
    * native codegen'd [[graft.functions.DotFold]] — a sequential left fold
    * in element order (no UDF, no deserialization, no per-element closure).
    * Deliberately NOT an unrolled `+` chain: Catalyst's
    * ReorderAssociativeOperator may re-associate a flat Add chain, which
    * perturbs the low bits vs. a sequential fold — DotFold keeps
    * evaluation order fixed and oracle-exact (VectorExprsSpec pins it
    * bit-identical to the declarative aggregate/zip_with chain it
    * replaced). */
  def dotLiteral(vec: Column, q: Array[Double]): Column =
    graft.functions.VectorExprs.dot_fold(vec, array(q.map(lit): _*))

  /** L2 norm of an array column — sqrt of the self-dot fold. */
  def norm(vec: Column): Column =
    sqrt(graft.functions.VectorExprs.dot_fold(vec, vec))

  /** Cosine similarity against a literal query vector. */
  def cosineLiteral(vec: Column, q: Array[Double]): Column = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    dotLiteral(vec, q) / (norm(vec) * lit(qn))
  }

  /** Cosine similarity between two array columns. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot_fold(a, b) / (norm(a) * norm(b))

  /** Sign bits of dims `[lo, hi]` packed little-endian into one BIGINT
    * (dim `i` → bit `i-lo`, set when the component is strictly
    * positive). 64-dim vectors pack into TWO 32-bit words rather than
    * one 64-bit word: bit 63 would flip a BIGINT's sign, and an
    * unsigned-vs-signed disagreement between engines is exactly the
    * silent-divergence class the CDC maskMod fix closed. One
    * higher-order aggregate in the scan-stage project — no UDF, no
    * serialization; HOFs evaluate outside codegen but stay narrow. */
  def signWord(vec: Column, lo: Int, hi: Int): Column =
    aggregate(sequence(lit(lo), lit(hi)), lit(0L), (acc, i) =>
      acc + when(element_at(vec, i + 1) > lit(0f),
        call_function("shiftleft", lit(1L), i - lit(lo))).otherwise(lit(0L)))

  /** Driver-side twin of [[signWord]] for literal query vectors. */
  def signWordOf(q: Array[Double], lo: Int, hi: Int): Long =
    (lo to hi).foldLeft(0L)((acc, i) =>
      if (q(i) > 0) acc + (1L << (i - lo)) else acc)

  /** Binary (sign-bit) ANN — the 1-bit extreme of the quantization
    * ladder (int8 x67, PQ x65): 64 dims compress 256× to two 32-bit
    * words, candidate distance is a 2-popcount Hamming count, and the
    * top `rerank` Hamming candidates re-rank by exact cosine. Charikar
    * 2002 (SimHash) grounds the estimator: sign-bit agreement
    * probability is `1 − θ/π`, monotone in cosine for the symmetric
    * distributions embeddings approximate, so a Hamming cut loses
    * little recall at a fraction of the cost. This INLINE form packs
    * the words from the float vectors inside the same scan (one pass,
    * no storage); the STORED form ([[binaryAnnStoredBuild]] /
    * [[binaryAnnStoredQuery]]) is the one whose Hamming scan reads
    * 16 B/row and nothing else. Both ordering cuts are
    * TakeOrderedAndProject (per-partition top-k, no global sort, no
    * exchange). */
  def binaryAnnTopK(embeddings: DataFrame, q: Array[Double], k: Int,
                    rerank: Int = 20, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol) +: col(vecCol) +: signWords(col(vecCol)): _*)
      .withColumn("ham", hamming(q))
      .orderBy(col("ham"), col(idCol)).limit(rerank)
      .withColumn("cos", cosineLiteral(col(vecCol), q))
      .orderBy(desc("cos"), col(idCol)).limit(k)
      .select(col(idCol), col("ham"), col("cos"))

  /** The two sign words `(w0, w1)` of a 64-dim vector column. */
  private def signWords(vec: Column): Seq[Column] =
    Seq(signWord(vec, 0, 31).as("w0"), signWord(vec, 32, 63).as("w1"))

  /** Hamming distance of the `(w0, w1)` columns to the query's words. */
  private def hamming(q: Array[Double]): Column =
    (call_function("bit_count", col("w0").bitwiseXOR(lit(signWordOf(q, 0, 31)))) +
      call_function("bit_count",
        col("w1").bitwiseXOR(lit(signWordOf(q, 32, 63))))).cast("int")

  /** Write-once half of the STORED 1-bit index — the x77/x96 lifecycle
    * applied to the sign-word tier: pack every vector's sign bits once
    * and persist `(vec_id, w0, w1)` as parquet under `storageDir`.
    * 16 bytes a row against 256 for the float array — the 16× at-rest
    * compression the 1-bit tier exists for. Build cost is one corpus
    * scan; at 100 TB it amortizes over every query that follows. */
  def binaryAnnStoredBuild(embeddings: DataFrame, storageDir: String,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): Unit =
    LocalFs.write(embeddings.select(col(idCol) +: signWords(col(vecCol)): _*))
      .mode("overwrite").parquet(s"$storageDir/signwords")

  /** Query half: answer from the persisted words table alone. The
    * Hamming cut scans ONLY `(vec_id, w0, w1)` — PlanSpec asserts the
    * candidate scan's ReadSchema carries no `embedding` column — and
    * the float vectors enter through the bounded `rerank`-row equi-join
    * for the exact-cosine re-rank, exactly the stored-PQ discipline
    * ([[annPqStoredQuery]]). Value-identical to the inline
    * [[binaryAnnTopK]] (parquet stores int64 exactly), so the oracle is
    * the same replay. */
  def binaryAnnStoredQuery(embeddings: DataFrame, storageDir: String,
                           q: Array[Double], k: Int, rerank: Int = 20,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    rerankCut(embeddings.sparkSession.read.parquet(s"$storageDir/signwords")
        .select(col(idCol), hamming(q).as("ham")),
      "ham", embeddings, q, k, rerank, idCol, vecCol)

  /** The stored tiers' shared tail: the best `rerank` rows of `scored`
    * `(id, scoreCol)` by (score, id) — a TakeOrderedAndProject — join
    * back to the vectors by id, and the exact-cosine top `k` of those
    * is `(id, scoreCol, cos)`. `scored` is by-name, so a bad `k` or
    * `rerank` fails before the candidate side runs any job. */
  private def rerankCut(scored: => DataFrame, scoreCol: String,
                        embeddings: DataFrame, q: Array[Double], k: Int,
                        rerank: Int, idCol: String,
                        vecCol: String): DataFrame = {
    require(k > 0 && rerank >= k,
      s"need rerank >= k > 0, got k=$k rerank=$rerank")
    scored
      .orderBy(col(scoreCol), col(idCol)).limit(rerank)
      .join(embeddings.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), col(scoreCol),
        cosineLiteral(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), col(idCol)).limit(k)
  }

  /** Acceptance gate for the 1-bit tier — recall@k of [[binaryAnnTopK]]
    * against the exact cosine scan, the same contract [[annRecall]]
    * gives PQ: the number a corpus owner checks before trusting the
    * 16×-cheaper index. Both cuts TakeOrderedAndProject; the overlap
    * join is k×k rows. */
  def binaryAnnRecall(embeddings: DataFrame, q: Array[Double], k: Int,
                      rerank: Int = 20, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    recallAtK(binaryAnnTopK(embeddings, q, k, rerank, idCol, vecCol),
      embeddings, q, k, idCol, vecCol)

  /** The recall gate every tier shares: one row `(n_overlap,
    * recall_at_<k>)` counting the ids of `approx` that are also in the
    * exact [[topKCosine]] cut. Both cuts are TakeOrderedAndProject; the
    * overlap join is k×k rows. */
  private def recallAtK(approx: DataFrame, embeddings: DataFrame,
                        q: Array[Double], k: Int, idCol: String,
                        vecCol: String): DataFrame = {
    val exact = topKCosine(embeddings, q, k, idCol, vecCol).select(col(idCol))
    approx.select(col(idCol)).join(exact, Seq(idCol)).agg(
      count(lit(1)).as("n_overlap"),
      (count(lit(1)).cast("double") / k).as(s"recall_at_$k"))
  }

  /** MATRYOSHKA truncation gate (Kusupati et al. 2022, "Matryoshka
    * Representation Learning") — recall@k of the top-k under the
    * PREFIX of the embedding (MRL trains nested prefixes to be usable
    * embeddings on their own) against the full-dimension exact cut:
    * the acceptance test run before a pipeline swaps its retrieval
    * tier to the cheaper truncated vectors (at `prefixDim = d/2` the
    * scan reads half the bytes; composes with the x126 stored-words
    * discipline for the stored variant). Both cuts are
    * TakeOrderedAndProject; the overlap join is k×k rows. */
  def matryoshkaRecall(embeddings: DataFrame, q: Array[Double], k: Int,
                       prefixDim: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(prefixDim >= 1 && prefixDim < q.length,
      s"need 1 <= prefixDim < ${q.length}: $prefixDim")
    val qp = q.take(prefixDim)
    val approx = embeddings
      .select(col(idCol),
        cosineLiteral(slice(col(vecCol), 1, prefixDim), qp).as("cosp"))
      .orderBy(desc("cosp"), col(idCol)).limit(k)
    recallAtK(approx, embeddings, q, k, idCol, vecCol)
  }

  /** Brute-force top-k by cosine against a literal query. Deterministic
    * tiebreak on id. orderBy+limit compiles to TakeOrderedAndProject —
    * per-partition top-k then a k-row merge on the driver, no full sort. */
  def topKCosine(embeddings: DataFrame, q: Array[Double], k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol), cosineLiteral(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)

  /** Random-hyperplane LSH bucket key: sign bits of dot products with
    * `nPlanes` deterministic pseudo-random planes (seeded, reproducible
    * across runs and cluster sizes). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 8,
                seed: Long = 42L): Column = {
    val bits = lshPlanes(dim, nPlanes, seed).zipWithIndex.map { case (p, i) =>
      when(dotLiteral(vec, p) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The `nPlanes` seeded Gaussian hyperplanes behind [[lshBucket]] —
    * one draw order, so the query bucket and the column bucket agree. */
  private def lshPlanes(dim: Int, nPlanes: Int,
                        seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** ANN via LSH: assign each vector a bucket; answer a query by scanning
    * only its bucket. `probes` extra buckets (hamming-1 neighbors) trade
    * recall for work. Returns top-k within the probed buckets. */
  def annLsh(embeddings: DataFrame, q: Array[Double], k: Int, dim: Int,
             nPlanes: Int = 8, probes: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qBucket = lshPlanes(dim, nPlanes, 42L).zipWithIndex.map { case (p, i) =>
      val d = p.zip(q).map { case (a, b) => a * b }.sum
      if (d > 0) 1L << i else 0L
    }.sum
    val buckets = qBucket +: (0 until (if (probes > 0) nPlanes else 0))
      .take(probes).map(i => qBucket ^ (1L << i))
    embeddings
      .withColumn("bucket", lshBucket(col(vecCol), dim, nPlanes))
      .filter(col("bucket").isin(buckets: _*))
      .select(col(idCol), cosineLiteral(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) ANN — the standard two-level index: a coarse
    * quantizer assigns every vector to its nearest centroid (the inverted
    * lists); a query probes only the `nProbe` lists whose centroids are
    * closest to it, then exact-re-ranks inside them.
    *
    * The coarse centroids here are the first `nCentroids` vectors by id —
    * deterministic and engine-independent, so the whole index is
    * oracle-checkable; production swaps in k-means centroids without
    * changing the plan shape. Scale shape: centroids broadcast (tiny), the
    * n×k assignment scores reduce map-side into a per-vector argmax (one
    * hash aggregation — the only shuffle), probing is a broadcast
    * semi-join, and the re-rank is TakeOrderedAndProject. At 100 TB the
    * inverted lists become the partitioning key, so a query touches
    * nProbe/nCentroids of the data. */
  def annIvf(embeddings: DataFrame, q: Array[Double], k: Int,
             nCentroids: Int = 16, nProbe: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfQuery(embeddings, firstKCent(embeddings, nCentroids, idCol, vecCol),
      q, k, nProbe, idCol, vecCol)

  /** The deterministic first-k centroid table `(cid, cvec)`: the
    * vectors with id below `n`, as [[annIvf]] and [[semDeDup]] seed it. */
  private def firstKCent(embeddings: DataFrame, n: Int, idCol: String,
                         vecCol: String): DataFrame =
    embeddings.filter(col(idCol) < n)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

  /** Broadcast-join cell assignment: each vector's argmax-cosine
    * centroid of `cent`. Struct max = (cos, cid) lexicographic, so ties
    * break to the higher cid. Returns `(id, cid, vec)`. */
  private def assignJoin(embeddings: DataFrame, cent: DataFrame,
                         idCol: String, vecCol: String): DataFrame =
    embeddings
      .join(broadcast(cent))
      .withColumn("cc", cosine(col(vecCol), col("cvec")))
      .groupBy(col(idCol))
      .agg(max(struct(col("cc"), col("cid"))).as("best"),
           first(col(vecCol)).as(vecCol))
      .select(col(idCol), col("best.cid").as("cid"), col(vecCol))

  /** IVF query against an explicit centroid table `(cid, cvec)` — shared
    * by the deterministic first-k index (oracle-checked) and the k-means-
    * trained one. */
  def ivfQuery(embeddings: DataFrame, cent: DataFrame, q: Array[Double],
               k: Int, nProbe: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = assignJoin(embeddings, cent, idCol, vecCol)
    val probes = cent
      .withColumn("qc", cosineLiteral(col("cvec"), q))
      .orderBy(desc("qc"), col("cid")).limit(nProbe)
      .select("cid")
    assigned.join(broadcast(probes), "cid")
      .select(col(idCol), cosineLiteral(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** Lloyd-refined IVF centroids, seeded from the deterministic first-k
    * set. Each iteration is ONE DataFrame aggregation:
    *
    *   1. assignment — [[coarseCellCol]], the literal-centroid argmax as
    *      a pure codegen'd column fused into the scan: no join, no
    *      exchange, and the vector payload never rides a shuffle;
    *   2. new means — posexplode to (cid, pos, component) and hash-agg
    *      sum/count. Partial aggregation combines map-side, so the only
    *      exchange of the whole iteration carries nCentroids × dim ×
    *      nPartitions scalar rows however big the corpus is.
    *
    * Only the k × dim centroid matrix ever reaches the driver (per
    * iteration, to re-literalize). Empty clusters keep their previous
    * centroid. Deterministic: seed, assignment tiebreak (higher cid —
    * [[coarseCellCol]]'s struct-greatest convention, identical to the
    * max(struct) tiebreak [[ivfQuery]] uses), and decimal-routed means
    * are all order-independent. */
  def trainIvfCentroids(embeddings: DataFrame, nCentroids: Int = 16,
                        iters: Int = 3,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Array[Array[Double]] = {
    val seed = embeddings
      .filter(col(idCol) < nCentroids).orderBy(idCol).select(vecCol)
      .collect().map(widen)
    // decimal-routed sum: component means independent of partition order
    lloyd(seed, iters)(cents => lloydAssignAgg(embeddings, cents, vecCol)
      .collect().map(r =>
        (r.getLong(0).toInt, r.getInt(1), r.getDouble(2), r.getLong(3))))
  }

  /** `iters` Lloyd rounds over a list of centroids: `sums(cents)` is
    * one round's `(cell, pos, sum, count)` rows, a cell's new centroid
    * is `sum / count` per position, and a cell with no rows keeps its
    * centroid. Shared by [[trainIvfCentroids]] and
    * [[trainPqCodebooks]]. */
  private def lloyd(seed: Array[Array[Double]], iters: Int)(
      sums: Array[Array[Double]] => Array[(Int, Int, Double, Long)])
      : Array[Array[Double]] =
    (0 until iters).foldLeft(seed) { (cents, _) =>
      val next = cents.map(_.clone())
      sums(cents).groupBy(_._1).foreach { case (cell, rows) =>
        val mean = new Array[Double](cents(cell).length)
        rows.foreach { case (_, pos, s, n) => mean(pos) = s / n }
        next(cell) = mean
      }
      next
    }

  /** A collected `array<float>` or `array<double>` vector, floats
    * widened exactly to double — the one widening every seed and
    * centroid collect uses. */
  private def widen(row: org.apache.spark.sql.Row): Array[Double] =
    row.getSeq[Any](0).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray

  /** One Lloyd iteration's dataframe — assignment + per-(cid, pos)
    * partial sums — exposed so PlanSpec can pin the plan shape: no Join
    * anywhere, and the single Exchange carries only (cid, pos, sum,
    * count) scalars, never the vector column. */
  private[graft] def lloydAssignAgg(embeddings: DataFrame,
                                    cents: Array[Array[Double]],
                                    vecCol: String): DataFrame =
    embeddings
      .select(coarseCellCol(col(vecCol), cents).as("cid"),
              posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(graft.ops.Stable.sumD(col("v").cast("double")).as("s"),
           count(lit(1)).as("n"))

  /** The decimal-routed corpus mean vector: posexplode to (pos,
    * component), ONE pos-keyed aggregate whose exchange carries dim ×
    * nPartitions scalars (the Lloyd-iteration shape), exact
    * DECIMAL(28,6) sums so the result is partitioning-invariant; only
    * the dim-length array reaches the driver. */
  def meanVector(embeddings: DataFrame,
                 vecCol: String = "embedding"): Array[Double] = {
    val rows = embeddings
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg((graft.ops.Stable.sumD(col("v").cast("double")) /
        count(lit(1))).as("comp"))
      .collect()
    val m = new Array[Double](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => m(r.getInt(0)) = r.getDouble(1))
    m
  }

  /** Embedding isotropy diagnostics — the corpus-geometry report read
    * before trusting ANY cosine-based stage (Ethayarajh 2019:
    * contextual embeddings are anisotropic; Mu & Viswanath 2018:
    * removing the common mean direction restores contrast). One row:
    * vector count, mean L2 norm, the mean-vector norm (≈0 for an
    * isotropic cloud, approaching the mean norm as the corpus
    * collapses into a cone), and the mean cosine to the mean direction
    * — the anisotropy score itself. The mean vector is ONE pos-keyed
    * decimal aggregate ([[meanVector]]); the report is then a single
    * scan-stage aggregate with the mean as a literal — vectors never
    * shuffle. */
  def isotropyReport(embeddings: DataFrame,
                     vecCol: String = "embedding"): DataFrame = {
    val m = meanVector(embeddings, vecCol)
    val muNorm = math.sqrt(m.map(x => x * x).sum)
    // an exactly-zero mean (a perfectly symmetric cloud) leaves the
    // mean DIRECTION undefined — report NULL anisotropy, not a throw
    val anis =
      if (muNorm == 0.0) lit(null).cast("double")
      else round(graft.ops.Stable.avgD(cosineLiteral(col(vecCol), m)), 6)
    embeddings.agg(
      count(lit(1)).as("n_vecs"),
      round(graft.ops.Stable.avgD(norm(col(vecCol))), 6).as("mean_norm"),
      round(lit(muNorm), 6).as("mu_norm"),
      anis.as("mean_cos_to_mu"))
  }

  /** Per-vector cluster assignment under literal centroids, carrying
    * the winning cosine: the x17 argmax fused into the scan — no join,
    * no exchange, the vector payload never shuffles; ties → higher cid
    * (the [[coarseCellCol]] struct-greatest convention). */
  def kmeansAssign(embeddings: DataFrame, cents: Array[Array[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol), cellArgmax(col(vecCol), cents).as("b"))
      .select(col(idCol), col("b.cid").as("cid"), col("b.cc").as("cc"))

  /** Semantic cluster census over the corpus embedding space — the
    * curation report cluster-aware selection reads first (Tirumala et
    * al. 2023, "D4": k-means clusters of document embeddings drive
    * both dedup and diversification) — under an ALREADY-trained
    * centroid table ([[trainIvfCentroids]]: ONE aggregation per
    * iteration, only the k × dim matrix reaches the driver; training
    * runs once per JVM and every consumer reads the learned matrix).
    * Per cluster: the member count, the decimal-routed mean assignment
    * cosine (cohesion), and the exemplar — the member nearest its
    * centroid (ties → lower id), which is what a labeling pass reads
    * instead of the whole cluster. Assignment is the literal-centroid
    * argmax fused into the scan, so the census is scan → one cid-keyed
    * aggregate at any corpus size. */
  def kmeansCensusOf(embeddings: DataFrame, cents: Array[Array[Double]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    kmeansAssign(embeddings, cents, idCol, vecCol)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        round(graft.ops.Stable.avgD(col("cc")), 6).as("mean_cos"),
        max(struct(col("cc"), (-col(idCol)).as("ni"))).as("b"))
      .select(col("cid"), col("n_vecs"), col("mean_cos"),
        (-col("b.ni")).as("exemplar_id"))
  }

  /** Cluster-balanced sample under already-trained centroids:
    * `perCluster` members from every cluster by splitmix64 rank — the
    * diversification cut (D4's counter to semantic over-concentration:
    * a corpus 90% one topic contributes at most `perCluster` from that
    * topic's clusters). Composes [[kmeansAssign]] with
    * [[Curation.stratifiedSample]]'s rank rule, stratified on the
    * CLUSTER id. */
  def kmeansBalancedSampleOf(embeddings: DataFrame,
                             cents: Array[Array[Double]],
                             perCluster: Int = 10,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame =
    Curation.stratifiedSample(
      kmeansAssign(embeddings, cents, idCol, vecCol)
        .select(col(idCol), col("cid")),
      "cid", perCluster, idCol = idCol)

  /** IVF-style per-label top-k: nearest neighbors within each coarse
    * partition (label = cluster id), e.g. for per-cluster diversity
    * sampling. Window rank — one shuffle on label. */
  def topKPerLabel(embeddings: DataFrame, q: Array[Double], k: Int,
                   labelCol: String = "label", idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy(col(labelCol))
      .orderBy(desc("cos"), col(idCol))
    embeddings
      .select(col(labelCol), col(idCol),
              cosineLiteral(col(vecCol), q).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** All-pairs near-duplicate detection by embedding cosine within LSH
    * buckets (the embedding-space analogue of Dedup.minhashNearDups). */
  def cosineNearDups(embeddings: DataFrame, dim: Int, minCos: Double = 0.95,
                     nPlanes: Int = 8,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val withBucket = embeddings
      .withColumn("bucket", lshBucket(col(vecCol), dim, nPlanes))
    val a = withBucket.select(col(idCol).as("id_a"), col("bucket"),
                              col(vecCol).as("vec_a"))
    val b = withBucket.select(col(idCol).as("id_b"), col("bucket"),
                              col(vecCol).as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** HARD-NEGATIVE mining — the contrastive-training data step (DPR,
    * Karpukhin et al. 2020 §4.2; SimCSE; every embedding-model recipe):
    * for each anchor vector, the top-k most-similar candidates that are
    * NOT near-duplicates — similar enough to be informative negatives,
    * below the `posThreshold` that marks probable positives/duplicates
    * (mining those as negatives poisons the loss — the reason the cut
    * has two sides). The anchor itself is excluded by id.
    *
    * Returns `(q_id, neg_id, rank, cos)`, rank 1..k per anchor by
    * descending exact cosine, id-ascending tiebreak.
    *
    * Shape: the anchor set (a training batch — tens to thousands)
    * BROADCASTS; the corpus scans once, scoring |Q| cosines per row in
    * the scan project, and the per-anchor cut is the x11 window shape
    * (one shuffle on q_id, partition count = |Q|). At 100 TB the exact
    * scan swaps for the stored-index ANN cut ([[binaryAnnStoredQuery]] /
    * [[annPqStoredQuery]]) feeding the SAME window — the mining logic is
    * index-agnostic; the exact variant is the oracle-checkable one. */
  def hardNegatives(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                    posThreshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(queryIds.nonEmpty && k >= 1,
      s"need anchors and k >= 1: $queryIds, $k")
    val q = embeddings.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cos"), col("neg_id"))
    embeddings.select(col(idCol).as("neg_id"), col(vecCol).as("n_vec"))
      .crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("n_vec"), col("q_vec")))
      .filter(col("neg_id") =!= col("q_id") &&
        col("cos") < posThreshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "neg_id", "rank", "cos")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, compare pairs ONLY within a cluster, and keep one
    * representative per within-cluster similarity group. The clustering
    * is what makes semantic dedup tractable — candidate pairs fall from
    * O(n²) to Σ|cluster|², and each cluster's pair generation is an
    * equi-join on the cluster id.
    *
    * Stages (all shapes already oracle-proven elsewhere):
    *  1. deterministic coarse centroids (first-k, as [[annIvf]]) broadcast
    *     to an argmax-cosine assignment — one hash-agg shuffle;
    *  2. within-cluster pair generation via a cid equi-join self-join,
    *     exact pairwise cosine ≥ `minCos` → similarity edges;
    *  3. duplicate groups completed with
    *     [[Dedup.connectedComponents]] (a similarity edge is not
    *     transitive; the paper's per-cluster "keep one" needs the
    *     component, not the pair) — min-id representative;
    *  4. kept corpus = assignment anti-joined against the non-
    *     representative members.
    *
    * Returns (idCol, cid) of KEPT vectors. For production k-means
    * centroids, pass the [[trainIvfCentroids]] output through the same
    * pipeline; the deterministic variant is the oracle-checkable one.
    *
    * 100 TB posture: centroids broadcast (k×dim doubles); the corpus
    * shuffles once for assignment and once per self-join side on cid;
    * cluster sizes bound the quadratic term (pick nClusters ~ n/expected
    * cluster size; the paper uses 50k clusters for 8B embeddings). The
    * component step runs on the edge set only — corpus-independent. */
  def semDeDup(embeddings: DataFrame, nClusters: Int = 16,
               minCos: Double = 0.3,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val assigned = assignJoin(embeddings,
      firstKCent(embeddings, nClusters, idCol, vecCol), idCol, vecCol)
    val a = assigned.select(col("cid"), col(idCol).as("id_a"),
                            col(vecCol).as("vec_a"))
    val b = assigned.select(col("cid"), col(idCol).as("id_b"),
                            col(vecCol).as("vec_b"))
    val edges = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("vec_a"), col("vec_b")) >= minCos)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val drop = Dedup.duplicateMembers(edges).select(col("doc_id").as(idCol))
    assigned.select(col(idCol), col("cid"))
      .join(drop, Seq(idCol), "left_anti")
  }

  /** Feature-hashed document embeddings — the engine's own text→vector
    * path (hashing trick / random-feature TF vectors), so the
    * similarity family (ANN, SemDeDup, embedding near-dup) can run on
    * corpora that arrive WITHOUT precomputed embeddings: token t lands
    * in dimension `floorMod(mix64(fnv(t)), dim)` (the repo's one hash
    * family, native codegen'd [[graft.functions.ShingleHashesAll]] at
    * k=1), counts accumulate per (doc, dim), and the vector is
    * L2-normalized. Emitted SPARSE as (doc_id, dim, w) rows — the dense
    * collect is one `groupBy(doc).pivot`-free array_sort away, but
    * sparse is what the bucketed joins consume. Every arithmetic step is
    * exact (integer counts, Σc² integer, one correctly-rounded sqrt and
    * one IEEE division per row), so the oracle replays it bit-exactly.
    *
    * Shape at 100 TB: the (doc, dim) count aggregates with map-side
    * partials (bounded by doc×min(tokens, dim) rows); the norm is a
    * per-doc window over ≤dim rows. Two content-keyed exchanges, no
    * vocabulary state. */
  def hashEmbed(docs: DataFrame, dim: Int = 64,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(dim > 0, s"embedding dim must be positive: $dim")
    val th = docs.select(col(idCol),
      explode(graft.functions.ShingleHashesAll(col(textCol), 1)).as("h"))
    val cnt = th
      .groupBy(col(idCol), pmod(col("h"), lit(dim.toLong)).as("dim"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(idCol))
    cnt
      .withColumn("ss", sum(col("c") * col("c")).over(w))
      .select(col(idCol), col("dim"),
        (col("c").cast("double") / sqrt(col("ss").cast("double"))).as("w"))
  }

  /** Top-k retrieval over the [[hashEmbed]] vectors for a free-text
    * query — the composition that makes the hashed embeddings USEFUL
    * without precomputed vectors: the query hashes driver-side through
    * the same kernel into a ≤dim-entry literal weight map that rides
    * into the scan (no join for the query side), each doc's cosine is
    * the sparse dot product of its rows against the map, folded in dim
    * order so the double sum is bit-exact across partitionings (the
    * DotFold discipline), and the cut is a TakeOrderedAndProject on the
    * (score DESC, doc_id) total order. Both vectors are unit-L2, so the
    * dot IS the cosine. */
  def hashAnnTopK(docs: DataFrame, queryText: String, k: Int = 10,
                  dim: Int = 64, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val qw = queryWeights(queryText, dim)
    require(qw.nonEmpty, "query text has no tokens")
    val emb = hashEmbed(docs, dim, textCol, idCol)
    val qCol = coalesce(element_at(typedLit(qw), col("dim")), lit(0.0))
    emb
      .withColumn("p", col("w") * qCol)
      .filter(col("p") =!= 0.0) // dims the query does not touch
      .groupBy(col(idCol))
      .agg(graft.ops.Stable.orderedSum(struct(col("dim"), col("p")), "p")
        .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Driver-side replay of the [[hashEmbed]] kernel for a query string:
    * dim → L2-normalized weight (exact integer counts, one sqrt). */
  def queryWeights(queryText: String, dim: Int): Map[Long, Double] = {
    val qh = graft.functions.ShingleHashes.shingleHashesAll(queryText, 1)
    val qcnt = qh.groupBy(h => java.lang.Math.floorMod(h, dim.toLong))
      .view.mapValues(_.length.toLong).toMap
    val qnorm = math.sqrt(qcnt.values.map(c => c * c).sum.toDouble)
    qcnt.map { case (d, c) => d -> c.toDouble / qnorm }
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou, Douze & Schmid, "Product Quantization
  // for Nearest Neighbor Search", IEEE TPAMI 2011) — the embedding-
  // compression ANN tier between IVF coarse pruning and exact re-rank.
  // The D-dim space splits into `m` subspaces of D/m dims; each subspace
  // gets its own `k`-entry codebook, and a vector is stored as m small
  // codes (m bytes at k=256; here k=16 → m nibbles) instead of D floats
  // — a 32×+ compression that is what makes billion-vector (100 TB)
  // similarity search memory-feasible. Queries score candidates with an
  // asymmetric-distance (ADC) table lookup: m adds per vector, no
  // per-vector float math.
  //
  // Numeric discipline (the x17/x5 convention): every squared distance
  // is composed from the SAME three in-order dot folds on both engines
  // — d(x,c) = <x,x> − 2<x,c> + <c,c> with [[graft.functions.DotFold]]
  // on the Spark side and DuckDB's sequential list_dot_product in the
  // oracle — so code assignment (an argmin over those doubles, ties to
  // the lower code) replays bit-exactly; reported distances round to 6.

  /** Deterministic PQ codebooks: subspace slices of the first `k`
    * vectors by id (the [[annIvf]] seed convention — engine-independent
    * and oracle-checkable; production swaps in [[trainPqCodebooks]]
    * without changing any downstream shape). Returns books[sub][cid] =
    * centroid of length D/m, floats widened exactly to double. Only
    * k×D doubles ever reach the driver — an index artifact, not data. */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Array[Array[Array[Double]]] =
    sliceBooks(coarseCentroids(embeddings, k, idCol, vecCol), m)

  /** Cut full-dim seed vectors into per-subspace codebooks. */
  private def sliceBooks(vecs: Array[Array[Double]],
                         m: Int): Array[Array[Array[Double]]] = {
    require(m >= 1, s"need at least one subspace, got m=$m")
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m, vecs.length)((s, j) =>
      vecs(j).slice(s * dsub, (s + 1) * dsub))
  }

  /** Per-subspace code columns for one vector column: code_s = argmin
    * over the book of the squared L2 distance on the subspace slice,
    * ties to the lower code (struct `least` is lexicographic). Pure
    * codegen'd column algebra — encoding a corpus is one narrow map
    * with zero shuffle, the shape that lets 100 TB of vectors compress
    * in a single scan. The `<x,x>` term is constant across the k
    * candidates of a subspace and Catalyst CSE evaluates it once. */
  def pqCodeCols(vec: Column, books: Array[Array[Array[Double]]]): Seq[Column] =
    books.indices.map(s => pqBestStruct(vec, books, s).getField("cid"))

  /** The (d, cid) struct-argmin for one subspace — THE quantizer kernel:
    * [[pqCodeCols]] projects its cid, [[pqDistortion]] its d, so both
    * are guaranteed to use the same distances and tiebreak. */
  private def pqBestStruct(vec: Column, books: Array[Array[Array[Double]]],
                           s: Int): Column = {
    val dsub = books(s)(0).length
    val sub = slice(vec, s * dsub + 1, dsub)
    val xx = graft.functions.VectorExprs.dot_fold(sub, sub)
    val cands = books(s).zipWithIndex.map { case (c, j) =>
      val xc = graft.functions.VectorExprs.dot_fold(sub, literalArray(c))
      struct((xx - lit(2.0) * xc + lit(dotD(c, c))).as("d"), lit(j).as("cid"))
    }
    least(cands: _*)
  }

  /** PQ-encode a corpus: (id, code_0 … code_{m-1}). The stored form a
    * production index persists — m small ints per vector in place of D
    * floats. */
  def pqEncode(embeddings: DataFrame, books: Array[Array[Array[Double]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol) +: codeColsNamed(col(vecCol), books): _*)

  /** [[pqCodeCols]] named `code_0 … code_{m-1}` — the code-table columns
    * [[adcSum]] reads. */
  private def codeColsNamed(vec: Column,
                            books: Array[Array[Array[Double]]]): Seq[Column] =
    pqCodeCols(vec, books).zipWithIndex.map { case (c, s) => c.as(s"code_$s") }

  /** ADC distance of a code table row: the per-subspace `tables` looked
    * up by `code_<s>` and summed left to right (a fixed-order chain —
    * Catalyst only re-associates integral Adds, so the double sum stays
    * sequential and oracle-exact). */
  private def adcSum(tables: Seq[Seq[Double]]): Column =
    tables.indices.map { s =>
      element_at(typedLit(tables(s)), col(s"code_$s") + 1)
    }.reduce(_ + _)

  /** ADC top-k: the query's m×k distance table is computed driver-side
    * (in-order folds over the same doubles the encoder used) and rides
    * into the scan as literal arrays; each vector's approximate distance
    * is m table lookups summed left-to-right (a fixed-order chain —
    * Catalyst only re-associates integral Adds, so the double sum stays
    * sequential and oracle-exact). The best `rerank` candidates by
    * (adist, id) — a TakeOrderedAndProject, no full sort — carry their
    * vectors along and re-rank by exact cosine for the final k.
    *
    * 100 TB posture: the scan-side state is the literal table (m×k
    * doubles); against a STORED code table ([[pqEncode]] output) the
    * same query plan never touches a raw vector until the `rerank`-row
    * re-rank join. */
  def annPq(embeddings: DataFrame, q: Array[Double], k: Int,
            m: Int = 8, nCent: Int = 16, rerank: Int = 50,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val books = pqCodebooks(embeddings, m, nCent, idCol, vecCol)
    annPqWithBooks(embeddings, books, q, k, rerank, idCol, vecCol)
  }

  /** [[annPq]] against explicit codebooks — shared by the deterministic
    * (oracle-checked) and [[trainPqCodebooks]]-trained variants. */
  def annPqWithBooks(embeddings: DataFrame, books: Array[Array[Array[Double]]],
                     q: Array[Double], k: Int, rerank: Int = 50,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    rerankCut({
      val dsub = books(0)(0).length
      require(books.forall(_.forall(_.length == dsub)),
        "ragged codebooks: every centroid must have the same subspace width")
      require(q.length == books.length * dsub,
        s"query dim ${q.length} != m*dsub = ${books.length * dsub}")
      // The code table materializes ONCE (id + m small ints — exactly
      // the artifact [[annPqStoredBuild]] persists) before the ADC sum:
      // fused with its consumers the m unrolled argmins exceeded
      // Janino's 64 KB method limit, so whole-stage codegen FAILED and
      // every execution re-paid the doomed compile and ran the scan
      // interpreted (r18 measurement; the x107/x116 JIT lesson). Raw
      // vectors re-enter only through the rerank-row equi-join — the
      // [[annPqStoredQuery]] discipline, so the checkpoint never holds
      // the vector payload. Same folds, tiebreaks, and lookups — every
      // score bit-identical.
      pqEncode(embeddings, books, idCol, vecCol).localCheckpoint(true)
        .select(col(idCol), adcSum(adcTables(books, q)).as("adist"))
    }, "adist", embeddings, q, k, rerank, idCol, vecCol)

  /** The query's per-subspace ADC distance table: in-order folds over
    * the same doubles the encoder used — shared by the inline
    * ([[annPqWithBooks]]), stored-codes ([[annPqStoredQuery]]) and
    * per-list residual ([[annIvfPqResidual]]) paths so they are
    * bit-equal by construction. */
  private def adcTables(books: Array[Array[Array[Double]]],
                        q: Array[Double]): Seq[Seq[Double]] = {
    val dsub = books(0)(0).length
    books.indices.map { s =>
      val qs = q.slice(s * dsub, (s + 1) * dsub)
      val qq = dotD(qs, qs)
      books(s).toSeq.map(c => qq - 2.0 * dotD(qs, c) + dotD(c, c))
    }
  }

  /** `Σ a(i)·b(i)` over `a`'s indices, one 0.0-init ascending fold —
    * the driver-side twin of [[graft.functions.DotFold]] that every
    * literal table, probe rank and spectral product uses. */
  private def dotD(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))

  /** Write-once half of the stored PQ index — the "32× compression at
    * rest" lifecycle: train the deterministic seed codebooks and
    * persist the [[pqEncode]] code table (m small ints per vector — the
    * artifact that replaces D floats at rest) and the codebooks
    * themselves as parquet under `storageDir`. A session builds the
    * store ONCE and then pays only [[annPqStoredQuery]] — the benchmark
    * of the stored path times retrieval, not re-training. */
  def annPqStoredBuild(embeddings: DataFrame, storageDir: String,
                       m: Int = 8, nCent: Int = 16,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val books0 = pqCodebooks(embeddings, m, nCent, idCol, vecCol)
    LocalFs.write(pqEncode(embeddings, books0, idCol, vecCol))
      .mode("overwrite").parquet(s"$storageDir/codes")
    LocalFs.write(books0.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, cid) => (s, cid, c.toSeq) }
    }.toSeq.toDF("sub", "cid", "centroid").coalesce(1))
      .mode("overwrite").parquet(s"$storageDir/books")
  }

  /** Query half of the stored PQ index — answers from the persisted
    * store alone: codebooks reload from parquet into the literal ADC
    * tables, the code scan pays m `element_at` lookups + a fixed-order
    * sum, and nothing reads `embeddings` except the bounded `rerank`-row
    * re-rank join. Parquet stores binary64 and int32 exactly, so the
    * stored path is bit-equal to the inline [[annPqWithBooks]] encode
    * (spec-asserted, and the x77 oracle hash-matches the same replay as
    * x66). At 100 TB the codes table is what lives hot (3 TB per
    * 100 TB of raw float32 vectors at m=8); the vector table is cold
    * storage the rerank join reads ~50 rows of. */
  def annPqStoredQuery(embeddings: DataFrame, storageDir: String,
                       q: Array[Double], k: Int,
                       m: Int = 8, nCent: Int = 16, rerank: Int = 50,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    rerankCut({
      val books = spark.read.parquet(s"$storageDir/books")
        .collect()
        .groupBy(_.getInt(0)).toArray.sortBy(_._1)
        .map { case (_, rows) =>
          rows.sortBy(_.getInt(1))
            .map(_.getSeq[Double](2).toArray)
        }
      require(books.length == m && books.forall(_.length == nCent),
        s"stored books are ${books.length}x${books.headOption.map(_.length)}, " +
          s"expected ${m}x$nCent")
      require(q.length == books.length * books(0)(0).length,
        s"query dim ${q.length} != stored index dim")
      spark.read.parquet(s"$storageDir/codes")
        .select(col(idCol), adcSum(adcTables(books, q)).as("adist"))
    }, "adist", embeddings, q, k, rerank, idCol, vecCol)
  }

  /** Literal coarse centroids: the first `n` vectors by id, widened
    * exactly to double — the same deterministic seed convention as
    * [[pqCodebooks]], collected once driver-side (n×D doubles, an index
    * artifact). */
  def coarseCentroids(embeddings: DataFrame, n: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] = {
    // n >= 2 also keeps coarseCellCol's greatest() arity legal
    require(n >= 2, s"need at least two coarse cells, got n=$n")
    collectIdRange(embeddings, 0L, n.toLong, idCol, vecCol)
  }

  /** Collect vectors with ids in [lo, hi), floats widened exactly to
    * double — the one seed-extraction path shared by the coarse
    * centroids, the PQ codebook seed, and the residual-codebook seed
    * (divergent widening in any copy would break the bit-exact oracle
    * replay). */
  private def collectIdRange(embeddings: DataFrame, lo: Long, hi: Long,
                             idCol: String,
                             vecCol: String): Array[Array[Double]] = {
    val rows = embeddings
      .filter(col(idCol) >= lo && col(idCol) < hi)
      .orderBy(col(idCol)).select(col(vecCol)).collect()
    require(rows.length == hi - lo,
      s"need ids [$lo, $hi) as seed vectors, got ${rows.length}")
    rows.map(widen)
  }

  /** Driver-side probe ranking shared by the IVF-PQ variants: cosine of
    * each literal centroid to the query with the oracle's exact fold/
    * sqrt/division tree — cos = <c,q> / (sqrt(<c,c>) · sqrt(<q,q>)) —
    * ties to the LOWER cid (the [[annIvf]] orderBy convention). */
  private def rankProbes(cents: Array[Array[Double]], q: Array[Double],
                         nProbe: Int): Seq[Long] = {
    val qn = math.sqrt(dotD(q, q))
    cents.zipWithIndex.map { case (c, j) =>
      (dotD(c, q) / (math.sqrt(dotD(c, c)) * qn), j.toLong)
    }.sortBy { case (cc, j) => (-cc, j) }.take(nProbe).map(_._2).toSeq
  }

  /** Coarse cell id as a PURE COLUMN: argmax cosine over the literal
    * centroid set, ties to the higher cid (struct `greatest` is
    * lexicographic — the same tiebreak as [[annIvf]]'s max(struct)
    * assignment, so the two encodings agree row-for-row). Zero shuffle,
    * zero join: cell assignment fuses into the scan the way [[pqCodeCols]]
    * does. */
  def coarseCellCol(vec: Column, cents: Array[Array[Double]]): Column =
    cellArgmax(vec, cents).getField("cid")

  /** The literal-centroid argmax struct `(cc, cid)` behind
    * [[coarseCellCol]] and [[kmeansAssign]]: `greatest` over one
    * `(cosine, cid)` struct per centroid, lexicographic, so ties go to
    * the higher cid. */
  private def cellArgmax(vec: Column, cents: Array[Array[Double]]): Column = {
    // a zero-norm centroid makes every cosine against it NaN, which Spark's
    // ordering ranks ABOVE all finite values — silently stealing the whole
    // corpus into one never-probed cell. Fail fast driver-side instead.
    require(cents.forall(_.exists(_ != 0.0)),
      "zero-norm centroid: cosine cell assignment is undefined")
    greatest(cents.zipWithIndex.map { case (c, j) =>
      struct(cosineLiteral(vec, c).as("cc"), lit(j.toLong).as("cid"))
    }: _*)
  }

  /** IVF-PQ — the two tiers composed the way a billion-vector (faiss
    * IVFPQ-style) index deploys them: the coarse quantizer prunes the
    * corpus to `nProbe` inverted lists, and ONLY the surviving sliver
    * pays the ADC scoring + exact re-rank. (This is the
    * no-residual-encoding variant — codes quantize raw vectors, not
    * list-relative residuals — which keeps every stage independently
    * oracle-checkable; residual encoding changes constants, not plan
    * shape.)
    *
    * 100 TB posture: the probe list is chosen DRIVER-side (nCoarse
    * cosines against the literal centroids), cell assignment is a pure
    * column argmax fused into the scan, and the prune is a codegen'd
    * `isin` filter — so the whole query is scan → filter → ADC →
    * TakeOrdered with ZERO exchanges and zero joins. With the inverted
    * list as the partitioning key the filter becomes partition pruning
    * and the scan reads nProbe/nCoarse of the data. */
  def annIvfPq(embeddings: DataFrame, q: Array[Double], k: Int,
               nCoarse: Int = 16, nProbe: Int = 2,
               m: Int = 8, nCent: Int = 16, rerank: Int = 50,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && rerank >= k, s"need rerank >= k > 0, got k=$k rerank=$rerank")
    require(nProbe >= 1 && nProbe <= nCoarse,
      s"need 1 <= nProbe <= nCoarse, got nProbe=$nProbe nCoarse=$nCoarse")
    val cents = coarseCentroids(embeddings, nCoarse, idCol, vecCol)
    val probeCids = rankProbes(cents, q, nProbe)
    val pruned = embeddings.filter(
      coarseCellCol(col(vecCol), cents).isin(probeCids: _*))
    // at the default nCent == nCoarse the PQ seed IS the coarse seed —
    // slice what was already collected instead of a second driver job
    val books =
      if (nCent == nCoarse) sliceBooks(cents, m)
      else pqCodebooks(embeddings, m, nCent, idCol, vecCol)
    annPqWithBooks(pruned, books, q, k, rerank, idCol, vecCol)
  }

  /** Residual-encoded IVF-PQ — the exact faiss IVFADC layout (Jégou et
    * al. 2011 §IV-A): a vector quantizes its RESIDUAL r = x − c(x)
    * against shared per-subspace codebooks, and the query builds one
    * ADC table PER probed list from that list's own query residual
    * q − cℓ. Residuals concentrate near the origin, so the same k
    * codebook entries spend their resolution on a much smaller ball
    * than raw-vector PQ — the accuracy gain that made IVFADC the
    * standard billion-vector layout.
    *
    * Determinism/oracle: residual codebooks seed from the residuals of
    * ids [nCoarse, nCoarse + kCent) — the first-k convention shifted
    * past the coarse seed, whose own residuals are identically zero.
    * Assignment, residuals, argmins, and tables all reuse the repo's
    * in-order fold discipline, so the whole index replays bit-exactly
    * in the oracle.
    *
    * Plan shape: identical to [[annIvfPq]] — scan → literal-argmax cid
    * → isin prune → residual zip_with → code argmin → per-list CASE
    * table lookup → TakeOrdered rerank → exact re-rank. Zero exchanges,
    * zero joins. */
  def annIvfPqResidual(embeddings: DataFrame, q: Array[Double], k: Int,
                       nCoarse: Int = 16, nProbe: Int = 2,
                       m: Int = 8, kCent: Int = 16, rerank: Int = 50,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && rerank >= k, s"need rerank >= k > 0, got k=$k rerank=$rerank")
    require(nProbe >= 1 && nProbe <= nCoarse,
      s"need 1 <= nProbe <= nCoarse, got nProbe=$nProbe nCoarse=$nCoarse")
    val cents = coarseCentroids(embeddings, nCoarse, idCol, vecCol)
    val dim = cents(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    // driver-side replica of coarseCellCol's fold math (ties → higher cid)
    def assignOf(v: Array[Double]): Int = {
      val vv = math.sqrt(dotD(v, v))
      var bestCc = Double.NegativeInfinity
      var bestJ = -1
      cents.zipWithIndex.foreach { case (c, j) =>
        val cc = dotD(c, v) / (vv * math.sqrt(dotD(c, c)))
        // match Spark's ordering exactly: NaN ranks above every finite
        // value, and equal keys (incl. NaN == NaN) tie to the higher cid
        // — so a zero-norm SEED vector (all cosines NaN) lands in the
        // same cell here as coarseCellCol would put it
        val replace =
          if (cc.isNaN) true
          else if (bestCc.isNaN) false
          else cc >= bestCc
        if (replace) { bestCc = cc; bestJ = j }
      }
      bestJ
    }
    // residual codebook seed: ids [nCoarse, nCoarse+kCent)
    val residSeeds = collectIdRange(embeddings, nCoarse.toLong,
        (nCoarse + kCent).toLong, idCol, vecCol)
      .map { v =>
        val c = cents(assignOf(v))
        Array.tabulate(dim)(i => v(i) - c(i))
      }
    val books = sliceBooks(residSeeds, m)
    val probeCids = rankProbes(cents, q, nProbe)
    // one ADC table per probed list, from that list's query residual
    val tables: Map[Long, Seq[Seq[Double]]] = probeCids.map { l =>
      val cl = cents(l.toInt)
      l -> adcTables(books, Array.tabulate(dim)(i => q(i) - cl(i)))
    }.toMap
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    // STAGE SPLITS (the x107/x116 Janino lesson): fused, the coarse
    // argmax (16 unrolled cosines), the 8 residual argmins (128
    // unrolled subspace dots) and the ADC table CASE exceed Janino's
    // 64 KB method limit — whole-stage codegen then FAILS, every
    // execution re-pays the doomed compile AND evaluates the whole
    // scan interpreted (r18 measurement: 1.7 s/run over 2,000
    // vectors). Two bounded materialization points cut the plan into
    // stages that each compile: the pruned-residual table
    // (nProbe/nCoarse of the corpus) and its code table (id + m
    // small ints + the carried vector for the rerank). Expressions
    // are UNCHANGED — same folds, same tiebreaks, same table
    // lookups — so every score is bit-identical.
    val pruned = embeddings
      .withColumn("cid", coarseCellCol(col(vecCol), cents))
      .filter(col("cid").isin(probeCids: _*))
      .withColumn("resid", zip_with(col(vecCol).cast("array<double>"),
        element_at(centsLit, (col("cid") + 1).cast("int")), (x, c) => x - c))
      .localCheckpoint(true)
    val coded = pruned
      .select(Seq(col(idCol), col(vecCol), col("cid")) ++
        codeColsNamed(col("resid"), books): _*)
      .localCheckpoint(true)
    val adist = probeCids.foldRight(lit(Double.NaN): Column) { (l, acc) =>
      when(col("cid") === l, adcSum(tables(l))).otherwise(acc)
    }
    coded
      .select(col(idCol), col(vecCol), adist.as("adist"))
      .orderBy(col("adist"), col(idCol)).limit(rerank)
      .select(col(idCol), col("adist"),
        cosineLiteral(col(vecCol), q).as("cos"))
      .orderBy(desc("cos"), col(idCol)).limit(k)
  }

  /** Inverted-list balance audit — the operational health report behind
    * IVF/IVF-PQ partition sizing: per coarse cell, its member count and
    * corpus fraction. At 100 TB the inverted list IS the partitioning
    * key, so a skewed cell is a straggler executor and an oversized one
    * defeats pruning; this is the report that says so before queries
    * do. One assignment hash-agg + one per-cell count; the corpus total
    * is a single-row broadcast back. */
  def ivfListBalance(embeddings: DataFrame, nCentroids: Int = 16,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cents = coarseCentroids(embeddings, nCentroids, idCol, vecCol)
    // cell assignment is the literal-argmax column — the only exchange in
    // the whole report is the nCentroids-key count (map-side partials)
    val counts = embeddings
      .select(coarseCellCol(col(vecCol), cents).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n_vectors"))
    val total = counts.agg(sum("n_vectors").as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("cid"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total")).as("frac"))
  }

  /** Exact base-`k` positional weights for a band of `perBand` codes,
    * computed in Long with an overflow guard — `math.pow(k, i).toInt`
    * saturates silently for large k^i, which would collapse distinct
    * band codes into spurious collisions (correct output, degenerate
    * blocking). Fails fast instead. */
  private def bandKeyWeights(k: Int, perBand: Int): Array[Long] = {
    require(k >= 2 && perBand >= 1,
      s"need k >= 2 and perBand >= 1, got k=$k perBand=$perBand")
    require(BigInt(k).pow(perBand) <= BigInt(Long.MaxValue),
      s"band key space k^perBand = $k^$perBand overflows Long — " +
        "use fewer codes per band or smaller codebooks")
    Array.iterate(1L, perBand)(_ * k)
  }

  /** PQ-blocked near-duplicate search — the dedup-side use of the PQ
    * codes (alongside retrieval in [[annPq]] and compression audit in
    * [[int8QuantAudit]]): the m codes split into `bands`, vectors
    * agreeing on ANY whole band become candidate pairs (an equi-join on
    * the band key — the banded-MinHash shape), and only candidates pay
    * the exact cosine ≥ `minCos` verify. At 100 TB the all-pairs cosine
    * is impossible; band collisions are one content-keyed self-join
    * whose buckets are bounded by code-space collisions, never n².
    * Output: (id_a, id_b, cos), id_a < id_b, each pair once however
    * many bands it collides in.
    *
    * Scale discipline (the [[Dedup.minhashVerifiedDups]] shape): only
    * (id, band, key) rides the banding exchange — never the vector
    * payload — candidate pairs deduplicate as bare id pairs, and the
    * vectors join back for the bounded candidate set alone. The default
    * banding is 2 bands × 4 codes = k⁴ = 65,536 keys per band, so
    * bucket occupancy ~n/65,536 keeps the self-join linear-ish at
    * corpus scale (the old 4 × 2 default had 256 keys per band — n²/256
    * candidate pairs, quadratic at 10⁹ vectors). [[pqBandBalance]] is
    * the pre-flight occupancy report that makes a skewed band visible
    * before it stragglers. */
  def pqNearDups(embeddings: DataFrame, minCos: Double = 0.3,
                 m: Int = 8, k: Int = 16, bands: Int = 2,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    // the explicit repartition on the join key makes both self-join
    // sides read ONE exchange (ReuseExchange — the minhash discipline),
    // so the m×k literal-argmin encode pass runs once, not twice
    val banded = pqBandKeys(embeddings, m, k, bands, idCol, vecCol)
      .repartition(col("band"), col("key"))
    val cand = banded
      .select(col("band"), col("key"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("key"), col(idCol).as("id_b")),
            Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // vectors re-enter only here, keyed by id against the bounded
    // candidate set — two equi-joins, co-located under id bucketing
    val vn = embeddings.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm"))
    cand
      .join(vn.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
        col("nrm").as("nrm_a")), "id_a")
      .join(vn.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos",
        graft.functions.VectorExprs.dot_fold(col("vec_a"), col("vec_b"))
          / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** The banding projection shared by [[pqNearDups]] and
    * [[pqBandBalance]]: one row per (vector, band) carrying ONLY the id
    * and the band's codes packed positionally in base k as a Long key —
    * codes fuse into the scan ([[pqCodeCols]]), nothing wider than
    * (id, int, long) ever reaches an exchange. */
  private[graft] def pqBandKeys(embeddings: DataFrame, m: Int, k: Int,
                                bands: Int, idCol: String,
                                vecCol: String,
                                materializeCodes: Boolean = true)
      : DataFrame = {
    require(bands >= 1 && m % bands == 0,
      s"m=$m must split into whole bands, got bands=$bands")
    val perBand = m / bands
    val weights = bandKeyWeights(k, perBand)
    val books = pqCodebooks(embeddings, m, k, idCol, vecCol)
    // code table materializes once (id + m small ints) before the
    // band-key packing: fused with [[pqNearDups]]' self-join/verify
    // machinery the m unrolled argmins blew Janino's 64 KB limit and
    // the encode scan ran interpreted on every execution (r18
    // measurement; same fix as [[annPqWithBooks]]). The one-pass
    // aggregation consumer ([[pqBandBalance]]) compiles WITHOUT the
    // split and measured faster un-materialized — it opts out.
    val codeTbl = pqEncode(embeddings, books, idCol, vecCol)
    val coded = if (materializeCodes) codeTbl.localCheckpoint(true)
      else codeTbl
    val bandStructs = (0 until bands).map { b =>
      val key = (0 until perBand).map(i =>
        col(s"code_${b * perBand + i}").cast("long") * lit(weights(i)))
        .reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }
    coded
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Band-occupancy report for the PQ blocking key — the
    * [[ivfListBalance]] discipline applied to [[pqNearDups]]'s buckets:
    * per band, the occupied-key count, the largest bucket, and the
    * candidate-pair mass Σ n·(n−1)/2 that band will feed the verify
    * stage. A band whose max_bucket is a large corpus fraction (codes
    * collapsed, key space too narrow) shows up HERE as a one-line
    * number before it shows up as a straggler executor in the dedup
    * job. One banding scan + one (band, key) count + one per-band
    * rollup — map-side partials throughout. */
  def pqBandBalance(embeddings: DataFrame,
                    m: Int = 8, k: Int = 16, bands: Int = 2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val counts = pqBandKeys(embeddings, m, k, bands, idCol, vecCol,
        materializeCodes = false)
      .groupBy("band", "key").agg(count(lit(1)).as("n"))
    counts.groupBy("band").agg(
      count(lit(1)).as("n_keys"),
      max(col("n")).as("max_bucket"),
      // `div` keeps the pair mass in exact Long arithmetic (Column `/`
      // would route through double, which loses exactness past 2^53)
      sum(expr("n * (n - 1) div 2")).as("n_candidate_pairs"))
      .orderBy("band")
  }

  /** Index-quality audit: recall@k of the PQ ADC index against the
    * exact top-k — the acceptance gate a pipeline runs before swapping
    * an exact scan for a compressed index (faiss's recall benchmark as
    * a first-class relational op). One output row: (n_overlap,
    * recall_at_k). Both sides are TakeOrderedAndProject cuts; the
    * overlap join touches 2k rows. */
  def annRecall(embeddings: DataFrame, q: Array[Double], k: Int,
                m: Int = 8, nCent: Int = 16, rerank: Int = 50,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    recallAtK(annPq(embeddings, q, k, m, nCent, rerank, idCol, vecCol),
      embeddings, q, k, idCol, vecCol)

  /** Mean total quantization distortion of a codebook set over the
    * corpus — Σ over subspaces of the distance to the chosen centroid,
    * averaged over vectors. The training objective; lets specs assert
    * trained books beat the deterministic seed. */
  def pqDistortion(embeddings: DataFrame, books: Array[Array[Array[Double]]],
                   vecCol: String = "embedding"): Double = {
    val perSub = books.indices
      .map(s => pqBestStruct(col(vecCol), books, s).getField("d"))
      .reduce(_ + _)
    embeddings.select(perSub.as("d")).agg(avg(col("d"))).head().getDouble(0)
  }

  /** Int8 scalar-quantization audit — the OTHER standard embedding
    * compression (faiss SQ8 / GGML-style): per vector, scale =
    * max|x|/127, code_i = trunc(x_i/scale) ∈ [−127,127], and the report
    * carries the scale, the saturated-lane count, and the exact
    * reconstruction MSE Σ(x_i − code_i·scale)²/D — what a pipeline reads
    * to decide whether 4× embedding compression is safe for its recall
    * budget. Pure per-row column algebra, zero shuffle.
    *
    * Numeric discipline: abs/max/division/trunc are all exact or
    * correctly rounded and engine-portable; the error fold runs in
    * element order via [[graft.functions.DotFold]] on the residual array
    * (Spark) ≡ sequential list_dot_product (oracle). All-zero vectors
    * report scale 0, zero codes, zero error (no division). Defined for
    * FINITE embeddings (the testdata guarantee): a NaN/Inf lane
    * poisons that vector's scale and MSE — by design, since silently
    * quantizing a poisoned vector would hide upstream damage. */
  def int8QuantAudit(embeddings: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = array_max(transform(v, x => abs(x))) / lit(127.0)
    val codes = when(col("q_scale") === 0.0,
        transform(col("v"), _ => lit(0).cast("int")))
      .otherwise(transform(col("v"), x => (x / col("q_scale")).cast("int")))
    embeddings
      .select(col(idCol), v.as("v"), scale.as("q_scale"))
      .withColumn("codes", codes)
      .withColumn("resid",
        zip_with(col("v"), col("codes"),
          (x, c) => x - c.cast("double") * col("q_scale")))
      .select(col(idCol), col("q_scale"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_sat"),
        (graft.functions.VectorExprs.dot_fold(col("resid"), col("resid"))
          / size(col("v"))).as("mse"))
  }

  /** Lloyd-trained PQ codebooks, seeded from [[pqCodebooks]]. ALL
    * subspaces train in the same pass, and assignment is the SAME
    * literal-codebook argmin the encoder ships ([[pqCodeCols]]) fused
    * into the scan — no join, no corpus-keyed aggregation. Each
    * iteration's ONLY exchange is the (sub, cid, pos) partial+final
    * hash agg of the re-means, carrying m×k×dsub×nPartitions partial
    * rows regardless of corpus size; only the m×k×dsub means reach the
    * driver per iteration (to re-literalize). Empty cells keep their
    * previous centroid. Deterministic end to end: seed order, argmin
    * tiebreak (lower cid), decimal-routed means. */
  def trainPqCodebooks(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                       iters: Int = 3, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val seed = pqCodebooks(embeddings, m, k, idCol, vecCol)
    val dsub = seed(0)(0).length
    // the Lloyd cells are the m×k centroids, flattened sub-major
    lloyd(seed.flatten, iters) { flat =>
      val books = flat.grouped(k).toArray
      // assignment is the SAME literal-codebook argmin the encoder uses
      // (pqBestStruct via pqCodeCols) fused into the scan — zero shuffle;
      // the one exchange per iteration is the (sub, cid, pos) partial+
      // final agg, bounded by m×k×dsub×nPartitions however big the corpus
      val codeCols = pqCodeCols(col(vecCol), books)
      val perSub = books.indices.map { s =>
        struct(lit(s).as("sub"), codeCols(s).cast("long").as("cid"),
          slice(col(vecCol), s * dsub + 1, dsub).cast("array<double>")
            .as("svec"))
      }
      embeddings
        .select(explode(array(perSub: _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.cid").as("cid"),
          posexplode(col("e.svec")).as(Seq("pos", "v")))
        .groupBy("sub", "cid", "pos")
        .agg(graft.ops.Stable.sumD(col("v")).as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0) * k + r.getLong(1).toInt,
          r.getInt(2), r.getDouble(3), r.getLong(4)))
    }.grouped(k).toArray
  }

  /** Top principal component trained IN the engine — the spectral core
    * behind OPQ rotations, embedding whitening, and drift monitoring,
    * with the same reproducibility discipline as [[graft.ext.TextOps
    * .trainLogisticQuality]]: the corpus moments (mean vector and Gram
    * upper triangle) are decimal-routed sums, so they are bit-identical
    * under any partitioning and replayable by an independent engine;
    * the covariance `C = G/n − μμᵀ` and `iters` power-iteration rounds
    * (`w ← Cw / ‖Cw‖`, deterministic 1/√d·1 start, every fold 0.0-init
    * ascending — the DotFold discipline) run driver-side on the d×d
    * matrix; scoring projects `v·w − μ·w` with the trained direction as
    * a LITERAL — a zero-shuffle codegen'd fold over the scan.
    *
    * Shape at 100 TB: the d(d+1)/2 per-row products collapse map-side to
    * ≤2,080 keys per partition (ONE moment pass, no d²-row state on any
    * executor), driver state is one d×d matrix, and scoring is narrow.
    * Sign convention: the start orientation is pinned (no per-engine
    * sign ambiguity because the start and every operation are pinned). */
  def pcaTopComponent(embeddings: DataFrame, dim: Int = 64, iters: Int = 20,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      moments: Option[(Array[Array[Double]], Array[Double])] = None)
      : DataFrame =
    pcaProjectTopK(embeddings, 1, dim, iters, idCol, vecCol, moments)

  /** All-but-the-top corrected retrieval (Mu & Viswanath 2018 §3):
    * subtract the common mean, remove the top principal direction,
    * THEN retrieve — the post-processing that restores cosine contrast
    * on anisotropic embeddings (the fix [[isotropyReport]] diagnoses
    * the need for). Per vector
    *   x' = (x − μ) − ⟨x − μ, w⟩·w
    * with μ and w from the SAME exact decimal moment pass the whole
    * spectral family shares (x90/x97/x101); the query gets the
    * identical treatment driver-side, and top-k ranks by
    * cosine(x', q'). Every per-vector step is a literal fold or
    * projection fused into the scan — zero exchange before the
    * TakeOrdered cut, vectors never shuffle. Ranking uses the exact
    * value; `cos` is rounded to 6dp for the oracle (the x5
    * convention). */
  def abttTopK(embeddings: DataFrame, q: Array[Double], k: Int,
               dim: Int = 64, iters: Int = 20,
               idCol: String = "vec_id", vecCol: String = "embedding",
               moments: Option[(Array[Array[Double]], Array[Double])] =
                 None): DataFrame = {
    val (cm, mu) = moments.getOrElse(pcaMoments(embeddings, dim, vecCol))
    val w = powerIterate(cm, dim, iters)
    // the query under the same correction, same fold orders
    val dpq = dotD(w, q) - dotD(mu, w)
    val qp = Array.tabulate(dim)(i => (q(i) - mu(i)) - dpq * w(i))
    val qn = math.sqrt(dotD(qp, qp))
    val muArr = literalArray(mu)
    val qpArr = literalArray(qp)
    val withDp = embeddings.select(col(idCol), col(vecCol),
      projection(col(vecCol), mu, w).as("dp"))
    val xp = transform(col(vecCol), (x, i) =>
      (x.cast("double") - element_at(muArr, i + 1)) -
        col("dp") * element_at(literalArray(w), i + 1))
    withDp
      .select(col(idCol),
        (graft.functions.VectorExprs.dot_fold(xp, qpArr) /
          (sqrt(graft.functions.VectorExprs.dot_fold(xp, xp)) * lit(qn)))
          .as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** The ONE exact moment pass behind the whole spectral family
    * (x90 / x97 / x101): covariance matrix + mean vector from
    * decimal-routed sums. Public so a session computes it ONCE and
    * feeds every spectral product (the `moments` parameter) — three
    * queries over the same corpus should pay one scan, not three. */
  def pcaMoments(embeddings: DataFrame, dim: Int = 64,
                 vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Double]) = {
    require(dim > 0, s"need dim > 0: $dim")
    // ONE moment pass with NO row expansion: each task accumulates the
    // d(d+1)/2 upper-triangle products plus the d first moments as
    // scaled-long decimals (each addend is the double rounded exactly
    // as Spark's DOUBLE→DECIMAL(28,6) cast rounds it — BigDecimal
    // shortest-string HALF_UP — so the per-partition partials sum to
    // the SAME exact decimal total the Stable.sumD hash-agg would
    // produce, associatively, on any partitioning), and ships ONE
    // (d²+3d)/2-long vector to the driver. Replaces an explode of
    // d(d+3)/2 rows per input row and its exchange; Math.addExact
    // fails loud long before a partition could overflow the scale.
    val nUpper = dim * (dim + 1) / 2
    def scaled(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    val parts = embeddings.select(col(vecCol)).rdd.mapPartitions { it =>
      val acc = new Array[Long](nUpper + dim)
      var cnt = 0L
      it.foreach { row =>
        if (!row.isNullAt(0)) {
          val v = row.getSeq[Float](0)
          require(v.length == dim, s"vector dim ${v.length} != $dim")
          cnt += 1
          var k = 0
          var i = 0
          while (i < dim) {
            val vi = v(i).toDouble
            acc(nUpper + i) = Math.addExact(acc(nUpper + i), scaled(vi))
            var j = i
            while (j < dim) {
              acc(k) = Math.addExact(acc(k), scaled(vi * v(j).toDouble))
              k += 1
              j += 1
            }
            i += 1
          }
        }
      }
      Iterator.single((acc, cnt))
    }.collect()
    val totals = new Array[Long](nUpper + dim)
    parts.foreach { case (a, _) =>
      var k = 0
      while (k < totals.length) { totals(k) = Math.addExact(totals(k), a(k)); k += 1 }
    }
    def toD(s: Long): Double = java.math.BigDecimal.valueOf(s, 6).doubleValue()
    val n = parts.map(_._2).sum.toDouble
    val upperIx = {
      val ix = Array.ofDim[Int](dim, dim)
      var k = 0
      for (i <- 0 until dim; j <- i until dim) { ix(i)(j) = k; k += 1 }
      ix
    }
    val gram = (for (i <- 0 until dim; j <- i until dim)
      yield (i, j) -> toD(totals(upperIx(i)(j)))).toMap
    val mu = Array.tabulate(dim)(i => toD(totals(nUpper + i)) / n)
    val cm = Array.tabulate(dim, dim) { (i, j) =>
      val gij = gram(if (i <= j) (i, j) else (j, i))
      gij / n - mu(i) * mu(j)
    }
    (cm, mu)
  }

  /** `iters` power-iteration rounds on a d×d matrix: deterministic
    * 1/√d·1 start, every fold 0.0-init ascending (the DotFold
    * discipline) — shared by the top-component and deflation paths so
    * both replay identically in the oracle. */
  private def powerIterate(cm: Array[Array[Double]], dim: Int,
                           iters: Int): Array[Double] = {
    // start with mass on EVERY axis (1/√d · 1) — an e₀ start has zero
    // overlap with any principal axis orthogonal to it and stalls
    var w = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 0 until iters) {
      val u = matVec(cm, w)
      val nrm = math.sqrt(dotD(u, u))
      require(nrm > 0.0, "covariance is identically zero — no principal axis")
      w = u.map(_ / nrm)
    }
    w
  }

  /** The driver-side `C·w` product: one [[dotD]] fold per row. */
  private def matVec(cm: Array[Array[Double]], w: Array[Double]): Array[Double] =
    cm.map(dotD(_, w))

  /** A vector column's projection `v·w − μ·w` on a literal axis `w`:
    * the codegen'd in-order fold, minus the driver-side [[dotD]]. */
  private def projection(vec: Column, mu: Array[Double],
                         w: Array[Double]): Column =
    graft.functions.VectorExprs.dot_fold(vec, literalArray(w)) -
      lit(dotD(mu, w))

  /** A literal `array<double>` column. */
  private def literalArray(xs: Array[Double]): Column =
    array(xs.toIndexedSeq.map(lit): _*)

  /** Top-`nComp` principal axes by DEFLATION: pay the exact moment pass
    * ONCE, then per component run the power iteration and subtract the
    * captured rank-one term `λ_c · w_c w_cᵀ` (Hotelling deflation, the
    * textbook sequence) from the working matrix — all driver-side on
    * the d×d state, with λ_c the Rayleigh quotient of w_c against the
    * CURRENT (deflated) matrix and every reduction a 0.0-init ascending
    * fold, so an independent engine replays axis after axis bit for
    * bit. Returns (mean, axes, lambdas), axes in λ-descending training
    * order.
    *
    * This is the spectral half of an OPQ-style rotation: projecting
    * onto the top axes concentrates the corpus' energy into the leading
    * coordinates, which is what makes rotated product quantization
    * beat coordinate-sliced PQ on correlated embeddings
    * (ExtSpec demonstrates the recall gain on a correlated fixture). */
  def pcaTopAxes(embeddings: DataFrame, nComp: Int, dim: Int = 64,
                 iters: Int = 20, vecCol: String = "embedding",
                 moments: Option[(Array[Array[Double]], Array[Double])] = None)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(nComp >= 1 && nComp <= dim, s"need 1 <= nComp <= $dim: $nComp")
    val (cm0, mu) = moments.getOrElse(pcaMoments(embeddings, dim, vecCol))
    var cm = cm0
    val axes = new Array[Array[Double]](nComp)
    val lambdas = new Array[Double](nComp)
    for (c <- 0 until nComp) {
      val w = powerIterate(cm, dim, iters)
      val lambda = dotD(w, matVec(cm, w))
      axes(c) = w
      lambdas(c) = lambda
      if (c + 1 < nComp)
        cm = Array.tabulate(dim, dim)((i, j) => cm(i)(j) - lambda * w(i) * w(j))
    }
    (mu, axes, lambdas)
  }

  /** Per-vector projections onto the top `nComp` deflated axes —
    * (id, pc1..pcK), each a zero-shuffle literal fold `v·w_c − μ·w_c`
    * ([[projection]]), rounded to 6 dp. [[pcaTopComponent]] is its
    * `nComp = 1` case. */
  def pcaProjectTopK(embeddings: DataFrame, nComp: Int = 3, dim: Int = 64,
                     iters: Int = 20, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     moments: Option[(Array[Array[Double]], Array[Double])] = None)
      : DataFrame = {
    val (mu, axes, _) =
      pcaTopAxes(embeddings, nComp, dim, iters, vecCol, moments)
    val cols = (0 until nComp).map { c =>
      round(projection(col(vecCol), mu, axes(c)), 6).as(s"pc${c + 1}")
    }
    embeddings.select((col(idCol) +: cols): _*)
  }

  /** Variance-explained report for the trained axis — the one-row
    * answer "how much of the corpus does the top component carry":
    * Rayleigh quotient λ = wᵀCw, total variance tr(C), and their ratio.
    * All three recompute driver-side from the SAME exact moments with
    * 0.0-init ascending folds, so an independent engine re-deriving the
    * training reproduces every bit before the final rounding. */
  def pcaVarianceReport(embeddings: DataFrame, dim: Int = 64,
                        iters: Int = 20,
                        vecCol: String = "embedding",
                        moments: Option[(Array[Array[Double]], Array[Double])] = None)
      : DataFrame = {
    val mom = moments.getOrElse(pcaMoments(embeddings, dim, vecCol))
    val lambda = pcaTopAxes(embeddings, 1, dim, iters, vecCol, Some(mom))._3(0)
    val cm = mom._1
    val trace = (0 until dim).foldLeft(0.0)((a, i) => a + cm(i)(i))
    embeddings.sparkSession.range(1).select(
      round(lit(lambda), 6).as("lambda"),
      round(lit(trace), 6).as("trace"),
      round(lit(lambda / trace), 9).as("var_ratio"))
  }
}
