package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.TempDirs.withTempDir

class ExtSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about spark query engines and data"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs)
    assert(r.count() == 4) // 5 docs, one exact pair
    val dup = r.filter(col("n_copies") === 2).head
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds the near-duplicate pair without cross join") {
    val r = Dedup.minhashNearDups(docs, threshold = 0.4)
    val pairs = r.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    // exact dup pair must have estimated jaccard 1.0
    val exactPair = r.filter(col("doc_a") === 1 && col("doc_b") === 4)
    assert(exactPair.head.getAs[Double]("est_jaccard") == 1.0)
    // no pair with doc 5 (nothing shared)
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhashVerifiedDups leaves no persisted RDDs behind") {
    val r = Dedup.minhashVerifiedDups(docs, minJaccard = 0.4)
    val pairs = r.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup pair always survives
    // scope the guard to THIS operator's RDDs: graph queries running in
    // a concurrent suite legitimately hold eager localCheckpoints
    // (Graph.scala's Pregel lineage discipline) until GC'd, and the
    // shared session makes the global map racy
    val pinned = spark.sparkContext.getPersistentRDDs.values
      .map(_.toString).filter(_.contains("Dedup"))
    assert(pinned.isEmpty,
      s"minhashVerifiedDups must not pin executor storage (round-3 leak): $pinned")
  }

  test("the band rule refuses a signature that does not split into " +
       "whole bands, before any job runs") {
    // bands > numHashes made 0 rows per band: every band keyed on the
    // empty string, so the banding equi-join silently became all-pairs;
    // bands = 0 threw `/ by zero`; a remainder dropped trailing hashes
    val sc = spark.sparkContext
    val group = "band-rule-refusal"
    sc.setJobGroup(group, "band rule input check")
    try {
      for ((numHashes, bands) <- Seq((16, 32), (16, 0), (16, 5), (0, 4))) {
        intercept[IllegalArgumentException](Dedup.minhashVerifiedDups(
          docs, numHashes = numHashes, bands = bands))
        intercept[IllegalArgumentException](Dedup.minhashNearDups(
          docs, numHashes = numHashes, bands = bands))
      }
      val index = Dedup.minhashIndex(docs, numHashes = 16)
      intercept[IllegalArgumentException](Dedup.incrementalVerifiedDups(
        index, docs, numHashes = 16, bands = 32))
      intercept[IllegalArgumentException](
        graft.streaming.StreamingOps.streamingNearDupGate(
          docs, index, numHashes = 16, bands = 32))
      intercept[IllegalArgumentException](Dedup.lshCandidates(
        Dedup.minhashSignature(docs), bands = 4, rowsPerBand = 0))
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally sc.clearJobGroup()
  }

  test("incrementalVerifiedDups checks new docs against index AND " +
       "each other, never index-vs-index") {
    // docs 1-3 are the stored corpus (1 and 4 identical, but 4 is NEW);
    // 2 is 1's near-dup inside the corpus — that pair must NOT re-emerge
    val base = docs.filter(col("doc_id") <= 3)
    val incoming = docs.filter(col("doc_id") >= 4)
      .unionByName(Seq((6L,
        "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text")) // new exact dup of both 1 (corpus) and 4 (new)
    val r = Dedup.incrementalVerifiedDups(Dedup.minhashIndex(base),
        incoming, minJaccard = 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((1L, 4L))) // corpus vs new
    assert(r.contains((1L, 6L)))
    assert(r.contains((4L, 6L))) // new vs new, emitted once as (4,6)
    assert(!r.contains((1L, 2L)), "corpus-internal pair must not re-emerge")
    assert(r.forall { case (a, b) => b >= 4L && a < b })
  }

  test("decontaminatedTrainSplit drops eval near-dups from train only") {
    // eval = doc 1; docs 2 (near-dup) and 4 (exact dup) must leave train;
    // 3 and 5 (unrelated) survive; eval docs never appear in the output
    val r = Curation.decontaminatedTrainSplit(docs,
        isEval = col("doc_id") === 1, minJaccard = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r == Set(3L, 5L))
  }

  test("simhash: identical docs distance 0, near-dups close, distinct far") {
    val fp = Dedup.simhash(docs).select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(fp(1L), fp(2L)) < dist(fp(1L), fp(3L)))
  }

  test("exact jaccard on hand-computed pair") {
    // doc1/doc2 share 10 of 12 distinct 3-shingles (11 shingles each,
    // differing only in the last) → jaccard = 10/12
    val r = Dedup.jaccardPairs(docs.filter(col("doc_id").isin(1, 2)),
      shingleK = 3, minJaccard = 0.1)
    assert(r.count() == 1)
    assert(math.abs(r.head.getAs[Double]("jaccard") - 10.0 / 12.0) < 1e-12)
  }

  test("brute-force top-k cosine matches naive computation") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0)
    val r = Similarity.topKCosine(vecs, q, 2).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(r(0).getDouble(1) - 1.0) < 1e-12)
  }

  test("binary sign-bit ANN: words pack the right bits; full rerank " +
    "equals brute force") {
    // hand case: dims 0 and 33 positive, everything else <= 0
    val hand = Array.tabulate(64)(i => if (i == 0 || i == 33) 1.0f else 0f)
    val w = Seq(Tuple1(hand)).toDF("embedding")
      .select(Similarity.signWord(col("embedding"), 0, 31).as("w0"),
        Similarity.signWord(col("embedding"), 32, 63).as("w1"))
      .head()
    assert(w.getLong(0) == 1L && w.getLong(1) == 2L)
    assert(Similarity.signWordOf(hand.map(_.toDouble), 0, 31) == 1L)
    assert(Similarity.signWordOf(hand.map(_.toDouble), 32, 63) == 2L)
    // rerank over the whole corpus reduces to brute-force top-k
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 30L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.tabulate(64)(i => math.sin(i + 1.0))
    val brute = Similarity.topKCosine(vecs, q, 5)
      .collect().map(_.getLong(0)).toSeq
    val bin = Similarity.binaryAnnTopK(vecs, q, 5, rerank = 30)
      .collect().map(_.getLong(0)).toSeq
    assert(bin == brute)
    // the Hamming pre-cut keeps the identical vector at distance 0
    val withSelf = vecs.union(Seq((99L, q.map(_.toFloat)))
      .toDF("vec_id", "embedding"))
    val top = Similarity.binaryAnnTopK(withSelf, q, 1, rerank = 3).head()
    assert(top.getLong(0) == 99L && top.getInt(1) == 0)
  }

  test("LSH ANN: query bucket contains the nearest vector") {
    val n = 50
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat)
    val vecs = (1 to n).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    } :+ (99L, base)
    val df = vecs.toDF("vec_id", "embedding")
    val q = base.map(_.toDouble)
    val r = Similarity.annLsh(df, q, 5, dim = 8, nPlanes = 4, probes = 2)
    // the identical vector shares all hyperplane signs → always in bucket
    assert(r.collect().map(_.getLong(0)).contains(99L))
  }

  test("IVF ANN: probing every list equals brute force; 1 probe is a subset") {
    val rnd = new scala.util.Random(11)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val brute = Similarity.topKCosine(df, q, 5).collect().map(_.getLong(0)).toSeq
    val all = Similarity.annIvf(df, q, 5, nCentroids = 4, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(all == brute) // probing every inverted list = exhaustive search
    val one = Similarity.annIvf(df, q, 5, nCentroids = 4, nProbe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(one.nonEmpty && one.subsetOf((0L until 40L).toSet))
    // the probed list is where the query's nearest centroid lives, so the
    // single-probe result must contain the global best if it is assigned
    // there (holds for this seed)
    assert(one.contains(brute.head))
  }

  test("k-means IVF: trained centroids beat first-k recall on skewed ids") {
    // adversarial id layout: the first 4 ids (the deterministic centroid
    // seed) all live in cluster A, so the untrained index has no centroid
    // near cluster B and a B-query's single probe lands in a mixed list
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 5) }
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val vecs = (0L until 20L).map(i => (i, jitter(a, i.toInt))) ++
               (20L until 40L).map(i => (i, jitter(b, i.toInt)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = Array(0.0, 1.0, 0.05, 0.0) // firmly in cluster B
    val brute = Similarity.topKCosine(df, q, 10)
      .collect().map(_.getLong(0)).toSet
    def recall(ids: Set[Long]): Double =
      ids.intersect(brute).size.toDouble / brute.size
    val firstK = Similarity.annIvf(df, q, 10, nCentroids = 4, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    val centDf = Similarity.trainIvfCentroids(df, 4, 3).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("cid", "cvec")
    val trained = Similarity.ivfQuery(df, centDf, q, 10, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(recall(trained) >= recall(firstK),
      s"trained ${recall(trained)} < first-k ${recall(firstK)}")
    assert(recall(trained) == 1.0,
      s"a trained centroid should own cluster B (recall ${recall(trained)})")
    // training is deterministic: same input → same centroids
    val c1 = Similarity.trainIvfCentroids(df, 4, 2)
    val c2 = Similarity.trainIvfCentroids(df, 4, 2)
    assert(c1.zip(c2).forall { case (x, y) => x.sameElements(y) })
  }

  test("PQ encode equals the brute-force subspace argmin") {
    val rnd = new scala.util.Random(13)
    val df = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(df, m = 4, k = 4)
    // driver-side reference with the same fold math (floats widened once)
    def refCodes(v: Array[Double]): Seq[Int] = books.indices.map { s =>
      val dsub = books(s)(0).length
      val sub = v.slice(s * dsub, (s + 1) * dsub)
      val xx = sub.foldLeft(0.0)((a, x) => a + x * x)
      books(s).zipWithIndex.map { case (c, j) =>
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        val xc = sub.indices.foldLeft(0.0)((a, i) => a + sub(i) * c(i))
        (xx - 2.0 * xc + cc, j)
      }.min._2
    }
    val got = Similarity.pqEncode(df, books).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    val raw = df.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    raw.foreach { case (id, v) =>
      assert(got(id) == refCodes(v), s"vec $id")
    }
    // self-consistency: a vector that IS a centroid row encodes to itself
    // in every subspace (distance 0 beats all, ties to the lower code)
    (0L until 4L).foreach { id =>
      assert(got(id) == Seq.fill(4)(id.toInt), s"centroid $id")
    }
  }

  test("PQ ADC: rerank over everything equals brute force; distortion sane") {
    val rnd = new scala.util.Random(17)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val brute = Similarity.topKCosine(df, q, 5).collect().map(_.getLong(0)).toSeq
    // rerank = n: every vector reaches the exact re-rank → identical top-k
    val all = Similarity.annPq(df, q, 5, m = 4, nCent = 4, rerank = 40)
      .collect().map(_.getLong(0)).toSeq
    assert(all == brute)
    // small rerank still returns k rows from the corpus
    val narrow = Similarity.annPq(df, q, 5, m = 4, nCent = 4, rerank = 10)
      .collect().map(_.getLong(0))
    assert(narrow.length == 5 && narrow.toSet.subsetOf((0L until 40L).toSet))
  }

  test("IVF-PQ: probe-all + full rerank equals brute force; pruning prunes") {
    val rnd = new scala.util.Random(29)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val brute = Similarity.topKCosine(df, q, 5).collect().map(_.getLong(0)).toSeq
    val all = Similarity.annIvfPq(df, q, 5, nCoarse = 4, nProbe = 4,
        m = 4, nCent = 4, rerank = 40)
      .collect().map(_.getLong(0)).toSeq
    assert(all == brute, "probing every list with full rerank must be exact")
    // 1-probe results live inside the probed inverted list only
    val probed = Similarity.annIvfPq(df, q, 5, nCoarse = 4, nProbe = 1,
        m = 4, nCent = 4, rerank = 40)
      .collect().map(_.getLong(0)).toSet
    val oneList = Similarity.annIvf(df, q, 40, nCentroids = 4, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(probed.subsetOf(oneList),
      s"IVF-PQ leaked outside its probed list: ${probed -- oneList}")
  }

  test("curation audit: kept flag is exactly pipeline membership") {
    val rnd = new scala.util.Random(43)
    val corpus = (1L to 30L).map { i =>
      val words = Seq.fill(25)(s"w${rnd.nextInt(40)}") ++
        (if (i % 3 == 0) Seq("the", "and", "of", "to", "in", "is") else Nil)
      (i, words.mkString(" "), "en", if (i % 5 == 0) "src0" else "srcX", 100L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = corpus.filter(col("source") === "src0")
    val keptIds = Curation.curationPipeline(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val audit = Curation.curationAudit(corpus, bench).collect()
    val auditKept = audit.filter(_.getAs[Boolean]("kept"))
      .map(_.getLong(0)).toSet
    assert(auditKept == keptIds,
      s"audit kept $auditKept != pipeline $keptIds")
    // kept implies every gate passed and not a duplicate
    audit.filter(_.getAs[Boolean]("kept")).foreach { r =>
      assert(r.getAs[Boolean]("pass_lang") && r.getAs[Boolean]("pass_quality")
        && r.getAs[Boolean]("pass_rep") && r.getAs[Boolean]("pass_contam")
        && !r.getAs[Boolean]("is_dup"))
    }
    // a dropped doc fails at least one gate
    audit.filterNot(_.getAs[Boolean]("kept")).foreach { r =>
      assert(!r.getAs[Boolean]("pass_lang") || !r.getAs[Boolean]("pass_quality")
        || !r.getAs[Boolean]("pass_rep") || !r.getAs[Boolean]("pass_contam")
        || r.getAs[Boolean]("is_dup"))
    }
    // the benchmark source's self-hit shows up as a contamination failure
    assert(audit.filter(r => r.getString(1) == "src0")
      .forall(!_.getAs[Boolean]("pass_contam")))
    // the rollup is exactly the audit's per-source flag sums
    val rates = Curation.gateRates(Curation.curationAudit(corpus, bench))
      .collect().map(r => r.getString(0) -> r).toMap
    audit.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val r = rates(src)
      assert(r.getAs[Long]("n_docs") == rows.length)
      assert(r.getAs[Long]("n_kept") ==
        rows.count(_.getAs[Boolean]("kept")))
      assert(r.getAs[Long]("n_dup") ==
        rows.count(_.getAs[Boolean]("is_dup")))
    }
  }

  test("residual IVFADC: probe-all + full rerank equals brute force; " +
       "pruning stays in-list") {
    val rnd = new scala.util.Random(41)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val brute = Similarity.topKCosine(df, q, 5).collect().map(_.getLong(0)).toSeq
    val all = Similarity.annIvfPqResidual(df, q, 5, nCoarse = 4, nProbe = 4,
        m = 4, kCent = 4, rerank = 40)
      .collect().map(_.getLong(0)).toSeq
    assert(all == brute,
      "probing every list with full rerank must be exact under residual codes")
    val probed = Similarity.annIvfPqResidual(df, q, 5, nCoarse = 4, nProbe = 1,
        m = 4, kCent = 4, rerank = 40)
      .collect().map(_.getLong(0)).toSet
    val oneList = Similarity.annIvf(df, q, 40, nCentroids = 4, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(probed.subsetOf(oneList),
      s"residual IVFADC leaked outside its probed list: ${probed -- oneList}")
  }

  test("PQ blocking: identical vectors always collide; verify is exact") {
    val rnd = new scala.util.Random(47)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat))) :+
      (97L, base) :+ (98L, base) // identical pair — all bands collide
    val df = vecs.toDF("vec_id", "embedding")
    val r = Similarity.pqNearDups(df, minCos = 0.999, m = 4, k = 4, bands = 2)
      .collect()
    val pairs = r.map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((97L, 98L)),
      "identical vectors share every code, so every band collides")
    val exact = r.find(x => x.getLong(0) == 97L).get
    assert(math.abs(exact.getDouble(2) - 1.0) < 1e-12)
    // each surviving pair appears exactly once despite multi-band hits
    assert(r.length == pairs.size)
    // all survivors genuinely meet the threshold
    assert(r.forall(_.getDouble(2) >= 0.999))
  }

  test("PQ blocking fails fast when the band key space overflows Long") {
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    // k=256, one band of 8 codes → 256^8 = 2^64 > Long.MaxValue
    val e = intercept[IllegalArgumentException] {
      Similarity.pqNearDups(df, m = 8, k = 256, bands = 1)
    }
    assert(e.getMessage.contains("overflows Long"))
  }

  test("PQ band balance: occupancy counts and exact pair mass per band") {
    val rnd = new scala.util.Random(47)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))) :+
      (97L, base) :+ (98L, base)
    val df = vecs.toDF("vec_id", "embedding")
    val r = Similarity.pqBandBalance(df, m = 4, k = 4, bands = 2)
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r.keySet == Set(0, 1), "one rollup row per band")
    r.values.foreach { row =>
      val nKeys = row.getLong(1); val maxB = row.getLong(2)
      val pairs = row.getLong(3)
      assert(nKeys >= 1L && nKeys <= 16L, "k^perBand = 16 possible keys")
      // the identical pair shares every code, so every band has a
      // bucket of >= 2 and pair mass >= 1
      assert(maxB >= 2L)
      assert(pairs >= 1L && pairs >= maxB * (maxB - 1) / 2)
    }
  }

  test("PQ stored-codes flow: ADC from a persisted code table matches inline") {
    // the production 100 TB flow: encode once, persist m small ints per
    // vector, answer queries from the stored codes — raw vectors touched
    // only by the rerank join
    val rnd = new scala.util.Random(31)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(df, m = 4, k = 4)
    withTempDir("pq_codes") { tmp =>
      val dir = tmp.toString
      Similarity.pqEncode(df, books).write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val q = Array.fill(8)(rnd.nextGaussian())
      val dsub = 2
      val tables = books.indices.map { s =>
        val qs = q.slice(s * dsub, (s + 1) * dsub)
        val qq = qs.foldLeft(0.0)((a, v) => a + v * v)
        books(s).toSeq.map { c =>
          val qc = qs.indices.foldLeft(0.0)((a, i) => a + qs(i) * c(i))
          val cc = c.foldLeft(0.0)((a, v) => a + v * v)
          qq - 2.0 * qc + cc
        }
      }
      val adistStored = books.indices.map { s =>
        element_at(typedLit(tables(s)), col(s"code_$s") + 1)
      }.reduce(_ + _)
      val candStored = stored.select(col("vec_id"), adistStored.as("adist"))
        .orderBy(col("adist"), col("vec_id")).limit(10)
        .join(df, "vec_id")
        .select(col("vec_id"),
          Similarity.cosineLiteral(col("embedding"), q).as("cos"))
        .orderBy(desc("cos"), col("vec_id")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      val inline = Similarity.annPqWithBooks(df, books, q, 5, rerank = 10)
        .collect().map(_.getLong(0)).toSeq
      assert(candStored == inline,
        "stored-code retrieval must equal the inline encode path")
    }
  }

  test("annPqStored: lifecycle query from persisted codes is bit-equal " +
       "to the inline encode") {
    val rnd = new scala.util.Random(31)
    val df = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    withTempDir("pq_lifecycle") { tmp =>
      val dir = tmp.toString
      Similarity.annPqStoredBuild(df, dir, m = 4, nCent = 4)
      val stored = Similarity.annPqStoredQuery(df, dir, q, 5, m = 4,
        nCent = 4, rerank = 10).collect()
      val inline = Similarity.annPq(df, q, 5, m = 4, nCent = 4, rerank = 10)
        .collect()
      assert(stored.length == inline.length)
      stored.zip(inline).foreach { case (s, i) =>
        assert(s.getLong(0) == i.getLong(0), "rank order diverged")
        assert(s.getDouble(1) == i.getDouble(1), "adist not bit-equal")
        assert(s.getDouble(2) == i.getDouble(2), "cos not bit-equal")
      }
      // the at-rest artifacts are really there, in the compressed shape
      val codes = spark.read.parquet(s"$dir/codes")
      assert(codes.columns.toSeq ==
        Seq("vec_id", "code_0", "code_1", "code_2", "code_3"))
      assert(codes.count() == 40)
      assert(spark.read.parquet(s"$dir/books").count() == 16) // m=4 × k=4
    }
  }

  test("stored binary ANN equals the inline cut row for row; stored " +
    "binary and stored PQ answers do not move under repartition(7)") {
    val rnd = new scala.util.Random(43)
    val df = (0L until 60L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(64)(rnd.nextGaussian())
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // build each store from `emb` and answer the query from it
    def binary(emb: org.apache.spark.sql.DataFrame) =
      withTempDir("binary_store") { dir =>
        Similarity.binaryAnnStoredBuild(emb, dir.toString)
        Similarity.binaryAnnStoredQuery(emb, dir.toString, q, 5).collect()
      }
    def pq(emb: org.apache.spark.sql.DataFrame) =
      withTempDir("pq_store") { dir =>
        Similarity.annPqStoredBuild(emb, dir.toString, m = 8, nCent = 4)
        Similarity.annPqStoredQuery(emb, dir.toString, q, 5, m = 8,
          nCent = 4, rerank = 10).collect()
      }
    val stored = binary(df)
    val inline = Similarity.binaryAnnTopK(df, q, 5).collect()
    assert(stored.length == 5 && inline.length == 5)
    stored.zip(inline).foreach { case (s, i) =>
      assert(s.getLong(0) == i.getLong(0), "rank order diverged")
      assert(s.getInt(1) == i.getInt(1), "ham differs")
      assert(bits(s.getDouble(2)) == bits(i.getDouble(2)), "cos not bit-equal")
    }
    val re = df.repartition(7)
    assert(binary(re).toSeq == stored.toSeq)
    val pqStored = pq(df)
    assert(pqStored.length == 5)
    assert(pq(re).toSeq == pqStored.toSeq)
  }

  test("IVF list balance: counts partition the corpus, fractions sum to 1") {
    val rnd = new scala.util.Random(37)
    val df = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val r = Similarity.ivfListBalance(df, nCentroids = 4).collect()
    assert(r.map(_.getLong(1)).sum == 60L, "every vector in exactly one list")
    assert(math.abs(r.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    assert(r.map(_.getLong(0)).toSet.subsetOf((0L until 4L).toSet))
    // each seed centroid's own vector lands in its own list → no empty
    // seed cell can out-count the corpus
    assert(r.forall(x => x.getLong(1) >= 1L))
  }

  test("PQ recall audit: full rerank scores 1.0; report is one row") {
    val rnd = new scala.util.Random(19)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val full = Similarity.annRecall(df, q, 5, m = 4, nCent = 4, rerank = 40)
      .collect()
    assert(full.length == 1)
    assert(full(0).getLong(0) == 5L && full(0).getDouble(1) == 1.0)
    val narrow = Similarity.annRecall(df, q, 5, m = 4, nCent = 4, rerank = 6)
      .head()
    assert(narrow.getLong(0) <= 5L &&
      narrow.getDouble(1) == narrow.getLong(0) / 5.0)
  }

  test("PQ training: distortion non-increasing, deterministic, shape-stable") {
    // adversarial seed layout (the IVF spec's trick): all 4 seed ids in
    // cluster A, so the untrained books quantize cluster B poorly
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 5) }
    val a = Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
    val vecs = (0L until 20L).map(i => (i, jitter(a, i.toInt))) ++
               (20L until 40L).map(i => (i, jitter(b, i.toInt)))
    val df = vecs.toDF("vec_id", "embedding")
    val seed = Similarity.pqCodebooks(df, m = 2, k = 4)
    val trained = Similarity.trainPqCodebooks(df, m = 2, k = 4, iters = 3)
    val d0 = Similarity.pqDistortion(df, seed)
    val d1 = Similarity.pqDistortion(df, trained)
    assert(d1 <= d0, s"trained distortion $d1 > seed $d0")
    assert(d1 < d0 * 0.5, s"cluster B should get its own cells: $d1 vs $d0")
    val t2 = Similarity.trainPqCodebooks(df, m = 2, k = 4, iters = 3)
    assert(trained.zip(t2).forall { case (x, y) =>
      x.zip(y).forall { case (u, v) => u.sameElements(v) } })
    assert(trained.length == 2 && trained.forall(_.length == 4) &&
      trained.forall(_.forall(_.length == 4)))
  }

  test("int8 quantization audit: exact scale, codes, and residual MSE") {
    val vecs = Seq(
      (1L, Array(1.27f, -0.635f, 0.0f, 0.3f)),   // max 1.27 → scale 0.01
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),        // all-zero → no division
      (3L, Array(-2.54f, 2.54f, 1.0f, -1.0f))     // two saturated lanes
    ).toDF("vec_id", "embedding")
    val r = Similarity.int8QuantAudit(vecs).collect()
      .map(x => x.getLong(0) -> x).toMap
    def ref(v: Array[Float]): (Double, Int, Double) = {
      val d = v.map(_.toDouble)
      val s = d.map(math.abs).max / 127.0
      if (s == 0.0) (0.0, 0, 0.0)
      else {
        val codes = d.map(x => (x / s).toInt)
        val resid = d.zip(codes).map { case (x, c) => x - c * s }
        (s, codes.count(c => math.abs(c) == 127),
          resid.foldLeft(0.0)((a, x) => a + x * x) / d.length)
      }
    }
    Seq(1L -> Array(1.27f, -0.635f, 0.0f, 0.3f),
        2L -> Array(0.0f, 0.0f, 0.0f, 0.0f),
        3L -> Array(-2.54f, 2.54f, 1.0f, -1.0f)).foreach { case (id, v) =>
      val (s, sat, mse) = ref(v)
      assert(r(id).getDouble(1) == s, s"scale vec $id")
      assert(r(id).getInt(2) == sat, s"n_sat vec $id")
      assert(r(id).getDouble(3) == mse, s"mse vec $id")
    }
    // the max-|x| lane always saturates exactly when the vector is nonzero
    assert(r(1L).getInt(2) >= 1 && r(3L).getInt(2) == 2)
    // reconstruction error is bounded by (scale/2)² per lane... for trunc,
    // by scale² per lane
    val s1 = r(1L).getDouble(1)
    assert(r(1L).getDouble(3) <= s1 * s1)
  }

  test("Gopher rules: each flag trips on its own adversarial document") {
    val the50 = (1 to 50).map(i => s"the and of to word$i").mkString(" ")
    val rows = Seq(
      // 250 words, mean len ~4, no symbols, all alpha, stopwords present
      (1L, the50),
      (2L, "short text with the and of"),                      // word count < 50
      (3L, (1 to 60).map(_ => "a b").mkString(" ") + " the of"), // mean len < 3
      (4L, (1 to 60).map(i => s"### word$i #### the of ...").mkString(" ")), // symbols
      (5L, (1 to 60).map(i => s"123 456 the of word$i").mkString(" "))  // digits: alpha<0.8? 3/5 alpha
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRules(rows).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Boolean]("keep"), "clean doc must pass")
    assert(!r(2L).getAs[Boolean]("r_word_count") && !r(2L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("r_mean_word_len"))
    assert(!r(4L).getAs[Boolean]("r_symbol_ratio"))
    assert(!r(5L).getAs[Boolean]("r_alpha_words"))
    // rule independence: doc 5 still passes the stopword rule
    assert(r(5L).getAs[Boolean]("r_stopwords"))
    // signal sanity on the clean doc
    assert(r(1L).getAs[Long]("n_words") == 250L)
    assert(r(1L).getAs[Int]("sw_hits") == 4)
  }

  test("Gopher symbol rule thresholds each symbol separately (Rae A1.1)") {
    // 280 words, 15 '#' and 15 '...': each ratio ≈ 0.054 < 0.1 but the
    // pooled ratio ≈ 0.107 — the paper keeps this document
    val the50 = (1 to 50).map(i => s"the and of to word$i").mkString(" ")
    val mixed = the50 + (" #" * 15) + (" ..." * 15)
    val r = TextOps.gopherRules(Seq((1L, mixed)).toDF("doc_id", "text"))
      .collect().head
    assert(r.getAs[Double]("hash_ratio") < 0.1)
    assert(r.getAs[Double]("ellipsis_ratio") < 0.1)
    assert(r.getAs[Double]("hash_ratio") + r.getAs[Double]("ellipsis_ratio") > 0.1)
    assert(r.getAs[Boolean]("r_symbol_ratio"), "per-symbol rule must keep it")
    assert(r.getAs[Boolean]("keep"))
  }

  test("embedding cosine near-dup via LSH buckets") {

    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.cosineNearDups(vecs, dim = 2, minCos = 0.99, nPlanes = 3)
    val pairs = r.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("semDeDup keeps one representative per within-cluster group") {
    // two tight groups near the axes plus one isolated vector; centroids
    // = first 2 vectors, one per group. Group members are mutually
    // cos>0.99; cross-group cos ~0 → each group collapses to its min id,
    // the isolated vector (assigned to cluster 1's centroid but below
    // the threshold with its members... it IS above 0.9 with nothing)
    // survives untouched.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // centroid/rep of group A
      (1L, Array(0.0f, 1.0f, 0.0f)),   // centroid/rep of group B
      (2L, Array(0.999f, 0.02f, 0.0f)), // A member → dropped
      (3L, Array(0.02f, 0.999f, 0.0f)), // B member → dropped
      (4L, Array(0.999f, 0.01f, 0.0f)), // A member → dropped
      (5L, Array(0.0f, 0.0f, 1.0f))    // isolated → kept
    ).toDF("vec_id", "embedding")
    val r = Similarity.semDeDup(vecs, nClusters = 2, minCos = 0.9)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(0L, 1L, 5L))
    assert(r(0L) == 0L && r(1L) == 1L)
    // transitivity through the component: 2~4 via 0 even if 2·4 < minCos
    // would not matter — all of {0,2,4} share one component, rep 0
  }

  test("Bloom filter: no false negatives, bounded false positives, " +
       "partition-order invariant") {
    val keys = (0L until 2000L).map(i => i * 7919L) // arbitrary spread
    val keysDf = keys.toDF("doc_id")
    val mBits = 1 << 16
    val words = Bloom.build(keysDf, "doc_id", mBits, 4)
    val words8 = Bloom.build(keysDf.repartition(8), "doc_id", mBits, 4)
    assert(words.sameElements(words8)) // OR-merge order cannot matter
    // membership column vs the driver-side definition, and the guarantees
    val probe = (0L until 20000L).map(i => i * 31L + 3L).toDF("doc_id")
    val inSet = keys.toSet
    val got = probe.withColumn("hit",
        Bloom.contains(words, col("doc_id"), mBits, 4))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val fn = got.count { case (k, hit) => inSet(k) && !hit }
    val fp = got.count { case (k, hit) => !inSet(k) && hit }
    val neg = got.count { case (k, _) => !inSet(k) }
    assert(fn == 0, "a Bloom filter must never false-negative")
    // kn/m = 4*2000/65536 = 0.122 → fp ~ (1-e^-0.122)^4 ≈ 0.017%; allow 10x
    assert(fp.toDouble / neg < 0.002, s"fp rate ${fp.toDouble / neg}")
  }

  test("antiJoinWithBloom equals the plain anti-join exactly") {
    val corpus = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val drop = Seq(3L, 77L, 400L, 401L, 499L).toDF("doc_id")
    val got = Bloom.antiJoinWithBloom(corpus, drop, mBits = 1 << 12)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = (0L until 500L).toSet -- Set(3L, 77L, 400L, 401L, 499L)
    assert(got == want)
  }

  test("CMS sketch: never underestimates, counts conserve, " +
       "merge-order invariant") {
    // key i·9973 occurs (i mod 7)+1 times — known multiplicities
    val occs = (1 to 500).flatMap(i => Seq.fill(i % 7 + 1)(i.toLong * 9973L))
    val keyed = occs.toDF("k")
    val counters = Cms.build(keyed, "k", depth = 4, logWidth = 10)
    val counters8 = Cms.build(keyed.repartition(8), "k", depth = 4, logWidth = 10)
    assert(counters.sameElements(counters8)) // sum-merge order cannot matter
    // every occurrence lands in exactly one cell per row
    assert(counters.sum == occs.length.toLong * 4)
    val exact = occs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = keyed.distinct()
      .withColumn("est", Cms.estimate(counters, col("k"), 4, 10))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    got.foreach { case (k, est) =>
      assert(est >= exact(k), s"CMS underestimated key $k: $est < ${exact(k)}")
    }
    // 500 distinct keys in 1024 cells: the deterministic layout happens to
    // be collision-free in at least one of the 4 rows for most keys; the
    // aggregate gap stays small (this pins the estimate actually reads the
    // right cells — an off-by-one row/cell would inflate everything)
    val totalGap = got.map { case (k, est) => est - exact(k) }.sum
    assert(totalGap < occs.length / 2, s"collision mass too high: $totalGap")
  }

  test("CMS heavy hitters: top token exact, estimates bound counts, no join") {
    val keyed = docs
      .select(explode(graft.functions.TokenSplit(col("text"))).as("token"))
      .withColumn("h",
        element_at(graft.functions.ShingleHashesAll(col("token"), 1), 1))
    val r = Cms.heavyHitters(keyed, "token", "h", k = 5)
    val rows = r.collect()
    assert(rows.length == 5)
    // "the" appears 3x in docs 1, 2, 4 → 9, the corpus heavy hitter
    assert(rows.head.getAs[String]("token") == "the")
    assert(rows.head.getAs[Long]("exact_count") == 9L)
    rows.foreach { row =>
      assert(row.getAs[Long]("cms_estimate") >= row.getAs[Long]("exact_count"))
    }
    // the probe is a literal-array read — the plan must carry no join
    assert(!r.queryExecution.executedPlan.toString.contains("Join"),
      "CMS estimate must not join")
  }

  test("HLL sketch: estimate near exact, merge-order invariant") {
    import org.apache.spark.sql.{functions => F, Encoders}
    val df = (1 to 2000).map(i => (i % 4, s"document number $i")).toDF("g", "text")
    val hll = F.udaf(new HllAggregator(10), Encoders.scalaLong)
    def run(parts: Int) = df.repartition(parts).groupBy("g")
      .agg(hll(graft.functions.HashExprs.mix64_col(
        graft.functions.HashExprs.rolling_fnv_fingerprint(
          F.array(F.col("text"))))).as("h"))
      .select(F.col("g"), F.col("h.estimate"), F.col("h.reg_sum"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val e1 = run(1)
    val e8 = run(8)
    assert(e1 == e8) // partial-merge order cannot change the sketch
    // 500 distinct docs per group; rsd ~ 1.04/sqrt(1024) ~ 3.3%
    e1.values.foreach { case (est, _) =>
      assert(math.abs(est - 500.0) / 500.0 < 0.15, s"estimate $est far from 500")
    }
  }

  test("language ID picks the stopword-dominant language") {

    val d = Seq(
      (1L, "the cat and the dog went to the house in the morning"),
      (2L, "der hund und die katze ist nicht mit der maus"),
      (3L, "le chat est dans la maison pour le matin"),
      (4L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1L) == "en" && r(2L) == "de" && r(3L) == "fr" && r(4L) == "und")
  }

  test("quality score: prose beats punctuation soup") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the forest with great speed"),
      (2L, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(1L) > 0.7 && r(2L) < 0.5 && r(1L) > r(2L))
  }

  test("token counts: whitespace and subword") {
    val d = Seq((1L, "hello world42 foo-bar")).toDF("doc_id", "text")
    val r = d.select(TextOps.tokenCount(col("text")).as("t"),
                     TextOps.subwordCount(col("text")).as("s")).head
    assert(r.getInt(0) == 3)
    // hello | world | 42 | foo | - | bar
    assert(r.getInt(1) == 6)
  }

  test("fingerprint: order-sensitive, equal only for identical token streams") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(1L) == r(2L))
    assert(r(1L) != r(3L))
  }

  test("multimodal: feature extraction is deterministic, batch-shaped") {
    val media = Multimodal.mediaFromDocs(docs)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 5)
    val f = feats.filter(col("media_id") === 1).head
      .getAs[scala.collection.Seq[Float]]("features").toList
    assert(f.length == 16)
    assert(math.abs(f.sum - 1.0f) < 1e-4) // L1-normalized histogram
    // identical payloads → identical features (docs 1 and 4)
    val f4 = feats.filter(col("media_id") === 4).head
      .getAs[scala.collection.Seq[Float]]("features").toList
    assert(f == f4)
  }

  test("multimodal: gray PNG encode→ImageIO decode round-trips pixels") {
    val px = Array.tabulate(64)(i => (i * 4).toByte)
    val png = Multimodal.ImageCodec.encodeGrayPng(px, 8, 8)
    // PNG magic — a real image container, not raw bytes
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val img = Multimodal.ImageCodec.decode(png).get
    assert(img.getWidth == 8 && img.getHeight == 8)
    val back = for (y <- 0 until 8; x <- 0 until 8)
      yield img.getRaster.getSample(x, y, 0)
    assert(back == px.map(_ & 0xFF).toSeq)
  }

  test("multimodal: features computed from decoded pixels, not raw bytes") {
    // samples 0..63 in steps of 4 → exactly 4 pixels per 16-value bucket
    val png = Multimodal.ImageCodec.encodeGrayPng(
      Array.tabulate(64)(i => (i * 4).toByte), 8, 8)
    val f = Multimodal.ImageCodec.decodeFeatures(png)
    assert(f.toSeq == Seq.fill(16)(4f / 64f))
    // the PNG *bytes* have a very different histogram — the stub fallback
    // must disagree with the decoded features (proves we decoded)
    assert(Multimodal.FakeCodec.decodeFeatures(png).toSeq != f.toSeq)
  }

  test("multimodal: 16-bit and palette images decode, never crash the task") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    // 16-bit gray: samples up to 65535 must scale into the 16 buckets
    val img16 = new BufferedImage(4, 4, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 4; x <- 0 until 4)
      img16.getRaster.setSample(x, y, 0, (y * 4 + x) * 4096)
    val o16 = new ByteArrayOutputStream
    javax.imageio.ImageIO.write(img16, "png", o16)
    val f16 = Multimodal.ImageCodec.decodeFeatures(o16.toByteArray)
    assert(math.abs(f16.sum - 1f) < 1e-4)
    assert(f16(15) > 0f) // top samples land in the top bucket, not OOB
    // palette image: indices are not luminance — must go through the LUT
    val idx = new BufferedImage(4, 4, BufferedImage.TYPE_BYTE_INDEXED)
    val g = idx.createGraphics()
    g.setColor(java.awt.Color.WHITE); g.fillRect(0, 0, 4, 4); g.dispose()
    val oIdx = new ByteArrayOutputStream
    javax.imageio.ImageIO.write(idx, "png", oIdx)
    val fIdx = Multimodal.ImageCodec.decodeFeatures(oIdx.toByteArray)
    assert(fIdx(15) == 1f) // all-white -> luminance 255 -> bucket 15
  }

  test("multimodal: resize decodes and re-encodes a real thumbnail") {

    val media = Multimodal.mediaFromDocs(docs)
    val r = Multimodal.resizeAll(media, 16)
    val row = r.filter(col("media_id") === 1).head
    val thumb = Multimodal.ImageCodec.decode(
      row.getAs[Array[Byte]]("payload")).get
    assert(thumb.getWidth == 16 && thumb.getHeight == 16)
    assert(row.getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("width") == 16)
  }

  test("multimodal: frame sampling explodes payload blocks") {
    val media = Multimodal.mediaFromDocs(docs)
    val frames = Multimodal.sampleFrames(media, everyNth = 1)
    assert(frames.count() == 5) // each text < 256 bytes → 1 frame each
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx", "frame"))
  }

  test("audio codec: WAV round trip preserves samples; junk is rejected") {
    val samples = Array.tabulate(500)(i => ((i * 37) % 2048) - 1024)
    val wav = Multimodal.AudioCodec.encodeWavPcm16(samples, 8000)
    val pcm = Multimodal.AudioCodec.decodeWav(wav).get
    assert(pcm.sampleRate == 8000)
    assert(pcm.samples.sameElements(samples))
    assert(Multimodal.AudioCodec.decodeWav("not audio at all".getBytes).isEmpty)
    assert(Multimodal.AudioCodec.decodeWav(null).isEmpty)
  }

  test("G.711 μ-law/A-law WAVs decode bit-exactly to the spec tables") {
    // published G.711 expansion formulas, written independently here;
    // assert the JDK codec path produces EXACTLY these for all 256 codes
    def ulawSpec(b: Int): Int = {
      val u = ~b & 0xFF
      val mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
      if ((u & 0x80) != 0) -mag else mag
    }
    def alawSpec(b: Int): Int = {
      val a = b ^ 0x55
      val exp = (a >> 4) & 7
      val man = a & 0x0F
      val mag = if (exp == 0) (man << 4) + 8 else ((man << 4) + 0x108) << (exp - 1)
      if ((a & 0x80) != 0) mag else -mag  // sign bit SET = positive
    }
    val codes = Array.tabulate(256)(_.toByte)
    val uPcm = Multimodal.AudioCodec.decodeWav(
      Multimodal.AudioCodec.encodeWavG711(codes, 8000, aLaw = false)).get
    assert(uPcm.sampleRate == 8000 && uPcm.samples.length == 256)
    (0 until 256).foreach { i =>
      assert(uPcm.samples(i) == ulawSpec(i), s"ulaw code $i")
    }
    val aPcm = Multimodal.AudioCodec.decodeWav(
      Multimodal.AudioCodec.encodeWavG711(codes, 8000, aLaw = true)).get
    (0 until 256).foreach { i =>
      assert(aPcm.samples(i) == alawSpec(i), s"alaw code $i")
    }
  }

  test("x46 pipeline: features flow from a real G.711 decode, no shuffle") {
    val out = Multimodal.extractAudioFeatures(Multimodal.g711FromDocs(docs))
    assert(out.count() == 5)
    val r = out.filter(col("media_id") === 2).head  // even → μ-law
    assert(r.getAs[Int]("sample_rate") == 8000)
    assert(r.getAs[Long]("n_samples") == 256) // 240 + (2 % 16) * 8
    assert(r.getAs[Long]("peak") <= 32124)    // μ-law max magnitude
    assert(out.queryExecution.executedPlan.toString
      .split("Exchange").length - 1 == 0, "G.711 features must not shuffle")
  }

  test("mp4 probe: box walk reads back exactly what the writer encoded") {
    import Multimodal.Mp4Probe
    val bytes = Mp4Probe.encodeMp4(timescale = 1000L, duration = 2400L,
      width = 640, height = 360, videoCodec = "avc1", audioCodec = "mp4a",
      nFrames = 48L)
    val m = Mp4Probe.probe(bytes).get
    assert(m.brand == "isom" && m.timescale == 1000L && m.duration == 2400L)
    assert(m.width == 640 && m.height == 360)
    assert(m.videoCodec == "avc1" && m.audioCodec == "mp4a" && m.nFrames == 48L)
    // 64-bit largesize boxes parse too: wrap the same moov in one
    assert(Mp4Probe.probe("junk".getBytes).isEmpty)
    assert(Mp4Probe.probe(null).isEmpty)
    // a GIF payload is not ISO-BMFF
    val gif = Multimodal.VideoCodec.encodeAnimatedGifGray(
      Seq(Array.fill(64)(0.toByte)), 8, 8)
    assert(Mp4Probe.probe(gif).isEmpty)
    // a 64-bit largesize that wraps Int (4 GiB + 16) must be rejected, not
    // silently truncated into an empty in-bounds moov
    val wrap = java.nio.ByteBuffer.allocate(16)
      .putInt(1).put("moov".getBytes("US-ASCII")).putLong(0x100000010L).array()
    assert(Mp4Probe.probe(wrap).isEmpty)
  }

  test("x47 pipeline: metadata flows from a real box walk, no shuffle") {
    val out = Multimodal.probeMp4(Multimodal.mp4FromDocs(docs))
    assert(out.count() == 5)
    val r = out.filter(col("media_id") === 3).head
    assert(r.getAs[Double]("duration_sec") == 1120.0 / 1000.0) // 1000+3*40
    assert(r.getAs[Int]("width") == 320 + (3 % 4) * 160)
    assert(r.getAs[String]("video_codec") == "hev1") // odd doc_id
    assert(r.getAs[Long]("n_frames") == 24 + 3 * 6)
    assert(out.queryExecution.executedPlan.toString
      .split("Exchange").length - 1 == 0, "mp4 probe must not shuffle")
  }

  test("webm probe: EBML walk reads back exactly what the writer encoded") {
    import Multimodal.EbmlProbe
    val bytes = EbmlProbe.encodeWebm(durationUnits = 4500.0, width = 640,
      height = 480, videoCodec = "V_VP9", audioCodec = "A_OPUS")
    val m = EbmlProbe.probe(bytes).get
    assert(m.durationSec == 4500.0 * 1000000.0 / 1e9)
    assert(m.width == 640 && m.height == 480)
    assert(m.videoCodec == "V_VP9" && m.audioCodec == "A_OPUS")
    assert(EbmlProbe.probe("RIFFjunk".getBytes).isEmpty)
    assert(EbmlProbe.probe(null).isEmpty)
    // an mp4 payload is not EBML
    val mp4 = Multimodal.Mp4Probe.encodeMp4(1000, 1000, 320, 240,
      "avc1", "mp4a", 24)
    assert(EbmlProbe.probe(mp4).isEmpty)
    // a bare EBML header with no Segment is junk, not a zero-valued WebM
    val bareHeader = Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte,
      0x80.toByte)
    assert(EbmlProbe.probe(bareHeader).isEmpty)
  }

  test("x48 pipeline: metadata flows from a real EBML walk, no shuffle") {
    val out = Multimodal.probeWebm(Multimodal.webmFromDocs(docs))
    assert(out.count() == 5)
    val r = out.filter(col("media_id") === 4).head
    assert(r.getAs[Double]("duration_sec") ==
      (2000.0 + 4 * 125) * 1000000.0 / 1e9)
    assert(r.getAs[Int]("width") == 256 + (4 % 5) * 128)
    assert(r.getAs[String]("video_codec") == "V_VP9") // even doc_id
    assert(out.queryExecution.executedPlan.toString
      .split("Exchange").length - 1 == 0, "webm probe must not shuffle")
  }

  test("frame-audio probe reads back exactly what the writers encoded") {
    import Multimodal.FrameAudioProbe
    // ADTS: sfi 3 = 48000 Hz, stereo, 3 frames of 20 payload bytes
    val adts = FrameAudioProbe.encodeAdts(sfi = 3, channels = 2,
      nFrames = 3, payloadLen = 20)
    assert(adts.length == 3 * 27)
    val a = FrameAudioProbe.probe(adts).get
    assert(a.format == "aac" && a.sampleRate == 48000 && a.nChannels == 2)
    assert(a.nFrames == 3L)
    assert(a.durationSec == 3 * 1024L.toDouble / 48000)
    assert(a.bitrateBps == adts.length * 8L / a.durationSec)
    // MP3: index 9 = 128 kbit/s, 44100 Hz, mono, 5 frames; spec frame
    // size 144·128000/44100 = 417 (integer division)
    val mp3 = FrameAudioProbe.encodeMp3(bitrateIdx = 9, srIdx = 0,
      mono = true, nFrames = 5)
    assert(mp3.length == 5 * 417)
    val m = FrameAudioProbe.probe(mp3).get
    assert(m.format == "mp3" && m.sampleRate == 44100 && m.nChannels == 1)
    assert(m.nFrames == 5L)
    assert(m.durationSec == 5 * 1152L.toDouble / 44100)
    // junk, truncation, and cross-format payloads all refuse cleanly
    assert(FrameAudioProbe.probe(null).isEmpty)
    assert(FrameAudioProbe.probe("RIFFjunk".getBytes).isEmpty)
    assert(FrameAudioProbe.probe(adts.dropRight(1)).isEmpty)
    assert(FrameAudioProbe.probe(mp3.dropRight(1)).isEmpty)
    val mp4 = Multimodal.Mp4Probe.encodeMp4(1000, 1000, 320, 240,
      "avc1", "mp4a", 24)
    assert(FrameAudioProbe.probe(mp4).isEmpty)
    // a mid-stream sample-rate change is a malformed stream, not a value
    val mixed = adts ++ FrameAudioProbe.encodeAdts(sfi = 4, channels = 2,
      nFrames = 1, payloadLen = 20)
    assert(FrameAudioProbe.probe(mixed).isEmpty)
    // a leading ID3v2 tag (syncsafe size) is skipped, not rejected
    val tagBody = Array.fill[Byte](200)(0x41)
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0,
      0, 0, (200 >> 7).toByte, (200 & 0x7F).toByte) ++ tagBody
    val tagged = FrameAudioProbe.probe(id3 ++ mp3).get
    assert(tagged.format == "mp3" && tagged.nFrames == 5L)
    assert(tagged.bitrateBps == m.bitrateBps, "tag bytes excluded from census")
    assert(FrameAudioProbe.probe(id3).isEmpty, "tag with no frames is junk")
    assert(FrameAudioProbe.probe(id3.take(40)).isEmpty,
      "truncated tag is junk")
    // ID3v2.4 footer flag (0x10): body is followed by a 10-byte '3DI'
    // footer that must ALSO be skipped before the sync test
    val footer = Array[Byte]('3', 'D', 'I', 4, 0, 0,
      0, 0, (200 >> 7).toByte, (200 & 0x7F).toByte)
    val id3f = Array[Byte]('I', 'D', '3', 4, 0, 0x10,
      0, 0, (200 >> 7).toByte, (200 & 0x7F).toByte) ++ tagBody ++ footer
    val footed = FrameAudioProbe.probe(id3f ++ mp3).get
    assert(footed.format == "mp3" && footed.nFrames == 5L,
      "footer bytes must not shadow the first frame sync")
  }

  test("x76 pipeline: metadata flows from a real header walk, no shuffle") {
    val out = Multimodal.probeFrameAudio(Multimodal.frameAudioFromDocs(docs))
    assert(out.count() == 5)
    val r2 = out.filter(col("media_id") === 2).head // even → ADTS, d2 = 1
    assert(r2.getAs[String]("format") == "aac")
    assert(r2.getAs[Int]("sample_rate") == 44100) // sfi 3 + 1%3 = 4
    assert(r2.getAs[Int]("n_channels") == 2)      // 1 + 1%2
    assert(r2.getAs[Long]("n_frames") == 10L)     // 8 + 2%16
    val r3 = out.filter(col("media_id") === 3).head // odd → MP3, d2 = 1
    assert(r3.getAs[String]("format") == "mp3")
    assert(r3.getAs[Int]("sample_rate") == 48000) // srIdx 1%3 = 1
    assert(r3.getAs[Int]("n_channels") == 2)      // d2 odd → stereo
    assert(r3.getAs[Double]("duration_sec") == 11 * 1152L.toDouble / 48000)
    assert(out.queryExecution.executedPlan.toString
      .split("Exchange").length - 1 == 0, "frame-audio probe must not shuffle")
  }

  test("audio features: exact integer statistics over decoded samples") {
    val samples = Array(100, -100, 50, -50, 0, 25)
    val f = Multimodal.AudioCodec.features(
      Multimodal.AudioCodec.Pcm(8000, samples))
    assert(f.zeroCrossings == 4) // sign flips incl. -50→0 (0 counts as +)
    assert(f.peak == 100)
    assert(f.nSamples == 6)
    val sumSq = samples.map(s => s.toLong * s).sum
    assert(f.rms == math.sqrt(sumSq.toDouble / 6))
    assert(f.durationSec == 6.0 / 8000)
  }

  test("x18 pipeline: features flow from a real WAV decode, no shuffle") {
    val out = Multimodal.extractAudioFeatures(Multimodal.audioFromDocs(docs))
    assert(out.count() == 5)
    val r = out.filter(col("media_id") === 1).head
    assert(r.getAs[Int]("sample_rate") == 8000)
    assert(r.getAs[Long]("n_samples") == 408) // 400 + (1 % 32) * 8
    // the formula's sample 0 for doc 1: (31 % 2048) - 1024 = -993
    assert(r.getAs[Long]("peak") <= 1024)
    assert(out.queryExecution.executedPlan.toString
      .split("Exchange").length - 1 == 0, "audio features must not shuffle")
  }

  test("video codec: animated GIF round-trips gray frames losslessly") {
    val frames = (0 until 3).map(k =>
      Array.tabulate(64)(i => ((k * 50 + i * 3) % 251).toByte))
    val gif = Multimodal.VideoCodec.encodeAnimatedGifGray(frames, 8, 8)
    val decoded = Multimodal.VideoCodec.decodeFrames(gif)
    assert(decoded.length == 3)
    decoded.zip(frames).foreach { case (img, expect) =>
      val got = Array.tabulate(64)(i =>
        Multimodal.ImageCodec.lum8(img, i % 8, i / 8).toByte)
      assert(got.sameElements(expect), "gray pixels must survive the GIF")
    }
    assert(Multimodal.VideoCodec.decodeFrames("junk".getBytes).isEmpty)
    assert(Multimodal.VideoCodec.decodeFrames(null).isEmpty)
  }

  test("x19 pipeline: temporal sampling over real decoded frames") {
    val out = Multimodal.sampleVideoFrames(
      Multimodal.videoFromDocs(docs), everyNth = 2)
    assert(out.count() == 10) // 5 docs × frames {0, 2}
    val r = out.filter(col("media_id") === 2 && col("frame_idx") === 2).head
    // Σᵢ ((2·7 + 2·13 + 3i) mod 251) / 64 from the closed form
    val expect = (0 until 64).map(i => (14 + 26 + 3 * i) % 251).sum / 64.0
    assert(r.getDouble(2) == expect)
  }

  test("simhash blocking finds a 6-bit-spread pair that quarter blocks miss") {
    // 6 differing bits, 1-2 in each 16-bit quarter: bits 3, 17, 18, 33, 49, 50.
    // No quarter is clean, so 4x16 blocking (the maxDist<=3 scheme) cannot
    // pair them; bytes 1,3,5,7 are clean, so byte-pair blocking must.
    val base = 0x0123456789ABCDEFL
    val flipped = base ^ ((1L << 3) | (1L << 17) | (1L << 18) |
                          (1L << 33) | (1L << 49) | (1L << 50))
    val fp = Seq((1L, base), (2L, flipped)).toDF("doc_id", "simhash")
    val found = Dedup.simhashNearDupsFromFp(fp, maxDist = 6)
      .select("doc_a", "doc_b", "dist").collect()
    assert(found.length == 1)
    assert(found.head.getLong(0) == 1L && found.head.getLong(1) == 2L)
    assert(found.head.getInt(2) == 6)
    // sanity: the quarter scheme (maxDist=3 path) indeed misses this pair
    assert(Dedup.simhashNearDupsFromFp(fp, maxDist = 3).count() == 0)
  }

  test("simhash blocking at maxDist=7 uses single-byte blocks") {
    // 7 flips spread so exactly one byte (byte 6) stays clean
    val base = 0x0123456789ABCDEFL
    val flips = Seq(0, 9, 18, 27, 36, 45, 63)
    val flipped = base ^ flips.map(1L << _).reduce(_ | _)
    val fp = Seq((1L, base), (2L, flipped)).toDF("doc_id", "simhash")
    assert(Dedup.simhashNearDupsFromFp(fp, maxDist = 7).count() == 1)
  }

  test("jaccard df cap drops ubiquitous shingles but keeps rare-pair signal") {
    // 'x y z' appears in all 4 docs (df=4 > maxDf=3) and must not generate
    // pairs; docs 1/2 still pair through their private shared shingles.
    val d = Seq(
      (1L, "x y z a b c d e"),
      (2L, "x y z a b c d f"),
      (3L, "x y z q r s t u"),
      (4L, "x y z k l m n o")).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(d, shingleK = 3, minJaccard = 0.05, maxDf = 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)))
    // pairs that ONLY shared the ubiquitous prefix disappear under the cap
    assert(!capped.contains((3L, 4L)))
    val uncapped = Dedup.jaccardPairs(d, shingleK = 3, minJaccard = 0.05)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L))) // default cap keeps them
  }

  test("contamination: benchmark members score 1.0, disjoint docs 0.0") {
    // benchmark = docs 1 and 4 (identical text). Doc 2 shares most of its
    // shingles with them; docs 3/5 share none.
    val bench = docs.filter(col("doc_id").isin(1L, 4L))
    val r = Curation.contamination(docs, bench)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L)._3 == 1.0 && r(4L)._3 == 1.0) // self-hit positive control
    assert(r(2L)._3 > 0.5 && r(2L)._3 < 1.0)   // near-dup: high but partial
    assert(r(3L)._3 == 0.0)                    // disjoint content
    assert(r(2L)._2 <= r(2L)._1)               // n_hit ≤ n_sh invariant
  }

  test("hashSample is deterministic and roughly rate-proportional") {
    val big = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = Curation.hashSample(big, 10, 100).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s2 = Curation.hashSample(big, 10, 100).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                        // reproducible, no RNG state
    assert(s1.size > 50 && s1.size < 200)   // ~10% of 1000
    // nesting: pmod < 5 implies pmod < 10, so smaller rates are subsets —
    // the property that makes dev subsets consistent as they grow
    val s3 = Curation.hashSample(big, 5, 100).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
  }

  test("stratifiedSample picks a deterministic, append-stable per-stratum set") {
    val d = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val s1 = Curation.stratifiedSample(d, "source", 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val s2 = Curation.stratifiedSample(d, "source", 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s1 == s2 && s1.size == 30)
    assert(s1.groupBy(_._2).forall(_._2.size == 10)) // exactly 10 per stratum
    // append-stability: a smaller cut is a prefix of the larger one
    val s3 = Curation.stratifiedSample(d, "source", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s3.subsetOf(s1) && s3.size == 15)
  }

  test("lengthQuantiles picks exact rank values (no interpolation)") {
    val d = (1L to 100L).map(i => (i, "en", i * 10)).toDF("doc_id", "lang", "len")
    val r = TextOps.lengthQuantiles(d, "lang", "len").head
    // n=100: ranks ceil(25)=25, 50, 75, 95 → values 250/500/750/950
    assert(r.getString(0) == "en" && r.getLong(1) == 250L &&
      r.getLong(2) == 500L && r.getLong(3) == 750L && r.getLong(4) == 950L)
    // every quantile is an actual data value even at awkward n
    val odd = (1L to 7L).map(i => (i, "de", i)).toDF("doc_id", "lang", "len")
    val ro = TextOps.lengthQuantiles(odd, "lang", "len").head
    // n=7: ceil(1.75)=2, ceil(3.5)=4, ceil(5.25)=6, ceil(6.65)=7
    assert(ro.getLong(1) == 2L && ro.getLong(2) == 4L &&
      ro.getLong(3) == 6L && ro.getLong(4) == 7L)
  }

  test("packSequences assigns docs to budget packs by running token count") {
    // budget 5 tokens; doc order by id within the shard
    val d = Seq(
      (1L, "a", "t1 t2 t3"),      // cum before = 0 → pack 0
      (2L, "a", "t1 t2 t3"),      // cum before = 3 → pack 0 (straddles)
      (3L, "a", "t1 t2"),         // cum before = 6 → pack 1
      (4L, "b", "t1")             // separate shard → pack 0
    ).toDF("doc_id", "source", "text")
    val r = Curation.packSequences(d, "source", 5L)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("repetitionRatio flags looping text and passes varied text") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam"), // 8 bigrams, 1 distinct
      (2L, "one two three four five six seven eight nine"), // all distinct
      (3L, "ab")                                            // < k tokens
    ).toDF("doc_id", "text")
    val r = Curation.repetitionRatio(d, k = 2, maxRatio = 0.5)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r(1L) == ((8L, 1L, 1.0 - 1.0 / 8, false)))
    assert(r(2L) == ((8L, 8L, 0.0, true)))
    assert(r(3L) == ((0L, 0L, 0.0, true))) // no evidence → keep
  }

  test("repetitionSignals: Gopher dup-line + top-2-gram fractions on " +
    "hand-computable docs; gram-less docs survive via the LEFT join") {
    val d = Seq(
      (1L, "aa bb\naa bb\ncc dd"),      // dup line + dominant gram
      (2L, "hello"),                    // 1 token: no 2-gram at all
      (3L, "  spam spam spam"),         // leading ws + looping gram
      (4L, "  x")                       // 1 token AFTER empty-filter
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L), "every doc must surface")
    // doc 1: lines (aa bb)x2 + (cc dd); n=3 distinct=2; chars 15 dup 5;
    // grams: 'aa bb'x2 wins; text len 17
    assert(r(1L).getLong(1) == 3L)
    assert(math.abs(r(1L).getDouble(2) - (1.0 - 2.0 / 3.0)) < 1e-15)
    assert(math.abs(r(1L).getDouble(3) - 5.0 / 15.0) < 1e-15)
    assert(r(1L).getString(4) == "aa bb")
    assert(math.abs(r(1L).getDouble(5) - 2.0 * 5.0 / 17.0) < 1e-15)
    assert(!r(1L).getAs[Boolean]("r_dup_line") && // 1/3 > 0.30
      !r(1L).getAs[Boolean]("keep"))
    // doc 3: one line, zero dup; 'spam spam' covers 2*9/16 > 0.20
    assert(r(3L).getLong(1) == 1L && r(3L).getDouble(2) == 0.0)
    assert(r(3L).getString(4) == "spam spam")
    assert(math.abs(r(3L).getDouble(5) - 2.0 * 9.0 / 16.0) < 1e-15)
    assert(r(3L).getAs[Boolean]("r_dup_line") &&
      !r(3L).getAs[Boolean]("r_top2") && !r(3L).getAs[Boolean]("keep"))
    // docs 2 and 4 have no 2-gram — null gram columns, trivially-
    // passing top2 gate. Doc 4 is the empty-token regression: an
    // unfiltered split would mint the spurious gram ' x' here.
    for (id <- Seq(2L, 4L)) {
      assert(r(id).isNullAt(4), s"doc $id must have null top2_gram")
      assert(r(id).isNullAt(5))
      assert(r(id).getAs[Boolean]("r_top2") && r(id).getAs[Boolean]("keep"))
    }
  }

  /** Reference union-find for the connected-components tests. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches union-find on random graphs") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 15
      val edges = Seq.fill(n)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val expected = unionFind(edges.filter(e => e._1 != e._2))
      val got = Dedup.connectedComponents(
          edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("connectedComponents local and distributed paths agree") {
    // localEdgeThreshold = -1 forces the large/small-star rounds even on
    // a small graph; the default threshold takes the single-task
    // union-find path. Same random graphs through both → identical maps.
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 2) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val df = edges.toDF("doc_a", "doc_b")
      val viaLocal = Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStars = Dedup.connectedComponents(df,
          localEdgeThreshold = -1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaLocal == viaStars, s"trial $trial")
      assert(viaLocal == unionFind(edges.filter(e => e._1 != e._2)),
        s"trial $trial vs reference")
    }
    // chain through the distributed path: diameter 39 >> star rounds
    val chain = (1L until 40L).map(i => (i, i + 1))
    val gotChain = Dedup.connectedComponents(
        chain.toDF("doc_a", "doc_b"), localEdgeThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain.size == 40 && gotChain.values.forall(_ == 1L))
  }

  test("connectedComponents handles chains, cycles, and messy input") {
    // 40-node chain: diameter 39 >> the handful of star rounds — the
    // log-round contraction is what makes this converge, not luck
    val chain = (1L until 40L).map(i => (i, i + 1))
    val gotChain = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain.size == 40 && gotChain.values.forall(_ == 1L))
    // cycle + self-loops + duplicate and reversed pairs + isolated pair
    val messy = Seq((10L, 11L), (11L, 12L), (12L, 10L), (10L, 10L),
      (11L, 10L), (10L, 11L), (20L, 21L))
    val got = Dedup.connectedComponents(messy.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // empty edge list → empty mapping, no iteration blowup
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("repeatedSpans finds maximal duplicated token spans") {
    // doc1 = doc4 (13 tokens): all 6 of their 8-token windows repeat →
    // one maximal span covering the whole doc. doc2 shares the 12-token
    // prefix → its windows 0..4 repeat (3 occurrences each), window 5
    // ("...river bend") is unique → span [0, 11]. doc3 shares nothing;
    // doc5 is shorter than one window.
    val r = Dedup.repeatedSpans(docs, windowK = 8, minCount = 2)
      .collect().map(x => (x.getLong(0),
        (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r.keySet == Set(1L, 2L, 4L))
    assert(r(1L) == ((0L, 12L, 6L)))
    assert(r(4L) == ((0L, 12L, 6L)))
    assert(r(2L) == ((0L, 11L, 5L)))
  }

  test("repeatedSpans merges disjoint repeats into separate spans") {
    // two repeated 4-gram regions separated by unique middles → two
    // maximal spans per doc, not one
    val d = Seq(
      (1L, "a b c d unique1 middle1 filler1 pad1 w x y z"),
      (2L, "a b c d unique2 middle2 filler2 pad2 w x y z")
    ).toDF("doc_id", "text")
    val r = Dedup.repeatedSpans(d, windowK = 4, minCount = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(r.toSeq == Seq((1L, 0L, 3L), (1L, 8L, 11L),
      (2L, 0L, 3L), (2L, 8L, 11L)))
  }

  test("stripRepeatedSpans removes exactly the covered tokens") {
    val spans = Dedup.repeatedSpans(docs, windowK = 8, minCount = 2)
    val cleaned = Dedup.stripRepeatedSpans(docs, spans)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == "" && cleaned(4L) == "")
    assert(cleaned(2L) == "bend") // only the unique 13th token survives
    assert(cleaned(3L) ==
      "completely different content about spark query engines and data")
    assert(cleaned(5L) == "unrelated short text")
  }

  test("stripRepeatedSpans aligns span indexes on Unicode whitespace") {
    // U+3000 ideographic space and U+2028 line separator are token
    // boundaries for Character.isWhitespace (hence for repeatedSpans'
    // window positions) but NOT for an ASCII \s+ split — a mismatched
    // re-tokenization removes the wrong tokens here
    val d = Seq(
      (1L, "u1　a b c d e f u2 u3"),
      (2L, "v1 v2　a b c d e f v3 v4")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, windowK = 6, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the shared run "a b c d e f" is tokens 1..6 of doc 1, 2..7 of doc 2
    assert(spans.sortBy(_._1) == Seq((1L, 1L, 6L), (2L, 2L, 7L)))
    val cleaned = Dedup.stripRepeatedSpans(d, d.sparkSession.createDataFrame(
        d.sparkSession.sparkContext.parallelize(spans.map(s =>
          org.apache.spark.sql.Row(s._1, s._2, s._3, 1L))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("span_start",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("span_end",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_windows",
            org.apache.spark.sql.types.LongType)))))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == "u1 u2 u3")
    assert(cleaned(2L) == "v1 v2 v3 v4")
  }

  test("exactSubstrStrip keeps exactly ONE copy of every repeated " +
    "span — the first (doc_id, pos) occurrence owns it") {
    // the shared fixture: doc1 = doc4 verbatim, doc2 shares the
    // 12-token prefix; under owner election doc1 (lowest id) keeps
    // everything, doc2 and doc4 lose their shared spans
    val r = Dedup.exactSubstrStrip(docs, windowK = 8)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r.size == 5) // every doc survives, even fully-stripped ones
    val full = docs.collect()
      .map(x => x.getLong(0) -> x.getString(1).toLowerCase).toMap
    // doc1 owns every window it shares: nothing removed
    assert(r(1L)._2 == 0L && r(1L)._3 == full(1L))
    // doc4 is a verbatim copy: everything removed
    assert(r(4L)._2 == r(4L)._1 && r(4L)._3 == "")
    // doc2 loses its shared 12-token prefix, keeps the unique tail
    assert(r(2L)._2 == 12L && r(2L)._3 == "bend")
    // unique docs untouched (doc5 is shorter than one window)
    assert(r(3L)._2 == 0L && r(5L)._2 == 0L)
    // corpus-wide: exactly one copy of the shared material remains
    val survivors = Seq(1L, 2L, 4L).map(r(_)._3).mkString(" ")
    assert(survivors.split("\\s+").count(_ == "the") ==
      full(1L).split("\\s+").count(_ == "the"))
  }

  test("exactSubstrStrip elects the earliest occurrence WITHIN a doc " +
    "too: an in-document repeat keeps its first copy") {
    import spark.implicits._
    val d = Seq(
      (7L, "p q r s t u v w x p q r s t u v w x tail1 tail2"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrStrip(d, windowK = 8).collect().head
    // 20 tokens; the second 9-token copy strips, the first stays.
    // Window resolution: removable windows start at 9 (the second
    // "p q r s ..." run), so tokens 9..17 go
    assert(got.getLong(1) == 20L)
    assert(got.getLong(2) == 9L)
    assert(got.getString(3) == "p q r s t u v w x tail1 tail2")
  }

  test("ccnetBuckets: per-language terciles by score group; ties " +
    "never straddle a bucket boundary") {
    import spark.implicits._
    // six 'en' docs with six distinct fluency levels (more repeated
    // bigrams -> lower mean inverse probability -> head), plus one
    // 'de' doc (its own language: bucket must be computed per lang)
    val base = "the cat sat on the mat and the cat ran to the mat"
    val docs = Seq(
      (1L, "en", base + " " + base),                 // most fluent
      (2L, "en", base),
      (3L, "en", base + " zig1 zag1"),
      (4L, "en", base + " zig2 zag2 zog2 zug2"),
      (5L, "en", "zip3 zap3 zop3 zup3 zep3 " + base),
      (6L, "en", "a1 b1 c1 d1 e1 f1 g1 h1 i1 j1 k1 l1"), // all-unique
      (7L, "de", "der hund lief zum haus und der hund lief"))
      .toDF("doc_id", "lang", "text")
    val r = Curation.ccnetBuckets(docs)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(4), x.getDouble(3)))).toMap
    assert(r.size == 7)
    // per-language: the lone 'de' doc is its whole distribution ->
    // cum*3 <= n fails (3 > 1), middle fails (3 > 2) -> tail
    assert(r(7L)._1 == "tail")
    // en: 6 docs, 2 per tercile in score order
    val enByScore = (1L to 6L).map(id => id -> r(id)).sortBy(_._2._2)
    val buckets = enByScore.map(_._2._1)
    assert(buckets == Seq("head", "head", "middle", "middle",
      "tail", "tail"), s"got $enByScore")
    // tie case: two identical docs share a score group -> same bucket
    // even when a per-row rank would split them across a boundary
    val tied = Seq(
      (1L, "en", base), (2L, "en", base), (3L, "en", base),
      (4L, "en", base + " q1 q2 q3 q4 q5 q6"))
      .toDF("doc_id", "lang", "text")
    val tr = Curation.ccnetBuckets(tied)
      .collect().map(x => x.getLong(0) -> x.getString(4)).toMap
    // the tied group (cum 3 of n=4): 3·3 > 4 and 3·3 > 8 -> the WHOLE
    // group is tail (a per-row rank would have split it head/middle/
    // tail); doc4 (cum 4) is tail too
    assert(tr(1L) == "tail" && tr(2L) == "tail" && tr(3L) == "tail")
    assert(tr(4L) == "tail")
  }

  test("ccnet thresholds: full-corpus cutoffs reproduce the group-" +
    "rule assignment, num=den sampling is the identity, and a NULL " +
    "cutoff falls through to tail") {
    import spark.implicits._
    val base = "the cat sat on the mat and the cat ran to the mat"
    val cdocs = Seq(
      (1L, "en", base + " " + base),
      (2L, "en", base),
      (3L, "en", base + " zig1 zag1"),
      (4L, "en", base + " zig2 zag2 zog2 zug2"),
      (5L, "en", "zip3 zap3 zop3 zup3 zep3 " + base),
      (6L, "en", "a1 b1 c1 d1 e1 f1 g1 h1 i1 j1 k1 l1"),
      (7L, "de", "der hund lief zum haus und der hund lief"),
      (8L, "en", base))                     // ties doc 2's score
      .toDF("doc_id", "lang", "text")
    val scored = TextOps.knScore(cdocs, 2)
    val grouped = Curation.ccnetBucketsScored(scored, cdocs,
        scoreCol = "kn_score", cntCol = "n_bigrams")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    // the group rule replayed on the driver over the collected
    // (lang, ppl) rows: per language, a score group is head iff its
    // inclusive cumulative count has 3·cum ≤ n, middle iff 3·cum ≤ 2n
    val sl = scored.withColumn("ppl", round(col("kn_score"), 9))
      .join(cdocs.select("doc_id", "lang"), Seq("doc_id"))
    val rows = sl.select("doc_id", "lang", "ppl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val replay = rows.groupBy(_._2).values.flatMap { lang =>
      val n = lang.length
      val cum = lang.groupBy(_._3).toSeq.sortBy(_._1)
        .scanLeft(0.0 -> 0) { case ((_, c), (ppl, g)) => ppl -> (c + g.length) }
        .toMap
      lang.map { case (id, _, ppl) =>
        id -> (if (3 * cum(ppl) <= n) "head"
               else if (3 * cum(ppl) <= 2 * n) "middle" else "tail")
      }
    }.toMap
    assert(grouped == replay, s"kernel $grouped vs replay $replay")
    assert(replay.values.toSet == Set("head", "middle", "tail"))
    // the tie: one score group, one bucket
    val ppl = rows.map(r => r._1 -> r._3).toMap
    assert(ppl(2L) == ppl(8L) && grouped(2L) == grouped(8L))
    // the lone-doc language: no group fits a third -> NULL cutoffs ->
    // the apply rule lands it in tail, as the group rule does
    val thr = Curation.ccnetThresholds(sl)
    val thrDe = thr.filter(col("lang") === "de").collect()
    assert(thrDe.length == 1 && thrDe.head.isNullAt(1) &&
      thrDe.head.isNullAt(2), "de cutoffs should be NULL")
    assert(grouped(7L) == "tail")
    // sampling at num = den keeps every document in the census: the
    // sampled composition degenerates to the full threshold form
    val all = Curation.ccnetBucketsSampledScored(scored, cdocs,
        scoreCol = "kn_score", cntCol = "n_bigrams",
        num = 100, den = 100)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(all == replay, s"num=den $all vs replay $replay")
    // an empty threshold table (language never sampled) -> all tail
    val noThr = Seq.empty[(String, Double, Double)]
      .toDF("lang", "t_head", "t_mid")
    val tails = Curation.ccnetApplyThresholds(sl, noThr)
      .select("bucket").distinct().collect().map(_.getString(0)).toSet
    assert(tails == Set("tail"))
  }

  test("hllVocabEstimate: exact count rides the register shuffle, " +
    "the estimate lands in the 1.04/sqrt(m) band, and duplicates " +
    "cannot move a register") {
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      val toks = (0 until 25).map(j => s"tok${i * 25 + j}").mkString(" ")
      (i.toLong, toks)
    }.toDF("doc_id", "text")
    val r = TextOps.hllVocabEstimate(docs, p = 10).collect().head
    assert(r.getAs[Long]("m") == 1024L)
    assert(r.getAs[Long]("exact_distinct") == 5000L)
    // sigma = 1.04/sqrt(1024) = 3.25%; assert within ~3 sigma
    assert(math.abs(r.getAs[Double]("rel_err")) < 0.10,
      s"estimate ${r.getAs[Double]("estimate")} off by ${r.getAs[Double]("rel_err")}")
    // registers are max-folds: repeating every token changes nothing
    val doubled = docs.withColumn("text",
      concat(col("text"), lit(" "), col("text")))
    val r2 = TextOps.hllVocabEstimate(doubled, p = 10).collect().head
    assert(r2.getAs[Double]("estimate") == r.getAs[Double]("estimate"))
    assert(r2.getAs[Long]("exact_distinct") == 5000L)
  }

  test("crossSourceDupMatrix: unordered source pairs, diagonal = " +
    "intra-source load") {
    // shared fixture clusters {1,2,4}; sources: 1,2 -> web; 3,4,5 -> books
    val d = docs.withColumn("source",
      when(col("doc_id") <= 2, "web").otherwise("books"))
    val r = Curation.crossSourceDupMatrix(d)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getDouble(3)))).toMap
    // pairs: (1,2) web-web; (1,4) and (2,4) web-books
    assert(r(("web", "web"))._1 == 1L)
    assert(r(("books", "web"))._1 == 2L)
    assert(r(("books", "web"))._2 == 1.0) // the exact dup pair (1,4)
    assert(r.size == 2)
  }

  test("decontaminateSpans strips exactly the benchmark-overlapping " +
    "span and keeps the rest of the document") {
    import spark.implicits._
    val bench = Seq((100L, "the exam answer is forty two exactly"))
      .toDF("doc_id", "text")
    val pool = Seq(
      (1L, "intro words then the exam answer is forty two exactly and " +
        "more tail content"),
      (2L, "completely clean document with no overlap at all"))
      .toDF("doc_id", "text")
    val r = Curation.decontaminateSpans(pool, bench, shingleK = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // doc 1: windows 3..7 hit -> one span over tokens 3..9 (the whole
    // quoted sentence); the intro and tail survive
    assert(r(1L) == ((14L, 7L, "intro words then and more tail content")),
      s"doc1: ${r(1L)}")
    // doc 2 untouched
    assert(r(2L)._2 == 0L &&
      r(2L)._3 == "completely clean document with no overlap at all")
  }

  test("c4LineFilters: terminal punctuation, min words, javascript " +
    "line rule; lorem ipsum / brace / min-lines page rules") {
    import spark.implicits._
    val d = Seq(
      (1L, "This line is long enough.\nshort.\nNo terminal punct here\n" +
        "Please enable JavaScript to view.\nAnother good line here!\n" +
        "A third good line stays?\nHe said \"fine.\""),
      (2L, "Lorem ipsum dolor sit amet.\nSecond proper line here.\n" +
        "Third proper line here.\nFourth proper line here."),
      (3L, "function f() { return 1; }\nGood line one stays here.\n" +
        "Good line two stays here.\nGood line three stays here."),
      (4L, "Only one good line here.\nnope\nnope again"))
      .toDF("doc_id", "text")
    val r = Curation.c4LineFilters(d, minWordsPerLine = 3).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getString(3), x.getBoolean(4)))).toMap
    // doc 1: 7 lines; drops = "short." (2 words), "No terminal punct
    // here", the JavaScript line -> 4 kept, page keeps
    assert(r(1L)._1 == 7L && r(1L)._2 == 4L && r(1L)._4,
      s"doc1: ${r(1L)}")
    assert(r(1L)._3.split("\n").toSeq == Seq(
      "This line is long enough.", "Another good line here!",
      "A third good line stays?", "He said \"fine.\""))
    // doc 2: 4 kept lines but the lorem ipsum phrase kills the page
    assert(r(2L)._2 == 4L && !r(2L)._4)
    // doc 3: the brace kills the page (3 good lines notwithstanding)
    assert(r(3L)._2 == 3L && !r(3L)._4)
    // doc 4: only 1 kept line < 3 -> page drops
    assert(r(4L)._2 == 1L && !r(4L)._4)
  }

  test("dedupProducts fuses component map, census, and kept split") {
    import spark.implicits._
    // reuse the shared fixture clusters ({1,2,4} rep 1; 3,5 unclustered)
    // but attach sources: 1,2 -> "web", 3,4,5 -> "books"
    val d = docs.withColumn("source",
      when(col("doc_id") <= 2, "web").otherwise("books"))
    val r = Dedup.dedupProducts(d, shingleK = 3, minJaccard = 0.4)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
         if (x.isNullAt(5)) -1L else x.getLong(5))).toMap
    // web: docs {1,2}; kept {1} (2 is a member), removed {2}; rep 1 lives
    // here, cluster size 3
    assert(r("web") == ((2L, 1L, 1L, 1L, 3L)))
    // books: docs {3,4,5}; kept {3,5}, removed {4}; no rep -> null max
    assert(r("books") == ((3L, 2L, 1L, 0L, -1L)))
  }

  test("dedupCorpus keeps cluster representatives and untouched docs") {
    // docs 1,2 near-dup and 1,4 exact-dup → one cluster {1,2,4}, rep 1
    val edges = Dedup.jaccardPairs(docs, shingleK = 3, minJaccard = 0.4)
      .select("doc_a", "doc_b")
    val kept = Dedup.dedupCorpus(docs, edges)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("vocabCoverage: deterministic vocab cut, per-doc OOV rate") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa aa aa bb bb cc"), // aa:3 bb:2 cc:1
      (2L, "aa bb zz yy")        // zz:1 yy:1
    ).toDF("doc_id", "text")
    // counts: aa=4 bb=3 cc=1 yy=1 zz=1 → top-3 vocab = {aa, bb, cc}
    // (ties at cnt=1 break by token order: cc < yy < zz)
    val r = TextOps.vocabCoverage(d, vocabSize = 3)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((6L, 0L, 0.0)))
    assert(r(2L) == ((4L, 2L, 0.5))) // zz, yy out of vocab
  }

  test("shuffleShards: partition-invariant, contiguous positions, " +
       "order decorrelated from id order") {
    import spark.implicits._
    val d = (0L until 256L).toDF("doc_id")
    def run(parts: Int) = Curation.shuffleShards(d.repartition(parts), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(1)
    assert(a == run(13)) // no RNG state → partitioning cannot matter
    // every shard's positions are exactly 1..count
    val byShard = a.groupBy(_._2)
    assert(byShard.size == 8)
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_._3) == (1L to rows.size).toSet)
    }
    // the within-shard order must not be id order (the whole point)
    val shard0 = byShard(a.head._2).toSeq.sortBy(_._3).map(_._1)
    assert(shard0 != shard0.sorted)
  }

  test("salientTerms ranks by tf/df with deterministic tiebreak") {
    val d = Seq(
      (1L, "alpha alpha beta common"),
      (2L, "beta beta gamma common"),
      (3L, "common common delta gamma")
    ).toDF("doc_id", "text")
    val r = TextOps.salientTerms(d, topN = 2)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getDouble(4)))
    val byDoc = r.groupBy(_._1).view.mapValues(_.sortBy(_._5)(Ordering[Double].reverse))
    // doc 1: alpha tf=2 df=1 → 2.0 best; beta tf=1 df=2 → 0.5 beats
    // common (tf=1 df=3 → 1/3)
    assert(byDoc(1L).map(t => t._2).toSeq == Seq("alpha", "beta"))
    assert(byDoc(1L).head._5 == 2.0)
    // doc 2: beta tf=2 df=2 → 1.0; gamma tf=1 df=2 → 0.5
    assert(byDoc(2L).map(_._2).toSeq == Seq("beta", "gamma"))
    // doc 3: common tf=2 df=3 → 2/3; delta tf=1 df=1 → 1.0 ranks first
    assert(byDoc(3L).map(_._2).toSeq == Seq("delta", "common"))
  }

  test("boilerplateNgrams counts document frequency, not occurrences") {
    val d = Seq(
      (1L, "click here to subscribe click here to subscribe"), // gram repeats in-doc
      (2L, "click here to unsubscribe"),
      (3L, "nothing shared at all")
    ).toDF("doc_id", "text")
    val r = TextOps.boilerplateNgrams(d, k = 3, topN = 5)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("click here to") == 2L) // docs 1 and 2 — NOT 3 occurrences
    assert(r("here to subscribe") == 1L)
    assert(r.size == 5)
  }

  test("bm25Search ranks term-dense short docs first, drops non-matches") {
    val d = Seq(
      (1L, "spark spark spark tiny"),            // dense + short
      (2L, "spark appears once in a much longer document about other things entirely here"),
      (3L, "table table query"),                 // two query terms
      (4L, "nothing relevant whatsoever")        // no match → dropped
    ).toDF("doc_id", "text")
    val r = TextOps.bm25Search(d, Seq("spark", "table", "query"), topN = 10)
      .collect().map(x => (x.getLong(0), x.getDouble(2)))
    assert(r.map(_._1).toSet == Set(1L, 2L, 3L)) // doc 4 filtered
    // doc 1 (tf=3, dl=4) must outscore doc 2 (tf=1, long)
    val byId = r.toMap
    assert(byId(1L) > byId(2L))
    // scores strictly positive and sorted descending
    assert(r.map(_._2).toSeq == r.map(_._2).sorted(Ordering[Double].reverse).toSeq)
  }

  test("inverseSqrtSample thins big strata, passes small ones whole") {
    val d = (0L until 2000L).map(i =>
      (i, if (i < 1600) "big" else "small", s"t$i")).toDF("doc_id", "source", "text")
    val r = Curation.inverseSqrtSample(d, "source", target = 4.0)
    val bySrc = r.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // small stratum: 4/sqrt(400)=0.2 → ~80 kept; big: 4/sqrt(1600)=0.1 → ~160
    assert(bySrc("big") > 100 && bySrc("big") < 220)
    assert(bySrc("small") > 50 && bySrc("small") < 115)
    // deterministic: identical keep-set on re-run
    val again = Curation.inverseSqrtSample(d, "source", target = 4.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == r.select("doc_id").collect().map(_.getLong(0)).toSet)
    // target large enough → whole strata pass
    assert(Curation.inverseSqrtSample(d, "source", target = 100.0).count() == 2000)
  }

  test("curationPipeline: each gate drops its target, survivors pass all") {
    val en = "the cat and the dog went to the market in town for food and water was there"
    val corpus = Seq(
      (1L, en + " extra words here", "web", "keeper"),          // survives
      (2L, "le chat est dans la maison pour le moment et pas une", "web", "french"), // lang gate
      (3L, "spam spam spam spam spam spam spam spam spam spam", "web", "repeat"), // repetition gate
      (4L, en + " extra words here too", "web", "neardup"),     // near-dup of 1 → cluster, rep kept is min id
      (5L, en + " benchmark copy", "bench", "contaminated")     // high overlap with benchmark
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val bench = corpus.filter(col("source") === "bench")
    val kept = Curation.curationPipeline(corpus, bench,
        keepLang = "en", minQuality = 0.3, maxRep = 0.5,
        maxContam = 0.6, minJaccard = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L), "the clean English doc must survive")
    assert(!kept.contains(2L), "French doc must fail the language gate")
    assert(!kept.contains(3L), "looping doc must fail the repetition gate")
    assert(!kept.contains(4L), "near-dup cluster member must be dropped (rep = min id 1)")
    assert(!kept.contains(5L), "benchmark-overlapping doc must be dropped")
  }

  test("AVI codec: uncompressed-DIB round trip is lossless, incl. padding") {
    // width 6 → stride 8: exercises the row padding and bottom-up flip
    val frames = Seq(
      Array.tabulate(6 * 4)(i => (i * 11 % 256).toByte),
      Array.tabulate(6 * 4)(i => (255 - i * 7 % 256).toByte))
    val avi = Multimodal.AviCodec.encodeAviGray(frames, 6, 4, fps = 25)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF" &&
           new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val dec = Multimodal.AviCodec.decodeAviGray(avi).get
    assert(dec.width == 6 && dec.height == 4 && dec.fps == 25)
    assert(dec.frames.length == 2)
    assert(dec.frames(0).toSeq == frames(0).toSeq)
    assert(dec.frames(1).toSeq == frames(1).toSeq)
  }

  test("AVI decoder probes, never crashes: junk, GIF, and truncation") {
    assert(Multimodal.AviCodec.decodeAviGray(null).isEmpty)
    assert(Multimodal.AviCodec.decodeAviGray("not an avi at all".getBytes).isEmpty)
    val gif = Multimodal.VideoCodec.encodeAnimatedGifGray(
      Seq(Array.fill(64)(7.toByte)), 8, 8)
    assert(Multimodal.AviCodec.decodeAviGray(gif).isEmpty)
    val avi = Multimodal.AviCodec.encodeAviGray(
      Seq(Array.fill(64)(9.toByte)), 8, 8)
    // truncated container: the walk stops at the malformed chunk
    assert(Multimodal.AviCodec.decodeAviGray(
      java.util.Arrays.copyOf(avi, avi.length / 3)).isEmpty)
  }

  test("x54 pipeline: temporal sampling over real decoded AVI frames") {
    val media = Multimodal.aviFromDocs(docs, nFrames = 4)
    val r = Multimodal.sampleAviFrames(media, everyNth = 2).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x.getDouble(2)).toMap
    assert(r.size == 10) // 5 docs × frames {0, 2}
    // closed form: mean of (doc_id*11 + k*17 + i*5) % 241 over i < 64
    for (((id, k), lum) <- r) {
      val want = (0 until 64).map(i => (id * 11 + k * 17 + i * 5) % 241).sum / 64.0
      assert(lum == want, s"doc $id frame $k")
    }
    // everyNth must be validated on the driver, not explode in a task
    intercept[IllegalArgumentException](Multimodal.sampleAviFrames(media, 0))
    intercept[IllegalArgumentException](Multimodal.sampleVideoFrames(media, 0))
  }

  /** Reference perceptual hashes straight from the pixel definition (text
    * byte i, zero-padded to 64) — what imageHashes must reproduce through
    * the PNG encode→ImageIO decode→resample path. */
  private def refHashes(text: String): (Long, Long, Long) = {
    val bs = text.getBytes("UTF-8")
    val pix = Array.tabulate(64)(i => if (i < bs.length) bs(i) & 0xFF else 0)
    val sum = pix.sum
    var hi = 0L; var lo = 0L
    for (i <- 0 until 64 if pix(i) * 64 > sum)
      if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
    var dh = 0L
    for (y <- 0 until 8; x <- 0 until 7 if pix(y * 8 + x + 1) > pix(y * 8 + x))
      dh |= 1L << (y * 7 + x)
    (hi, lo, dh)
  }

  test("image perceptual hashes match the pixel definition through the codec") {
    val hashes = Multimodal.imageHashes(Multimodal.mediaFromDocs(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(hashes.size == 5)
    for ((id, text) <- docs.collect().map(r => (r.getLong(0), r.getString(1))))
      assert(hashes(id) == refHashes(text), s"hash mismatch for doc $id")
    // exact-dup payloads (docs 1 and 4) → identical hashes
    assert(hashes(1L) == hashes(4L))
    // near-dup text (doc 2 differs from doc 1 only in the final word,
    // inside the 64-byte pixel window) → small aHash distance
    val d = java.lang.Long.bitCount(hashes(1L)._1 ^ hashes(2L)._1) +
            java.lang.Long.bitCount(hashes(1L)._2 ^ hashes(2L)._2)
    assert(d >= 0 && d <= 8, s"near-dup aHash distance out of range: $d")
  }

  test("image hashes resample non-8x8 images to the canonical grid") {
    // 16×16 image that nearest-neighbor-samples to the same 8×8 grid as
    // a reference 8×8 image: pixel (2x, 2y) carries the value
    val small = Array.tabulate(64)(i => ((i * 37) % 251).toByte)
    val big = Array.tabulate(256) { i =>
      val (y, x) = (i / 16, i % 16)
      small((y / 2) * 8 + (x / 2))
    }
    val media = Seq(
      (1L, "image", Multimodal.ImageCodec.encodeGrayPng(small, 8, 8)),
      (2L, "image", Multimodal.ImageCodec.encodeGrayPng(big, 16, 16))
    ).toDF("media_id", "kind", "payload")
    val h = Multimodal.imageHashes(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(h(1L) == h(2L), "16×16 upscale must hash identically to its 8×8 source")
  }

  test("image near-dup: banded search equals brute force, finds exact dups") {
    val hashes = Multimodal.imageHashes(Multimodal.mediaFromDocs(docs))
    val got = Multimodal.imageNearDups(hashes, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same hashes
    val hs = hashes.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == brute, s"blocked=$got brute=$brute")
    assert(got.exists { case (a, b, d) => a == 1L && b == 4L && d == 0 })
  }

  /** Reference fingerprint straight from the sample definition (text
    * byte i zero-padded to 200, 65 frames, integer energies). */
  private def refAudioFp(text: String): (Long, Long) = {
    val bs = text.getBytes("UTF-8")
    val s = Array.tabulate(200)(i => if (i < bs.length) bs(i) & 0xFF else 0)
    val e = Array.tabulate(65) { k =>
      (k * 200 / 65 until (k + 1) * 200 / 65).map(i => s(i).toLong * s(i)).sum
    }
    var hi = 0L; var lo = 0L
    for (k <- 0 until 64 if e(k + 1) > e(k))
      if (k >= 32) hi |= 1L << (k - 32) else lo |= 1L << k
    (hi, lo)
  }

  test("audio fingerprints match the sample definition through the codec") {
    val fps = Multimodal.audioFingerprints(
        Multimodal.audioFromTextDocs(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fps.size == 5)
    for ((id, text) <- docs.collect().map(r => (r.getLong(0), r.getString(1))))
      assert(fps(id) == refAudioFp(text), s"fingerprint mismatch for doc $id")
    // identical audio (docs 1 and 4) → identical fingerprints
    assert(fps(1L) == fps(4L))
    // uniform gain (doubling every sample) preserves the envelope SHAPE
    val doubled = Multimodal.AudioCodec.encodeWavPcm16(
      Array.tabulate(200) { i =>
        val bs = docs.head.getString(1).getBytes("UTF-8")
        2 * (if (i < bs.length) bs(i) & 0xFF else 0)
      }, 8000)
    import spark.implicits._
    val g = Multimodal.audioFingerprints(
      Seq((9L, "audio", doubled)).toDF("media_id", "kind", "payload")).head
    assert((g.getLong(1), g.getLong(2)) == fps(1L))
  }

  test("audio near-dup: banded search equals brute force, dups at zero") {
    val fps = Multimodal.audioFingerprints(
      Multimodal.audioFromTextDocs(docs))
    val got = Multimodal.audioNearDups(fps, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hs = fps.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == brute, s"blocked=$got brute=$brute")
    assert(got.exists { case (a, b, d) => a == 1L && b == 4L && d == 0 })
  }

  test("cross-modal audit: flags agree with the standalone pair searches") {
    val r = Multimodal.crossModalAudit(docs, minJaccard = 0.4, maxDist = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getBoolean(2), x.getBoolean(3))).toMap
    val tp = Dedup.jaccardPairs(docs, shingleK = 3, minJaccard = 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ip = Multimodal.imageNearDups(
        Multimodal.imageHashes(Multimodal.mediaFromDocs(docs)), 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.keySet == (tp ++ ip) && r.nonEmpty)
    for ((k, (t, i)) <- r) {
      assert(t == tp.contains(k), s"text flag wrong for $k")
      assert(i == ip.contains(k), s"image flag wrong for $k")
    }
    // docs 1 and 4 are exact dups in BOTH modalities
    assert(r((1L, 4L)) == ((true, true)))
  }

  test("image-corpus dedup: cluster completed, min-id representative kept") {
    // docs 1 and 4 are exact payload dups → one cluster {1, 4}, keep 1
    val kept = Multimodal.dedupImages(Multimodal.mediaFromDocs(docs))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(4L))
    assert(kept.contains(3L) && kept.contains(5L)) // non-dups survive
  }

  test("hash embeddings: dims from the repo hash family, exact L2 norm") {
    val r = Similarity.hashEmbed(docs, dim = 64).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2))
      .toMap
    // replay directly through the same hash kernel
    for ((id, text) <- docs.collect().map(x => (x.getLong(0), x.getString(1)))) {
      val hs = graft.functions.ShingleHashes.shingleHashesAll(text, 1)
      val cnt = hs.groupBy(h => java.lang.Math.floorMod(h, 64L))
        .view.mapValues(_.length.toLong).toMap
      val ss = cnt.values.map(c => c * c).sum
      for ((d, c) <- cnt)
        assert(r((id, d)) == c.toDouble / math.sqrt(ss.toDouble),
          s"doc $id dim $d")
      // unit L2 norm (up to float rounding); toSeq — a Set.map would
      // collapse the equal w² of count-1 dims
      val norm = cnt.keys.toSeq.map(d => r((id, d)) * r((id, d))).sum
      assert(math.abs(norm - 1.0) < 1e-12)
    }
    // identical docs (1 and 4) → identical vectors
    assert(r.collect { case ((1L, d), w) => d -> w }.toMap ==
           r.collect { case ((4L, d), w) => d -> w }.toMap)
  }

  test("hash ANN: engine top-k equals the driver-side replay, fold-exact") {
    val query = "the quick fox and spark data"
    val got = Similarity.hashAnnTopK(docs, query, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // replay: sparse dot of unit vectors, folded in dim order from 0.0
    val qw = Similarity.queryWeights(query, 64)
    val expect = docs.collect().map { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val hs = graft.functions.ShingleHashes.shingleHashesAll(text, 1)
      val cnt = hs.groupBy(h => java.lang.Math.floorMod(h, 64L))
        .view.mapValues(_.length.toLong).toMap
      val norm = math.sqrt(cnt.values.map(c => c * c).sum.toDouble)
      val score = cnt.toSeq.sortBy(_._1)
        .collect { case (d, c) if qw.contains(d) =>
          (c.toDouble / norm) * qw(d) }
        .foldLeft(0.0)(_ + _)
      (id, score)
    }.filter(_._2 != 0.0).sortBy { case (id, s) => (-s, id) }.take(5)
    assert(got.toSeq == expect.toSeq, s"got=${got.toSeq}\nexpect=${expect.toSeq}")
    assert(got.nonEmpty)
  }

  test("bigram LM score: closed-form smoothed inverse probabilities") {
    val tiny = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c c"))
      .toDF("doc_id", "text")
    // c2: (a,b)=3, (b,a)=1, (c,c)=1; c1: a=3, b=1, c=1; V=3
    // doc1: 2·(3+3)/(3+1) + (1+3)/(1+1) = 3 + 2 = 5 over n=3
    // doc2: (3+3)/(3+1) = 1.5 over n=1;  doc3: (1+3)/(1+1) = 2 over n=1
    val r = TextOps.bigramLmScore(tiny).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) == ((3L, 5.0 / 3)))
    assert(r(2L) == ((1L, 1.5)))
    assert(r(3L) == ((1L, 2.0)))
  }

  test("pps sample: deterministic, weight-proportional, heavy doc certain") {
    val corpus = Seq(
      (1L, 10), (2L, 10), (3L, 10), (4L, 10), (5L, 100000)
    ).toDF("doc_id", "w")
    // doc 5 carries >~expected·w/W ≥ 1 of the mass → always included
    val s1 = Curation.ppsSample(corpus, "w", 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s2 = Curation.ppsSample(corpus, "w", 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "PPS draw must be deterministic")
    assert(s1.contains(5L), "probability-1 doc must always be included")
    // replay the rule directly through the same hash expression
    val w = Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L, 5L -> 100000L)
    val total = w.values.sum
    val mixed = corpus.select(col("doc_id"),
        graft.functions.HashExprs.mix64_col(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = w.keys.filter { id =>
      java.lang.Math.floorMod(mixed(id), total) < w(id) * 2
    }.toSet
    assert(s1 == expect)
  }

  test("pps sample: an all-zero-weight corpus yields empty, not an error") {
    val corpus = Seq((1L, 0), (2L, 0)).toDF("doc_id", "w")
    assert(Curation.ppsSample(corpus, "w", 5).count() == 0)
  }

  test("token-budget mix: under-budget strata pass whole, heavy strata cut") {
    val corpus = Seq(
      (1L, "en", "a b c"), (2L, "en", "d e"),                  // 5 tokens
      (3L, "de", "w x y z " * 50 + "end"), (4L, "de", "k l m n o " * 40)
    ).toDF("doc_id", "lang", "text")
    val kept = Curation.tokenBudgetMix(corpus, "lang", budget = 10L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // en total (5) ≤ budget → both docs survive unconditionally
    assert(kept.contains(1L) && kept.contains(2L))
    // de total (hundreds of tokens) > budget → the draw applies;
    // replay the rule to pin exactly which de docs survive
    val de = corpus.filter(col("lang") === "de")
    val deTotal = de.select(
        sum(TextOps.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    assert(deTotal > 10L)
    val mixed = de.select(col("doc_id"),
        graft.functions.HashExprs.mix64_col(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deKept = mixed.keys.filter(id =>
      java.lang.Math.floorMod(mixed(id), deTotal) < 10L).toSet
    assert((kept - 1L - 2L) == deKept)
    // deterministic
    val again = Curation.tokenBudgetMix(corpus, "lang", budget = 10L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("doc chunking: overlapping windows cover the doc, no redundant tail") {
    val tiny = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "a b"),
      (3L, "   ")) // no tokens → no chunks
      .toDF("doc_id", "text")
    val r = Curation.chunkDocs(tiny, chunkTokens = 4, overlap = 1)
      .collect().map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getInt(2), x.getString(3))).toMap
    // starts 0, 3, 6 (start < n − overlap = 9): full coverage, each new
    // window adds tokens, and no fully-contained trailing chunk
    assert(r.keySet == Set((1L, 0), (1L, 1), (1L, 2), (2L, 0)))
    assert(r((1L, 0)) == ((4, "t1 t2 t3 t4")))
    assert(r((1L, 1)) == ((4, "t4 t5 t6 t7")))
    assert(r((1L, 2)) == ((4, "t7 t8 t9 t10")))
    assert(r((2L, 0)) == ((2, "a b")))
  }

  test("StringShingles: distinct grams, first-occurrence order, short-doc empty") {
    import graft.functions.StringShingles
    assert(StringShingles.stringShingles("A  b\tA b c", 2).toSeq ==
      Seq("a b", "b a", "b c"))
    assert(StringShingles.stringShingles("one two", 3).isEmpty)
    // population parity with the hashed tier: same count per doc
    val s = "the quick brown fox jumps over the quick brown fox"
    assert(StringShingles.stringShingles(s, 3).length ==
      graft.functions.ShingleHashes.shingleHashes(s, 3).length)
  }

  test("perplexity buckets: per-lang terciles, monotone in score, exact sizes") {
    // 6 scored docs per lang -> exactly 2 head, 2 middle, 2 tail;
    // plus a one-token doc that has no bigram and must not be bucketed
    val corpus = (0L until 6L).flatMap(i => Seq(
      (i, "en", "the " * (i + 2).toInt + "end"),
      (i + 10L, "de", "das " * (i + 2).toInt + "ende"))) :+
      ((99L, "en", "solo"))
    val df = corpus.toDF("doc_id", "lang", "text")
    val r = TextOps.perplexityBuckets(df).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2), x.getString(3)))
    assert(!r.exists(_._1 == 99L))
    for (lang <- Seq("en", "de")) {
      val l = r.filter(_._2 == lang)
      assert(l.length == 6)
      assert(l.count(_._4 == "head") == 2)
      assert(l.count(_._4 == "middle") == 2)
      assert(l.count(_._4 == "tail") == 2)
      // every head score <= every middle score <= every tail score
      def scores(b: String) = l.filter(_._4 == b).map(_._3)
      assert(scores("head").max <= scores("middle").min)
      assert(scores("middle").max <= scores("tail").min)
    }
  }

  test("hashed linear classifier: deterministic, partitioning-invariant, sane") {
    val df = docs.withColumn("text", col("text"))
    val base = TextOps.hashedLinearScore(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getString(3)))
      .toMap
    // n_tokens is the whitespace token count
    assert(base(1L)._1 == 13L)
    assert(base(5L)._1 == 3L)
    // exact duplicates score identically; label is the sign of the score
    assert(base(1L)._2 == base(4L)._2)
    base.values.foreach { case (_, s, l) =>
      assert(if (s >= 0.0) l == "keep" else l == "drop")
      assert(s >= -1.0 && s < 1.0) // mean of [-1,1) weights
    }
    // bit-identical under a different partitioning (the sorted-fold claim)
    val shuffled = TextOps.hashedLinearScore(df.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getString(3)))
      .toMap
    assert(shuffled == base)
  }

  test("trained logistic quality: learns the label, partitioning-invariant") {
    // short docs (few tokens) vs long docs — the n_chars>=300 label is
    // recoverable from the token-count feature, so a trained model must
    // beat the w=0 coin flip (which predicts p=0.5 for everyone)
    val corpus = (0L until 30L).map { i =>
      if (i % 2 == 0) (i, "tiny doc", 8L)
      else (i, Seq.fill(80)("w").mkString(" "), 400L)
    }.toDF("doc_id", "text", "n_chars")
    val scored = TextOps.trainLogisticQuality(corpus).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    // every long doc scores above every short doc, and accuracy is 100%
    val (short, long) = scored.partition(_._1 % 2 == 0)
    assert(short.values.map(_._1).max < long.values.map(_._1).min)
    assert(short.values.forall(!_._2) && long.values.forall(_._2))
    // decimal-routed gradients: bit-identical under a different partitioning
    val re = TextOps.trainLogisticQuality(corpus.repartition(5)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(re == scored)
  }

  test("warc segments: multi-member archives carry the same records as " +
       "per-doc archives") {
    val df = Seq(
      (0L, "sA", "first doc"), (1L, "sB", "second doc"),
      (2L, "sA", "third doc"), (17L, "sB", "doc seventeen"))
      .toDF("doc_id", "source", "text")
    val seg = graft.sources.Warc.parseArchives(
      Html.warcSegmentsFromDocs(df, nSegments = 2)
        .select(col("segment").cast("string").as("archive"), col("content")))
    // 2 archives, 4 records total, ids recoverable, record-per-member
    assert(seg.select("archive").distinct().count() == 2)
    val perDoc = Html.parseDocArchives(Html.warcFromDocs(df))
    assert(seg.select("record_id", "target_uri", "content_length")
      .collect().map(_.toSeq).toSet ==
      perDoc.select("record_id", "target_uri", "content_length")
        .collect().map(_.toSeq).toSet)
  }

  test("pack efficiency: exact pack census incl. boundary-straddle overflow") {
    // one shard, budget 10. Cumulative starts: 0,4,8,12 -> docs 1-3 all
    // START inside pack 0 (the straddling doc 3 lands whole there, 12
    // tokens, overflow), doc 4's 12 tokens own pack 1 (also overflow)
    val df = Seq(
      (1L, "s", "a b c d"), (2L, "s", "a b c d"), (3L, "s", "a b c d"),
      (4L, "s", (1 to 12).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val r = Curation.packEfficiency(df, "source", 10L).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_packs") == 2)
    assert(row.getAs[Long]("total_tokens") == 24)
    assert(row.getAs[Long]("max_pack_tokens") == 12)
    assert(row.getAs[Long]("n_overflow") == 2)
    assert(row.getAs[Double]("fill_ratio") == 24.0 / 20.0)
  }

  test("keep-best dedup: survivor is the highest-score member, ties to min id") {
    // cluster {1,2,4}: doc 2 longest -> 2 survives; 3 and 5 untouched
    val scored = docs.withColumn("n_chars",
      when(col("doc_id") === 2L, 100L).otherwise(10L))
    val edges = Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupCorpusByScore(scored, edges, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 5L))
    // equal scores: min id wins (the dedupCorpus policy as a special case)
    val flat = Dedup.dedupCorpusByScore(docs.withColumn("n_chars", lit(7L)),
      edges, "n_chars").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flat == Set(1L, 3L, 5L))
  }

  test("stored BM25 index: query-from-storage is bit-equal to inline") {
    val corpus = Seq(
      (1L, "spark query engine with a table"),
      (2L, "table table table spark"),
      (3L, "nothing relevant here"),
      (4L, "query query spark")).toDF("doc_id", "text")
    withTempDir("bm25spec") { d =>
      val dir = d.toString
      TextOps.bm25BuildIndex(corpus, dir)
      val terms = Seq("spark", "table", "query")
      val inline = TextOps.bm25Search(corpus, terms, topN = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      val stored = TextOps.bm25SearchStored(spark, dir, terms, topN = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(stored.toSeq == inline.toSeq) // same docs, same order, same bits
      assert(inline.map(_._1).toSet == Set(1L, 2L, 4L)) // doc 3 never scores
    }
  }

  test("chat render: JSON round trip, alternating roles, exact template") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
      .toDF("doc_id", "text")
    val r = Curation.chatRender(df, turnTokens = 4).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Int]("n_turns") == 3)
    assert(row.getAs[Int]("n_user_turns") == 2)
    val expected =
      "<|system|>\nYou are a helpful assistant.\n" +
        "<|user|>\nw1 w2 w3 w4\n" +
        "<|assistant|>\nw5 w6 w7 w8\n" +
        "<|user|>\nw9 w10\n" +
        "<|end|>"
    assert(row.getAs[String]("rendered") == expected)
    assert(row.getAs[Int]("rendered_chars") == expected.length)
  }

  test("chat loss mask: spans extract exactly the assistant contents") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
                 (2L, "a b c d e f g h i"),
                 (3L, "solo")) // single turn: no assistant span
      .toDF("doc_id", "text")
    val rendered = Curation.chatRender(df, turnTokens = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("rendered")).toMap
    val spans = Curation.chatLossMask(df, turnTokens = 4).collect()
    assert(!spans.exists(_.getAs[Long]("doc_id") == 3L))
    assert(spans.length == 2) // one assistant turn each for docs 1 and 2
    spans.foreach { r =>
      val full = rendered(r.getAs[Long]("doc_id"))
      val s = r.getAs[Long]("span_start").toInt
      val e = r.getAs[Long]("span_end").toInt
      assert(full.substring(s, e) == r.getAs[String]("span_text"))
      // the span is the content line of an assistant turn
      assert(full.regionMatches(s - 14, "<|assistant|>\n", 0, 14))
      assert(full.charAt(e) == '\n')
      assert(r.getAs[Long]("span_chars") == e - s)
    }
    assert(spans.find(_.getAs[Long]("doc_id") == 1L).get
      .getAs[String]("span_text") == "w5 w6 w7 w8")
    assert(spans.find(_.getAs[Long]("doc_id") == 2L).get
      .getAs[String]("span_text") == "e f g h")
  }

  test("fim transform: splitmix-derived cuts, PSM reassembly, rate gates") {
    val df = Seq(5L -> "abcdefghij", 6L -> "0123456789", 7L -> "",
                 8L -> "xy").toDF("doc_id", "text")
    val all = Curation.fimTransform(df, fimPct = 100).collect()
    all.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val orig = Map(5L -> "abcdefghij", 6L -> "0123456789", 7L -> "",
                     8L -> "xy")(id)
      assert(r.getAs[Boolean]("fim_applied"))
      // cuts replay the published splitmix64 chains exactly
      val m = orig.length + 1L
      val c1 = Math.floorMod(graft.functions.HashExprs.mix64(id), m)
      val c2 = Math.floorMod(
        graft.functions.HashExprs.mix64(graft.functions.HashExprs.mix64(id)), m)
      val (lo, hi) = (math.min(c1, c2).toInt, math.max(c1, c2).toInt)
      assert(r.getAs[Long]("cut_lo") == lo && r.getAs[Long]("cut_hi") == hi)
      val expected = "<|fim_prefix|>" + orig.substring(0, lo) +
        "<|fim_suffix|>" + orig.substring(hi) +
        "<|fim_middle|>" + orig.substring(lo, hi)
      assert(r.getAs[String]("text") == expected)
    }
    // rate 0: pure pass-through, text byte-identical
    val none = Curation.fimTransform(df, fimPct = 0).collect()
    assert(none.forall(r => !r.getAs[Boolean]("fim_applied")))
    assert(none.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap == Map(5L -> "abcdefghij", 6L -> "0123456789", 7L -> "",
                    8L -> "xy"))
  }

  test("blocklist: token-boundary gate and term-priced census") {
    val df = Seq(
      (1L, "the Glass class surpasses expectations"), // substrings only
      (2L, "ass backwards plan"),
      (3L, "plain clean text"),
      (4L, "ASS loud ass")) // case-folded, twice in one doc
      .toDF("doc_id", "text")
    val kept = Curation.blocklistGate(df, Seq("ass")).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 3L)) // "class"/"surpasses" don't trip the gate
    val census = Curation.blocklistCensus(df, Seq("ass", "quantum")).collect()
    assert(census.length == 1) // absent terms emit no row
    val row = census.head
    assert(row.getAs[String]("term") == "ass")
    assert(row.getAs[Long]("n_docs") == 2L)
    assert(row.getAs[Long]("n_occurrences") == 3L)
  }

  test("entropy gate: closed-form entropies, tails cut, empty dropped") {
    val df = Seq((1L, "aaaaaaaa"),      // 0 bits
                 (2L, "abababab"),      // 1 bit
                 (3L, "abcdabcd"),      // 2 bits
                 (4L, "abcdefgh"),      // 3 bits
                 (5L, "")).toDF("doc_id", "text")
    val r = Curation.entropyGate(df, minBits = 0.5, maxBits = 2.5).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_distinct"), x.getAs[Double]("ent_bits"),
         x.getAs[Boolean]("keep"))).toMap
    assert(!r.contains(5L))
    assert(r(1L) == ((1L, 0.0, false)))
    assert(r(2L) == ((2L, 1.0, true)))
    assert(r(3L) == ((4L, 2.0, true)))
    assert(r(4L) == ((8L, 3.0, false)))
  }

  test("span corruption: offsets replay splitmix, targets splice back " +
       "to the original, short docs stay clean") {
    val text25 = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq(9L -> text25, 10L -> "a b c").toDF("doc_id", "text")
    val r = Curation.spanCorrupt(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 9: one full block; offset = pmod(mix64(9*2^20 + 0), 18)
    val row = r(9L)
    assert(row.getAs[Long]("n_tokens") == 25 && row.getAs[Long]("n_spans") == 1)
    val off = Math.floorMod(
      graft.functions.HashExprs.mix64(9L * 1048576L), 18L).toInt
    val toks = text25.split(" ")
    val expIn = (toks.slice(0, off) ++ Array("<extra_id_0>") ++
      toks.slice(off + 3, 20) ++ toks.slice(20, 25)).mkString(" ")
    val expTg = ("<extra_id_0>" +: toks.slice(off, off + 3)).mkString(" ") +
      " <extra_id_1>"
    assert(row.getAs[String]("inputs") == expIn)
    assert(row.getAs[String]("targets") == expTg)
    // splicing targets back into inputs reconstructs the original
    val spliced = row.getAs[String]("inputs").replace("<extra_id_0>",
      row.getAs[String]("targets")
        .stripPrefix("<extra_id_0> ").stripSuffix(" <extra_id_1>"))
    assert(spliced == text25)
    // doc 10: below one block — untouched inputs, empty-span targets
    assert(r(10L).getAs[Long]("n_spans") == 0)
    assert(r(10L).getAs[String]("inputs") == "a b c")
    assert(r(10L).getAs[String]("targets") == "<extra_id_0>")
  }

  test("ul2 denoisers: hash-routed modes, each branch equals its " +
       "dedicated prep") {
    import graft.functions.HashExprs.mix64
    val text25 = (1 to 25).map(i => s"w$i").mkString(" ")
    val ids = (0L until 30L)
    val df = ids.map(i => (i, text25)).toDF("doc_id", "text")
    val r = Curation.ul2Denoisers(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    val modes = ids.map(i => i -> Math.floorMod(mix64(i + 1000003L), 3L).toInt)
    assert(modes.map(_._2).distinct.sorted == Seq(0, 1, 2)) // all modes hit
    modes.foreach { case (id, m) =>
      assert(r(id).getAs[Int]("mode") == m, s"doc $id mode")
      m match {
        case 0 => // R ≡ spanCorrupt(20, 3)
          val exp = Curation.spanCorrupt(df.filter(col("doc_id") === id))
            .head()
          assert(r(id).getAs[String]("inputs") == exp.getAs[String]("inputs"))
          assert(r(id).getAs[String]("targets") == exp.getAs[String]("targets"))
          assert(r(id).getAs[Long]("n_spans") == 1) // 25 tokens, one block
        case 1 => // S: prefix-LM — splice reconstructs the original
          val cut = Math.floorMod(mix64(id * 1048576L), 26L).toInt
          val toks = text25.split(" ")
          assert(r(id).getAs[String]("inputs") ==
            (toks.take(cut) :+ "<extra_id_0>").mkString(" "))
          assert(r(id).getAs[String]("targets") ==
            ("<extra_id_0>" +: toks.drop(cut)).mkString(" "))
          assert(r(id).getAs[Long]("n_spans") == 1)
        case _ => // X ≡ spanCorrupt(16, 8): 25 tokens → one 8-token span
          val exp = Curation.spanCorrupt(df.filter(col("doc_id") === id),
            blockTokens = 16, spanTokens = 8).head()
          assert(r(id).getAs[String]("inputs") == exp.getAs[String]("inputs"))
          assert(r(id).getAs[String]("targets") == exp.getAs[String]("targets"))
          assert(r(id).getAs[Long]("n_spans") == 1)
      }
    }
  }

  test("ngram novelty: shared text scores 0, unique text 1, short dropped") {
    val shared = "one two three four five six seven eight"
    val df = Seq(
      (1L, shared), (2L, shared),
      (3L, "nine ten eleven twelve thirteen fourteen"),
      (4L, "too few words here")) // < 5 tokens: no shingles
      .toDF("doc_id", "text")
    val r = Curation.ngramNovelty(df, shingleK = 5).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_sh"), x.getAs[Long]("n_novel"),
         x.getAs[Double]("novelty"))).toMap
    assert(!r.contains(4L))
    assert(r(1L) == ((4L, 0L, 0.0)) && r(2L) == ((4L, 0L, 0.0)))
    assert(r(3L) == ((2L, 2L, 1.0)))
  }

  test("length batching: exact waste arithmetic, bucketing beats the " +
       "id-ordered baseline on bimodal lengths") {
    // bimodal: ids alternate 2-token and 30-token docs → id-ordered
    // batches mix both lengths (waste ≈ 28/doc), buckets separate them
    val docs = (0L until 32L).map { i =>
      val n = if (i % 2 == 0) 2 else 30
      (i, "src", (1 to n).map(k => s"t$k").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val r = Curation.lengthBatching(docs, batchSize = 8, bucketWidth = 16)
      .collect()
    assert(r.length == 2) // bucket 0 (2-token) and bucket 1 (30-token)
    r.foreach { row =>
      assert(row.getAs[Long]("n_docs") == 16)
      assert(row.getAs[Long]("n_batches") == 2)
      assert(row.getAs[Long]("waste_tokens") == 0) // uniform inside bucket
      // baseline: each 8-doc batch mixes 2s and 30s → 4·28 waste/batch
      assert(row.getAs[Long]("baseline_waste_tokens") == 4 * 28 * 4)
    }
  }

  test("best-fit packing: hand-checked assignment, bins never overflow " +
       "(except lone oversize docs), partitioning-invariant") {
    def doc(n: Int) = (1 to n).map(k => s"w$k").mkString(" ")
    // budget 10, lengths desc 9,5,5,4,3: BFD → bins 0 | 1,1 | 2,2
    val docs = Seq((1L, doc(9)), (2L, doc(5)), (3L, doc(5)),
                   (4L, doc(4)), (5L, doc(3)), (6L, doc(14))) // oversize
      .toDF("doc_id", "text").withColumn("source", lit("a"))
    val r = Curation.packBestFit(docs, budget = 10L).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("bin_id")).toMap
    // doc 6 (14 tokens) sorts first and owns bin 0; the rest follow
    assert(r == Map(6L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L,
                    4L -> 3L, 5L -> 3L))
    // invariant: no multi-doc bin exceeds the budget
    val fills = Curation.packBestFit(docs, budget = 10L)
      .groupBy("bin_id").agg(sum("n_tokens").as("fill"),
        count(lit(1)).as("m")).collect()
    fills.foreach { f =>
      assert(f.getAs[Long]("m") == 1 || f.getAs[Long]("fill") <= 10L)
    }
    // partitioning-invariant: 7-way repartition packs identically
    val r7 = Curation.packBestFit(docs.repartition(7), budget = 10L)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        x.getAs[Long]("bin_id")).toMap
    assert(r7 == r)
  }

  test("data card: hand-checked masses, language entropy, gopher rate") {
    // 60 words, mean length 3.9, stopwords the/and → passes every gate
    val good = Array.fill(6)(
      "the quick brown fox jumps over and lazy dogs run").mkString(" ")
    val docs = Seq(
      (1L, "a", "en", good), (2L, "a", "en", good),
      (3L, "a", "fr", good), (4L, "a", "fr", good),
      (5L, "b", "de", "x y")) // fails gopher word count
      .toDF("doc_id", "source", "lang", "text")
    val r = Curation.dataCard(docs).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("a").getAs[Long]("n_docs") == 4)
    assert(r("a").getAs[Long]("n_langs") == 2)
    assert(r("a").getAs[Double]("lang_entropy") == 1.0) // 2+2 split
    assert(r("a").getAs[Double]("gopher_keep_frac") == 1.0)
    assert(r("b").getAs[Long]("n_docs") == 1)
    assert(r("b").getAs[Long]("n_tokens") == 2)
    assert(r("b").getAs[Double]("lang_entropy") == 0.0)
    assert(r("b").getAs[Double]("gopher_keep_frac") == 0.0)
  }

  test("token drift: hand-checked add-one KL, total equals the " +
       "contribution sum, cut ordered") {
    val oldDocs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val newDocs = Seq((2L, "a b b b")).toDF("doc_id", "text")
    val rows = Curation.tokenDrift(oldDocs, newDocs, topK = 20).collect()
    assert(rows.length == 2)
    val byTerm = rows.map(r => r.getAs[String]("term") -> r).toMap
    // vocab v=2, n_old=3, n_new=4: p_a=2/6, q_a=3/5; p_b=4/6, q_b=2/5
    def contrib(cn: Long, co: Long): Double = {
      val p = (cn + 1).toDouble / 6.0; val q = (co + 1).toDouble / 5.0
      BigDecimal(p * math.log(p / q))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(byTerm("a").getAs[Long]("c_old") == 2 &&
           byTerm("a").getAs[Long]("c_new") == 1)
    assert(byTerm("a").getAs[Double]("contribution") == contrib(1, 2))
    assert(byTerm("b").getAs[Double]("contribution") == contrib(3, 1))
    val total = byTerm("a").getAs[Double]("kl_total")
    val expTotal = BigDecimal(contrib(1, 2)) + BigDecimal(contrib(3, 1))
    assert(math.abs(total - expTotal.toDouble) < 1e-6)
    assert(total > 0.0) // KL of genuinely drifted corpora is positive
  }

  test("pca top component: recovers a planted dominant axis, " +
       "partitioning-invariant") {
    // coordinate 7 carries all the variance; every other axis is constant
    val vecs = (0 until 40).map { r =>
      val v = Array.fill(64)(0.5f)
      v(7) = r.toFloat
      (r.toLong, v)
    }.toDF("vec_id", "embedding")
    val out = Similarity.pcaTopComponent(vecs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // projection = ±(v7 − mean7); mean7 = 19.5
    (0 until 40).foreach { r =>
      assert(math.abs(math.abs(out(r.toLong)) - math.abs(r - 19.5)) < 1e-3,
        s"row $r: ${out(r.toLong)}")
    }
    val re = Similarity.pcaTopComponent(vecs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(re == out)
  }

  test("pca variance report: planted single axis carries ~all variance") {
    val vecs = (0 until 40).map { r =>
      val v = Array.fill(64)(0.5f)
      v(7) = r.toFloat
      (r.toLong, v)
    }.toDF("vec_id", "embedding")
    val row = Similarity.pcaVarianceReport(vecs).head()
    val (lambda, trace, ratio) =
      (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    // one variance-carrying axis: lambda ≈ trace, ratio ≈ 1
    assert(math.abs(lambda - trace) < 1e-3 * trace)
    assert(ratio > 0.999 && ratio <= 1.0 + 1e-9)
    // trace of the 7-only covariance = Var(0..39) = (40²−1)/12
    assert(math.abs(trace - (40.0 * 40.0 - 1) / 12.0) < 1e-3)
  }

  test("crawl diff: added/removed/changed/unchanged partition the URL union") {
    val a = Seq(("u1", "h1"), ("u2", "h2"), ("u3", "h3")).toDF("target_uri", "h")
    val b = Seq(("u2", "h2"), ("u3", "hX"), ("u4", "h4")).toDF("target_uri", "h")
    val r = Curation.crawlDiff(a, b).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r == Map("u1" -> "removed", "u2" -> "unchanged",
      "u3" -> "changed", "u4" -> "added"))
  }

  test("kn bigram score: matches the driver reference bit-for-bit; " +
    "the continuation term penalizes single-context words") {
    val rows = Seq((1L, "san francisco san francisco"),
      (2L, "new york new haven"), (3L, "san haven york francisco"))
    val docs = rows.toDF("doc_id", "text")
    val got = TextOps.knScore(docs, 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // driver reference: exact KN algebra in the engine's op order
    val bgs = rows.flatMap { case (id, t) =>
      val ts = t.split(" ").toSeq
      ts.zip(ts.tail).map(b => (id, b._1, b._2)) }
    val occ = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c2 = bgs.map { case (_, a, b) => (a, b) }.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val c1 = c2.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n1f = c2.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val n1p = c2.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val n1tot = c2.size.toLong
    for ((id, _) <- rows) {
      val perBg = occ.collect { case ((i, w1, w2), m) if i == id =>
        (w1, w2, m) }.toSeq.sortBy(x => (x._1, x._2))
      var acc = 0.0
      var n = 0L
      for ((w1, w2, m) <- perBg) {
        val p = math.max(c2((w1, w2)).toDouble - 0.75, 0.0) /
            c1(w1).toDouble +
          ((0.75 * n1f(w1).toDouble) / c1(w1).toDouble) *
            (n1p(w2).toDouble / n1tot.toDouble)
        acc += m.toDouble / p
        n += m
      }
      assert(got(id)._1 == n, s"doc $id bigram count")
      assert(got(id)._2 == acc / n, s"doc $id: ${got(id)._2}")
    }
    // KN's signature: the repeated in-context bigram scores far more
    // fluent (lower inverse) than the never-seen-together shuffle
    assert(got(1L)._2 < got(3L)._2)
  }

  test("kn trigram score: matches the full-recursion driver reference " +
    "bit-for-bit; short docs drop; fluency orders over shuffles") {
    val rows = Seq(
      (1L, "the cat sat on the mat the cat sat on the rug"),
      (2L, "the dog sat on the mat"),
      (3L, "mat the on sat cat the"),
      (4L, "too short"))                       // < 3 tokens: no output
    val docs = rows.toDF("doc_id", "text")
    val got = TextOps.knScore(docs, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(!got.contains(4L))
    // driver reference: the three-level recursion in the engine's op
    // order — trigram discount → continuation bigram → continuation
    // unigram, all counts off the one trigram-type table
    val tgs = rows.flatMap { case (id, t) =>
      val ts = t.split(" ").toSeq
      if (ts.size < 3) Seq.empty
      else (0 to ts.size - 3).map(i => (id, ts(i), ts(i + 1), ts(i + 2))) }
    val occ = tgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c3 = tgs.map { case (_, a, b, c) => (a, b, c) }.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val c12 = c3.groupBy(k => (k._1._1, k._1._2))
      .map { case (k, m) => k -> m.values.sum }
    val n3f = c3.groupBy(k => (k._1._1, k._1._2))
      .map { case (k, m) => k -> m.size.toLong }
    val ck = c3.keys.toSeq.map(k => (k._2, k._3)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }   // distinct w1 contexts
    val ctot2 = ck.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n2f = ck.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val n1p = ck.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val cktot = ck.size.toLong
    for ((id, t) <- rows if t.split(" ").length >= 3) {
      val perTg = occ.collect { case ((i, w1, w2, w3), m) if i == id =>
        (w1, w2, w3, m) }.toSeq.sortBy(x => (x._1, x._2, x._3))
      var acc = 0.0
      var n = 0L
      for ((w1, w2, w3, m) <- perTg) {
        val p1v = n1p(w3).toDouble / cktot.toDouble
        val p2v = math.max(ck((w2, w3)).toDouble - 0.75, 0.0) /
            ctot2(w2).toDouble +
          ((0.75 * n2f(w2).toDouble) / ctot2(w2).toDouble) * p1v
        val p3v = math.max(c3((w1, w2, w3)).toDouble - 0.75, 0.0) /
            c12((w1, w2)).toDouble +
          ((0.75 * n3f((w1, w2)).toDouble) / c12((w1, w2)).toDouble) * p2v
        acc += m.toDouble / p3v
        n += m
      }
      assert(got(id)._1 == n, s"doc $id trigram count")
      assert(got(id)._2 == acc / n, s"doc $id: ${got(id)._2}")
    }
    // repeated fluent trigrams beat the shuffled word salad
    assert(got(1L)._2 < got(3L)._2)
  }

  /** Driver-side order-n KN reference — the generic recursion in the
    * engine's exact op order (continuation type tables chained off the
    * one n-gram type table, per-level parenthesization preserved). */
  private def knRef(rows: Seq[(Long, String)], n: Int, d: Double = 0.75)
  : Map[Long, (Long, Double)] = {
    val gs = rows.flatMap { case (id, t) =>
      val ts = t.split(" ").toSeq
      if (ts.size < n) Seq.empty
      else (0 to ts.size - n).map(i => (id, ts.slice(i, i + n))) }
    val occ = gs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tn = gs.map(_._2).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val cHist = tn.groupBy(_._1.init).map { case (k, m) => k -> m.values.sum }
    val nTopF = tn.groupBy(_._1.init)
      .map { case (k, m) => k -> m.size.toLong }
    var conts = Map[Int, Map[Seq[String], Long]]()
    var cur: Iterable[Seq[String]] = tn.keys
    for (k <- (n - 1) to 1 by -1) {
      val tk = cur.groupBy(_.takeRight(k))
        .map { case (s, v) => s -> v.size.toLong }
      conts += k -> tk
      cur = tk.keys
    }
    val ctot = (2 to n - 1).map { k => k ->
      conts(k).groupBy(_._1.init).map { case (s, m) => s -> m.values.sum }
    }.toMap
    val nf = (2 to n - 1).map { k => k ->
      conts(k).groupBy(_._1.init).map { case (s, m) => s -> m.size.toLong }
    }.toMap
    val cktot = (if (n == 2) tn.size else conts(2).size).toLong
    rows.flatMap { case (id, _) =>
      val per = occ.collect { case ((i, g), m) if i == id => (g, m) }
        .toSeq.sortBy(_._1.mkString("\u0000"))
      if (per.isEmpty) None
      else {
        var acc = 0.0; var cnt = 0L
        for ((g, m) <- per) {
          var p = conts(1)(g.takeRight(1)).toDouble / cktot.toDouble
          for (k <- 2 to n - 1) {
            val s = g.takeRight(k)
            p = math.max(conts(k)(s).toDouble - d, 0.0) /
                ctot(k)(s.init).toDouble +
              ((d * nf(k)(s.init).toDouble) / ctot(k)(s.init).toDouble) * p
          }
          p = math.max(tn(g).toDouble - d, 0.0) / cHist(g.init).toDouble +
            ((d * nTopF(g.init).toDouble) / cHist(g.init).toDouble) * p
          acc += m.toDouble / p; cnt += m
        }
        Some(id -> (cnt, acc / cnt))
      }
    }.toMap
  }

  test("knScore orders 2 and 3: match the generic driver recursion " +
    "bit-for-bit under the published x144/x149 column names") {
    val rows = Seq(
      (1L, "the cat sat on the mat the cat sat on the rug"),
      (2L, "the dog sat on the mat"),
      (3L, "mat the on sat cat the"),
      (4L, "san francisco san francisco new york new haven"))
    val docs = rows.toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val k2 = TextOps.knScore(docs, 2)
    val k3 = TextOps.knScore(docs, 3)
    assert(k2.columns.toSeq == Seq("doc_id", "n_bigrams", "kn_score"))
    assert(k3.columns.toSeq == Seq("doc_id", "n_ngrams", "kn3_score"))
    assert(m(k2) == knRef(rows, 2))
    assert(m(k3) == knRef(rows, 3))
  }

  test("knScore order 5 (the KenLM production default): matches the " +
    "generic driver recursion bit-for-bit; <5-token docs drop; " +
    "fluent repetition beats the shuffle") {
    val rows = Seq(
      (1L, "the cat sat on the mat the cat sat on the mat again"),
      (2L, "the dog sat on the mat and the cat sat on the rug"),
      (3L, "mat the on sat cat the rug dog and sat on mat the"),
      (4L, "one two three four"))              // < 5 tokens: no output
    val docs = rows.toDF("doc_id", "text")
    val got = TextOps.knScore(docs, 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(!got.contains(4L))
    val want = knRef(rows, 5)
    assert(got.keySet == want.keySet)
    for ((id, (cnt, s)) <- want) {
      assert(got(id)._1 == cnt, s"doc $id 5-gram count")
      assert(got(id)._2 == s, s"doc $id: ${got(id)._2} vs $s")
    }
    // scores are positive, finite inverse probabilities (every P in
    // (0, 1]); the ORDERING intuition is asserted at orders 2/3 where
    // the corpus is dense enough — at order 5 on a toy corpus nearly
    // every gram is a singleton and ordering is fixture noise
    for ((id, (_, s)) <- got)
      assert(s >= 1.0 - 1e-9 && java.lang.Double.isFinite(s), s"doc $id: $s")
    // and the generic reference agrees at order 3 on this corpus too
    assert(knRef(rows, 3) == TextOps.knScore(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap)
    // order 4 — the untested middle of the recursion (two continuation
    // levels between top and unigram) — against the same reference
    assert(knRef(rows, 4) == TextOps.knScore(docs, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap)
  }

  test("dsirLlr: matches the driver reference bit-for-bit; the hidden " +
    "target-domain docs out-rank the raw pool per gram") {
    import graft.functions.ShingleHashes
    val phrase = " quantum flux lattice decoherence protocol" * 6
    // two disjoint vocabularies: domain docs (1-10) speak d0..d6 + the
    // phrase, raw-pool docs (11-40) speak r0..r6 — common-in-raw grams
    // absent from the target model is the signal DSIR prices
    val rows = (1L to 40L).map { i =>
      val v = if (i <= 10) "d" else "r"
      val base = (1 to 12).map(j => s"$v${(i + j * 3) % 7}").mkString(" ")
      (i, if (i <= 10) base + phrase else base)
    }
    val docs = rows.toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") <= 5) // half the domain docs
    val dim = 256
    val got = TextOps.dsirLlr(docs, target, dim)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // driver reference — the engine's exact op order
    def bks(t: String) = ShingleHashes.shingleHashesAll(t, 2)
      .map(h => java.lang.Math.floorMod(h, dim.toLong))
    val occ = rows.map { case (id, t) =>
      id -> bks(t).groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    }.toMap
    val p = rows.filter(_._1 <= 5).flatMap(r => bks(r._2))
      .groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    val q = occ.values.flatten.groupBy(_._1)
      .map { case (b, ms) => b -> ms.map(_._2).sum }
    val np = p.values.sum; val nq = q.values.sum
    for ((id, _) <- rows) {
      val m = occ(id)
      var acc = 0.0
      for ((b, c) <- m.toSeq.sortBy(_._1))
        acc += c.toDouble *
          (math.log((p.getOrElse(b, 0L) + 1L).toDouble / (np + dim).toDouble)
            - math.log((q(b) + 1L).toDouble / (nq + dim).toDouble))
      assert(got(id)._1 == m.values.sum, s"doc $id gram count")
      assert(got(id)._2 == acc, s"doc $id: ${got(id)._2} vs $acc")
    }
    // domain recovery on the per-gram weight: ALL ten phrase docs —
    // including 6..10, which are NOT in the target sample — out-rank
    // every phrase-free doc
    val perGram = got.map { case (id, (n, l)) => id -> l / n }
    val worstDomain = (1L to 10L).map(perGram).min
    val bestRest = (11L to 40L).map(perGram).max
    assert(worstDomain > bestRest,
      s"domain docs must separate: $worstDomain vs $bestRest")
  }

  test("rendezvous sharding: matches the driver argmax bit-for-bit; " +
    "growth moves only keys claimed by the new shard") {
    import graft.functions.HashExprs
    val docs = (0L until 200L).map(i => Tuple1(i)).toDF("doc_id")
    val got = Curation.rendezvousResize(docs, 8, 9)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getBoolean(3))).toMap
    def ref(id: Long, n: Int): Int =
      (0 until n).maxBy(s => HashExprs.mix64(id + s * HashExprs.GOLDEN))
    for (id <- 0L until 200L) {
      val (b8, a9, moved) = got(id)
      assert(b8 == ref(id, 8) && a9 == ref(id, 9), s"id $id")
      assert(moved == (b8 != a9))
      // HRW growth law: a moved key lands ONLY on the new shard
      if (moved) assert(a9 == 8, s"id $id moved to $a9")
    }
    // expected movement ~1/9 of keys; generous band for 200 draws
    val frac = got.values.count(_._3).toDouble / 200.0
    assert(frac > 0.02 && frac < 0.30, s"moved fraction $frac")
  }

  test("matryoshka recall: a vector hiding its mass past the prefix " +
    "pollutes the truncated cut") {
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f, 0f),    // full 1.0,  prefix 1.0
      2L -> Array(0.6f, 0.8f, 0f, 0f), // full 0.6,  prefix 0.6
      3L -> Array(0.1f, 0f, 0.99f, 0f)) // full ~0.1, prefix 1.0
    val df = vecs.toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val r = Similarity.matryoshkaRecall(df, q, k = 2, prefixDim = 2)
      .collect().head
    // full top-2 = {1, 2}; prefix top-2 = {1, 3} -> overlap 1 of 2
    assert(r.getLong(0) == 1L)
    assert(r.getDouble(1) == 0.5)
  }

  test("hard negatives: self and above-threshold positives excluded, " +
    "ranks follow exact cosine, k caps the cut") {
    val vecs = Seq(
      0L -> Array(1f, 0f),     // the anchor
      1L -> Array(0.99f, 0.14f), // cos ~0.990 -> positive, excluded
      2L -> Array(0.8f, 0.6f),   // cos 0.8  -> rank 1
      3L -> Array(0.6f, 0.8f),   // cos 0.6  -> rank 2
      4L -> Array(0f, 1f),       // cos 0    -> rank 3
      5L -> Array(-1f, 0f))      // cos -1   -> cut by k
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(df, Seq(0L), k = 3,
        posThreshold = 0.95)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("dsir weights: matches the driver reference bit-for-bit and " +
    "ranks target-profile docs above off-target ones") {
    val rows = Seq((1L, "alpha beta alpha", "en"),
      (2L, "alpha beta", "fr"), (3L, "gamma gamma delta", "fr"),
      (4L, "alpha beta gamma", "en"))
    val docs = rows.toDF("doc_id", "text", "lang")
    val nb = 64
    val got = Curation.dsirWeights(docs, col("lang") === "en", nb)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap

    // driver reference: same shingle hashes, same smoothing, same
    // bucket-ordered fold — every double op in the same order
    def gramsOf(t: String): Array[Long] =
      graft.functions.ShingleHashes.shingleHashesAll(t, 1) ++
        graft.functions.ShingleHashes.shingleHashesAll(t, 2)
    val occ = rows.flatMap { case (id, t, lang) =>
      gramsOf(t).map(h => (id, lang == "en", java.lang.Math.floorMod(h, nb.toLong))) }
    val cr = occ.groupBy(_._3).map { case (b, v) => b -> v.size.toLong }
    val ct = occ.filter(_._2).groupBy(_._3)
      .map { case (b, v) => b -> v.size.toLong }
    val (nr, nt) = (occ.size.toLong, occ.count(_._2).toLong)
    for ((id, _, _) <- rows) {
      val perB = occ.filter(_._1 == id).groupBy(_._3)
        .map { case (b, v) => b -> v.size.toLong }.toSeq.sortBy(_._1)
      val nGrams = perB.map(_._2).sum
      var acc = 0.0
      for ((b, m) <- perB) {
        val rt = (ct.getOrElse(b, 0L) + 1L).toDouble / (nt + nb).toDouble
        val rr = (cr(b) + 1L).toDouble / (nr + nb).toDouble
        acc += m.toDouble * (rt / rr)
      }
      val want = acc / nGrams
      assert(got(id)._1 == nGrams, s"doc $id gram count")
      assert(got(id)._2 == want, s"doc $id: ${got(id)._2} vs $want")
    }
    // the all-off-target doc scores lowest; the pure-target profile wins
    assert(got(3L)._2 < got(2L)._2 && got(3L)._2 < got(1L)._2)
    assert(got(1L)._2 > got(4L)._2 || got(1L)._2 > got(3L)._2)
  }

  test("edit near-dup: blocked levenshtein argmin with (dist, id) ties; " +
    "cross-block pairs never compared") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta"), // 1/2/3 share block (alpha, 22/16=1)
      (2L, "alpha beta gamma delt"),  //   but len 21 -> also bucket 1
      (3L, "alpha beta gamme delta"), // dist(1,3)=1, dist(1,2)=1 tie -> nb 2
      (4L, "omega psi chi"),          // lone block -> no output row
      (5L, "alpha " + "x" * 60)       // same k1, different len bucket
    ).toDF("doc_id", "text")
    val r = Dedup.editNearDups(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("min_edit_dist"), x.getAs[Long]("neighbor_id")))
      .toMap
    assert(!r.contains(4L) && !r.contains(5L))
    assert(r(1L) == ((1L, 2L))) // dist 1 to both 2 and 3; tie -> lower id
    assert(r(2L) == ((1L, 1L)))
    assert(r(3L) == ((1L, 1L))) // "gamme"->"gamma" is 1 edit from doc 1
  }

  test("zipf fit: a 1/rank corpus slopes to ~-1, a uniform corpus to " +
    "exactly 0") {
    import spark.implicits._
    // term k appears floor(600/k) times -> freq ~ 1/rank
    val zipfText = (1 to 30).flatMap(k =>
      Seq.fill(600 / k)(s"t$k")).mkString(" ")
    val z = TextOps.zipfFit(Seq((1L, zipfText)).toDF("doc_id", "text"))
      .head
    assert(z.getAs[Long]("n_ranks") == 30L)
    val slope = z.getAs[Double]("slope")
    assert(slope < -0.9 && slope > -1.1, s"zipf slope $slope")
    // uniform frequencies: ln freq constant -> covariance exactly 0
    val uniText = (1 to 20).flatMap(k => Seq.fill(5)(s"u$k"))
      .mkString(" ")
    val u = TextOps.zipfFit(Seq((1L, uniText)).toDF("doc_id", "text"))
      .head
    assert(u.getAs[Double]("slope") == 0.0)
    assert(math.abs(u.getAs[Double]("ln_intercept") - math.log(5.0)) < 1e-8)
  }

  test("heaps fit: fresh-vocabulary corpus grows with 0 < beta <= 1; " +
    "saturated vocabulary collapses to exactly 0") {
    import spark.implicits._
    // every doc introduces some brand-new terms alongside a shared one
    val grow = Seq.tabulate(100)(i =>
      (i.toLong, s"common w${i}a w${i}b")).toDF("doc_id", "text")
    val g = TextOps.heapsFit(grow).head
    assert(g.getAs[Long]("n_points") == 5L)
    val beta = g.getAs[Double]("beta")
    assert(beta > 0.5 && beta <= 1.0, s"growth beta $beta")
    // a 3-word vocabulary is fully seen by the first checkpoint
    val flat = Seq.tabulate(100)(i =>
      (i.toLong, "a b c")).toDF("doc_id", "text")
    assert(TextOps.heapsFit(flat).head.getAs[Double]("beta") == 0.0)
  }

  test("needle evals: exact budget, depth sweep, needle at its depth, " +
    "short pools fail closed, partitioning-invariant") {
    import spark.implicits._
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, (("w" + i + " ") * 8).trim)).toDF("doc_id", "text")
    val r = Curation.needleEvals(docs, nEvals = 4, budget = 32).collect()
    assert(r.nonEmpty && r.length <= 4)
    r.foreach { row =>
      val ev = row.getAs[Long]("eval_id")
      val pos = row.getAs[Int]("needle_pos")
      val toks = row.getAs[String]("text").split(" ")
      assert(row.getAs[Long]("n_tokens") == 37L) // 32 filler + 5 needle
      assert(toks.length == 37)
      assert(pos == ((ev % 5) * 32 / 4).toInt)
      // the needle sits exactly at its depth
      assert(toks.slice(pos, pos + 5).mkString(" ") ==
        s"the magic number is ${7 * ev + 13}")
      assert(row.getAs[Long]("answer") == 7 * ev + 13)
    }
    // a pool too small for the budget yields no evals, not short ones
    val tiny = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Curation.needleEvals(tiny, nEvals = 2, budget = 32).count() == 0)
    // partitioning-invariant
    val a = Curation.needleEvals(docs, 4, 32).collect()
      .map(_.toSeq).toSet
    val b = Curation.needleEvals(docs.repartition(7), 4, 32).collect()
      .map(_.toSeq).toSet
    assert(a == b)
  }

  test("reward standardize: exact z on a hand case; NULL for singleton " +
    "and zero-variance prompts") {
    import spark.implicits._
    val d = Seq(
      // prompt 0: rewards 0.1/0.2/0.3 -> z = -1/sqrt(2)*? hand-check:
      // ri = 1e8,2e8,3e8; S=6e8, Q=14e16, n=3; rad = 3*14e16-36e16=6e16
      // z_i = (3*ri - 6e8)/sqrt(6e16) -> (-3e8,0,3e8)/2.4494...e8
      (1L, 0L, 0.1), (2L, 0L, 0.2), (3L, 0L, 0.3),
      (4L, 1L, 0.7),                 // singleton -> NULL
      (5L, 2L, 0.5), (6L, 2L, 0.5))  // zero variance -> NULL
      .toDF("doc_id", "prompt_id", "reward")
    val r = Curation.rewardStandardize(d, "prompt_id", "reward")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (if (x.isNullAt(x.fieldIndex("z"))) None
         else Some(x.getAs[Double]("z")))).toMap
    val e = 3e8 / math.sqrt(6e16)
    assert(math.abs(r(1L).get + e) < 1e-9 && math.abs(r(2L).get) < 1e-12)
    assert(math.abs(r(3L).get - e) < 1e-9)
    assert(r(4L).isEmpty && r(5L).isEmpty && r(6L).isEmpty)
  }

  test("temperature mix: low-resource sources boosted above natural " +
    "share, shares sum to 1, alpha=1 is the identity") {
    import spark.implicits._
    val d = Seq.tabulate(90)(i => (i.toLong, ("w " * 10).trim, "big")) ++
      Seq.tabulate(10)(i => ((i + 90).toLong, ("w " * 10).trim, "small"))
    val df = d.toDF("doc_id", "text", "source")
    val r = Curation.temperatureMix(df, alpha = 0.3).collect()
      .map(x => x.getAs[String]("source") ->
        (x.getAs[Double]("natural_share"), x.getAs[Double]("temp_share"),
         x.getAs[Double]("boost"))).toMap
    assert(math.abs(r("big")._1 - 0.9) < 1e-9)
    assert(math.abs(r("small")._1 - 0.1) < 1e-9)
    // temperature flattens: small gets > natural, big gets < natural
    assert(r("small")._2 > 0.1 && r("big")._2 < 0.9)
    assert(r("small")._3 > 1.0 && r("big")._3 < 1.0)
    assert(math.abs(r("small")._2 + r("big")._2 - 1.0) < 1e-8)
    // alpha = 1 reduces to the natural distribution
    val id = Curation.temperatureMix(df, alpha = 1.0).collect()
      .map(x => x.getAs[String]("source") -> x.getAs[Double]("boost"))
      .toMap
    assert(math.abs(id("big") - 1.0) < 1e-8 &&
      math.abs(id("small") - 1.0) < 1e-8)
  }

  test("isotropy report: symmetric cloud scores ~0, collapsed cone " +
    "scores ~1, mu_norm tracks the collapse") {
    import spark.implicits._
    // perfectly symmetric: every vector and its negation -> zero mean
    val sym = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(-1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, -1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val rs = Similarity.isotropyReport(sym).head
    assert(rs.getAs[Long]("n_vecs") == 4L)
    assert(math.abs(rs.getAs[Double]("mean_norm") - 1.0) < 1e-6)
    assert(rs.getAs[Double]("mu_norm") < 1e-6)
    assert(rs.isNullAt(rs.fieldIndex("mean_cos_to_mu"))) // direction undefined
    // fully collapsed: identical direction -> anisotropy 1
    val cone = Seq(
      (1L, Array(2f, 0f, 0f, 0f)), (2L, Array(4f, 0f, 0f, 0f)),
      (3L, Array(6f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val rc = Similarity.isotropyReport(cone).head
    assert(math.abs(rc.getAs[Double]("mean_cos_to_mu") - 1.0) < 1e-6)
    assert(math.abs(rc.getAs[Double]("mu_norm") - 4.0) < 1e-6)
    assert(math.abs(rc.getAs[Double]("mean_norm") - 4.0) < 1e-6)
  }

  test("kmeans census: counts cover the corpus, exemplars are members, " +
    "cohesion sane; balanced sample caps every cluster") {
    import spark.implicits._
    def jit(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 5) }
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val vecs = (0L until 12L).map(i => (i, jit(a, i.toInt))) ++
               (12L until 40L).map(i => (i, jit(b, i.toInt)))
    val df = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(df, 4, 2)
    val cen = Similarity.kmeansCensusOf(df, cents).collect()
    assert(cen.map(_.getAs[Long]("n_vecs")).sum == 40L)
    assert(cen.forall(r => r.getAs[Double]("mean_cos") <= 1.0 &&
      r.getAs[Double]("mean_cos") > 0.9)) // tight jitter -> high cohesion
    // the exemplar belongs to its own cluster
    val assign = Similarity.kmeansAssign(df, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    cen.foreach(r => assert(
      assign(r.getAs[Long]("exemplar_id")) == r.getAs[Long]("cid")))
    // balanced sample: every cluster contributes min(perCluster, size)
    val samp = Similarity.kmeansBalancedSampleOf(df, cents, perCluster = 5)
      .collect()
      .groupBy(_.getAs[Long]("cid")).map { case (c, rs) => c -> rs.length }
    val sizes = cen.map(r => r.getAs[Long]("cid") ->
      r.getAs[Long]("n_vecs")).toMap
    samp.foreach { case (c, n) => assert(n == math.min(5L, sizes(c))) }
    assert(samp.keySet == sizes.keySet)
    // partitioning-invariant
    val re = df.repartition(7)
    val samp2 = Similarity.kmeansBalancedSampleOf(re,
      Similarity.trainIvfCentroids(re, 4, 2), perCluster = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(samp2 == Similarity.kmeansBalancedSampleOf(df,
      Similarity.trainIvfCentroids(df, 4, 2), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("preference pairs: best-vs-worst per prompt, margin gate, " +
    "deterministic tiebreaks") {
    import spark.implicits._
    val d = Seq(
      // prompt 0: rewards 0.9/0.9/0.1 -> chosen ties break to LOW id
      (10L, 0L, 0.9), (11L, 0L, 0.9), (12L, 0L, 0.1),
      // prompt 1: margin 0.02 < 0.05 -> gated out
      (20L, 1L, 0.50), (21L, 1L, 0.48),
      // prompt 2: single candidate -> no pair
      (30L, 2L, 0.7)
    ).toDF("doc_id", "prompt_id", "reward")
    val r = Curation.preferencePairs(d, "prompt_id", "reward", 0.05)
      .collect()
    assert(r.length == 1)
    val p = r.head
    assert(p.getAs[Long]("prompt_id") == 0L &&
      p.getAs[Long]("n_candidates") == 3L &&
      p.getAs[Long]("chosen_id") == 10L &&
      p.getAs[Long]("rejected_id") == 12L &&
      math.abs(p.getAs[Double]("margin") - 0.8) < 1e-12)
  }
}
