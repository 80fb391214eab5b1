package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}
import graft.TempDirs.withTempDir

/** Stage-count and boundary invariants of the end-to-end corpus build
  * (x171). The oracle proves the VALUES; these assertions pin the
  * composition CONTRACTS that a hash can't name when they fail: gates
  * only ever drop rows, row identity threads every boundary, the
  * packed token count equals the exported token count, and the scrub
  * actually happened before anything persisted downstream. */
class CorpusBuildSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private lazy val stages = {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    CorpusBuild.run(SparkEntry.x171Docs(docs), SparkEntry.x171Urls(docs),
      UrlOps.parseRobots(SparkEntry.x171Robots(docs)),
      isTarget = col("source") === "src0",
      minWords = 20L, minDfLine = 20L, minJaccard = 0.35,
      selectK = 180, packBudget = 256L, nShards = 4,
      reline = c => {
        val toks = filter(split(lower(c), "\\s+"), t => length(t) > 0)
        val nL = greatest(((size(toks) + lit(1)) / lit(2)).cast("int"),
          lit(1))
        array_join(transform(sequence(lit(0), nL - 1),
          i => array_join(slice(toks, i * 2 + 1, lit(2)), " ")), "\n")
      })
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("docs in >= docs out at EVERY gate, each fixture gate bites, " +
    "and row identity threads every stage boundary") {
    val n0 = 500L
    val i1 = ids(stages.s1Robots)
    val i3 = ids(stages.s3Censored)
    val i4 = ids(stages.s4Gopher)
    val i5 = ids(stages.s5Deduped)
    val i6 = ids(stages.s6Selected)
    // monotone shrink — a gate may only drop rows, never invent them
    assert(i1.size <= n0 && i3.subsetOf(i1) && i4.subsetOf(i3) &&
      i5.subsetOf(i4) && i6.subsetOf(i5))
    // the fixture makes robots, gopher, dedup and DSIR all bite
    assert(i1.size < n0, "robots gate dropped nothing")
    assert(i4.size < i3.size, "gopher gate dropped nothing")
    assert(i5.size < i4.size, "dedup dropped nothing")
    assert(i6.size < i5.size && i6.nonEmpty, "DSIR cut did not bite")
    // no-plant docs (doc_id % 4 == 1) all fail the stopword rule
    assert(i4.forall(_ % 4 != 1), "an unplanted doc passed r_stopwords")
  }

  test("exported tokens == packed tokens on every sequence; the shard " +
    "layout is a contiguous rank ramp; packs are monotone per source") {
    val rows = stages.report.collect()
    assert(rows.length == ids(stages.s6Selected).size,
      "report lost or duplicated a sequence")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == r.getAs[Long]("n_tokens_idx"),
        s"pack/export token counts diverged on doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_lines"))
    }
    // pos is 0..k-1 within each shard (the parse saw every sequence)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, g) =>
      val ps = g.map(_.getAs[Int]("pos")).sorted
      assert(ps.toSeq == (0 until g.length), s"shard $sh ramp torn: $ps")
    }
    // pack_id never decreases as doc_id grows within a source
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, g) =>
      val byDoc = g.sortBy(_.getAs[Long]("doc_id"))
        .map(_.getAs[Long]("pack_id"))
      assert(byDoc.zip(byDoc.tail).forall { case (a, b) => a <= b },
        s"pack ids regress in source $src")
    }
  }

  test("scrub-before-censor: no raw PII past stage 2, every survivor " +
    "was scrubbed, and the censor then eats the constant tag lines") {
    val leak = stages.s3Censored
      .filter(col("text").contains("@example.com") ||
        col("text").rlike("\\+1 \\(202\\)"))
      .count()
    assert(leak == 0L, "raw planted PII leaked past the scrub")
    // the scrub really ran: EVERY robots survivor carries the tag at
    // stage 2 (the plant is universal)
    val tagged2 = stages.s2Scrubbed
      .filter(col("text").contains("<EMAIL>")).count()
    assert(tagged2 == stages.s1Robots.count(),
      "scrub skipped a document")
    // …and the line censor then eats the tag lines as corpus-constant
    // boilerplate (df ≥ 20: '<email> <ip>', '<phone>' are the most
    // repeated lines in the corpus once redaction normalizes them) —
    // the emergent privacy win of scrub-BEFORE-censor ordering: by s5
    // neither raw PII nor even the tags persist
    val tagged5 = stages.s5Deduped
      .filter(col("text").contains("<email>") ||
        col("text").contains("<ip>") ||
        col("text").contains("<phone>")).count()
    assert(tagged5 == 0L,
      "constant redaction-tag lines escaped the censor")
  }

  test("tokenized export (x211): decode(sidecar, .bin) round-trips " +
    "every surviving doc, the artifact set is complete, and token " +
    "counts match the trained encoder") {
    withTempDir("corpus_tok_spec") { d =>
      val dir = d.toString
      CorpusBuild.tokenizedExport(stages.s6Selected, dir,
        nShards = 4, nMerges = 12)
      // the complete loadable artifact set a training job consumes
      Seq("merges.txt", "vocab.json").foreach { f =>
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f)),
          s"missing sidecar $f")
      }
      val report = CorpusBuild.tokenizedReport(spark, dir, nShards = 4)
        .collect()
      val n6 = ids(stages.s6Selected).size
      assert(report.length == n6, "report lost or duplicated a sequence")
      assert(report.forall(_.getAs[Boolean]("roundtrip")),
        "a sequence failed decode(sidecar, .bin) == curated text")
      // exported counts equal a fresh encode under the parsed sidecar
      val sidecar = graft.functions.ByteBpe.parseGpt2Merges(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(dir, "merges.txt")))
      val fresh = stages.s6Selected
        .select(col("doc_id"), size(graft.functions.ByteBpeIds(
          col("text"), sidecar)).cast("long").as("k"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      report.foreach { r =>
        assert(r.getAs[Long]("n_tokens") == fresh(r.getAs[Long]("doc_id")),
          s"token count diverged on doc ${r.getAs[Long]("doc_id")}")
      }
      // vocab.json is the dual of merges.txt: one id per base byte plus
      // one per merge rule, all distinct
      val vocab = graft.functions.ByteBpe.parseGpt2Vocab(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(dir, "vocab.json")))
      assert(vocab.size == 256 + sidecar.length,
        s"vocab size ${vocab.size} != 256 + ${sidecar.length} merges")
    }
  }
}
