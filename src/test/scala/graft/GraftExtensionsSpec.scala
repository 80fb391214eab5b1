package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("custom expressions callable from plain SQL") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
        (3L, "something else entirely")).toDF("id", "text")
      .createOrReplaceTempView("sql_docs")
    val r = spark.sql(
      """SELECT id,
                simhash64(transform(split(lower(text), '\\s+'), t -> xxhash64(t))) AS fp,
                minhash_signature(transform(split(lower(text), '\\s+'),
                                            t -> xxhash64(t)), 8) AS sig
         FROM sql_docs""").collect()
    val byId = r.map(row => row.getLong(0) ->
      (row.getLong(1), row.getAs[scala.collection.Seq[Long]](2).toSeq)).toMap
    assert(byId(1L) == byId(2L))
    assert(byId(1L)._1 != byId(3L)._1)
    assert(byId(1L)._2.length == 8)
  }

  test("shingle_hashes, rolling_fnv_fingerprint, mix64 from plain SQL") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT size(shingle_hashes('a b c d', 2)) AS n_shingles,
                rolling_fnv_fingerprint(array('the', 'quick', 'fox')) AS fp,
                mix64(0L) AS m0""").head
    assert(r.getInt(0) == 3) // 4 tokens, k=2 -> 3 shingles
    assert(r.getLong(1) == 7368246946192009564L) // HashExprsSpec golden value
    assert(r.getLong(2) == graft.functions.HashExprs.mix64(0L))
  }

  test("bpe_subwords from plain SQL: fixture-table segmentation") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      "SELECT bpe_subwords('The question'), size(bpe_subwords('zzz'))").head
    assert(r.getSeq[String](0) == Seq("the", "qu", "es", "tion"))
    assert(r.getInt(1) == 3)
  }

  test("bpe_explode from plain SQL: generator rows with word indexes") {
    GraftExtensions.registerAll(spark)
    val rows = spark.sql("SELECT bpe_explode('The question')")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((0, "the"), (1, "qu"), (1, "es"), (1, "tion")))
    // null and empty generate nothing, and LATERAL VIEW works
    assert(spark.sql(
      "SELECT bpe_explode(CAST(NULL AS STRING))").count() == 0)
    val lv = spark.sql(
      """SELECT t.doc, s.subword
         FROM VALUES ('standing'), ('') AS t(doc)
         LATERAL VIEW bpe_explode(t.doc) s AS word_idx, subword""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(lv == Seq(("standing", "st"), ("standing", "and"),
      ("standing", "ing")))
  }

  test("shingle_hashes_all from plain SQL: positional, duplicates kept") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT shingle_hashes_all('a b a b', 2) AS all_h,
                shingle_hashes('a b a b', 2) AS distinct_h""").head
    val all = r.getSeq[Long](0)
    val dist = r.getSeq[Long](1)
    assert(all.length == 3)        // windows at positions 0,1,2
    assert(all(0) == all(2))       // "a b" repeats in position
    assert(dist.toSet == all.toSet) // same hash family
    assert(dist.length == 2)       // distinct collapses the repeat
  }

  test("string_shingles from plain SQL: gram strings, lowercased, distinct") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql("SELECT string_shingles('The quick THE quick', 2) AS g")
      .head.getSeq[String](0)
    assert(r == Seq("the quick", "quick the"))
  }

  test("SQL functions cast narrower integrals and reject junk with analysis errors") {
    GraftExtensions.registerAll(spark)
    // INT literal: the analyzer upcasts to BIGINT instead of a runtime
    // ClassCastException (round-3 advice)
    assert(spark.sql("SELECT mix64(0) AS m").head.getLong(0) ==
      graft.functions.HashExprs.mix64(0L))
    assert(spark.sql("SELECT simhash64(array(1, 2)) AS fp").head.getLong(0) ==
      graft.functions.HashExprs.simhashRef(Array(1L, 2L)))
    // non-castable input fails at analysis, with a readable message
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT mix64(map('a', 1))").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_hashes(array(1L), 2)").collect()
    }
  }

  test("extensions install at session-build time") {
    val s2 = GraftSession.builder(SharedSpark.cpus)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // getOrCreate may return the shared session; registerAll covers that
    // case in the other test — here just assert the function resolves
    GraftExtensions.registerAll(s2)
    assert(s2.sql("SELECT simhash64(array(1L, 2L)) AS fp").head.getLong(0) ==
      graft.functions.HashExprs.simhashRef(Array(1L, 2L)))
  }
}
