package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

class JsonLinesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val fixture = java.nio.file.Paths
    .get("src/test/resources/corpus_mini.jsonl").toAbsolutePath.toString

  test("S12 reads the corpus fixture with pinned schema") {
    val df = JsonLines.read(spark, fixture)
    assert(df.count() == 10)
    val r = df.filter(col("doc_id") === 1).head
    assert(r.getAs[String]("text").startsWith("the quick brown"))
    assert(r.getAs[String]("source") == "web")
    assert(r.getAs[Double]("quality") == 0.82)
    // unicode survives
    val fr = df.filter(col("doc_id") === 4).head
    assert(fr.getAs[String]("text").contains("déjà"))
    val ja = df.filter(col("doc_id") === 10).head
    assert(ja.getAs[String]("text").contains("日本語"))
  }

  test("S12 missing fields are null, unknown fields are ignored") {
    val df = JsonLines.read(spark, fixture)
    val bare = df.filter(col("doc_id") === 5).head
    assert(bare.isNullAt(bare.fieldIndex("lang")))
    assert(bare.isNullAt(bare.fieldIndex("source")))
    assert(bare.isNullAt(bare.fieldIndex("quality")))
    // doc 9 carries an extra_field not in the schema — read succeeds and
    // the row is NOT marked corrupt
    val extra = df.filter(col("doc_id") === 9).head
    assert(extra.isNullAt(extra.fieldIndex("bad_line")))
    assert(extra.getAs[String]("source") == "web")
  }

  test("S12 reads gzip-compressed shards transparently") {
    // crawl shards ship as .jsonl.gz; the codec is picked by extension,
    // per-file (a .gz file is one task — document-level parallelism comes
    // from the shard count, which is how crawls are laid out anyway)
    graft.TempDirs.withTempDir("jsonlgz") { dir =>
      val f = dir.resolve("shard.jsonl.gz").toFile
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(f))
      out.write(
        """{"doc_id": 1, "text": "compressed line one"}
          |{"doc_id": 2, "text": "compressed line two", "lang": "en"}
          |""".stripMargin.getBytes("UTF-8"))
      out.close()
      val rows = JsonLines.read(spark, f.getAbsolutePath)
        .collect().sortBy(_.getLong(0))
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("text") == "compressed line one")
      assert(rows(1).getAs[String]("lang") == "en")
    }
  }

  test("S12 corrupt lines surface in bad_line instead of failing the job") {
    graft.TempDirs.withTempDir("jsonl") { dir =>
      val f = dir.resolve("shard.jsonl").toFile
      java.nio.file.Files.writeString(f.toPath,
        """{"doc_id": 1, "text": "good line"}
          |this is not json at all
          |{"doc_id": 3, "text": "another good line"}
          |""".stripMargin)
      // Spark refuses a query that filters ONLY on the corrupt column over
      // raw files (it would be trivially empty after pushdown) — collect
      // the rows and audit driver-side, or cache first; both are the
      // documented idiom
      val df = JsonLines.read(spark, f.getAbsolutePath)
      val rows = df.collect()
      assert(rows.length == 3)
      val bad = rows.filter(!_.isNullAt(rows.head.fieldIndex("bad_line")))
      assert(bad.length == 1)
      assert(bad.head.getAs[String]("bad_line").contains("not json"))
      assert(rows.count(_.isNullAt(rows.head.fieldIndex("bad_line"))) == 2)
    }
  }
}
