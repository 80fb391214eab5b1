package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The ordered double sum ([[graft.ops.Stable.orderedSum]]) exists so a
  * per-document score does not depend on how the input is partitioned:
  * each scorer built on it must publish the same bits whether the
  * documents arrive in 1 partition or in 7. */
class PartitionInvarianceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** 60 documents over a 14-word vocabulary, so grams, buckets and
    * hashed dims repeat within and across documents. */
  private def docs: DataFrame = {
    val vocab = ("the quick brown fox jumps over lazy dog river bank " +
      "spark query engine data").split(" ")
    (0L until 60L).map { i =>
      val n = 12 + (i % 7).toInt
      (i, (0 until n).map(j =>
        vocab(((i * 31 + j * j * 7 + j) % vocab.length).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** doc_id → raw bits of every double column, in schema order. */
  private def doubleBits(df: DataFrame): Map[Long, Seq[Long]] = {
    val ds = df.schema.fields.filter(_.dataType == DoubleType).map(_.name)
    assert(ds.nonEmpty, s"no double column in ${df.columns.mkString(",")}")
    df.select(col("doc_id") +: ds.toSeq.map(col): _*).collect().map { r =>
      r.getLong(0) -> ds.indices.map(i =>
        java.lang.Double.doubleToRawLongBits(r.getDouble(i + 1)))
    }.toMap
  }

  private val scorers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "TextOps.bigramLmScore" -> (d => TextOps.bigramLmScore(d)),
    "TextOps.hashedLinearScore" -> (d => TextOps.hashedLinearScore(d)),
    "TextOps.dsirLlr" ->
      (d => TextOps.dsirLlr(d, d.filter(col("doc_id") % 3 === 0))),
    "Similarity.hashAnnTopK" ->
      (d => Similarity.hashAnnTopK(d, "quick brown fox near the river",
        k = 60)),
    "Curation.dsirWeights" ->
      (d => Curation.dsirWeights(d, col("doc_id") % 3 === 0)))

  scorers.foreach { case (name, score) =>
    test(s"$name publishes bit-identical doubles at 1 and 7 partitions") {
      val one = doubleBits(score(docs.repartition(1)))
      val seven = doubleBits(score(docs.repartition(7)))
      assert(one.size >= 30, s"only ${one.size} docs scored")
      assert(one == seven)
    }
  }
}
