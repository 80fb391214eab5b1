package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.ansi.enabled", "true")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = spark.range(0, 5000).select(
    col("id"),
    (col("id") % 7).cast("string").as("band"),
    when(col("id") % 11 === 0, lit(null)).otherwise(col("id") / 3.0).as("value"),
    map(lit("k"), col("id")).as("props"),
    struct(col("id").as("a"), lit("x").as("b")).as("rgba"))

  test("digest ignores row order and partitioning") {
    val base = Digest.of(sample)
    assert(base._1 == 5000)
    assert(Digest.of(sample.repartition(7)) == base)
    assert(Digest.of(sample.orderBy(desc("id"))) == base)
    assert(Digest.of(sample.coalesce(1)) == base)
  }

  test("digest sees every column, duplicate names included") {
    val base = Digest.of(sample)
    assert(Digest.of(sample.withColumn("band", lit("0"))) != base)
    assert(Digest.of(sample.withColumn("props", map(lit("k"), lit(0L)))) != base)
    assert(Digest.of(sample.filter(col("id") =!= 17)) != base)
    val dup = sample.select(col("id"), col("id"))
    assert(Digest.of(dup)._1 == 5000)
  }

  test("digest does not overflow under ANSI mode") {
    val big = spark.range(0, 200000).select(lit(Long.MaxValue).as("x"), col("id"))
    val (n, h) = Digest.of(big)
    assert(n == 200000 && h > 0 && h < n * Digest.Prime)
  }

  test("driver-side digest ignores row and column order") {
    val rows = sample.collect().toSeq
    val base = Digest.ofRows(rows)
    assert(base._1 == 5000)
    assert(Digest.ofRows(scala.util.Random.shuffle(rows)) == base)
    val reordered = sample.select("rgba", "props", "value", "band", "id").collect().toSeq
    assert(Digest.ofRows(reordered) == base)
    assert(Digest.ofRows(rows.drop(1)) != base)
  }
}
