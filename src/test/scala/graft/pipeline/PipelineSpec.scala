package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, TempDirs}
import graft.model.Schemas.BBox

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** 4×4 grid, 2 dates, 1 band — deterministic values value = y*4+x+day. */
  private def pixels = {
    val rows = for {
      day <- Seq("2025-08-01", "2025-08-15")
      y <- 0 until 4; x <- 0 until 4
    } yield ("s5p_no2", day, "no2", y, x,
      77.0 + (x + 0.5) * 0.1, 29.0 - (y + 0.5) * 0.1,
      if (y == 3 && x == 3) None
      else Some((y * 4 + x).toDouble + (if (day.endsWith("15")) 1.0 else 0.0)))
    rows.toDF("dataset", "date", "band", "y", "x", "lon", "lat", "value")
      .withColumn("date", to_date(col("date")))
  }

  test("monthly composite: one month, mean across the two dates") {
    val c = MonthlyPipeline.monthlyComposite(
      pixels, BBox(76.0, 28.0, 78.0, 30.0), "2025-08-01", "2025-09-01")
    assert(c.count() == 16)
    // cell (0,0): (0 + 1)/2 = 0.5
    assert(c.filter($"y" === 0 && $"x" === 0).head.getAs[Double]("mean") == 0.5)
    // nodata cell (3,3): null in both dates → null mean
    assert(c.filter($"y" === 3 && $"x" === 3).head.isNullAt(6))
  }

  test("render layer: norm in [0,1], severity assigned, rgba present") {
    val c = MonthlyPipeline.monthlyComposite(
      pixels, BBox(76.0, 28.0, 78.0, 30.0), "2025-08-01", "2025-09-01")
    val standards = Seq(("no2", 7.0)).toDF("band", "std_value")
    val r = MonthlyPipeline.renderLayer(c, standards)
    val norms = r.filter($"norm".isNotNull).select("norm").collect().map(_.getDouble(0))
    assert(norms.forall(v => v >= 0 && v <= 1))
    assert(r.filter($"severity" === "high").count() > 0)
    assert(r.columns.contains("rgba"))
  }

  test("golden CSV: (lat,lon,mean) 6-decimal format, byte-stable") {
    val c = MonthlyPipeline.monthlyComposite(
      pixels, BBox(76.0, 28.0, 78.0, 30.0), "2025-08-01", "2025-09-01")
    val lines = MonthlyPipeline.csvPixelTable(c)
      .orderBy(desc("lat"), asc("lon"))
      .collect().map(r => s"${r.getString(0)},${r.getString(1)},${r.getString(2)}")
    val expectedHead = "28.950000,77.050000,0.500000"  // cell (0,0)
    assert(lines.head == expectedHead)
    assert(lines.length == 16)
    assert(lines.last == "28.650000,77.350000,nan")     // nodata cell (3,3)
    // full golden comparison against checked-in file
    val golden = scala.io.Source.fromResource("golden_pixels.csv").getLines().toSeq
    assert(lines.toSeq == golden)
  }

  test("S5 CSV write -> read round trip recovers the pixel table") {
    val c = MonthlyPipeline.monthlyComposite(
      pixels, BBox(76.0, 28.0, 78.0, 30.0), "2025-08-01", "2025-09-01")
    TempDirs.withTempDir("csvrt") { tmp =>
      MonthlyPipeline.writeCsv(c, s"$tmp/pixels")
      val back = MonthlyPipeline.readCsvPixelTable(spark, s"$tmp/pixels")
      assert(back.count() == 16)
      val want = c.select(col("lat"), col("lon"), col("mean"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSet
      val got = back.collect().map(r => (r.getDouble(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
      assert(got == want) // values survive the 6dp format (grid is 6dp-exact)
      assert(back.filter(col("mean").isNull).count() == 1) // the nan cell
    }
  }

  test("partitioned write + manifest round trip") {
    val c = MonthlyPipeline.monthlyComposite(
      pixels, BBox(76.0, 28.0, 78.0, 30.0), "2025-08-01", "2025-09-01")
    TempDirs.withTempDir("gold") { tmp =>
      MonthlyPipeline.writePartitioned(c, s"$tmp/composite")
      // partition directories exist → pruning layout in place
      val dirs = new java.io.File(s"$tmp/composite").listFiles().map(_.getName)
      assert(dirs.exists(_.startsWith("month=2025-08-01")))
      // one parquet file per (month, band) directory
      val leaves = new java.io.File(s"$tmp/composite").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles().filter(_.isDirectory))
      assert(leaves.nonEmpty)
      leaves.foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d.toString)
      }
      val back = spark.read.parquet(s"$tmp/composite")
      assert(back.count() == 16)
      val m = MonthlyPipeline.manifest(back).collect()
      assert(m.length == 1 && m.head.getAs[String]("band") == "no2")
    }
  }
}
