package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.model.GridMeta

class GeoSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("F7 affine: pixel index → center coordinate") {
    // grid starting at (77.0, 29.0), 0.01° cells, north-up (negative e)
    val df = Seq((0, 0), (1, 0), (0, 1)).toDF("x", "y")
    val r = df.select(
      GeoFns.affineLon(col("x"), col("y"), lit(0.01), lit(0.0), lit(77.0)).as("lon"),
      GeoFns.affineLat(col("x"), col("y"), lit(0.0), lit(-0.01), lit(29.0)).as("lat"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(r(0) == (77.005, 28.995))
    assert(r(1) == (77.015, 28.995))
    assert(r(2) == (77.005, 28.985))
  }

  test("F7 CRS: Web-Mercator ↔ EPSG:4326 round trip") {
    val df = Seq((77.2, 28.6), (-122.4, 37.8), (0.0, 0.0)).toDF("lon", "lat")
    val r = df.select(
      GeoFns.mercatorToLon(GeoFns.lonToMercator(col("lon"))).as("lon2"),
      GeoFns.mercatorToLat(GeoFns.latToMercator(col("lat"))).as("lat2"),
      col("lon"), col("lat")).collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(0) - row.getDouble(2)) < 1e-9)
      assert(math.abs(row.getDouble(1) - row.getDouble(3)) < 1e-9)
    }
  }

  test("P6 point-in-polygon: unit square, ray casting") {
    val square = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))
    val f = GeoFns.pointInPolygon(square)
    assert(f(0.5, 0.5))
    assert(!f(1.5, 0.5))
    assert(!f(-0.1, 0.5))
    assert(f(0.001, 0.999))
  }

  test("P6 point-in-polygon UDF over a DataFrame") {
    val tri = Seq((0.0, 0.0), (2.0, 0.0), (1.0, 2.0))
    val df = Seq((1.0, 0.5), (1.9, 1.9)).toDF("lon", "lat")
    val r = df.select(GeoFns.pointInPolygonUdf(tri)(col("lon"), col("lat")).as("in"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(r == Seq(true, false))
  }

  test("J1 cell join co-locates points with pixels (broadcast)") {
    val px = Seq((77.005, 28.505, 5.0), (77.015, 28.505, 6.0))
      .toDF("lon", "lat", "value")
    val pts = Seq((77.007, 28.503, "plantA"), (78.0, 29.0, "far"))
      .toDF("lon", "lat", "name")
    val r = GeoFns.cellJoin(px, pts, res = 0.01)
    assert(r.count() == 1)
    assert(r.head.getAs[String]("name") == "plantA")
    // broadcast side is the points: plan must contain a BroadcastHashJoin
    assert(r.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("J2 boundary semi-join keeps pixels inside any box") {
    val px = Seq((77.0, 28.5), (80.0, 30.0)).toDF("lon", "lat")
    val boxes = Seq((76.0, 28.0, 78.0, 29.0)).toDF("min_lon", "min_lat", "max_lon", "max_lat")
    val r = GeoFns.boundarySemiJoin(px, boxes)
    assert(r.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq == Seq((77.0, 28.5)))
  }

  test("F8 unpivot: grid metadata explodes to one row per pixel") {
    val g = GridMeta("d1", 0.01, 0.0, 77.0, 0.0, -0.01, 29.0, "EPSG:4326",
      width = 3, height = 2, nodata = None, scaleM = 1000)
    val r = Unpivot.gridToPixels(spark, g)
    assert(r.count() == 6)
    val first = r.filter(col("y") === 0 && col("x") === 0).head
    assert(first.getAs[Double]("lon") == 77.005)
    assert(first.getAs[Double]("lat") == 28.995)
    val last = r.filter(col("y") === 1 && col("x") === 2).head
    assert(last.getAs[Double]("lon") == 77.025)
    // distinct (y,x) cover the full grid
    assert(r.select("y", "x").distinct().count() == 6)
  }

  test("S7 GeoJSON scan flattens features with sparse MapType properties") {
    val path = getClass.getResource("/powerplants_mini.geojson").getPath
    val r = graft.sources.GeoJson.read(spark, path, "powerplants")
    assert(r.count() == 5)
    assert(r.filter(col("properties")("plant:source") === "coal").count() == 1)
    // name missing on one feature → null, not error
    val named = graft.sources.GeoJson.tooltip(r, "name", "Power Plant Name")
    assert(named.filter(col("Power Plant Name").isNull).count() == 1)
  }

  test("F5 LUTs reproduce matplotlib's tables at the anchor points") {
    // jet endpoints: (0, 0, 0.5)*255 trunc -> (0,0,127); (0.5, 0, 0) -> (127,0,0)
    assert(Render.jetLut(0) == (0, 0, 127, 255))
    assert(Render.jetLut(255) == (127, 0, 0, 255))
    // jet plateaus: red=255 on x in [0.66, 0.89] -> idx 169..226; green=255
    // on [0.375, 0.64] -> idx 96..163; blue=255 on [0.11, 0.34] -> idx 29..86
    assert((169 to 226).forall(Render.jetLut(_)._1 == 255))
    assert((96 to 163).forall(Render.jetLut(_)._2 == 255))
    assert((29 to 86).forall(Render.jetLut(_)._3 == 255))
    // first byte off the ramp start: red rises after x=0.35 (idx>89.25)
    assert(Render.jetLut(89)._1 == 0 && Render.jetLut(90)._1 > 0)
    // Reds endpoints are the first/last ColorBrewer anchors exactly
    assert(Render.redsLut(0) == (255, 245, 240, 255))
    assert(Render.redsLut(255) == (103, 0, 13, 255))
    // monotone nonincreasing green/blue for Reds (white -> dark red)
    assert(Render.redsLut.sliding(2).forall(p => p(1)._2 <= p(0)._2 && p(1)._3 <= p(0)._3))
  }

  test("S6/F5 render: LUT has 256 entries, PNG sink writes a file") {
    assert(Render.jetLut.length == 256 && Render.redsLut.length == 256)
    assert(Render.jetLut.forall { case (r, g, b, a) =>
      Seq(r, g, b, a).forall(c => c >= 0 && c <= 255) })
    graft.TempDirs.withTempDir("render") { tmp =>
      val rows = Array((0, 0, 255, 0, 0, 255), (1, 1, 0, 255, 0, 255))
      Render.writePng(rows, 2, 2, s"$tmp/test.png")
      val img = javax.imageio.ImageIO.read(new java.io.File(s"$tmp/test.png"))
      assert(img.getWidth == 2 && img.getHeight == 2)
      assert((img.getRGB(0, 0) >> 16 & 0xFF) == 255) // red pixel
    }
  }

  test("S6 golden PNG: jet-rendered gradient byte-matches the fixture") {
    val got = graft.TempDirs.withTempDir("render") { tmp =>
      Render.writePng(GoldenPng.rows, 16, 16, s"$tmp/jet.png")
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/jet.png"))
    }
    val want = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(GoldenPng.path))
    assert(got.sameElements(want),
      "jet render drifted from the golden PNG — if the LUT change is " +
        "intentional, regenerate with GenGoldenPng")
  }
}

/** 16×16 jet gradient, one pixel per LUT entry. Regenerate the golden:
  * `sbt "Test/runMain graft.ops.GenGoldenPng"`. */
object GoldenPng {
  val path: String = java.nio.file.Paths
    .get("src/test/resources/golden_jet_16.png").toAbsolutePath.toString
  def rows: Array[(Int, Int, Int, Int, Int, Int)] =
    Array.tabulate(256) { k =>
      val (r, g, b, a) = Render.jetLut(k)
      (k / 16, k % 16, r, g, b, a)
    }
}

object GenGoldenPng {
  def main(args: Array[String]): Unit = {
    Render.writePng(GoldenPng.rows, 16, 16, GoldenPng.path)
    println(s"wrote ${GoldenPng.path}")
  }
}
