package graft.serve

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, TempDirs}

class ServingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def gold = Seq(
    ("2025-08-01", "no2", 1.0), ("2025-08-01", "so2", 2.0),
    ("2025-09-01", "no2", 3.0))
    .toDF("month", "band", "mean")
    .withColumn("month", to_date(col("month")))

  /** The page [[Serving.writeViewer]] writes for `gold`'s manifest,
    * read back from a scoped temp dir. */
  private def viewerHtml(geojson: Option[String] = None): String =
    TempDirs.withTempDir("viewer") { tmp =>
      val page = tmp.resolve("index.html")
      Serving.writeViewer(gold.select("month", "band"), "assets",
        page.toString, geojson = geojson)
      java.nio.file.Files.readString(page)
    }

  test("P7/P8 lookup prunes to one month × selected layers") {
    val r = Serving.lookup(gold, "2025-08-01", Seq("no2"))
    assert(r.collect().map(_.getDouble(2)).toSeq == Seq(1.0))
  }

  test("P10 existence guard filters absent layers") {
    assert(Serving.existingLayers(gold, Seq("no2", "frp")) == Seq("no2"))
  }

  test("F13 query-string parse") {
    assert(Serving.parseQuery("?layers=no2,so2&start_date=2025-08-01") ==
      Map("layers" -> "no2,so2", "start_date" -> "2025-08-01"))
  }

  test("S8 viewer writes months and layers into the page") {
    val html = viewerHtml()
    assert(html.contains("'2025-08-01'") && html.contains("'2025-09-01'"))
    assert(html.contains(""">no2</label>""") && html.contains(""">so2</label>"""))
    assert(html.contains("on('error'")) // P10 at the browser edge
    // capability parity with the reference viewer: tile basemap, image
    // overlays with opacity, query-string-driven reloads
    assert(html.contains("L.tileLayer") && html.contains("openstreetmap"))
    assert(html.contains("L.imageOverlay") && html.contains("setOpacity"))
    assert(html.contains("start_date") && html.contains("layers"))
  }

  test("S8 viewer inlines a GeoJSON layer with property tooltips") {
    val gj = scala.io.Source.fromFile(
      getClass.getResource("/powerplants_mini.geojson").getPath).mkString
    val html = viewerHtml(Some(gj))
    assert(html.contains("L.geoJSON") && html.contains("bindTooltip"))
    assert(html.contains("FeatureCollection")) // features actually inlined
    // the layer is reachable: it has its own checkbox and is selected by
    // default, and an empty ?layers= means none (not silently all)
    assert(html.contains(""">powerplants</label>"""))
    assert(html.contains("params.has('layers')"))
    assert(html.contains(".filter(x => x)"))
  }

  test("S8 viewer escapes untrusted GeoJSON: no raw markup reaches the page") {
    // hostile feature properties: a script-block breakout and an HTML tag
    val gj = """{"type":"FeatureCollection","features":[{"type":"Feature",
      |"geometry":{"type":"Point","coordinates":[77.1,28.6]},
      |"properties":{"name":"</script><script>alert(1)</script>",
      |"<b>k</b>":"v"}}]}""".stripMargin
    val html = viewerHtml(Some(gj))
    // the document is inlined as an escaped JS string fed to JSON.parse —
    // every '<' from the payload is \u003c, so '</script>' cannot break out
    assert(html.contains("JSON.parse("))
    assert(!html.contains("</script><script>alert(1)"))
    assert(html.contains("\\u003c/script>\\u003cscript>alert(1)"))
    // tooltip rows HTML-escape keys and values before interpolation
    assert(html.contains("escHtml(k)") && html.contains("escHtml(p[k])"))
  }
}
