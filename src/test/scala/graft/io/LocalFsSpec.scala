package graft.io

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, TempDirs}
import graft.model.Schemas.BBox
import graft.pipeline.MonthlyPipeline

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Two bands over three months of a 3×3 grid: six gold partitions. */
  private def composite: DataFrame = {
    val rows = for {
      day <- Seq("2025-01-10", "2025-02-10", "2025-03-10")
      band <- Seq("no2", "so2")
      y <- 0 until 3; x <- 0 until 3
    } yield (day, band, y, x, 77.0 + x * 0.1, 29.0 - y * 0.1, (y * 3 + x).toDouble)
    val pixels = rows.toDF("date", "band", "y", "x", "lon", "lat", "value")
      .withColumn("date", to_date(col("date")))
    MonthlyPipeline.monthlyComposite(
      pixels, BBox(76.0, 28.0, 78.0, 30.0), "2025-01-01", "2025-04-01")
  }

  /** Command lines of the processes this JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(f) }
  }

  /** Full mode bits (sticky included) of every file and directory under
    * `root`, keyed by relative path with each write's UUID blanked. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff)
    }.toMap
    finally s.close()
  }

  test("a gold write starts no process") {
    val c = composite
    TempDirs.withTempDir("gold-forks") { tmp =>
      val out = tmp.resolve("gold").toString
      // the first write in a JVM loads classes whose set-up may fork once
      // (Hadoop's Shell probes for setsid); count a later write
      MonthlyPipeline.writePartitioned(c, out)
      // the executor heartbeat's first metrics poll forks one page-size
      // probe per JVM, whenever it lands; take it before recording
      org.apache.spark.ProcfsMetricsInit()
      val forks = processStarts(MonthlyPipeline.writePartitioned(c, out))
      assert(forks.size == 0, s"process starts, e.g. ${forks.take(3)}")
    }
  }

  test("the sink leaves the same modes as the stock local file system") {
    val c = composite
    TempDirs.withTempDir("gold-modes") { tmp =>
      c.write.partitionBy("month", "band").parquet(tmp.resolve("stock").toString)
      LocalFs.write(c).partitionBy("month", "band").parquet(tmp.resolve("nio").toString)
      val stock = modes(tmp.resolve("stock"))
      val nio = modes(tmp.resolve("nio"))
      assert(nio == stock)
      val names = stock.keySet.map(_.split('/').last)
      assert(Set("_SUCCESS", "._SUCCESS.crc").subsetOf(names))
      assert(names.exists(_.endsWith(".parquet.crc")))
      assert(stock.keySet.count(_.contains("band=")) > 6) // dirs and their files
    }
  }

  test("a sticky-bit permission goes to Hadoop's own setPermission") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration)
    TempDirs.withTempDir("sticky") { dir =>
      def setAndRead(octal: String): Int = {
        fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt(octal, 8).toShort))
        Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0x0fff
      }
      assert(setAndRead("750") == Integer.parseInt("750", 8))
      // java.nio cannot express the sticky bit: finding it set on disk
      // means Hadoop's own chmod ran
      assert(setAndRead("1755") == Integer.parseInt("1755", 8))
    }
  }
}
