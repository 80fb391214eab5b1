package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.LocalFs
import graft.model.Schemas.BBox
import graft.ops._

/** SURVEY §3.1 + §3.2 — the reference's end-to-end product, restated as one
  * bronze→silver→gold DataFrame pipeline.
  *
  * Reference shape: per calendar month, per band — filterDate + filterBounds
  * → mean composite → clip → export GeoTIFF (DataDownloader_V2.py:110-168);
  * then locally normalize → colormap → PNG + unpivot → (lat,lon,mean) CSV
  * (fix_transparency.py:47-85). The reference loops months in a driver
  * for-loop and recomputes each from source; here ALL months compute in one
  * shuffle (groupBy month) and land as partitioned parquet — the 100 TB
  * posture is partition pruning on (month, band) plus map-side partial
  * aggregation, not a month loop.
  */
object MonthlyPipeline {

  /** Bronze→silver: monthly mean composite per band and grid cell over the
    * filtered period and region. One hash aggregation; output partitioned
    * by (month, band) so every downstream read prunes. */
  def monthlyComposite(pixels: DataFrame, box: BBox,
                       start: String, end: String): DataFrame = {
    val filtered = Filters.filterBounds(
      Filters.dateRange(pixels, "date", start, end), box)
    // lon/lat are functionally dependent on (band, y, x) — grouping by them
    // adds no cardinality, just carries them through the aggregate.
    filtered
      .groupBy(date_trunc("month", col("date")).cast("date").as("month"),
               col("band"), col("y"), col("x"), col("lon"), col("lat"))
      .agg(avg("value").as("mean"))
  }

  /** Silver→gold: per-raster min-max normalization + severity buckets +
    * render channels — all window/when column algebra, no extra shuffle
    * beyond the window on the raster key. */
  def renderLayer(composite: DataFrame, standards: DataFrame): DataFrame = {
    val norm = composite.withColumn("norm",
      Normalize.minMaxNorm("mean", "month", "band"))
    Buckets.withSeverity(norm, standards, valueCol = "mean")
      .withColumn("rgba", Render.applyLut(col("norm"), Render.jetLut))
  }

  /** Gold sink S3-style: partitioned parquet layout
    * (replaces the reference's exported_data/<date>/ directory scheme).
    * Written through [[graft.io.LocalFs]], so a local gold write sets its
    * file and directory modes in process and forks no `chmod`. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    LocalFs.write(df).mode(SaveMode.Overwrite)
      .partitionBy("month", "band")
      .parquet(path)

  /** S5 — the reference's (lat,lon,mean) CSV pixel table: 6-decimal fixed
    * format, header, NaN-preserving (fix_transparency.py:76-83). */
  def csvPixelTable(composite: DataFrame): DataFrame =
    composite.select(
      format_string("%.6f", col("lat")).as("lat"),
      format_string("%.6f", col("lon")).as("lon"),
      when(col("mean").isNotNull, format_string("%.6f", col("mean")))
        .otherwise(lit("nan")).as("mean"))

  def writeCsv(composite: DataFrame, path: String): Unit =
    LocalFs.write(csvPixelTable(composite).coalesce(1))
      .mode(SaveMode.Overwrite).option("header", true).csv(path)

  /** S5 read side — parse a (lat,lon,mean) CSV pixel table back into
    * typed rows (schema pinned, no inference pass; the reference writes
    * lowercase `nan` for transparent pixels — mapped to null like every
    * other ingest path). Closes the export loop: artifacts written by
    * [[writeCsv]] (or the reference's own `fix_transparency.py`) read
    * back as relational pixels. */
  def readCsvPixelTable(spark: org.apache.spark.sql.SparkSession,
                        path: String, header: Boolean = true): DataFrame =
    spark.read
      .schema("lat DOUBLE, lon DOUBLE, mean DOUBLE")
      .option("header", header)
      .option("nanValue", "nan")
      .csv(path)
      .withColumn("mean",
        when(isnan(col("mean")), lit(null)).otherwise(col("mean")))

  /** S9 — serving manifest: the date index the wrapper page iterates
    * (sorted distinct partitions, DataDownloader_V2.py:186-265). */
  def manifest(composite: DataFrame): DataFrame =
    composite.select("month", "band").distinct().orderBy("month", "band")
}
