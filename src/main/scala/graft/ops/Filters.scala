package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Schemas.BBox

/** SURVEY §2.2 — projections / filters / predicates.
  *
  * All pure Column predicates: Catalyst pushes them into the parquet scan
  * (`PushedFilters`) and prunes `date=`/`band=` partitions, which is the
  * 100 TB story — a date+bbox query touches only its partition directories
  * and row groups.
  */
object Filters {

  /** P1 — band select on the long pixel table. Band is data, not schema
    * (reference `.select('NO2_column_number_density')`,
    * DataDownloader_V1.py:98-125). */
  def bandSelect(df: DataFrame, band: String): DataFrame =
    df.filter(col("band") === band)

  /** P2 — equality predicate conjunction
    * (reference `ee.Filter.eq('shapeGroup','IND')`, DataDownloader_V1.py:14). */
  def eqAll(df: DataFrame, conds: (String, Any)*): DataFrame =
    conds.foldLeft(df) { case (d, (c, v)) => d.filter(col(c) === lit(v)) }

  /** P3 — IN-list predicate (reference `ee.Filter.inList`,
    * DataDownloader_V1.py:15-18). */
  def inList(df: DataFrame, column: String, values: Seq[Any]): DataFrame =
    df.filter(col(column).isin(values: _*))

  /** P4 — half-open date range [start, end) — EE `filterDate` semantics:
    * start inclusive, end exclusive (DataDownloader_V1.py:96). */
  def dateRange(df: DataFrame, dateCol: String, start: String, end: String): DataFrame =
    df.filter(col(dateCol) >= lit(start).cast("date") &&
              col(dateCol) < lit(end).cast("date"))

  /** P5 — spatial bbox predicate (reference `filterBounds`,
    * DataDownloader_V1.py:97). Pure range predicate → parquet min/max
    * row-group skipping at scale. */
  def bbox(df: DataFrame, box: BBox,
           lonCol: String = "lon", latCol: String = "lat"): Column =
    col(lonCol).between(box.minLon, box.maxLon) &&
    col(latCol).between(box.minLat, box.maxLat)

  def filterBounds(df: DataFrame, box: BBox): DataFrame =
    df.filter(bbox(df, box))

  /** P6 — clip as mask: null-out values outside the geometry but KEEP the
    * grid extent (reference `.clip(study_area_geometry)`,
    * DataDownloader_V1.py:145; rasterio nodata mask variant at :54). */
  def clipMask(df: DataFrame, inGeom: Column, valueCol: String = "value"): DataFrame =
    df.withColumn(valueCol, when(inGeom, col(valueCol)))

  /** P9 — fire-pixel predicate (reference `img > 0`,
    * regenerate_viirs_pngs.py:27). */
  def positive(valueCol: String = "value"): Column = col(valueCol) > 0.0

  /** P8 — date-partition point lookup (browser slider → one partition;
    * index.html:164-176). On a `partitionBy("date")` layout Catalyst turns
    * this into partition pruning — no file listing beyond the one dir. */
  def dateLookup(df: DataFrame, dateCol: String, day: String): DataFrame =
    df.filter(col(dateCol) === lit(day).cast("date"))
}
