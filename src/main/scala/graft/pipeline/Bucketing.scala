package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Co-located join layout: persist both sides of a recurring big⋈big join
  * bucketed (and sorted) by the join key, so every subsequent join reads
  * bucket n of each side into the same task — a sort-merge join with NO
  * exchange on either side. At 100 TB this converts the nightly
  * pixels⋈labels (or lineitem⋈orders) shuffle — the single largest data
  * movement in the pipeline — into a scan: the shuffle is paid once at
  * write time and amortized over every downstream run.
  *
  * Spark reads the bucket spec from the table catalog, which is why this
  * goes through `saveAsTable` rather than a bare path write. It is also
  * the one write that keeps the stock sink instead of
  * [[graft.io.LocalFs.write]]: `saveAsTable` stores the writer's options
  * in the catalog entry, where the file-system settings do not belong.
  */
object Bucketing {

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** The co-located join itself — plain `join` on the bucketed tables; the
    * planner sees matching hash distributions and elides both exchanges
    * (asserted in PlanSpec). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
