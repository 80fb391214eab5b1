package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared hand-off for whole-file blob sources (WARC, ZIP, GeoTIFF): the
  * `binaryFile` format materializes each file as ONE row, so a file is
  * hard-capped at 2 GiB − 1 bytes (`Int.MaxValue` — a Java array
  * bound, not a tunable). Spark's own failure surfaces mid-job as an
  * opaque task error; these sources instead FAIL CLOSED at plan time
  * with a diagnostic naming the file, its size, and the cap — the
  * repo's fail-closed posture (see Crs.fromCrsString): a 100 TB crawl
  * with one mispacked 3 GiB segment should stop with an actionable
  * message, not burn a stage first.
  *
  * Oversized archives are a packing bug upstream (Common Crawl caps
  * segments at ~1 GB; WebDataset shards are sized to hundreds of MB
  * precisely so tasks stay balanced), so refusing is the correct
  * behavior — not splitting, which none of these container formats
  * supports blindly.
  */
object Blobs {

  /** `binaryFile`'s hard per-file cap: one JVM byte array. */
  val MaxBlobBytes: Long = Int.MaxValue.toLong

  /** Pure cap check over (path, length) pairs — the testable core. */
  def requireUnderCap(files: Seq[(String, Long)], source: String): Unit = {
    val over = files.filter(_._2 > MaxBlobBytes)
    require(over.isEmpty,
      s"$source: ${over.length} file(s) exceed the 2 GiB binaryFile cap " +
        s"($MaxBlobBytes bytes) and cannot be read as single blobs: " +
        over.take(3).map { case (p, n) => s"$p ($n bytes)" }.mkString(", ") +
        (if (over.length > 3) ", ..." else "") +
        " — re-shard the archives below 2 GiB upstream")
  }

  /** List `pathGlob` (file, directory, or glob) and fail closed when
    * any matched file exceeds the cap. One driver-side listing — the
    * same metadata pass `binaryFile` itself performs. Directories are
    * walked RECURSIVELY: `binaryFile` picks up nested files too, so a
    * one-level listing would let an oversize file below a subdirectory
    * bypass the plan-time check and resurface as the opaque mid-job
    * task failure this guard exists to prevent. */
  private def requireReadable(spark: SparkSession, pathGlob: String,
                              source: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory) {
        val it = fs.listFiles(st.getPath, true)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) out += it.next()
        out.toSeq
      } else Seq(st)
    }
    requireUnderCap(
      files.map(st => st.getPath.toString -> st.getLen), source)
  }

  /** The hand-off of every whole-file source: fail closed on files over
    * the cap ([[requireReadable]]), then load `path` through `binaryFile`
    * as one (path, content) row per file. */
  def read(spark: SparkSession, path: String, source: String): DataFrame = {
    requireReadable(spark, path, source)
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
  }
}
