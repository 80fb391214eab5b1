package graft

import org.apache.spark.sql.SparkSession

/** One session per JVM for all suites. */
object SharedSpark {
  /** Pinned rather than read from the environment, so plan shapes under
    * test do not follow the host's core count. */
  val cpus = 4

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cpus)
      // bucketed-table tests write through saveAsTable — keep the
      // warehouse out of the repo working tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
