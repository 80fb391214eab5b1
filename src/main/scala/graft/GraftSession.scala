package graft

import org.apache.spark.sql.SparkSession

/** The engine's session posture, written once for every driver (Bench,
  * Verify, Smoke, Plans, the dev mains and the test session):
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - AQE on, and allowed to re-partition CACHED plan output (default
  *    false). The iterative operators (PageRank family, HITS/SALSA, CC)
  *    persist node/edge tables and loop over them; with the default,
  *    every cached artifact is pinned at shuffle.partitions partitions
  *    no matter how small, and every loop round pays full-width task
  *    waves over near-empty partitions (x124 is a 7-node rank vector;
  *    flipping this alone cut the warm query 4.9 -> 3.6 s on 32 cores).
  *    AQE coalesces by bytes, so a corpus-sized cache keeps its
  *    parallelism. Results stay partitioning-invariant (decimal-routed
  *    sums), which Verify's oracle compare checks;
  *  - the session time zone pinned to UTC;
  *  - the UI off. */
object GraftSession {

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def builder(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
