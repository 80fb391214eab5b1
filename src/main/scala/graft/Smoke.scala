package graft

/** Dev smoke: replicates the driver's t1 check — entry(spark) must return
  * rows > 0 on sf0.001 — and prints plan + first rows for eyeballing. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val n = df.count()
    println(s"[smoke] entry rows = $n")
    df.show(5, truncate = false)
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
