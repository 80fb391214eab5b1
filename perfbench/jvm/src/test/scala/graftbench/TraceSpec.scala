package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def aggregate() =
    spark.range(0, 100000).selectExpr("id % 13 AS k").groupBy("k").count().collect()

  test("an operation's jobs, stages and tasks are credited to it") {
    val tracer = new Tracer(spark)
    tracer.attach()
    try {
      tracer.begin("op-a")
      spark.range(0, 1000).selectExpr("sum(id)").collect() // fired while building
      tracer.action()
      aggregate()
      val st = tracer.end()
      assert(st.buildJobs >= 1)
      assert(st.jobs > st.buildJobs)
      assert(st.stages >= st.jobs && st.tasks >= st.stages)
      assert(st.analysisMs + st.optimizationMs + st.planningMs > 0)
      assert(st.jobWallS > 0)
    } finally tracer.detach()
  }

  test("untraced work just before an operation adds nothing to it") {
    val tracer = new Tracer(spark)
    tracer.attach()
    try {
      (1 to 5).foreach { i =>
        aggregate() // outside any operation: its events must reach no one
        tracer.begin(s"op-$i")
        val st = tracer.end()
        assert(st.jobs == 0 && st.stages == 0 && st.tasks == 0, s"round $i")
        assert(st.analysisMs == 0 && st.optimizationMs == 0 && st.planningMs == 0,
          s"round $i: catalyst phases of untraced work credited to the operation")
      }
    } finally tracer.detach()
  }
}
