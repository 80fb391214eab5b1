package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Scratch profiler for optimization rounds: runs named queries twice
  * (cold + warm) and reports per-run wall, job count, summed job wall,
  * stage/task counts, and summed executor task time. The gap between
  * warm wall and summed job wall is driver-side planning; the gap
  * between job wall and task time is scheduling overhead. NOT part of
  * the driver contract — a measurement aid (guide §1).
  *
  * Usage: runMain graft.Prof <q1,q2,...>
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: Prof <q1,q2,...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var jobMs = 0L
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobs += 1
        Option(starts.remove(j.jobId)).foreach(s => jobMs += j.time - s)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        taskMs += s.stageInfo.taskMetrics.executorRunTime
        val m = s.stageInfo.taskMetrics
        println(f"[stage] id=${s.stageInfo.stageId} tasks=${s.stageInfo.numTasks} " +
          f"runMs=${m.executorRunTime} cpuMs=${m.executorCpuTime / 1000000} " +
          f"gcMs=${m.jvmGCTime} name=${s.stageInfo.name.take(80)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup the session like Bench does
    spark.range(10000000L).selectExpr("sum(id)").collect()

    for (name <- args(0).split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      for (run <- 1 to 2) {
        System.gc()
        // listener events are async: drain the bus before resetting so
        // no earlier job lands in this run, and again before reading
        ListenerBusDrain(spark.sparkContext)
        jobs = 0; jobMs = 0; stages = 0; tasks = 0; taskMs = 0
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain(spark.sparkContext)
        println(f"[prof] $name run$run wall=$wall%.3f jobs=$jobs " +
          f"jobWall=${jobMs / 1e3}%.3f stages=$stages tasks=$tasks " +
          f"taskTime=${taskMs / 1e3}%.3f planGap=${wall - jobMs / 1e3}%.3f")
      }
    }
    spark.stop()
  }
}
