package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.Tables

/** One benchmark run in a fresh JVM. Writes the raw record of the run
  * (set-up times, every timed operation with its digest and, when traced,
  * its layer attribution, plus the host fingerprint) to `--out` as JSON.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <tables dir> --work <scratch dir> --out <file>
  */
object Main {
  val setups = 3

  /** Session build plus a warm-up that JITs the codegen, parquet-reader and
    * hash-aggregate paths, as `graft.Bench` does before its first query. */
  private def setUp(cpus: Int, work: String, data: String): SparkSession = {
    val spark = Env.session(cpus, work)
    spark.range(10000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, data).groupBy("l_returnflag").count().collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val data = opt("data")
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadStart = Env.loadAverage()
    val statStart = Env.cpuStat()
    val calibStart = Env.calibrationMs()

    // set up several times: the first from process start, the others from
    // a stopped session, so the run reports a median rather than one sample
    var spark: SparkSession = null
    val setupS = (0 until setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = setUp(cpus, work, data)
      if (i == 0) Env.sinceJvmStart() else (System.nanoTime() - t0) / 1e9
    }

    val ctx = Ctx(spark, data, work, seed, opt("seconds").toDouble, opt("trace") == "1")
    val warm = Workloads.rampPasses + Workloads.warmPasses
    val ops = workload match {
      case "gold_serve" => Workloads.runGoldServe(ctx, warm)
      case "graph_loops" => Workloads.runQueries(ctx, Workloads.graphLoops, warm)
      case other => sys.error(s"unknown workload: $other")
    }
    val measuredS = ctx.elapsedS
    val heapMb = Env.retainedHeapMb()
    val calibEnd = Env.calibrationMs()

    def layers(l: LayerStats) = ListMap(
      "jobs" -> l.jobs, "build_jobs" -> l.buildJobs, "stages" -> l.stages,
      "tasks" -> l.tasks, "empty_tasks" -> l.emptyTasks, "run_ms" -> l.runMs,
      "cpu_ns" -> l.cpuNs, "gc_ms" -> l.gcMs,
      "shuffle_write_bytes" -> l.shuffleWriteBytes,
      "shuffle_read_bytes" -> l.shuffleReadBytes, "fetch_wait_ms" -> l.fetchWaitMs,
      "spill_bytes" -> l.spillBytes, "input_bytes" -> l.inputBytes,
      "input_records" -> l.inputRecords, "blocks_put" -> l.blocksPut,
      "block_bytes" -> l.blockBytes, "analysis_ms" -> l.analysisMs,
      "optimization_ms" -> l.optimizationMs, "planning_ms" -> l.planningMs,
      "compiles" -> l.compiles, "codegen_ns" -> l.codegenNs,
      "job_wall_s" -> l.jobWallS, "build_job_wall_s" -> l.buildJobWallS)
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> ctx.trace, "cpus" -> cpus,
      "jvm" -> System.getProperty("java.version", "unknown"),
      "setup_s" -> setupS, "measured_s" -> measuredS, "retained_heap_mb" -> heapMb,
      "calibration_ms" -> Seq(calibStart, calibEnd),
      "load_average" -> Seq(loadStart, Env.loadAverage()),
      "steal_pct" -> Env.stealPct(statStart, Env.cpuStat()),
      "ramp_passes" -> Workloads.rampPasses, "passes" -> ctx.passLog,
      "ops" -> ops.map(o => ListMap(
        "kind" -> o.kind, "name" -> o.name, "pass" -> o.pass, "traced" -> o.traced,
        "build_s" -> o.buildS, "action_s" -> o.actionS, "rows" -> o.rows,
        "hash" -> o.hash, "error" -> o.error, "extra" -> o.extra,
        "layers" -> o.layers.map(layers))))
    Files.writeString(Paths.get(opt("out")), record)
    spark.stop()
  }
}
