package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The engine's shipped session posture, and the host fingerprint each run
  * records so that cross-run comparisons carry their own drift evidence. */
object Env {

  /** Same settings as `graft.Bench`: local[cpus], cpus shuffle partitions,
    * AQE on, cached-plan re-partitioning on, UTC. Spill and warehouse
    * directories stay under `workDir`. */
  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed CPU kernel (an LCG over 50 M steps); best of 3 in ms. Timed at
    * the start and end of a run: a slower end means the host drifted. */
  def calibrationMs(): Double = {
    var sink = 0L
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var h = sink
      var i = 0
      while (i < 50000000) { h = h * 6364136223846793005L + i; i += 1 }
      sink ^= h
      (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42L) println("") // keeps the loop observable to the JIT
    times.min
  }

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuStat(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      if (f.length >= 8) Some((f(7), f.sum)) else None
    } catch { case _: Exception => None }

  def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def stealPct(start: Option[(Long, Long)], end: Option[(Long, Long)]): Double =
    (for { (s0, t0) <- start; (s1, t1) <- end if t1 > t0 }
      yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)

  /** Driver heap in use after a full GC, in MB. A collection lets Spark's
    * ContextCleaner drop the blocks of unreachable RDDs and broadcasts,
    * which the next collection frees, so collect until the figure settles. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    while (rounds < 10 && (rounds == 0 || prev - cur > 0.5)) {
      Thread.sleep(100)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  /** (collection time, JIT compile time) of this JVM so far, in ms. */
  def gcAndJitMs(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    var gc = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => gc += math.max(0L, b.getCollectionTime))
    (gc, ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** (CPU time of the calling thread, CPU time of the whole JVM), in s. */
  def cpuS(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    (ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9, os.getProcessCpuTime / 1e9)
  }

  /** Methods the JIT is compiling or has queued (HotSpot's Compiler.queue
    * diagnostic command; each task line names a `Class::method`). */
  def jitBacklog(): Int = {
    val out = java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "compilerQueue", Array[AnyRef](null), Array(classOf[Array[String]].getName))
    out.toString.linesIterator.count(_.contains("::"))
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
