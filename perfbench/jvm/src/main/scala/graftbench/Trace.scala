package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one operation (one query repetition, one gold
  * write or one lookup). Jobs, stages and tasks are matched by job group;
  * Catalyst phases and block updates by the operation's window, which is
  * exact because the tracer drains the listener bus when an operation
  * opens and again before it closes. */
final class LayerStats {
  var jobs, buildJobs, stages, tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var inputBytes, inputRecords = 0L
  var blocksPut, blockBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var compiles, codegenNs = 0L
  private[graftbench] var openJobs = 0
  private[graftbench] val spans = ArrayBuffer[(Long, Long, Boolean)]() // start, end, build

  private def union(sel: ((Long, Long, Boolean)) => Boolean): Double = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    spans.filter(sel).map(s => (s._1, s._2)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    (total + curE - curS) / 1e3
  }
  /** Wall time covered by at least one job (jobs overlap). */
  def jobWallS: Double = union(_ => true)
  /** The same, for jobs fired while the operation's body was built. */
  def buildJobWallS: Double = union(_._3)
}

final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, LayerStats]()
  private val stageStats = new ConcurrentHashMap[Int, LayerStats]()
  private val jobStats = new ConcurrentHashMap[Int, (LayerStats, Long, Boolean)]()
  @volatile private var current: LayerStats = _
  @volatile private var currentGroup: String = _
  private var compiles0, codegenNs0 = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val st = if (g == null) null else byGroup.get(g.stripSuffix("/build").stripSuffix("/action"))
      if (st != null) st.synchronized {
        val build = g.endsWith("/build")
        st.jobs += 1
        if (build) st.buildJobs += 1
        st.openJobs += 1
        jobStats.put(e.jobId, (st, e.time, build))
        e.stageIds.foreach(id => stageStats.put(id, st))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStats.remove(e.jobId)).foreach { case (st, start, build) =>
        st.synchronized {
          st.openJobs -= 1
          st.spans += ((start, e.time, build))
          st.notifyAll()
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageStats.get(e.stageInfo.stageId)).foreach(st => st.synchronized {
        st.stages += 1
      })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageStats.get(e.stageId)).foreach(st => st.synchronized {
        st.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          val sr = m.shuffleReadMetrics
          if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) st.emptyTasks += 1
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
          st.fetchWaitMs += sr.fetchWaitTime
          st.spillBytes += m.diskBytesSpilled
          st.inputBytes += m.inputMetrics.bytesRead
          st.inputRecords += m.inputMetrics.recordsRead
        }
      })
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val st = current
      val b = e.blockUpdatedInfo
      if (st != null && b.blockId.isRDD && b.storageLevel.isValid) st.synchronized {
        st.blocksPut += 1
        st.blockBytes += b.memSize + b.diskSize
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val st = current
      if (st != null) st.synchronized {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        st.analysisMs += ms("analysis")
        st.optimizationMs += ms("optimization")
        st.planningMs += ms("planning")
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false

  /** Listeners are only on the bus while attached, so untraced passes of a
    * traced run pay nothing for them. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Opens operation `group`: jobs fired until [[action]] belong to its
    * build. Drains the bus first, so that events of untraced work run
    * since the last operation (Catalyst phases, block updates) reach the
    * listeners while no operation is open, and are credited to none. */
  def begin(group: String): Unit = {
    BenchBus.drain(sc)
    val st = new LayerStats
    byGroup.put(group, st)
    currentGroup = group
    current = st
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegenNs0 = WholeStageCodegenExec.codeGenTime
    sc.setJobGroup(s"$group/build", group)
  }

  /** Marks the end of the build: later jobs belong to the action. */
  def action(): Unit = sc.setJobGroup(s"$currentGroup/action", currentGroup)

  /** Closes the operation once every event of its group has been
    * delivered: drains the bus, then waits for any job of the group that
    * is still running (a broadcast or an AQE stage can outlive the
    * action that started it). No fixed sleep. */
  def end(): LayerStats = {
    sc.clearJobGroup()
    val st = current
    BenchBus.drain(sc)
    val deadline = System.nanoTime() + 30L * 1000000000L
    // the bus is drained outside the lock: its listener thread takes it
    while (st.synchronized(st.openJobs) > 0 && System.nanoTime() < deadline) {
      st.synchronized { if (st.openJobs > 0) st.wait(50) }
      BenchBus.drain(sc)
    }
    st.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    st.codegenNs = WholeStageCodegenExec.codeGenTime - codegenNs0
    current = null
    byGroup.remove(currentGroup)
    st
  }
}
