package graftbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.Schemas
import graft.pipeline.MonthlyPipeline
import graft.serve.Serving

/** One timed operation: a query repetition, a gold write or a lookup. */
final case class Op(kind: String, name: String, pass: Int, traced: Boolean,
                    buildS: Double, actionS: Double, rows: Long, hash: Long,
                    error: Option[String], layers: Option[LayerStats],
                    extra: Map[String, Double] = Map.empty)

final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
                     seed: Long, seconds: Double, trace: Boolean) {
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
  val rng = new Random(seed)
  private var groups = 0
  /** A fresh job group name per operation. */
  def nextGroup(): String = { groups += 1; s"op-$groups" }
  private val t0 = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - t0) / 1e9
  /** Passes of a traced run alternate: odd warm passes run untraced, so
    * the run measures its own tracing overhead against the passes on
    * either side of each traced one. */
  def tracedPass(pass: Int): Boolean = trace && (pass == 0 || pass % 2 == 0)

  /** JVM figures per pass, as drift evidence beside the pass walls. */
  val passLog = ArrayBuffer[ListMap[String, Any]]()

  /** Blocks until `idle` holds, polling, or until `limitS` have passed.
    * Returns the seconds waited. */
  private def await(limitS: Double)(idle: => Boolean): Double = {
    val t0 = System.nanoTime()
    while (!idle && System.nanoTime() - t0 < limitS * 1e9) Thread.sleep(5)
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs the cold pass (0), then `warm` warm passes, and more while the
    * run's time is not up. Before each pass the JVM is brought to rest, so
    * that no pass pays for work its predecessor left behind: garbage is
    * collected, Spark's ContextCleaner frees what the collection released
    * (checkpoint and persisted blocks, shuffle files, broadcasts), and the
    * JIT finishes the compiles already queued. */
  def passes(warm: Int)(body: (Int, Boolean) => Unit): Unit = {
    val sc = spark.sparkContext
    var pass = 0
    while (pass <= warm || elapsedS < seconds) {
      val traced = tracedPass(pass)
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      System.gc()
      val cleanS = await(30)(BenchBus.pendingCleanups(sc) == 0)
      val jitS = await(10)(Env.jitBacklog() == 0)
      val (gc0, jit0) = Env.gcAndJitMs()
      val (cpu0, proc0) = Env.cpuS()
      val w0 = System.nanoTime()
      body(pass, traced)
      val (cpu1, proc1) = Env.cpuS()
      val (gc1, jit1) = Env.gcAndJitMs()
      passLog += ListMap("pass" -> pass, "wall_s" -> (System.nanoTime() - w0) / 1e9,
        "driver_cpu_s" -> (cpu1 - cpu0), "process_cpu_s" -> (proc1 - proc0),
        "gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0),
        "cleaner_wait_s" -> cleanS, "jit_wait_s" -> jitS)
      pass += 1
    }
    tracer.foreach(_.detach())
  }
}

object Workloads {
  /** The power-iteration kernel: eager localCheckpoint jobs while the
    * query body is built, plus barriers. */
  val graphLoops: Seq[String] = Seq("x124_domain_pagerank")

  /** Warm passes run before the measured ones. A fresh JVM keeps compiling
    * Spark's driver code for many passes; the first warm pass is still far
    * from the rest and varies most from run to run. */
  val rampPasses = 1

  /** Measured warm passes, the same number in every run so that each run's
    * figures come from the same point of JIT warm-up. Three, so that a
    * traced run's measured passes alternate traced, untraced, traced. */
  val warmPasses = 3

  private def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(1).mkString.take(300)

  /** Times `build` (the operation's body, which may fire jobs eagerly) and
    * `act` (its action) separately, under its own tracer operation when
    * traced. Returns the operation and what `build` returned. */
  private def timed[T](ctx: Ctx, kind: String, name: String, pass: Int, traced: Boolean)
                      (build: => T)(act: T => (Long, Long)): (Op, Option[T]) = {
    val tr = if (traced) ctx.tracer else None
    tr.foreach(_.begin(ctx.nextGroup()))
    val t0 = System.nanoTime()
    var t1 = t0
    var built: Option[T] = None
    val res =
      try {
        built = Some(build)
        t1 = System.nanoTime()
        tr.foreach(_.action())
        Right(act(built.get))
      } catch {
        case e: Exception =>
          if (t1 == t0) t1 = System.nanoTime()
          Left(errText(e))
      }
    val t2 = System.nanoTime()
    val layers = tr.map(_.end())
    val (rows, hash) = res.getOrElse((-1L, -1L))
    (Op(kind, name, pass, traced, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, hash,
      res.left.toOption, layers), built)
  }

  /** Each pass runs every query once in a seeded order, and each query's
    * action hashes every output column. */
  def runQueries(ctx: Ctx, names: Seq[String], warm: Int): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    ctx.passes(warm) { (pass, traced) =>
      ctx.rng.shuffle(names).foreach { q =>
        val fn = SparkEntry.queries(q)
        ops += timed(ctx, "query", q, pass, traced)(fn(ctx.spark, ctx.dataDir))(Digest.of)._1
      }
    }
    ops.result()
  }

  // ---- gold_serve

  val bands: Seq[(String, Double)] = Seq(
    "absorbing_aerosol_index" -> 0.5, "NO2_column_number_density" -> 0.04,
    "SO2_column_number_density" -> 0.02, "CO_column_number_density" -> 0.05)
  val grid = 16
  val goldYear = 2024
  val lookupsPerPass = 12

  /** Seeded long-format raster (FIXTURES A1): every band, one image a day
    * for a year, a `grid` x `grid` lattice over Delhi NCR, ~2% nodata. */
  def bronze(spark: SparkSession, seed: Long): DataFrame = {
    val box = Schemas.delhiNcr
    val cells = grid * grid
    val h = (salt: Int) => xxhash64(lit(seed), lit(salt), col("id"))
    spark.range(0L, 366L * cells * bands.size)
      .select(
        lit("s5p").as("dataset"),
        date_add(lit(s"$goldYear-01-01").cast("date"),
          (col("id") / (cells * bands.size)).cast("int")).as("date"),
        element_at(array(bands.map(b => lit(b._1)): _*),
          (col("id") % bands.size + 1).cast("int")).as("band"),
        ((col("id") / bands.size) % cells / grid).cast("int").as("y"),
        ((col("id") / bands.size) % grid).cast("int").as("x"),
        h(1).as("h1"), h(2).as("h2"))
      .where(year(col("date")) === goldYear)
      .select(col("dataset"), col("date"), col("band"), col("y"), col("x"),
        (lit(box.minLon) + (col("x") + 0.5) * ((box.maxLon - box.minLon) / grid)).as("lon"),
        (lit(box.maxLat) - (col("y") + 0.5) * ((box.maxLat - box.minLat) / grid)).as("lat"),
        when(pmod(col("h1"), lit(50)) === 0, lit(null).cast("double"))
          .otherwise(pmod(col("h2"), lit(100000)) / 1e5).as("value"))
  }

  /** Size of the files the executed scans selected, after partition pruning. */
  private def scannedBytes(q: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      case other => other.children.map(walk).sum
    }
    walk(q.queryExecution.executedPlan)
  }

  private def dirBytes(d: File): (Long, Long) =
    Option(d.listFiles()).getOrElse(Array.empty[File]).foldLeft((0L, 0L)) {
      case ((n, b), f) if f.isDirectory =>
        val (n2, b2) = dirBytes(f); (n + n2, b + b2)
      case ((n, b), f) if f.getName.endsWith(".parquet") => (n + 1, b + f.length)
      case (acc, _) => acc
    }

  /** Writes the gold layer once per pass (each write seeded, so successive
    * writes differ), then issues `lookupsPerPass` seeded viewer lookups,
    * each opening the gold layer fresh. A lookup is checked against
    * digests of the write it follows, computed from the pipeline's own
    * output rather than through `graft.serve`: a stale or wrong read fails. */
  def runGoldServe(ctx: Ctx, warm: Int): Seq[Op] = {
    val spark = ctx.spark
    import spark.implicits._
    val bronzeDir = s"${ctx.workDir}/bronze"
    val goldDir = s"${ctx.workDir}/gold"
    bronze(spark, ctx.seed).write.mode("overwrite").parquet(bronzeDir)
    val standards = bands.toDF("band", "std_value")
    val box = Schemas.delhiNcr
    val months = (1 to 12).map(m => f"$goldYear-$m%02d-01")
    val ops = Seq.newBuilder[Op]
    ctx.passes(warm) { (pass, traced) =>
      val offset = new Random(ctx.seed * 1000 + pass).nextDouble()
      def gold(): DataFrame = {
        val pixels = spark.read.parquet(bronzeDir)
          .withColumn("value", col("value") + lit(offset))
        MonthlyPipeline.renderLayer(
          MonthlyPipeline.monthlyComposite(pixels, box, s"$goldYear-01-01", s"${goldYear + 1}-01-01"),
          standards)
      }
      val write = timed(ctx, "write", "gold_write", pass, traced)(gold()) { g =>
        MonthlyPipeline.writePartitioned(g, goldDir); (0L, 0L)
      }._1
      val (files, bytes) = dirBytes(new File(goldDir))
      ops += write.copy(extra = Map("output_files" -> files.toDouble,
        "output_mb" -> bytes / 1048576.0))
      // expected lookup digests per (month, band), from the pipeline itself
      val expected = gold().collect().groupBy(r =>
        (r.getAs[java.sql.Date]("month").toString, r.getAs[String]("band")))
        .map { case (k, rows) => k -> Digest.ofRows(rows) }
      (1 to lookupsPerPass).foreach { _ =>
        val month = months(ctx.rng.nextInt(months.size))
        val layersSel = ctx.rng.shuffle(bands.map(_._1)).take(1 + ctx.rng.nextInt(3))
        var openS, planS = 0.0
        val (op, q) = timed(ctx, "lookup", s"$month:${layersSel.mkString(",")}", pass, traced) {
          val t0 = System.nanoTime()
          val g = spark.read.parquet(goldDir)
          val t1 = System.nanoTime()
          val q = Serving.lookup(g, month, layersSel)
          q.queryExecution.executedPlan
          openS = (t1 - t0) / 1e9
          planS = (System.nanoTime() - t1) / 1e9
          q
        } { q => Digest.ofRows(q.collect()) }
        val want = layersSel.map(l => expected.getOrElse((month, l), (0L, 0L)))
          .foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
        val wrong = if (op.error.isEmpty && (op.rows, op.hash) != want)
          Some(s"digest (${op.rows},${op.hash}) != expected $want for the write it follows")
          else None
        val needed = layersSel.map(l =>
          dirBytes(new File(s"$goldDir/month=$month/band=$l"))._2).sum
        ops += op.copy(error = op.error.orElse(wrong), extra = Map(
          "open_ms" -> openS * 1e3, "plan_ms" -> planS * 1e3, "exec_ms" -> op.actionS * 1e3,
          "needed_bytes" -> needed.toDouble,
          "scanned_bytes" -> q.map(scannedBytes).getOrElse(0L).toDouble))
      }
    }
    ops.result()
  }
}
