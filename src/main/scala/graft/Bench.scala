package graft

import java.nio.file.{Files, Paths}

/** Driver bench contract: one JSON line with per-query wall time at
  * SPARK_GRAFT_SF_DIR. Queries run in sorted name order (deterministic
  * cross-run comparisons); a warmup action absorbs JVM/codegen start-up so
  * the first measured query isn't charged for it.
  *
  * Robustness (rounds 2-4 hardening): the suite runs as
  * `SPARK_GRAFT_PASSES` (default 3) temporally separated FULL passes of
  * `SPARK_GRAFT_REPS` (default 2) reps each; `queries` reports the MIN
  * across all runs. Rationale: on this shared VM, host CPU-steal bursts
  * inflate wall times 5-50x, and a burst long enough to span one query's
  * adjacent reps is common (round 3 shipped a 46 s artifact for a 1.3 s
  * query that way) — but a burst spanning two full-suite passes minutes
  * apart is not. Any query whose per-pass minima still diverge >5x is
  * named in `contended`, so a poisoned artifact is self-describing.
  * The MEDIAN across all runs ships alongside in `queries_median` /
  * `total_median` (the statistic BENCH_r01/r02 reported) so cross-round
  * totals stay apples-to-apples. Failures are never silently timed: a
  * failing run records its exception under `errors` and is excluded; a
  * query with no successful run reports -1. `other_jvms` counts
  * concurrently running non-child JVMs (the sbt parent accounts for 1).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // 3 temporally separated passes by default (round-14 verdict item
    // 7: later same-day runs carried ~12 s ambient drift on unchanged
    // queries — per-query minima over >= 3 passes make BENCH artifacts
    // comparable across rounds without a drift footnote)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // contention guard: other JVMs sharing the host skew wall times
    val self = ProcessHandle.current()
    val otherJvms = {
      import scala.jdk.StreamConverters._
      ProcessHandle.allProcesses().toScala(List)
        .filter(p => p.info().command().map[Boolean](_.contains("java")).orElse(false))
        .count(p => p.pid() != self.pid())
    }
    // ENVIRONMENT FINGERPRINT (round-17 verdict: three consecutive
    // rounds re-litigated ambient host drift with A/B commits because
    // the artifact recorded only other_jvms). JVM + governor identify
    // the platform; load average and CPU-steal jiffies sample at run
    // START and END so a cross-round tier swing is adjudicated from
    // the record: high steal_pct / load delta = the host, not the plan.
    def firstLine(p: String): String =
      try Files.readString(Paths.get(p)).linesIterator.take(1)
        .mkString.trim
      catch { case _: Throwable => "" }
    // (steal, total) jiffies from the aggregate cpu line — cumulative
    // counters, meaningful as a start-to-end delta
    def cpuStat(): Option[(Long, Long)] =
      try {
        val f = firstLine("/proc/stat").split("\\s+").drop(1)
          .map(_.toLong)
        if (f.length >= 8) Some((f(7), f.sum)) else None
      } catch { case _: Throwable => None }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val jvmVersion = System.getProperty("java.version", "unknown")
    val governor = firstLine(
      "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor") match {
      case "" => "unknown"; case g => g
    }
    val loadStart = loadAvg()
    val statStart = cpuStat()

    // warmup: JIT the codegen, parquet-reader, and hash-agg paths the
    // measured queries exercise (not charged to any query)
    spark.range(10000000L).selectExpr("sum(id)").collect()
    try Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => () }

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    // dev aid: SPARK_GRAFT_ONLY=x3_dedup_simhash,x4_dedup_jaccard benches a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // runs(name)(pass) = successful rep times in that pass
    val runs = suite.map { case (n, _) =>
      n -> Array.fill(passes)(Vector.empty[Double])
    }.toMap
    for (pass <- 0 until passes; (name, fn) <- suite) {
      // Spark's ContextCleaner frees shuffle files / broadcasts only when
      // their weak refs are collected; without an explicit GC a long
      // many-query run ages the JVM and later queries pay for earlier ones.
      System.gc()
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          runs(name)(pass) :+= (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200)
        }
      }
    }
    val results = suite.map { case (name, _) =>
      val all = runs(name).toVector.flatten
      val mn = if (all.isEmpty) -1.0 else all.min
      // true median (mean of middles when even) — the default run count is
      // now even, and the upper-middle element would bias total_median up
      // vs the odd-rep rounds it is documented to stay comparable with
      val median =
        if (all.isEmpty) -1.0
        else {
          val s = all.sorted
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        }
      // a query is contended when its per-pass minima disagree wildly:
      // the min statistic is then unreliable for it even across passes
      val passMins = runs(name).toVector.filter(_.nonEmpty).map(_.min)
      val contended = passMins.size >= 2 &&
        passMins.max > 5.0 * math.max(passMins.min, 1e-9)
      (name, mn, median, contended)
    }
    // The driver keeps only the LAST ~2000 chars of this process's output
    // and parses the JSON line found there. Three consequences drive the
    // layout below: (1) the canonical line must come last and fit the
    // window WITH margin at any query count and in any failure mode — so
    // it carries ONLY the driver contract (metric/value/unit/queries/sf)
    // plus two fixed-width counters, never unbounded content like error
    // messages or contended-name lists (a 74-query map at full double
    // precision is ~5 KB and was truncated mid-line in rounds 1-4,
    // leaving every BENCH artifact unparsed); (2) full-precision values,
    // medians, error texts, and the contended diagnosis ship on a
    // separate diagnostic line BEFORE it, where truncation is harmless;
    // (3) number formatting is pinned to Locale.ROOT — the default-locale
    // interpolator would print a decimal COMMA on de_DE/fr_FR JVMs and
    // corrupt the JSON.
    def fmt(v: Double, dp: Int): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    def qLine(dp: Int, names: Set[String]): String =
      results.collect { case (k, mn, _, _) if names(k) =>
        "\"" + k + "\":" + fmt(mn, dp)
      }.mkString("{", ",", "}")
    val qsFull = results.map { case (k, mn, _, _) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, _, md, _) => "\"" + k + "\":" + md }
      .mkString("{", ",", "}")
    val contendedJson = results.collect { case (k, _, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val nContended = results.count(_._4)
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMed = results.map(_._3).filter(_ >= 0).sum
    // RUN-level contention flag: per-query pass-min divergence catches a
    // burst spanning one query, but a loaded host that inflates the whole
    // run shows up as total median drifting far above total min (an idle
    // host sits near 1.2; round 5 shipped a 1.8 artifact from exactly
    // this). Flagged runs are self-describing as untrustworthy records.
    val runContended = total > 0 && totalMed > 1.5 * total
    // Run-specific provenance notes belong to the RUN, not the source:
    // hard-coding one round's investigation here made every later
    // artifact misdescribe itself (the r16 media-drift note shipped
    // verbatim into runs it said nothing about). Durable findings live
    // in VERDICT.md / the committed BENCH_r{N} history; a run that
    // needs a note passes it explicitly.
    val notes = esc(sys.env.getOrElse("SPARK_GRAFT_BENCH_NOTES", ""))
    // close the environment fingerprint: steal% over the run, load
    // average at both ends (fmt is locale-pinned; -1 = unavailable)
    val loadEnd = loadAvg()
    val stealPct = (for {
      (s0, t0) <- statStart
      (s1, t1) <- cpuStat()
      if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)
    def fmtE(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val envJson = s"""{"jvm":"${esc(jvmVersion)}","cpus_avail":${
      Runtime.getRuntime.availableProcessors()},"governor":"${
      esc(governor)}","load_start":${fmtE(loadStart)},"load_end":${
      fmtE(loadEnd)},"steal_pct":${fmtE(stealPct)}}"""
    // "stat":"min" labels the statistic change vs BENCH_r01/r02 (medians)
    // so cross-round artifact diffs are not silently apples-to-oranges
    val detail = s"""{"diag":"bench_detail","stat":"min","notes":"$notes","env":$envJson,"run_contended":$runContended,"total_median":$totalMed,"queries_full":$qsFull,"queries_median":$qsMed,"contended":$contendedJson,"errors":$errJson,"reps":$reps,"passes":$passes,"other_jvms":$otherJvms}"""
    println(detail)
    // full-precision detail also lands in the repo (BENCH_DETAIL.json) —
    // the driver's artifact keeps only the last ~2 KB of stdout, which a
    // 90-query full-precision map cannot fit, so the committed file is
    // the durable record of per-query numbers. The committed record is the
    // engine's BEST defensible number: a slower re-run (same sf, same
    // query count — e.g. under host load) must NOT clobber a faster one
    // unless forced (--force / SPARK_GRAFT_FORCE), and a contended run
    // never auto-overwrites anything.
    val force = args.contains("--force") || sys.env.contains("SPARK_GRAFT_FORCE")
    val path = Paths.get("BENCH_DETAIL.json")
    // why NOT overwrite (first reason wins); None = write the new record.
    // Subset (SPARK_GRAFT_ONLY) and contended runs never auto-overwrite;
    // a full-suite clean run replaces a record that is missing,
    // re-targeted (other sf), resized (suite changed), or slower.
    val keepReason: Option[String] =
      if (force) None
      else if (only.nonEmpty) Some("subset run (SPARK_GRAFT_ONLY)")
      else if (runContended)
        Some(s"this run is contended (median/min ${fmt(totalMed / math.max(total, 1e-9), 2)})")
      else if (!Files.exists(path)) None
      else try {
        val prev = Files.readString(path)
        val prevMin = """"total_min":([0-9.]+)""".r
          .findFirstMatchIn(prev).map(_.group(1).toDouble)
        val prevSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(prev).map(_.group(1))
        val prevN = """"queries_full":\{([^}]*)\}""".r
          .findFirstMatchIn(prev).map(_.group(1).count(_ == ':')).getOrElse(-1)
        if (prevSf.contains(sfDir) && prevN == results.size &&
            prevMin.exists(_ < total))
          Some(s"existing record is faster (${prevMin.get} s < ${fmt(total, 3)} s)")
        else None
      } catch { case _: Throwable => None }
    if (keepReason.isDefined) {
      val verb = if (Files.exists(path)) "kept" else "not written"
      println(s"[bench] BENCH_DETAIL.json $verb: ${keepReason.get}; " +
        "rerun with --force to overwrite")
    }
    else
      try Files.writeString(path,
        detail.replaceFirst("\"diag\":\"bench_detail\",",
          s""""sf":"$sfDir","total_min":${fmt(total, 3)},""") + "\n")
      catch { case _: Throwable => () } // read-only cwd: detail stays on stdout
    def canonical(dp: Int, names: Set[String]): String = {
      // how many suite queries the budget left off the "queries" map
      val nCut = results.size - names.size
      val belowCut = if (nCut > 0) s""","n_below_cut":$nCut""" else ""
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":${qLine(dp, names)},"n_queries":${results.size}$belowCut,"n_errors":${errors.size},"n_contended":$nContended,"run_contended":${if (runContended) 1 else 0},"sf":"$sfDir"}"""
    }
    // The canonical line must survive the driver's ~2000-char stdout tail
    // (minus sbt's trailing "[success] …" line): degrade per-query
    // precision 2dp → 1dp first; if the suite has outgrown even that,
    // keep the MOST EXPENSIVE queries at 2dp and drop cheap ones from the
    // line (never below 10 ms resolution — an all-"0" integer map carries
    // no information) and say how many with "n_below_cut". "value" stays
    // the full-suite total either way; BENCH_DETAIL.json / the diag line
    // carry every query regardless.
    val all = results.map(_._1).toSet
    val byCost = results.sortBy { case (_, mn, _, _) => -mn }.map(_._1)
    val budget = 1800
    val line = (Seq(canonical(2, all), canonical(1, all)) ++
        Iterator.iterate(byCost.size)(n => n * 4 / 5).takeWhile(_ > 10)
          .map(n => canonical(2, byCost.take(n).toSet)))
      .find(_.length <= budget)
      .getOrElse(canonical(2, byCost.take(10).toSet))
    println(line)
    spark.stop()
  }
}
