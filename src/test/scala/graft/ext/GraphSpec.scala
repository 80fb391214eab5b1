package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.TempDirs.withTempDir

class GraphSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Driver-side reference PageRank (dense, Map-based) — the textbook
    * recurrence the distributed operator must reproduce. */
  private def ref(edges: Set[(String, String)], iters: Int,
                  d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.sorted
    val n = nodes.size
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val mass = nodes.filterNot(deg.contains).map(pr).sum
      pr = nodes.map { v =>
        val c = edges.toSeq.filter(_._2 == v)
          .map { case (u, _) => pr(u) / deg(u) }.sum
        v -> ((1 - d) / n + d * c + d * mass / n)
      }.toMap
    }
    pr
  }

  private def run(edges: Seq[(String, String)], iters: Int = 5)
  : Map[String, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank: symmetric cycle stays uniform") {
    val pr = run(Seq("a" -> "b", "b" -> "c", "c" -> "a"))
    assert(pr.keySet == Set("a", "b", "c"))
    pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("pageRank: dangling node, self-loop and duplicate edges match " +
    "the reference recurrence; mass is conserved") {
    // dangling sink `d`, self-loop on `a`, duplicate edge a->b (dedup),
    // hub `b` with fan-out
    val edges = Seq("a" -> "b", "a" -> "b", "a" -> "a", "b" -> "c",
      "b" -> "d", "c" -> "a")
    val want = ref(edges.toSet, 5, 0.85)
    val got = run(edges)
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(math.abs(got(k) - w) < 1e-9, s"node $k: ${got(k)} vs $w")
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRankConverged: tolerance stop agrees with a long fixed run " +
    "and conserves mass") {
    val edges = Seq("a" -> "b", "a" -> "a", "b" -> "c", "b" -> "d",
      "c" -> "a", "d" -> "a", "a" -> "c")
    val fixed = Graph.pageRank(edges.toDF("src", "dst"), 60)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val conv = Graph.pageRankConverged(edges.toDF("src", "dst"),
        tol = 1e-12, maxIters = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(conv.keySet == fixed.keySet)
    for ((k, w) <- fixed)
      assert(math.abs(conv(k) - w) < 1e-9, s"node $k: ${conv(k)} vs $w")
    assert(math.abs(conv.values.sum - 1.0) < 1e-9)
  }

  test("pageRankConverged: the uniform-stationary cycle stops after " +
    "one residual check (maxIters is not the binding stop)") {
    // a→b→c→a is stationary at 1/3 — round 1's residual is ~0, so a
    // tight tolerance must still stop immediately with the exact vector
    val pr = Graph.pageRankConverged(
        Seq("a" -> "b", "b" -> "c", "c" -> "a").toDF("src", "dst"),
        tol = 1e-15, maxIters = 50)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("topAuthorities: top-k by rank, deterministic ties, " +
    "TakeOrderedAndProject (no global sort)") {
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c", "d" -> "c",
      "c" -> "a").toDF("src", "dst")
    val ranks = Graph.pageRank(edges, 5)
    val top = Graph.topAuthorities(ranks, 2)
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k sorts globally:\n$p")
    val got = top.collect().map(r => (r.getString(0), r.getDouble(1)))
    val all = ranks.collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(t => (-t._2, t._1))
    assert(got.toSeq == all.take(2).toSeq)
  }

  /** Driver-side weighted reference: share = w(u→v)/Σ_out w(u). */
  private def refW(edges: Map[(String, String), Double], iters: Int,
                   d: Double): Map[String, Double] = {
    val nodes = (edges.keySet.map(_._1) ++ edges.keySet.map(_._2))
      .toSeq.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1._1).map { case (k, m) =>
      k -> m.values.sum }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val mass = nodes.filterNot(out.contains).map(pr).sum
      pr = nodes.map { v =>
        val c = edges.toSeq.filter(_._1._2 == v)
          .map { case ((u, _), w) => pr(u) * (w / out(u)) }.sum
        v -> ((1 - d) / n + d * c + d * mass / n)
      }.toMap
    }
    pr
  }

  test("pageRankWeighted: matches the weighted reference; uniform " +
    "weights agree with the unweighted operator") {
    val we = Map(("a", "b") -> 3.0, ("a", "c") -> 1.0, ("b", "c") -> 2.0,
      ("c", "a") -> 1.0, ("b", "d") -> 2.0) // d dangling
    val got = Graph.pageRankWeighted(
        we.toSeq.map { case ((s0, d0), w) => (s0, d0, w) }
          .toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refW(we, 5, 0.85)
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(math.abs(got(k) - w) < 1e-9, s"node $k: ${got(k)} vs $w")
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // duplicate raw edges aggregate into weight: (a,b) twice at 1.5
    // equals (a,b) once at 3.0
    val dup = Graph.pageRankWeighted(
        (Seq(("a", "b", 1.5), ("a", "b", 1.5)) ++ we.toSeq.collect {
          case ((s0, d0), w) if (s0, d0) != (("a", "b")) => (s0, d0, w) })
          .toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, v) <- got) assert(math.abs(dup(k) - v) < 1e-12)
    // all-equal weights reduce to the uniform recurrence
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a")
    val uw = Graph.pageRank(edges.toDF("src", "dst"), 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ww = Graph.pageRankWeighted(
        edges.map { case (s0, d0) => (s0, d0, 7.0) }.toDF("src", "dst", "w"),
        5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, v) <- uw) assert(math.abs(ww(k) - v) < 1e-12)
    // non-positive aggregate weights DROP instead of dividing by zero:
    // a's (a,b)+(a,b) cancels to 0 and (a,c) is negative, so a keeps
    // NO out-edges (dangling) — every rank must stay finite and the
    // vector still sums to 1
    val junk = Seq(("a", "b", 2.0), ("a", "b", -2.0), ("a", "c", -1.0),
      ("b", "c", 2.0), ("c", "a", 1.0))
    val jr = Graph.pageRankWeighted(junk.toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(jr.keySet == Set("a", "b", "c"))
    assert(jr.values.forall(v => !v.isNaN && !v.isInfinite))
    assert(math.abs(jr.values.sum - 1.0) < 1e-9)
    val jw = refW(Map(("b", "c") -> 2.0, ("c", "a") -> 1.0), 5, 0.85)
    for ((k, v) <- jw) assert(math.abs(jr(k) - v) < 1e-9, s"node $k")
  }

  test("personalizedPageRank: teleport and dangling mass return to the " +
    "seeds; unreachable nodes hold zero rank") {
    // z is unreachable FROM the seed a (only links INTO the core);
    // d is a dangling sink reachable from b
    val edges = Seq("a" -> "b", "b" -> "c", "b" -> "d", "c" -> "a",
      "z" -> "a")
    val pr = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq("a").toDF("node"), iters = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // driver-side reference with teleport restricted to {a}
    val nodes = Seq("a", "b", "c", "d", "z")
    val deg = Map("a" -> 1, "b" -> 2, "c" -> 1, "z" -> 1)
    var want = nodes.map(n => n -> (if (n == "a") 1.0 else 0.0)).toMap
    for (_ <- 1 to 30) {
      val mass = want("d") // the only dangling node
      want = nodes.map { v =>
        val c = edges.filter(_._2 == v)
          .map { case (u, _) => want(u) / deg(u) }.sum
        val t = if (v == "a") 1.0 else 0.0
        v -> (0.15 * t + 0.85 * c + 0.85 * mass * t)
      }.toMap
    }
    assert(pr.keySet == nodes.toSet)
    for ((k, w) <- want)
      assert(math.abs(pr(k) - w) < 1e-9, s"node $k: ${pr(k)} vs $w")
    // mass conserved, z starved (teleport never reaches it)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr("z") == 0.0)
    // a seed absent from the graph is ignored; an all-absent set throws
    val withGhost = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq("a", "ghost").toDF("node"), iters = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, v) <- pr) assert(math.abs(withGhost(k) - v) < 1e-12)
    assertThrows[IllegalArgumentException] {
      Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq("ghost").toDF("node"))
    }
  }

  test("spamMass: an isolated spam ring carries relative mass exactly " +
    "1; the core component is the scaled personalized run") {
    // good core g1->g2->g3->g1 (seed g1); spam ring s1<->s2 unreachable
    // from the seed; a spam->good link feeds the core without earning
    // the ring any core rank
    val edges = Seq("g1" -> "g2", "g2" -> "g3", "g3" -> "g1",
      "s1" -> "s2", "s2" -> "s1", "s1" -> "g1")
    val sm = Graph.spamMass(edges.toDF("src", "dst"),
        Seq("g1").toDF("node"), iters = 10)
      .collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(sm.keySet == Set("g1", "g2", "g3", "s1", "s2"))
    // the ring holds rank (it teleports in under the uniform run) but
    // ZERO core component — relative mass exactly 1.0, the paper's
    // isolated-farm signature
    for (s <- Seq("s1", "s2")) {
      val (pr, core, mass, rel) = sm(s)
      assert(pr > 0.0)
      assert(core == 0.0)
      assert(mass == pr)
      assert(rel == 1.0)
    }
    // good nodes: a real core component (rel < 1), and the spam ring
    // ranks strictly above every good node on relative mass — the
    // discriminator the paper thresholds (the absolute level depends
    // on |S|/N, here 1/5)
    for (g <- Seq("g1", "g2", "g3")) {
      assert(sm(g)._2 > 0.0, s"$g: $sm")
      assert(sm(g)._4 < 1.0, s"$g: $sm")
    }
    // consistency: mass and rel are exactly the published definitions
    for ((_, (pr, core, mass, rel)) <- sm) {
      assert(mass == pr - core)
      assert(rel == (pr - core) / pr)
    }
    // the core component IS the personalized run scaled by |S|/N —
    // the linearity the operator relies on, checked bit-for-bit
    val ppr = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq("g1").toDF("node"), iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, (_, core, _, _)) <- sm)
      assert(core == ppr(k) * (1.0 / 5.0), s"node $k")
    // and the fused uniform column IS the standalone pageRank run
    val pr = run(edges, iters = 10)
    for ((k, (p, _, _, _)) <- sm) assert(p == pr(k), s"node $k")
  }

  test("stored rank lifecycle: the authority store round-trips the " +
    "inline vector bit-for-bit") {
    val edges = Seq("a" -> "b", "b" -> "c", "b" -> "d", "c" -> "a",
      "d" -> "a", "a" -> "c").toDF("src", "dst")
    val inline = Graph.pageRank(edges)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    withTempDir("graft_rank_store_spec") { d =>
      val dir = d.toString
      Graph.pageRankStoredBuild(edges, dir)
      val stored = Graph.pageRankStoredRead(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(stored == inline) // doubles round-trip parquet exactly
    }
  }

  test("hits: hubs and authorities match the reference recurrence; " +
    "unit L2 norms; pure hub and pure authority separate") {
    // b and d are pure hubs (outlinks only), c is the main authority
    val edges = Set("b" -> "c", "b" -> "a", "d" -> "c", "d" -> "a",
      "a" -> "c")
    val nodes = Seq("a", "b", "c", "d")
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to 5) {
      var a = nodes.map(v => v ->
        edges.toSeq.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val an = math.sqrt(a.values.map(x => x * x).sum)
      a = a.map { case (k, v) => k -> (if (an > 0) v / an else 0.0) }
      var h = nodes.map(u => u ->
        edges.toSeq.filter(_._1 == u).map(e => a(e._2)).sum).toMap
      val hn = math.sqrt(h.values.map(x => x * x).sum)
      hub = h.map { case (k, v) => k -> (if (hn > 0) v / hn else 0.0) }
      auth = a
    }
    val got = Graph.hits(edges.toSeq.toDF("src", "dst"), 5).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == nodes.toSet)
    for (n <- nodes) {
      assert(math.abs(got(n)._1 - hub(n)) < 1e-9, s"hub $n")
      assert(math.abs(got(n)._2 - auth(n)) < 1e-9, s"auth $n")
    }
    // unit L2 norms
    assert(math.abs(got.values.map(v => v._1 * v._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(v => v._2 * v._2).sum - 1.0) < 1e-9)
    // the pure hubs hold zero authority; the pure authority zero hub
    assert(got("b")._2 == 0.0 && got("d")._2 == 0.0)
    assert(got("c")._1 == 0.0)
    assert(got("c")._2 > got("a")._2)
  }

  test("crawlIslands: components labeled by min node; self-loop-only " +
    "nodes are singleton islands") {
    val edges = Seq(
      // island {a, b, c} (undirected through b)
      "a" -> "b", "c" -> "b",
      // island {x, y}
      "y" -> "x",
      // self-loop only: singleton island
      "solo" -> "solo")
    val got = Graph.crawlIslands(edges.toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a" -> (("a", 3L)), "b" -> (("a", 3L)), "c" -> (("a", 3L)),
      "x" -> (("x", 2L)), "y" -> (("x", 2L)),
      "solo" -> (("solo", 1L))))
  }

  test("degreeReport: out/in degrees, reciprocal pairs, self-loops and " +
    "duplicates drop") {
    val edges = Seq(
      "a" -> "b", "b" -> "a",          // reciprocal pair
      "a" -> "b",                       // duplicate: drops
      "a" -> "a",                       // self-loop: drops
      "a" -> "c", "c" -> "d")           // chain, no reciprocity
    val got = Graph.degreeReport(edges.toDF("src", "dst")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "a" -> ((2L, 1L, 1L)),  // out: b,c; in: b; reciprocal: b
      "b" -> ((1L, 1L, 1L)),
      "c" -> ((1L, 1L, 0L)),
      "d" -> ((0L, 1L, 0L))))
  }

  test("coCitation: common-source pairs, ordered, duplicates collapse, " +
    "transpose gives bibliographic coupling") {
    val edges = Seq(
      "s1" -> "a", "s1" -> "b", "s1" -> "c",
      "s2" -> "a", "s2" -> "b",
      "s2" -> "a", // duplicate edge: must not double-count
      "s3" -> "c")
    val got = Graph.coCitation(edges.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // coupling = co-citation on the transposed graph: sources sharing
    // out-links
    val coupled = Graph.coCitation(
        edges.map(_.swap).toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(coupled == Map(
      ("s1", "s2") -> 2L, ("s1", "s3") -> 1L))
  }

  test("coCitation: maxOutDeg drops a mega-hub and its pair mass") {
    // s1/s2 are organic (2-3 out-links); hub cites EVERYTHING — a
    // directory page whose out-list is not an endorsement
    val edges = Seq(
      "s1" -> "a", "s1" -> "b", "s1" -> "c",
      "s2" -> "a", "s2" -> "b") ++
      (0 until 10).map(i => "hub" -> s"t$i") ++
      Seq("hub" -> "a", "hub" -> "b", "hub" -> "c")
    val uncapped = Graph.coCitation(edges.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the hub inflates every pair it touches (a,b) and mints t-pairs
    assert(uncapped(("a", "b")) == 3L)
    assert(uncapped.keys.exists(_._1.startsWith("t")) ||
      uncapped.keys.exists(_._2.startsWith("t")))
    val capped = Graph.coCitation(edges.toDF("src", "dst"),
        maxOutDeg = 5L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // hub (13 out-edges) excluded: only the organic signal remains
    assert(capped == Map(
      ("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // a cap above every degree changes nothing
    val loose = Graph.coCitation(edges.toDF("src", "dst"),
        maxOutDeg = 100L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(loose == uncapped)
  }

  test("crawlBudget: Hamilton apportionment sums to the budget exactly; " +
       "no single-partition window in the plan") {
    val ranks = Seq(("a", 0.42), ("b", 0.31), ("c", 0.17), ("d", 0.06),
      ("e", 0.04)).toDF("node", "pr")
    val out = Graph.crawlBudget(ranks, 10L)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"global window in the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"remainder cut sorts globally:\n$p")
    val got = out.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got.values.sum == 10L)
    // largest-remainder reference: quotas 4.2/3.1/1.7/0.6/0.4 →
    // floors 4/3/1/0/0, 2 leftover to the largest fracs (c .7, d .6)
    assert(got == Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L,
      "e" -> 0L))
    // degenerate budgets
    assert(Graph.crawlBudget(ranks, 0L).collect()
      .map(_.getLong(2)).sum == 0L)
  }

  test("pageRankFrom: warm(j) + k rounds ≡ cold j+k bit-for-bit; new " +
       "nodes enter at zero; warm from the fixed point barely moves") {
    val edges = Seq("a" -> "b", "b" -> "c", "b" -> "d", "c" -> "a",
      "d" -> "a", "a" -> "c")
    def vec(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cold3 = Graph.pageRank(edges.toDF("src", "dst"), 3)
    val warm = vec(Graph.pageRankFrom(edges.toDF("src", "dst"), cold3, 2))
    val cold5 = vec(Graph.pageRank(edges.toDF("src", "dst"), 5))
    assert(warm == cold5) // bit-exact, not approximate
    // a NEW edge adds node e: prior has no entry, e starts at ZERO
    // (no accumulated rank — unit mass stays exact) and earns the base
    // term + inbound in round one; the refreshed vector sums to 1
    val grown = edges :+ ("a" -> "e")
    val refreshed = vec(Graph.pageRankFrom(grown.toDF("src", "dst"),
      cold3, 10))
    assert(refreshed.keySet == Set("a", "b", "c", "d", "e"))
    assert(math.abs(refreshed.values.sum - 1.0) < 1e-9)
    assert(refreshed("e") > 0.0)
    // warm-starting NEAR the fixed point: one more round moves the
    // vector by less than the cold chain's round-5 step (contraction)
    val cold30 = Graph.pageRank(edges.toDF("src", "dst"), 30)
    val c30 = vec(cold30)
    val step31 = vec(Graph.pageRankFrom(edges.toDF("src", "dst"),
      cold30, 1))
    val drift = c30.map { case (k, v) => math.abs(step31(k) - v) }.sum
    val cold4 = vec(Graph.pageRank(edges.toDF("src", "dst"), 4))
    val early = cold5.map { case (k, v) => math.abs(cold4(k) - v) }.sum
    assert(drift < early / 10, s"drift=$drift early=$early")
  }

  test("pageRank: invariant under input partitioning (decimal routing)") {
    val edges = Seq("a" -> "b", "b" -> "c", "b" -> "d", "c" -> "a",
      "d" -> "a", "a" -> "c")
    val one = Graph.pageRank(edges.toDF("src", "dst"), 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val many = Graph.pageRank(edges.toDF("src", "dst").repartition(7), 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(one.toSeq == many.toSeq) // bit-exact, not approximate
  }

  test("pageRank rounds plan over checkpointed leaves: only the edge " +
    "dedup reads the caller's chain, and no query reads the cache") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
      LogicalPlan}
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    // a fresh session's listener manager hears only that session's queries
    val s = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // a derived chain in the style of x124's: link URLs -> lower-cased
    // hosts, empty hosts dropped, two crawls unioned
    def crawl(rows: (String, String)*) =
      s.createDataFrame(rows).toDF("from_url", "to_url")
    def host(c: String) =
      lower(regexp_extract(col(c), "^https?://([^/:]+)", 1))
    def hostEdges(links: org.apache.spark.sql.DataFrame) =
      links.select(host("from_url").as("src"), host("to_url").as("dst"))
        .where(col("src") =!= "" && col("dst") =!= "")
    val edges = hostEdges(crawl(
        "http://A.org/x" -> "https://b.org/y", "http://b.org/" -> "c.org",
        "https://b.org/z" -> "http://c.org/w"))
      .union(hostEdges(crawl(
        "http://c.org/" -> "http://a.org/",
        "https://d.org:8080/" -> "http://a.org/q")))
    // `setup` queries read past a checkpoint: the edge dedup (the only
    // one reading the caller's chain) and, with seeds, the seed count
    // and the teleport table, which read the seeds' local rows
    def check(setup: Int)(body: => Unit): Unit = {
      plans.clear()
      body
      org.apache.spark.ListenerBusDrain(s.sparkContext)
      val seen = plans.asScala.toSeq
      assert(seen.size > 3, s"queries not reported: ${seen.size}")
      val readsChain = seen.filter(
        _.collectLeaves().exists(!_.isInstanceOf[LogicalRDD]))
      assert(readsChain.size == setup,
        s"${readsChain.size} queries read past a checkpoint:\n" +
          readsChain.mkString("\n---\n"))
      assert(readsChain.head.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation]), readsChain.head)
      readsChain.tail.foreach(p => assert(p.collectLeaves().forall(l =>
        l.isInstanceOf[LocalRelation] || l.isInstanceOf[LogicalRDD]), p))
      seen.foreach(p => assert(
        p.find(_.isInstanceOf[InMemoryRelation]).isEmpty, s"cache read:\n$p"))
    }
    check(1)(Graph.pageRank(edges, 3).collect())
    val seeds = s.createDataFrame(Seq(Tuple1("a.org"))).toDF("node")
    check(3)(Graph.personalizedPageRank(edges, seeds, 3).collect())
    check(3)(Graph.spamMass(edges, seeds, 3).collect())
  }

  /** Driver-side reference SALSA — the degree-normalized half-round
    * recurrence (init 1/|authorities| on nodes with in-edges). */
  private def salsaRef(edges: Set[(String, String)], iters: Int)
  : (Map[String, Double], Map[String, Double]) = {
    val es = edges.toSeq
    val out = es.groupBy(_._1).map { case (k, v) => k -> v.size }
    val ind = es.groupBy(_._2).map { case (k, v) => k -> v.size }
    var auth = ind.keys.map(_ -> 1.0 / ind.size).toMap
    var hub = Map.empty[String, Double]
    for (_ <- 1 to iters) {
      hub = es.groupBy(_._1).map { case (s, out1) =>
        s -> out1.map { case (_, d) => auth(d) / ind(d) }.sum
      }
      auth = es.groupBy(_._2).map { case (d, in1) =>
        d -> in1.map { case (s, _) => hub(s) / out(s) }.sum
      }
    }
    (hub, auth)
  }

  test("salsa: matches the reference recurrence; hub and auth mass " +
    "both conserved at 1 (no normalization aggregate needed)") {
    val edges = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a2", "h2" -> "a3",
      "a1" -> "a3", "h1" -> "a1") // duplicate edge must dedup
    val (wantH, wantA) = salsaRef(edges.toSet, 5)
    val got = Graph.salsa(edges.toDF("src", "dst"), 5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(got.keySet ==
      (edges.map(_._1) ++ edges.map(_._2)).toSet) // every node surfaces
    for ((n, (h, a)) <- got) {
      assert(math.abs(h - wantH.getOrElse(n, 0.0)) < 1e-12, s"hub $n")
      assert(math.abs(a - wantA.getOrElse(n, 0.0)) < 1e-12, s"auth $n")
    }
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("salsa: converges to the indeg-proportional stationary point on " +
    "a connected co-citation graph") {
    // h1 co-cites a1 and a2; stationary auth = indeg/|E| = (1/3, 2/3)
    val edges = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a2")
    val auth = Graph.salsa(edges.toDF("src", "dst"), 30)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(auth("a1") - 1.0 / 3) < 1e-6)
    assert(math.abs(auth("a2") - 2.0 / 3) < 1e-6)
  }

  test("salsa vs hits: the TKC case — a K4 clique dominates HITS' " +
    "eigenvector while SALSA ranks the high-indegree authority first") {
    // tightly-knit community: c1..c4 all link to each other (lambda = 9
    // for HITS' A^T A) vs a star of 6 independent endorsers -> p
    // (lambda = 6); one coupling edge l1 -> c1 connects the components
    // so SALSA's stationary point is indeg-proportional GLOBALLY
    // (indeg: p = 6 > c1 = 4 > c2..c4 = 3).
    val clique = for {
      a <- Seq("c1", "c2", "c3", "c4"); b <- Seq("c1", "c2", "c3", "c4")
      if a != b
    } yield a -> b
    val edges = clique ++ (1 to 6).map(i => s"l$i" -> "p") :+ ("l1" -> "c1")
    val df = edges.toDF("src", "dst")
    val salsaA = Graph.salsa(df, 5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val hitsA = Graph.hits(df, 5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    for (c <- Seq("c1", "c2", "c3", "c4")) {
      assert(hitsA(c) > hitsA("p"),
        s"HITS must inflate clique member $c over p (TKC)")
      assert(salsaA("p") > salsaA(c),
        s"SALSA must rank p over clique member $c")
    }
  }
}
