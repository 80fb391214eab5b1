package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.LocalFs
import graft.ops.Stable

/** Link-graph operators for the crawl tier. A crawl frontier that only
  * knows "new vs stale" (x114/x116) treats a spam farm and a standards
  * body alike; real crawl schedulers (and pretraining-corpus curators
  * weighting by site authority) rank by link-graph centrality — the
  * original use PageRank was built for (Page et al. 1999, "The PageRank
  * citation ranking"). The reference has no graph tier (its assets are
  * GEE collection ids, `index.html:241-250`); this is north-star
  * territory for a 100 TB crawl corpus.
  */
object Graph {

  /** Iterative PageRank over an edge list — returns `(node, pr)` after
    * `iters` synchronous power-method rounds with damping `d`:
    *
    * `pr'(v) = (1-d)/N + d·Σ_{u→v} pr(u)/deg(u) + d·M/N`
    *
    * where `M` is the dangling mass (rank held by nodes with no
    * out-edges, redistributed uniformly — the standard stochastic-matrix
    * completion, without which rank leaks and the vector stops summing
    * to 1). Edges are deduplicated; self-loops are legal and kept.
    *
    * Scale design: the deduplicated edge table, out-degrees, and node
    * set (carrying the dangling no-out-edge flag as a column) are
    * computed ONCE as eager `localCheckpoint`s — lineage-free leaves
    * (see [[dedupEdges]]), so every round plans over a few RDD scans
    * instead of the caller's whole edge-deriving chain. Each round is
    * one equi-join of edges with the previous rank vector plus ONE
    * partial+final hash
    * aggregation on the destination key — shuffle size is the edge
    * count, skew bound is one node's in-degree. The dangling mass rides
    * as a ONE-ROW aggregate cross-joined back (no driver collect in the
    * loop) computed by FILTERING the vector's carried flag — no
    * per-round join against a dangling table; the only driver-side
    * scalar is the node COUNT, once, up front. Each round's rank vector is EAGERLY `localCheckpoint`ed —
    * the Pregel discipline: without it the two consumers per round
    * (contribution join + dangling mass) double the lineage every
    * iteration, a 2^k recompute. The vector is node-sized (bounded by
    * distinct URLs/domains, not corpus rows); for rank vectors beyond
    * executor storage swap in a reliable `checkpoint` directory — the
    * plan shape is unchanged.
    *
    * Determinism: per-edge contributions `pr(u)/deg(u)` are IEEE double
    * ops (reproducible anywhere); their per-destination sum and the
    * dangling-mass sum route through fixed-scale decimals
    * ([[Stable.sumD]], scale 18) — invariant under any partitioning or
    * merge order, so the rank vector is reproducible across cluster
    * sizes (cross-engine replays agree to the last few ulp; callers
    * round for hash-exact comparison, the x5 cosine convention).
    *
    * Contract: edge endpoints must be non-null — the operator does NOT
    * filter them, deliberately: a defensive `isNotNull(src)` filter
    * gets pushed below the caller's projection, re-inlining a large
    * derived-column expression into the scan filter and blowing
    * whole-stage codegen past Janino's 64 KB method limit (observed
    * with x124's registered-domain chain — the x107/x116 JIT lesson in
    * pushdown form). */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val g = prepare(edges, srcCol, dstCol)
    iterate(iters, uniformStart(g))(pageRankRound(g, damping))
      .select("node", "pr")
  }

  /** [[pageRank]] run to TOLERANCE instead of a fixed round count —
    * how a production crawl scheduler actually runs the power method
    * (Page et al. report ~50 rounds to convergence on the 1999 web;
    * a fixed small constant is a demo). Identical per-round algebra —
    * the SAME step function [[pageRank]] uses, so k rounds of either
    * are bit-identical — plus ONE extra bounded aggregate per round:
    * the L1 residual `Σ|pr'(v) − pr(v)|` over the node-keyed join of
    * consecutive vectors (node-sized, decimal-routed, partitioning-
    * invariant), whose scalar reaches the driver as loop control —
    * the same class of driver-side scalar as the up-front node count.
    * Stops after the first round whose residual is below `tol`, or at
    * `maxIters`. Returns the final vector (the iteration count and
    * residual land in the driver log contract of the caller; the
    * VECTOR is the product). */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-9,
                        maxIters: Int = 50, damping: Double = 0.85,
                        srcCol: String = "src", dstCol: String = "dst")
      : DataFrame = {
    require(tol > 0 && maxIters >= 1,
      s"need tol > 0 and maxIters >= 1: tol=$tol maxIters=$maxIters")
    val g = prepare(edges, srcCol, dstCol)
    val step = pageRankRound(g, damping)
    var pr = uniformStart(g)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIters && delta >= tol) {
      val next = step(pr)
      delta = next.join(pr.withColumnRenamed("pr", "pr_old"), "node")
        .agg(Stable.sumD(abs(col("pr") - col("pr_old")), 18).as("d"))
        .head().getDouble(0)
      pr = next
      it += 1
    }
    pr.select("node", "pr")
  }

  /** WARM-START PageRank — the incremental refresh a production
    * scheduler runs on the link graph's rebuild cadence: instead of
    * restarting from the uniform vector, iterate from the PREVIOUS
    * rank table (the x143 authority store). The recurrence is a
    * contraction with factor `d` (Page et al. §2.6), so a warm start
    * near the fixed point needs a handful of rounds where a cold start
    * needs tens — same cost per round, far fewer rounds per rebuild.
    * Nodes absent from the prior (newly discovered) enter at ZERO —
    * they have no accumulated rank, and a `1/N` injection would
    * inflate total mass above 1 with only geometric decay back (the
    * recurrence maps Σ to (1−d) + d·Σ); at zero the unit mass is
    * preserved every round and newcomers earn the base term plus
    * inbound rank in their first round. Prior entries for vanished
    * nodes drop via the node-set join. On
    * an UNCHANGED graph, warm-starting from round-j output and running
    * k rounds is bit-identical to running j+k cold rounds (the same
    * step image — GraphSpec pins it), which is what makes the product
    * oracle-checkable. */
  def pageRankFrom(edges: DataFrame, prior: DataFrame, iters: Int = 5,
                   damping: Double = 0.85, srcCol: String = "src",
                   dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    val g = prepare(edges, srcCol, dstCol)
    val p0 = g.nodes
      .join(prior.select(col("node").cast("string").as("node"),
        col("pr").cast("double").as("pr")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("pr"), lit(0.0)).as("pr"), col("dang"))
      .localCheckpoint(true)
    iterate(iters, p0)(pageRankRound(g, damping)).select("node", "pr")
  }

  /** Top-k nodes by rank — the authority report a crawl scheduler or
    * corpus curator reads off a rank vector. `orderBy(desc).limit(k)`
    * compiles to TakeOrderedAndProject: per-partition top-k, a k-row
    * driver merge, NO global sort of the (node-sized) vector. Ties
    * break on node ascending — a total order, deterministic. */
  def topAuthorities(ranks: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    ranks.orderBy(desc("pr"), col("node")).limit(k)
  }

  /** WEIGHTED PageRank — the form a real link graph wants once edges
    * carry multiplicity (a domain linking another 40 times is a
    * stronger endorsement than once): duplicate (src, dst) edges
    * AGGREGATE into a weight, and each round distributes `pr(u)`
    * proportionally to `w(u→v) / Σ_out w(u)` instead of uniformly.
    * Same plan shape as [[pageRank]] — edges/out-weights/nodes/dangling
    * checkpointed once, then the same [[powerRound]] — only the
    * per-edge share differs. Deliberately NOT weight-1 edges under
    * [[pageRank]]: that would change its expression tree (`pr/deg` vs
    * `pr·(w/sw)`) and silently shift x124's replayed bits. */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5,
                       damping: Double = 0.85,
                       srcCol: String = "src", dstCol: String = "dst",
                       weightCol: String = "w"): DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("double").as("w"))
      .groupBy("src", "dst").agg(Stable.sumD(col("w"), 18).as("w"))
      // weights must be POSITIVE for w/sw to be a distribution: an
      // aggregate weight ≤ 0 (cancelled or junk multiplicities) drops
      // here — otherwise a src whose out-weights sum to 0 divides by
      // zero and NaN poisons every subsequent round's vector. A src
      // losing ALL its edges becomes dangling, the already-correct
      // branch.
      .filter(col("w") > 0)
      .localCheckpoint(true)
    val g = annotate(e,
      e.join(e.groupBy("src").agg(Stable.sumD(col("w"), 18).as("sw")), "src"))
    iterate(iters, uniformStart(g))(powerRound(g, g.nodes,
        _ * (col("w") / col("sw")), "pr" -> uniformBlend(g, damping)))
      .select("node", "pr")
  }

  /** PERSONALIZED PageRank — teleportation restricted to a SEED set
    * (Page et al. §6's personalized vector; the crawl use: authority
    * relative to trusted hub domains, the seed-and-expand curation
    * move). The recurrence swaps the uniform `1/N` teleport for
    * `t(v) = 1/|S|` on seeds and 0 elsewhere, in BOTH the base term
    * and the dangling-mass redistribution — rank leaks back to seeds,
    * never to the whole graph, so unreachable-from-seeds nodes decay
    * to exactly the damped remainder of 0. Seeds not present in the
    * graph are ignored; at least one seed must survive the
    * intersection. Same [[powerRound]] as [[pageRank]] with the
    * seeded blend; the teleport column rides the checkpointed node
    * table ([[seedTeleport]]) — no extra join in the loop. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5, damping: Double = 0.85,
                           srcCol: String = "src", dstCol: String = "dst")
      : DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    val g = prepare(edges, srcCol, dstCol)
    val (ndt, _) = seedTeleport(g, seeds)
    // projection of the checkpointed ndt — no init barrier needed
    iterate(iters, ndt.select(col("node"), col("t").as("pr"), col("dang")))(
        powerRound(g, ndt, byDegree, "pr" -> seededBlend(damping)))
      .select("node", "pr")
  }

  /** Persist a [[pageRank]] vector as the AUTHORITY STORE — the x77/
    * x96/x126 stored-index lifecycle applied to the rank tier: a real
    * crawl scheduler does not re-run the power method per scheduling
    * tick; ranks are recomputed on the link graph's cadence (weekly on
    * the 1999 web, per Page et al.) and every frontier query between
    * rebuilds reads the stored node-sized table. Doubles round-trip
    * parquet exactly, so stored ≡ inline bit-for-bit. */
  def pageRankStoredBuild(edges: DataFrame, dir: String, iters: Int = 5,
                          damping: Double = 0.85, srcCol: String = "src",
                          dstCol: String = "dst"): Unit =
    LocalFs.write(pageRank(edges, iters, damping, srcCol, dstCol))
      .mode("overwrite").parquet(s"$dir/ranks")

  /** The query half of the stored-rank lifecycle: scan ONLY the
    * node-sized rank table — the corpus and edge list are never
    * touched at scheduling time. */
  def pageRankStoredRead(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    spark.read.parquet(s"$dir/ranks")

  /** SPAM MASS (Gyöngyi, Garcia-Molina, Berkhin, Pedersen 2005, "Link
    * spam detection based on mass estimation") — how much of a node's
    * PageRank arrives from OUTSIDE a trusted good core: the link-spam
    * detector run over a crawl before its corpus is trusted. Per node:
    *
    *  - `pr`        — ordinary PageRank (uniform teleport),
    *  - `core_pr`   — the rank component attributable to the good core:
    *    PageRank with teleport restricted to the seed set at the
    *    UNIFORM per-node value 1/N (the paper's p⁺, which keeps
    *    `core_pr ≤ pr` in expectation),
    *  - `spam_mass` — `pr − core_pr` (the paper's absolute mass M̂),
    *  - `rel_mass`  — `spam_mass / pr` (the paper's relative mass m̂;
    *    the spam verdict thresholds THIS — a node whose rank almost
    *    all arrives from outside the good core is link spam).
    *
    * The core component reuses [[personalizedPageRank]]: the
    * personalized recurrence is LINEAR and homogeneous in its teleport
    * vector (base term, contribution term, and dangling redistribution
    * each scale by the same factor, every round, from `pr0` on), so the
    * paper's 1/N-on-seeds vector is exactly the 1/|S|-on-seeds run
    * scaled by `|S|/N` — computed here as one explicit multiply whose
    * expression order the oracle replays. Nodes unreachable from the
    * seeds hold a core component of exactly zero ⇒ `rel_mass` exactly
    * 1.0 — the isolated-spam-farm signature, closed-form testable.
    *
    * Scale shape: ONE [[PreparedGraph]] and ONE power loop carrying
    * BOTH vectors as columns of a single node frame — [[powerRound]]
    * with a uniform blend for `pr_u` and a seeded blend for `pr_p`,
    * so per round ONE edge equi-join + one dest-key partial+final agg
    * computes both contribution sums and one dangling-flag filter both
    * masses, behind one checkpoint (separate loops would pay twice the
    * edge-join shuffles and barriers for algebra that never interacts
    * until the final subtraction). Each column's expressions are the
    * standalone runs' and decimal-routed sums are merge-order-
    * invariant, so both columns are BIT-IDENTICAL to [[pageRank]] and
    * [[personalizedPageRank]] — GraphSpec pins both. The `|S|/N`
    * scale stays a DRIVER literal (both counts are loop-setup
    * scalars); nothing corpus-sized runs outside the loop. */
  def spamMass(edges: DataFrame, goodSeeds: DataFrame, iters: Int = 5,
               damping: Double = 0.85, srcCol: String = "src",
               dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    val g = prepare(edges, srcCol, dstCol)
    val (ndt, nSeed) = seedTeleport(g, goodSeeds)
    // projection of the checkpointed ndt — no init barrier needed
    val v = iterate(iters, ndt.select(col("node"), lit(1.0 / g.n).as("pr_u"),
        col("t").as("pr_p"), col("dang")))(powerRound(g, ndt, byDegree,
      "pr_u" -> uniformBlend(g, damping), "pr_p" -> seededBlend(damping)))
    v.select(col("node"), col("pr_u").as("pr_all"),
        (col("pr_p") *
          (lit(nSeed.toDouble) / lit(g.n.toDouble))).as("core_pr"))
      .select(col("node"), col("pr_all").as("pr"), col("core_pr"),
        (col("pr_all") - col("core_pr")).as("spam_mass"),
        ((col("pr_all") - col("core_pr")) / col("pr_all")).as("rel_mass"))
  }

  /** CRAWL BUDGET apportionment — turn a rank vector into the integer
    * per-domain fetch quota a crawler tick actually executes: quotas
    * proportional to rank via the largest-remainder (Hamilton) method,
    * the deterministic apportionment rule — `quota = B·pr/Σpr`, every
    * domain gets `floor(quota)`, and the `B − Σfloor` leftover fetches
    * go to the largest fractional parts (rank ties broken node-
    * ascending). Σ n_fetch == B exactly, by construction — the
    * property a fixed fetch-capacity tick needs and naive rounding
    * violates.
    *
    * Shape: one node-sized sum (decimal-routed), the quota algebra as
    * per-row columns, and the `R = B − Σfloor` remainder as a TOP-R
    * cut on (frac DESC, node) — `orderBy.limit(R)` compiles to
    * TakeOrderedAndProject (per-partition top-R, an R-row driver
    * merge), whose winner set broadcasts back as a membership flag.
    * NO single-partition global window anywhere (the pre-round-12
    * shape row_number'd the whole vector through one partition — fine
    * at 10⁴ domains, a straggler at 10⁸). R itself is a one-row
    * aggregate scalar, the same driver-scalar class as the node count.
    * All IEEE ops in fixed order and the cut's (frac, node) order is
    * total, so the integer quotas replay exactly cross-engine. */
  def crawlBudget(ranks: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, s"need budget >= 0: $budget")
    val s = ranks.agg(Stable.sumD(col("pr"), 18).as("spr"))
    val q = ranks.crossJoin(broadcast(s))
      .withColumn("quota",
        lit(budget.toDouble) * (col("pr") / col("spr")))
      .withColumn("base", floor(col("quota")).cast("long"))
      .withColumn("frac", col("quota") - floor(col("quota")))
      .localCheckpoint(true)
    val used = q.agg(coalesce(sum("base"), lit(0L)).as("used"))
      .head().getLong(0)
    val rL = math.max(0L, budget - used)
    require(rL <= Int.MaxValue,
      s"bonus remainder $rL exceeds Int.MaxValue — budget too large for limit()")
    val r = rL.toInt
    val winners = q.orderBy(desc("frac"), col("node")).limit(r)
      .select(col("node"), lit(1L).as("bonus"))
    q.join(broadcast(winners), Seq("node"), "left")
      .withColumn("n_fetch", col("base") + coalesce(col("bonus"), lit(0L)))
      .select(col("node"), col("quota"), col("n_fetch"))
  }

  /** HITS (Kleinberg 1999, "Authoritative sources in a hyperlinked
    * environment") — the OTHER classic link-analysis recurrence, and
    * the one that separates the two crawl roles PageRank conflates: a
    * HUB (a page whose outlinks find good content — a directory, a
    * sitemap page) and an AUTHORITY (a page good hubs point AT). Per
    * round: `auth(v) = Σ_{u→v} hub(u)`, then `hub(u) = Σ_{u→v}
    * auth(v)`, each L2-normalized (the power method on AᵀA / AAᵀ).
    *
    * Same scale shape as [[pageRank]]: edges/nodes checkpointed once, each
    * half-round is one edge equi-join + one partial+final agg on the
    * receiving key, the L2 norm rides as a ONE-ROW cross-joined
    * aggregate (no driver collect in the loop). ONE eager
    * localCheckpoint per half-round, on the normalized scattered
    * vector it returns. The propagated sums have two consumers inside
    * that one plan (the norm row and the scatter join) with identical
    * exchange subtrees, so ReuseExchange pays their shuffle once and
    * they need no barrier of their own. The norm over the sums equals
    * the norm over the scattered vector EXACTLY — absent nodes scatter
    * to 0.0 and decimal zeros are additive identities — and the
    * scattered division distributes over the left join unchanged
    * (`coalesce(v,0)/nrm ≡ coalesce(v/nrm, 0)` for nrm > 0), so the
    * output is bit-identical to the historical form (GraphSpec pins
    * it). Decimal-routed sums + IEEE sqrt/divide ⇒
    * partitioning-invariant, oracle-replayable. */
  def hits(edges: DataFrame, iters: Int = 5,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    val e = dedupEdges(edges, srcCol, dstCol)
    val nodes = nodeSet(e)
    def halfRound(vec: DataFrame, inKey: String, outKey: String,
                  term: Column, vCol: String)
        : DataFrame = {
      val sums = propagate(e, vec, inKey, outKey, "v" -> term)
      val nrm = sums.agg(
        sqrt(Stable.sumD(col("v") * col("v"), 18)).as("nrm"))
      // sums has two consumers INSIDE this one plan (the norm row and
      // the scatter join); its exchange subtree is identical in both,
      // so ReuseExchange pays the propagate shuffle once — no separate
      // materialization needed
      nodes.join(sums, nodes("node") === sums(outKey), "left")
        .crossJoin(nrm)
        .select(nodes("node"),
          when(col("nrm") > 0,
            coalesce(col("v"), lit(0.0)) / col("nrm"))
            .otherwise(lit(0.0)).as(vCol))
        .localCheckpoint(true)
    }
    // init vectors are projections of the checkpointed node table, each
    // consumed once inside round 1's plan — no init barrier needed
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth = nodes.select(col("node"), lit(0.0).as("auth"))
    for (_ <- 1 to iters) {
      auth = halfRound(hub, "src", "dst", col("hub"), "auth")
      hub = halfRound(auth, "dst", "src", col("auth"), "hub")
    }
    hub.join(auth, "node")
  }

  /** SALSA (Lempel & Moran 2001, "SALSA: the stochastic approach for
    * link-structure analysis") — the L1/random-walk sibling of [[hits]]:
    * instead of summing raw neighbor scores and L2-normalizing, each
    * half-step DIVIDES by the sending side's degree, making both updates
    * stochastic (total mass is conserved by construction, no
    * normalization step):
    *
    *   `hub'(i)  = Σ_{i→j} auth(j) / indeg(j)`   (backward half-step)
    *   `auth'(j) = Σ_{i→j} hub'(i) / outdeg(i)`  (forward half-step)
    *
    * started from the uniform authority vector `1/|A|` over nodes with
    * ≥1 in-edge. The practical difference from HITS: the degree
    * division kills the tightly-knit-community (TKC) amplification —
    * a dense clique can dominate HITS' eigenvector while SALSA's
    * stationary authority weight is proportional to in-degree WITHIN a
    * connected component, so a link farm gains nothing from internal
    * density. Running both and comparing is the standard farm probe.
    *
    * Same 100 TB shape as [[hits]]: dedup'd edges + both degree tables
    * checkpointed once; each half-round is one edge equi-join + one
    * partial+final agg on the receiving key; no driver collect, no
    * normalization aggregate at all (mass conservation replaces it);
    * ONE eager localCheckpoint per round (auth — the vector two
    * consumers read; hub is single-consumer and rides inside the auth
    * plan un-materialized). Per-edge division before
    * the decimal-routed sum, so rounds replay bit-for-bit cross-engine.
    * Returns `(node, hub, auth)` over all nodes (0.0 on the missing
    * side). */
  def salsa(edges: DataFrame, iters: Int = 5,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    val e = dedupEdges(edges, srcCol, dstCol)
    val inDeg = e.groupBy("dst").agg(count(lit(1)).as("indeg"))
    // BOTH degree columns ride the checkpointed edge table (one join
    // each, paid once) instead of re-joining a degree table every
    // half-round
    val ed = e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .join(inDeg, "dst")
      .localCheckpoint(true)
    val nodes = nodeSet(e)
    val nAuth = inDeg.count()
    // init vector: one small agg over the checkpointed edge table,
    // consumed once inside round 1's plan — no init barrier needed
    var auth = inDeg.select(col("dst").as("node"),
        (lit(1.0) / lit(nAuth.toDouble)).as("auth"))
    var hub: DataFrame = null
    // checkpoint discipline: each IN-LOOP hub vector is consumed
    // exactly once (the auth half-round below it), so hub rides
    // INSIDE auth's round plan un-materialized — lineage stays
    // bounded because auth checkpoints every round. Eagerly
    // materializing hub too (the historical form) paid 2×iters
    // blocking barriers for vectors nothing reads twice. The FINAL
    // hub is the exception — it has a second consumer (the output
    // join) after the last auth half-round already ran it once — so
    // it alone checkpoints after the loop: the output join then reads
    // a materialized vector instead of re-executing the backward
    // half-step.
    for (_ <- 1 to iters) {
      hub = propagate(ed, auth, "dst", "src",
          "v" -> col("auth") / col("indeg").cast("double"))
        .select(col("src").as("node"), col("v").as("hub"))
      auth = propagate(ed, hub, "src", "dst",
          "v" -> col("hub") / col("outdeg").cast("double"))
        .select(col("dst").as("node"), col("v").as("auth"))
        .localCheckpoint(true)
    }
    hub = hub.localCheckpoint(true)
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** Crawl ISLANDS — weakly-connected components of the link graph
    * (edges undirected): the "which subwebs exist" report a crawl
    * curator reads before budgeting — an island disconnected from the
    * trusted core is the classic link-farm / isolated-cluster signal,
    * and per-island size is the denominator authority scores get
    * normalized by. Returns `(node, island, island_size)` where
    * `island` is the component's MIN node string (deterministic,
    * engine-portable label).
    *
    * Reuses [[Dedup.connectedComponents]]' large-star/small-star
    * contraction (O(log²) rounds at any scale) over xxhash64 node ids —
    * the hash is an INTERNAL join key only: the reported label is the
    * min node STRING, so the hash layer cancels in the oracle and a
    * collision could only merge islands, never relabel one. Nodes
    * appearing only in self-loops surface as singleton islands. The
    * island-size join is bounded by the component count (≤ node count
    * — domains, not corpus rows). */
  def crawlIslands(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst"): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("string").as("a"),
        col(dstCol).cast("string").as("b"))
    val names = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .distinct()
      .withColumn("h", xxhash64(col("node")))
    val cc = Dedup.connectedComponents(
      e.select(xxhash64(col("a")).as("doc_a"),
        xxhash64(col("b")).as("doc_b")))
    val labeled = names
      .join(cc, names("h") === cc("doc_id"), "left")
      .select(col("node"), coalesce(col("rep_id"), col("h")).as("rep"))
    val islands = labeled.groupBy("rep")
      .agg(min("node").as("island"), count(lit(1)).as("island_size"))
    labeled.join(islands, "rep").select("node", "island", "island_size")
  }

  /** Per-node DEGREE / reciprocity report — the structural census a
    * crawl analyst reads next to the rank vector: out-degree (how much
    * the node endorses), in-degree (how endorsed it is), and the
    * reciprocal-neighbor count (mutual links — the classic link-
    * exchange / link-farm tell: organic webs are strongly asymmetric,
    * SEO rings are not). Self-loops drop (a page citing itself says
    * nothing). One dedup'd edge table, two grouped counts, and a
    * reversed-edge equi-join for reciprocity — every key is a node id,
    * so partials collapse map-side and skew is one node's degree. */
  def degreeReport(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst"): DataFrame = {
    // edge-sized (distinct node pairs, not corpus rows): one eager
    // localCheckpoint feeds the four consumers below without leaking a
    // session-lifetime persist across queries
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reciprocal"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val out = nodes
      .join(outDeg, Seq("node"), "left")
      .join(inDeg, Seq("node"), "left")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
    out
  }

  /** CO-CITATION pairs (Small 1973) — two nodes are related when the
    * same sources link BOTH: the link-graph similarity signal that
    * needs no text or embeddings, and the dual of bibliographic
    * coupling (run this on the TRANSPOSED edge list to get "domains
    * that cite the same things"). Returns `(d1, d2, n_common)` for
    * ordered pairs `d1 < d2` with at least `minCount` common sources.
    *
    * Shape: one self-join of the dedup'd edge table on the SOURCE key
    * — pair volume is Σ out-deg², the SemDeDup cluster-bounded shape.
    * `maxOutDeg` is the quadratic-blowup guard a 100 TB graph needs:
    * sources with MORE than `maxOutDeg` distinct out-edges are dropped
    * before the self-join (a mega-hub's out-list is a directory page,
    * not an endorsement — the standard co-citation truncation), which
    * bounds pair volume by edges × maxOutDeg. The drop is NOT silent:
    * the excluded-source count and their edge mass go to stderr (the
    * no-silent-caps rule). Default keeps every source. */
  def coCitation(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst", minCount: Long = 1L,
                 maxOutDeg: Long = Long.MaxValue): DataFrame = {
    require(maxOutDeg >= 1, s"need maxOutDeg >= 1: $maxOutDeg")
    val e0 = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val e = if (maxOutDeg == Long.MaxValue) e0 else {
      val deg = e0.groupBy("src").agg(count(lit(1)).as("out_deg"))
      val hubs = deg.filter(col("out_deg") > maxOutDeg)
        .localCheckpoint(true)
      val Array(nHubs, hubEdges) = hubs
        .agg(coalesce(count(lit(1)), lit(0L)),
          coalesce(sum("out_deg"), lit(0L)))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      if (nHubs > 0)
        System.err.println(s"[coCitation] dropped $nHubs sources over " +
          s"maxOutDeg=$maxOutDeg ($hubEdges edges excluded)")
      e0.join(broadcast(hubs.select("src")), Seq("src"), "left_anti")
    }
    e.as("x").join(e.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("d1"), col("y.dst").as("d2"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCount)
  }

  // ------------------------------------------------------------------
  // The rank-iteration kernel. Every recurrence in this file iterates
  // [[propagate]]; the PageRank family shares one whole round,
  // [[powerRound]], and differs only in its per-edge share, node frame
  // and blends.
  // ------------------------------------------------------------------

  /** ONE propagation half-round — the kernel image of every rank
    * recurrence: the current vector `(node, …)` equi-joined onto the
    * (checkpointed) edge table at `inKey`, then a per-`outKey`
    * partial+final aggregation of each named term through the
    * fixed-scale decimal route ([[Stable.sumD]]) — shuffle size the
    * edge count, skew bound one node's degree, result invariant under
    * any partitioning. A term is the recurrence's per-edge
    * contribution (`pr/deg`, `pr·w/sw`, `auth/indeg`, plain `hub`, …). */
  private def propagate(edges: DataFrame, vec: DataFrame, inKey: String,
                        outKey: String, terms: (String, Column)*)
      : DataFrame = {
    val sums = terms.map { case (name, t) => Stable.sumD(t, 18).as(name) }
    edges.join(vec, edges(inKey) === vec("node"))
      .groupBy(edges(outKey))
      .agg(sums.head, sums.tail: _*)
  }

  /** ONE PageRank-family power round over the vector columns of `v`
    * `(node, <cols>…, dang)`: per column, [[propagate]]'s sum of
    * `share(column)` over the degree- or weight-annotated edges (named
    * `v_<col>`), and the dangling mass — rank held by nodes with no
    * out-edges — as a one-row aggregate FILTERING the vector's carried
    * `dang` flag (named `m_<col>`; cross-joined, never a driver
    * collect, never a per-round join against a dangling table). The
    * node `frame` (which may carry a teleport column `t`) is
    * left-joined with the sums, the mass row cross-joined on, each
    * column's `blend(sum, mass)` projected under the column's name,
    * and `dang` carried onto the output so the NEXT round's mass is a
    * filter again. The result is EAGERLY localCheckpoint'ed — the
    * Pregel lineage discipline: each vector has two consumers per
    * round (the edge join and the mass filter), which would otherwise
    * double lineage every iteration, a 2^k recompute. */
  private def powerRound(g: PreparedGraph, frame: DataFrame,
                         share: Column => Column,
                         blends: (String, (Column, Column) => Column)*)
      : DataFrame => DataFrame = { v =>
    val cols = blends.map(_._1)
    val sums = propagate(g.ed, v, "src", "dst",
      cols.map(c => s"v_$c" -> share(col(c))): _*)
    val masses = cols.map(c =>
      coalesce(Stable.sumD(col(c), 18), lit(0.0)).as(s"m_$c"))
    frame.join(sums, frame("node") === sums("dst"), "left")
      .crossJoin(v.filter(col("dang")).agg(masses.head, masses.tail: _*))
      .select(frame("node") +: blends.map { case (c, blend) =>
        blend(col(s"v_$c"), col(s"m_$c")).as(c) } :+ frame("dang"): _*)
      .localCheckpoint(true)
  }

  /** The unweighted per-edge share `pr(u)/deg(u)`. */
  private val byDegree: Column => Column = _ / col("deg").cast("double")

  /** The uniform-teleport blend `(1-d)/N + d·Σ + d·M/N`. */
  private def uniformBlend(g: PreparedGraph, damping: Double)
      : (Column, Column) => Column = {
    val base = (1.0 - damping) / g.n
    (v, m) => lit(base) + lit(damping) * coalesce(v, lit(0.0)) +
      lit(damping) * m / lit(g.n.toDouble)
  }

  /** The seeded-teleport blend `(1-d)·t + d·Σ + d·M·t` over the node
    * frame's teleport column `t` ([[seedTeleport]]). */
  private def seededBlend(damping: Double): (Column, Column) => Column =
    (v, m) => lit(1.0 - damping) * col("t") +
      lit(damping) * coalesce(v, lit(0.0)) + lit(damping) * m * col("t")

  /** [[pageRank]]'s round — also [[pageRankConverged]]'s and
    * [[pageRankFrom]]'s, so k rounds of any of them are bit-identical. */
  private def pageRankRound(g: PreparedGraph, damping: Double)
      : DataFrame => DataFrame =
    powerRound(g, g.nodes, byDegree, "pr" -> uniformBlend(g, damping))

  /** The uniform start vector `1/N`: a plain projection of the
    * CHECKPOINTED node table — both of round 1's consumers re-read its
    * blocks and round 1's output checkpoints, so lineage stays bounded
    * without an init barrier. */
  private def uniformStart(g: PreparedGraph): DataFrame =
    g.nodes.select(col("node"), lit(1.0 / g.n).as("pr"), col("dang"))

  /** The seed teleport over a prepared graph: the node table with
    * `t(v) = 1/|S|` on seeds present in the graph and 0 elsewhere,
    * checkpointed once, plus `|S|`. Requires one seed in the graph. */
  private def seedTeleport(g: PreparedGraph, seeds: DataFrame)
      : (DataFrame, Long) = {
    val seedSet = seeds.select(col(seeds.columns.head).cast("string")
      .as("node")).distinct()
    val nS = g.nodes.join(seedSet, Seq("node"), "left_semi").count()
    require(nS > 0, "no seed appears in the graph")
    val ndt = g.nodes
      .join(seedSet.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed"), lit(1.0 / nS)).otherwise(lit(0.0)).as("t"),
        col("dang"))
      .localCheckpoint(true)
    (ndt, nS)
  }

  /** The checkpointed graph artifacts every power loop needs:
    * degree- (or weight-) annotated edges, node set carrying the
    * dangling flag, node count. Built ONCE and shared by every column
    * of the loop. Nothing to release: Spark's ContextCleaner frees the
    * checkpoint blocks once the frames are unreachable. */
  private final class PreparedGraph(
      val ed: DataFrame, val nodes: DataFrame, val n: Long)

  /** The graph artifacts every recurrence in this file starts from,
    * factored so no public operator re-inlines them: dedup'd
    * string-keyed edges and the node set (with [[nodeSetD]], the
    * `dang` no-out-edge flag as a column). Each is an eager
    * `localCheckpoint` — a lineage-free leaf, so the rounds that read
    * it never re-analyse, re-canonicalise or re-explain the caller's
    * edge-deriving chain (a persisted frame keeps that chain in every
    * plan that reads it). */
  private def dedupEdges(edges: DataFrame,
                         srcCol: String, dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
      .localCheckpoint(true)

  private def nodeSet(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)

  /** The node set ANNOTATED with the dangling flag (`dang` = no
    * out-edge): a left join on distinct sources and a null test, in
    * ONE checkpointed node-sized table, so every loop's dangling mass
    * is a filter over the vector instead of a per-round semi-join. */
  private def nodeSetD(e: DataFrame): DataFrame = {
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    nodes0
      .join(e.select("src").distinct(),
        nodes0("node") === col("src"), "left")
      .select(nodes0("node"), col("src").isNull.as("dang"))
      .localCheckpoint(true)
  }

  /** The fixed-count power loop every rank variant drives: iterate
    * `step` from `init` — ONE image of "run k rounds", so variants
    * differ only in their step expression, never in loop mechanics. */
  private def iterate(iters: Int, init: DataFrame)
                     (step: DataFrame => DataFrame): DataFrame = {
    var p = init
    for (_ <- 1 to iters) p = step(p)
    p
  }

  /** [[PreparedGraph]] over dedup'd edges `e` and their annotated form
    * `ed` (`deg` or `w`/`sw` columns): `ed` and the node set are
    * checkpointed, then counted once. */
  private def annotate(e: DataFrame, ed: DataFrame): PreparedGraph = {
    val edc = ed.localCheckpoint(true)
    val nodes = nodeSetD(e)
    new PreparedGraph(edc, nodes, nodes.count())
  }

  private def prepare(edges: DataFrame,
                      srcCol: String, dstCol: String): PreparedGraph = {
    val e = dedupEdges(edges, srcCol, dstCol)
    annotate(e, e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
  }
}
