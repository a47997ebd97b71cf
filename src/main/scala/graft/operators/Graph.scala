package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link analysis over an edge table — PageRank (Brin & Page
  * 1998) in the classic Spark formulation: ranks live in a (node, rank)
  * DataFrame, each iteration joins ranks to the edge list, fans
  * contributions out to destinations, and aggregates them back per
  * node. No driver-side adjacency, no collect — the graph only ever
  * exists as distributed tables.
  *
  * Determinism contract (the reason this file does NOT use doubles for
  * rank state): float addition does not commute across Spark's merge
  * orders, and a rank that differs in the last ulp at iteration k
  * compounds by iteration k+3. Ranks are therefore FIXED-POINT LONGS
  * (1e12 units = rank 1.0): contributions floor-divide by out-degree,
  * the damping multiply is `(sum · 85) div 100`, and every operation is
  * exact 64-bit integer arithmetic — the same bits on any engine, any
  * partitioning, any merge order. Floor truncation leaks < 1e-12 mass
  * per edge per iteration (bounded by E·iters·1e-12 — irrelevant to
  * ranking at any scale); dangling-node mass is NOT redistributed (the
  * standard simplification; the oracle does the same).
  *
  * Scale design: the edge list and node table are persisted once and
  * reused by every iteration (lineage would otherwise recompute the
  * upstream extraction per iteration). Cache lifecycle is deliberately
  * lazy-scoped to the RESULT: the returned ranks still reference both
  * caches, so they are not unpersisted here — the ContextCleaner
  * reclaims them once the result is dropped, and MEMORY_AND_DISK
  * blocks degrade to disk under pressure rather than OOM (the
  * [[Corpus.decontaminateBloom]] lifecycle contract). Per iteration:
  * one equi-join ranks⋈edges on
  * src (rank-scale), one partial-aggregating shuffle of BIGINT
  * contributions per dst, one left join back to the node table. Rank
  * state is 16 bytes/node. Plan depth is BOUNDED: each step references
  * the previous ranks exactly once, and every `checkpointEvery`
  * iterations the rank frame is `localCheckpoint`ed (the
  * [[Dedup.nearDupComponents]] pattern), so the analyzer/stage graph
  * stays O(checkpointEvery) deep however many iterations run — at 50
  * iterations an uncut lineage would otherwise blow up plan analysis
  * long before the data costs anything.
  */
object Graph {

  /** Fixed-point scale: 1e12 units per unit of rank mass. */
  val Scale: Long = 1000000000000L

  /** Iterations the last [[pageRank]] call actually executed — test
    * hook for the convergence stop.
    */
  @volatile private[graft] var lastIterationsRun: Int = 0

  /** PageRank over the distinct directed edges `(srcCol, dstCol)`.
    * Returns `(node, rank_units, rank_r)`: exact fixed-point units and
    * the rounded double view `round(units / 1e12, 6)`.
    *
    * `checkpointEvery` cuts rank lineage every k iterations (0
    * disables; values do not change — checkpointing is a plan
    * boundary, not an arithmetic one, so the q133 oracle replay is
    * unaffected). `convergeL1Units > 0` adds an EXACT convergence
    * stop: after each iteration the L1 rank delta Σ|r−r′| is computed
    * in integer units (deterministic on any engine — no float
    * tolerance), and iteration ends once it falls to the threshold;
    * this materializes each round's ranks and costs one extra
    * rank-scale join per iteration, the classic trade for unknown
    * iteration counts.
    *
    * Eager: the call runs Spark jobs before it returns, not when the
    * returned plan executes. It counts the distinct edges (which sizes
    * the partition budget and fills the edge cache) and the nodes (the
    * `1/n` literals), and with `convergeL1Units > 0` it also
    * checkpoints and diffs every iteration's ranks. A caller that only
    * builds or explains the plan pays these jobs, and their failures
    * and timeouts surface from `pageRank` itself. These are iterative
    * jobs that stay (ROADMAP item 2, kind (c)).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, dampingPct: Int = 85,
               checkpointEvery: Int = 1, convergeL1Units: Long = 0L): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(dampingPct > 0 && dampingPct < 100,
      s"need 0 < dampingPct < 100, got $dampingPct")
    require(checkpointEvery >= 0,
      s"need checkpointEvery >= 0 (0 disables), got $checkpointEvery")
    require(convergeL1Units >= 0L,
      s"need convergeL1Units >= 0 (0 disables), got $convergeL1Units")
    // partition budget follows the EDGE COUNT (the nearDupComponents
    // rule): a vocabulary graph's few thousand edges otherwise inherit
    // the full shuffle width and every one of the ~3 stages per
    // iteration schedules width-many near-empty tasks; a billion-edge
    // graph saturates the clamp and keeps full parallelism. The count
    // doubles as the cache warm-up.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = edges.sparkSession.sparkContext
    val parts = math.max(1L, math.min(sc.defaultParallelism.toLong,
      e0.count() / 65536L + 1L)).toInt
    val e = if (e0.rdd.getNumPartitions > parts) e0.coalesce(parts) else e0
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .coalesce(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // out-degree is NODE-scale state: persist it once and fold it into
    // the rank table each round (a tiny node⋈node join), so the one
    // edge-scale join per iteration stays single — the round-19 shape
    // change that removed an edge-scale join per iteration from the
    // plan (before: e⋈ranks then e-scale⋈outdeg every round)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node count as a driver literal: one count job over the cached
    // node table (the same driver-scalar pattern as the edge count
    // above) replaces a crossJoin(broadcast(nTbl)) in rank₀ and in
    // every iteration — iterations·1 fewer broadcast builds per run
    val n = nodes.count()

    val teleportUnits = Scale / 100L * (100L - dampingPct) // exact: Scale % 100 == 0
    val teleportPerNode = if (n > 0L) teleportUnits / n else 0L

    // rank₀ = ⌊Scale / n⌋ per node
    var ranks = nodes.select(col("node"),
      lit(if (n > 0L) Scale / n else 0L).as("rank_units"))

    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      it += 1
      val rankDeg = ranks.join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"), expr("rank_units div __outdeg").as("__c"))
      val contrib = e.join(rankDeg, "src")
        .select(col("dst").as("node"), col("__c"))
      val incoming = contrib.groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      var next = nodes.join(incoming, Seq("node"), "left")
        .select(col("node"),
          (lit(teleportPerNode) +
            expr(s"(coalesce(__in, 0L) * $dampingPct) div 100")).as("rank_units"))
      // lineage cut: a plan boundary only — rank values are identical
      // with and without it (spec-pinned). The convergence path
      // checkpoints EAGERLY every round (the delta join materializes
      // each round anyway); the plain path cuts lineage LAZILY — the
      // plan truncates immediately, the RDD materializes inside the
      // final action, and no extra per-iteration job is scheduled.
      if (convergeL1Units > 0L) next = next.localCheckpoint(true)
      else if (checkpointEvery > 0 && it % checkpointEvery == 0)
        next = next.localCheckpoint(false)
      if (convergeL1Units > 0L) {
        val delta = next.select(col("node"), col("rank_units").as("__new"))
          .join(ranks.select(col("node"), col("rank_units").as("__old")),
            Seq("node"))
          .agg(sum(abs(col("__new") - col("__old"))).as("__d"))
          .collect()(0).getLong(0)
        converged = delta <= convergeL1Units
      }
      ranks = next
    }
    lastIterationsRun = it
    ranks.select(col("node"), col("rank_units"),
      graft.functions.NumFunctions.roundNz(
        col("rank_units").cast("double") / Scale, 6).as("rank_r"))
  }

  /** Fixed-point scale for [[hits]]: 1e6 units per unit of score mass.
    * Smaller than [[Scale]] on purpose — each normalization multiplies a
    * raw sum (≤ Σscores = 1e6) by the scale before the floor-divide, so
    * the intermediate stays ≤ 1e12 and can never overflow a long even on
    * pathological degree distributions.
    */
  val HitsScale: Long = 1000000L

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over the distinct
    * directed edges `(srcCol, dstCol)`. Each iteration is the classic
    * mutual recursion — authority(v) = Σ hub(u) over in-edges, then
    * hub(u) = Σ authority(v) over out-edges — with each vector
    * L1-normalized to [[HitsScale]] units. (Kleinberg normalizes L2;
    * any per-iteration scalar normalization yields the same RANKING
    * since the iterates differ only by a scalar factor — L1 is chosen
    * because it stays in exact integer arithmetic: `(raw · Scale) div
    * Σraw`, the [[pageRank]] determinism recipe, replayable bit-for-bit
    * by any engine.)
    *
    * Returns `(node, auth_units, hub_units, auth_r, hub_r)`.
    *
    * Scale design: identical exchange profile to [[pageRank]] — edges
    * and nodes persist once with an edge-count-proportional partition
    * budget; per iteration two rank-scale equi-joins, two
    * partial-aggregating BIGINT sums, and two 1-row total aggregates
    * that ride in as broadcast scalars (never a collect). Score state
    * is 24 bytes/node. Unlike [[pageRank]], each half-step references
    * its predecessor TWICE (the normalization total and the join), so
    * an uncut plan TREE grows 4^iterations — `checkpointEvery`
    * therefore defaults to 1 (cut every iteration); 0 disables for
    * equivalence testing only.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 3, checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(checkpointEvery >= 0,
      s"need checkpointEvery >= 0 (0 disables), got $checkpointEvery")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = edges.sparkSession.sparkContext
    val parts = math.max(1L, math.min(sc.defaultParallelism.toLong,
      e0.count() / 65536L + 1L)).toInt
    val e = if (e0.rdd.getNumPartitions > parts) e0.coalesce(parts) else e0
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .coalesce(parts)
    // ROUND-19 SHAPE: iteration state is SPARSE — only nodes with
    // nonzero mass carry a row. A zero-score node contributes nothing
    // to the next half-step's sums and normalizes to (0·S) div tot = 0
    // again, so the sparse chain is value-identical to the dense one
    // (GraphSpec pins the hand-computed integers); densification to
    // every node happens ONCE at the end instead of re-joining the
    // node table into every half-step. Before: 6 node-table left
    // joins per 3-iteration run; after: 2, both in the final select.
    //
    // Normalization: the raw frame is referenced twice (its total and
    // the scale projection) — persist it so the join+agg computes once
    // per half-step (measured: uncached, 3 iterations ran 68 s on a
    // 31-node toy graph, pure recompute + plan overhead; cached ~1 s).
    // Node-scale state; lazy-scoped lifecycle as in [[pageRank]].
    def normalized(raw: DataFrame, outCol: String): DataFrame = {
      val r = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = r.agg(sum(col("__v")).as("__s"))
      r.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"(__v * $HitsScale) div __s").as(outCol))
    }

    // Uniform init at constant mass 1 per node, NOT `HitsScale div n`:
    // every half-step L1-normalizes, so the absolute init scale cancels
    // exactly inside the floor division ((indeg·c·S) div (E·c) =
    // (indeg·S) div E for any common hub constant c) — bit-identical
    // results to a quantized per-node split while eliminating the
    // >HitsScale-node cliff where `S div n` floors to 0 and the first
    // normalization divides by zero. Overflow-safe: first-step raw sums
    // are bounded by the edge count, later steps by HitsScale.
    // Iteration 1's authority raw is exactly the in-degree (every hub
    // mass is the constant 1), so the first half-step is a plain
    // grouped count — no join against an all-ones hub table.
    var auths: DataFrame = null
    var hubs: DataFrame = null
    for (it <- 1 to iterations) {
      val araw =
        if (it == 1) e.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).as("__v"))
        else e.join(hubs, e("src") === hubs("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("hu")).as("__v"))
      auths = normalized(araw, "au")
      val hraw = e.join(auths, e("dst") === auths("node"))
        .groupBy(col("src").as("node")).agg(sum(col("au")).as("__v"))
      hubs = normalized(hraw, "hu")
      if (checkpointEvery > 0 && it % checkpointEvery == 0) {
        // lazy lineage cut: truncates the 4^iterations mutual-recursion
        // plan tree immediately, materializes inside the final action —
        // no per-iteration eager job (was localCheckpoint(true): two
        // scheduled jobs per iteration on node-scale state)
        auths = auths.localCheckpoint(false)
        hubs = hubs.localCheckpoint(false)
      }
    }
    nodes.join(auths, Seq("node"), "left").join(hubs, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("au"), lit(0L)).as("auth_units"),
        coalesce(col("hu"), lit(0L)).as("hub_units"),
        graft.functions.NumFunctions.roundNz(
          coalesce(col("au"), lit(0L)).cast("double") / HitsScale, 6).as("auth_r"),
        graft.functions.NumFunctions.roundNz(
          coalesce(col("hu"), lit(0L)).cast("double") / HitsScale, 6).as("hub_r"))
  }
}
