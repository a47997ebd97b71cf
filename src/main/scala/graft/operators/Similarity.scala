package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{NumFunctions, RandomHyperplaneSignature, VectorFunctions}
import org.apache.spark.sql.graft.ColumnBridge

/** North-star similarity search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and
  * a random-hyperplane-LSH bucketed variant as the scale path, plus a
  * banded all-pairs near-duplicate scan.
  *
  * Scale design: brute force broadcasts only the (small) probe set and
  * scans candidates once — O(|probes|·n) with no shuffle of the corpus;
  * the LSH path replaces the scan with an equi-join on hash buckets.
  */
object Similarity {

  /** Spread a NARROW plan across the cluster — and only a narrow one,
    * and only as wide as the DATA warrants. A toy single-file corpus
    * arrives as one scan partition, where an O(n·|probes|) scoring pass
    * would run single-threaded; a real corpus scan already has ≥
    * parallelism partitions and must NOT pay a full-corpus round-robin
    * shuffle for a map-only pass.
    *
    * The target is sized from the plan's byte statistics, not blindly
    * to `defaultParallelism`: fanning a few hundred KB out to 32
    * partitions makes every downstream stage pay 32 near-empty tasks —
    * at toy scale the scheduling overhead dwarfs the compute (measured
    * ~0.2 s per 32-task stage at local[32] vs ~5 ms for 1 task).
    * `computeWeight` scales the budget for callers whose per-row cost
    * is a multiple of the row's bytes (e.g. scoring against `nlist`
    * centroids): weight n means n× the partitions for the same bytes.
    * The probe costs one physical planning of `df`, no job.
    */
  private[graft] def spreadIfNarrow(df: DataFrame,
                                        computeWeight: Long = 8): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val bytes = BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong)
    // budget: one partition per 4 MB of compute-weighted input,
    // clamped to [1, parallelism] — a 100 TB scan saturates the clamp
    // (falls back to full parallelism), a 500 KB toy corpus stays at 1
    val target = (bytes * computeWeight / (4L << 20)).toLong
      .max(1L).min(parallelism.toLong).toInt
    val parts = df.rdd.getNumPartitions
    if (parts < target) df.repartition(target) else df
  }

  /** The probe side of both search paths is the broadcast/replicated
    * side — "probes must be small" is a hard contract, and breaking it
    * surfaces as an executor OOM mid-broadcast at runtime. Enforce it
    * up front with a clear error instead: the check counts a
    * LIMIT-bounded prefix, so it costs a bounded scan no matter how
    * large the offending probe set is.
    */
  private def requireSmallProbes(probes: DataFrame, maxProbes: Int,
                                 op: String): Long = {
    require(maxProbes > 0, s"maxProbes must be positive, got $maxProbes")
    // one extra bounded action per call — the price of failing fast; a
    // caller with an expensive probe pipeline should cache it first.
    // +1 saturates rather than wrapping for maxProbes = Int.MaxValue
    val cap = if (maxProbes == Int.MaxValue) Int.MaxValue else maxProbes + 1
    val seen = probes.limit(cap).count()
    require(seen <= maxProbes,
      s"$op: probe set exceeds maxProbes = $maxProbes rows; probes are the " +
        "broadcast side — swap sides so the smaller set probes, or raise " +
        "maxProbes deliberately if the driver/executors have the memory")
    // the count the guard already paid for feeds the corpus-spread
    // budget: an all-pairs scorer does `probes`× the work per corpus
    // byte, so the spread weight must carry that multiplier (round-19:
    // a 2 k-row corpus scored against 400 probes previously planned
    // ONE scan task and ran the whole cross product on one core)
    seen
  }

  /** Pair cosine from PRE-ACCUMULATED squared norms: the fused
    * [[graft.functions.CosineSimilarity]] kernel's exact chain
    * `dot / (sqrt(na) * sqrt(nb))` with `na`/`nb` computed ONCE per row
    * (same ascending-index accumulation → the same doubles) instead of
    * re-accumulated per pair — 3× fewer flops on every cross-join pair
    * with bit-identical output. The kernel's null cases (length
    * mismatch, zero-norm side) are excluded UP FRONT by
    * [[pairDefined]], an O(1) predicate — filtering on `sim IS NOT
    * NULL` instead would be pushed into the join condition and
    * re-evaluate the O(dim) dot per pair (round 19, seen in the q144
    * plan: dotproduct appeared in both the condition and the
    * projection).
    */
  private def preNormSim(dotCol: Column, na: Column, nb: Column): Column =
    dotCol / (sqrt(na) * sqrt(nb))

  /** True exactly when the fused kernel's cosine would be non-null:
    * equal lengths and two nonzero norms. O(1) per pair.
    */
  private def pairDefined(a: Column, b: Column, na: Column, nb: Column): Column =
    size(a) === size(b) && na =!= 0.0 && nb =!= 0.0

  /** Squared L2 norm accumulated in ascending index order — the same
    * double the fused kernel's `na`/`nb` accumulators produce.
    */
  private def sqNorm(vec: Column): Column = VectorFunctions.dot(vec, vec)

  /** Exact top-k cosine neighbors for each probe row. `probes` must be
    * small (it is broadcast — enforced against `maxProbes`); the corpus
    * side never shuffles for the scoring — per-probe ranking is the
    * bounded-heap aggregate over sim-scored candidates.
    */
  def topKCosine(corpus: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, k: Int, maxProbes: Int = 100000): DataFrame = {
    val nProbes = requireSmallProbes(probes, maxProbes, "topKCosine")
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"),
      sqNorm(col(vecCol)).as("__pn"))
    val c = spreadIfNarrow(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
        sqNorm(col(vecCol)).as("__cn")),
      computeWeight = 8L * math.max(1L, nProbes))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id") &&
        pairDefined(col("cvec"), col("pvec"), col("__cn"), col("__pn")))
      .withColumn("sim", preNormSim(
        VectorFunctions.dot(col("cvec"), col("pvec")), col("__cn"), col("__pn")))
    // bounded-heap ranking: shuffles k rows per probe per partition
    // instead of window-sorting every scored row (see [[TopK]])
    TopK.topKPerKey(scored, Seq("probe_id"),
        struct(negate(col("sim")), col("vec_id")), Seq("vec_id", "sim"), k)
      .select(col("probe_id"), col("vec_id"), col("rk"), NumFunctions.roundNz(col("sim"), 4).as("sim_r"))
  }

  /** Reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    * combine any number of per-query rankings — lexical BM25, dense
    * cosine, anything emitting `(qid, id, rk)` — into one hybrid list
    * by `score(d) = Σ_lists 1/(k0 + rank_list(d))`. THE standard
    * hybrid-search combiner: rank-based, so no score calibration
    * across heterogeneous retrievers is needed, and k0 = 60 (the
    * paper's constant) damps the head so one list cannot dictate the
    * fusion. Returns `(qidCol, idCol, rrf, n_lists, rk)`.
    *
    * Determinism: each 1/(k0+rank) term is one IEEE division of exact
    * integers routed through DECIMAL(18,9) before the sum (the q67
    * recipe); the final cut is (score desc, id asc) — a total order.
    *
    * Scale shape: one union of the (already small, top-k-per-query)
    * ranking tables, one partial-aggregating shuffle per (query, doc),
    * and the bounded [[TopK.topKPerKey]] heap cut. No window, no
    * collect.
    */
  def rrfFuse(rankings: Seq[DataFrame], qidCol: String, idCol: String,
              rkCol: String, k: Int = 10, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k > 0 && k0 >= 0, s"need k > 0, k0 >= 0, got k=$k k0=$k0")
    val u = rankings
      .map(_.select(col(qidCol), col(idCol), col(rkCol).as("__rk")))
      .reduce(_ unionByName _)
    val scored = u
      .withColumn("__c", (lit(1.0) / (lit(k0.toLong) + col("__rk")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("__c")).as("__s"), count(lit(1)).as("n_lists"))
      .select(col(qidCol), col(idCol),
        NumFunctions.roundNz(col("__s").cast("double"), 6).as("rrf"),
        col("n_lists"))
    TopK.topKPerKey(scored.withColumn("__neg", -col("rrf")),
      Seq(qidCol), struct(col("__neg"), col(idCol)),
      Seq(idCol, "rrf", "n_lists"), k)
  }

  /** kNN-distance outlier scoring (Ramaswamy, Rastogi & Shim,
    * "Efficient algorithms for mining outliers from large data sets",
    * SIGMOD 2000 — the classic Dk definition): a point's outlierness
    * is its distance to its k-th nearest neighbor, here
    * `1 − cosine(kth NN)` over an embedding column. The embedding-
    * space curation gate: corrupt encodes, mislabeled modalities, and
    * off-distribution documents sit far from ALL their neighbors,
    * where a density metric around a single NN misses paired
    * corruption.
    *
    * Scale contract = [[topKCosine]]'s: the SCORED set (`probes`)
    * broadcasts — so it must be an explicitly bounded slice (a
    * sample, a suspect batch, today's ingest), never the raw corpus;
    * the registry-wide broadcast audit rejects an unbounded probe
    * side by construction. Neighbors always come from the FULL
    * `corpus`, which scans once map-side with the bounded-heap
    * ranking. Scoring every point at lake scale is the ANN tier's job
    * (q101's IVF-PQ shortlist, exact re-rank) or a loop over probe
    * batches. Points with fewer than `k` neighbors (corpus smaller
    * than k + 1) emit no row.
    *
    * Returns `(vec_id, kth_neighbor, kth_sim_r, outlier_score_r)` —
    * larger score = more isolated; both values 4-dp rounded.
    */
  def knnOutlierScores(corpus: DataFrame, probes: DataFrame,
                       idCol: String, vecCol: String,
                       k: Int, maxProbes: Int = 100000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    topKCosine(corpus, probes, idCol, vecCol, k, maxProbes)
      .filter(col("rk") === k)
      .select(col("probe_id").as("vec_id"),
        col("vec_id").as("kth_neighbor"),
        col("sim_r").as("kth_sim_r"),
        NumFunctions.roundNz(lit(1.0) - col("sim_r"), 4)
          .as("outlier_score_r"))
  }

  /** Rank-biased overlap between two per-key rankings (Webber, Moffat
    * & Zobel, "A similarity measure for indefinite rankings", TOIS
    * 2010), truncated at `depth` with persistence `p = pNum/pDen` —
    * THE standard top-weighted agreement measure between two retrieval
    * runs (e.g. the lexical and dense legs of a hybrid system before
    * fusion): `RBO@d = (1−p) Σ_{i≤d} p^{i−1} · |A_i ∩ B_i| / i`,
    * where `A_i`/`B_i` are the top-i prefixes. Kendall/Spearman treat
    * all depths equally; RBO weights the head, which is what matters
    * when only the top-k is consumed.
    *
    * EXACT integer evaluation: an item ranked `ra` in A and `rb` in B
    * joins every prefix intersection from depth `m = max(ra, rb)`
    * on, so `RBO@d · C = Σ_matched W(m)` with
    * `W(m) = Σ_{i=m..d} (lcm(1..d)/i) · (pDen−pNum) · pNum^{i−1} ·
    * pDen^{d−i}` and `C = lcm(1..d) · pDen^d` — a `depth`-entry
    * integer lookup, no floating point until the final normalized
    * quotient (both engines divide the same two integers and round
    * to 6). Returns one row per key of `a`: `(key, n_common,
    * rbo_scaled, rbo)` — `rbo_scaled` is the exact integer, `rbo` the
    * normalized [0, 1] score (1 ≡ identical top-`depth` prefixes).
    *
    * Scale shape: one equi-join of the two (already ≤ depth-row)
    * rankings on (key, item), a `greatest` projection through the
    * literal weight array, one partial-aggregating collapse per key —
    * nothing rank-scale shuffles twice, no window.
    */
  def rbo(a: DataFrame, b: DataFrame, keyCol: String, itemCol: String,
          rankCol: String, depth: Int = 10, pNum: Int = 9,
          pDen: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 12, s"depth must be in [1, 12], got $depth")
    require(pNum >= 1 && pNum < pDen, s"need 1 <= pNum < pDen, got $pNum/$pDen")
    // weight tables in BigInt — pDen^depth overflows Long silently for
    // moderate pDen (pDen = 100 at depth 12 needs 1e22); build exact,
    // then require the largest table entry (norm bounds them all) fits
    // the Long the engine/oracle columns carry
    val lcm = (1 to depth).foldLeft(BigInt(1))((acc, i) =>
      acc * i / acc.gcd(BigInt(i)))
    val wB = (1 to depth).map(i => (lcm / i) * (pDen - pNum) *
      BigInt(pNum).pow(i - 1) * BigInt(pDen).pow(depth - i))
    val cumB = (1 to depth).map(m => wB.drop(m - 1).sum)
    val normB = (1 to depth).map(i => lcm * (pDen - pNum) *
      BigInt(pNum).pow(i - 1) * BigInt(pDen).pow(depth - i)).sum
    require(normB.isValidLong,
      s"rbo exact-integer tables overflow Long for p=$pNum/$pDen at " +
        s"depth=$depth (norm=$normB); reduce pDen (e.g. express p with " +
        s"a smaller denominator) or depth")
    val cum = cumB.map(_.toLong)
    val norm = normB.toLong

    def side(df: DataFrame, rk: String) =
      df.filter(col(rankCol) <= depth)
        .select(col(keyCol).as("__k"), col(itemCol).as("__it"),
          col(rankCol).cast("int").as(rk))
    val scored = side(a, "__ra").join(side(b, "__rb"), Seq("__k", "__it"))
      .select(col("__k"),
        element_at(typedLit(cum), greatest(col("__ra"), col("__rb"))).as("__w"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("rbo_scaled"))
    a.select(col(keyCol).as("__k")).distinct()
      .join(scored, Seq("__k"), "left")
      .select(col("__k").as(keyCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("rbo_scaled"), lit(0L)).as("rbo_scaled"),
        NumFunctions.roundNz(coalesce(col("rbo_scaled"), lit(0L))
          .cast("double") / lit(norm.toDouble), 6).as("rbo"))
  }

  /** Hard-negative mining for contrastive training (the retrieval-
    * training data op: for each anchor, the most-similar examples with
    * a DIFFERENT label are the negatives that actually teach the
    * margin — random negatives are too easy; see e.g. Karpukhin et al.
    * 2020, DPR, §3.2 on in-batch vs hard negatives). Returns the top-k
    * cross-label neighbors per probe: `(probe_id, vec_id, neg_label,
    * rk, sim_r)`.
    *
    * Same scale contract as [[topKCosine]]: probes broadcast (guarded
    * by `maxProbes`), the corpus never shuffles for scoring, and the
    * per-probe ranking is the bounded-heap aggregate — the label
    * disequality rides the scoring filter map-side, so mining n probes
    * costs exactly one corpus pass.
    */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    maxProbes: Int = 100000): DataFrame = {
    val nProbes = requireSmallProbes(probes, maxProbes, "hardNegatives")
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"),
      col(labelCol).as("plabel"), sqNorm(col(vecCol)).as("__pn"))
    val c = spreadIfNarrow(corpus.select(col(idCol).as("vec_id"),
      col(vecCol).as("cvec"), col(labelCol).as("neg_label"),
      sqNorm(col(vecCol)).as("__cn")),
      computeWeight = 8L * math.max(1L, nProbes))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id") &&
        col("neg_label") =!= col("plabel") &&
        pairDefined(col("cvec"), col("pvec"), col("__cn"), col("__pn")))
      .withColumn("sim", preNormSim(
        VectorFunctions.dot(col("cvec"), col("pvec")), col("__cn"), col("__pn")))
    TopK.topKPerKey(scored, Seq("probe_id"),
        struct(negate(col("sim")), col("vec_id")), Seq("vec_id", "neg_label", "sim"), k)
      .select(col("probe_id"), col("vec_id"), col("neg_label"), col("rk"),
        NumFunctions.roundNz(col("sim"), 4).as("sim_r"))
  }

  /** Retrieval-quality metrics: for each probe, rank the corpus by
    * cosine, call a neighbor RELEVANT when it carries the probe's
    * label, and report per label `recall@k` (probes with ≥1 relevant
    * neighbor in the top k) and `MRR@k` (mean reciprocal rank of the
    * first relevant neighbor, 0 when none) — the standard embedding-
    * quality eval a retrieval pipeline runs after every re-embed
    * (Voorhees 1999 for MRR).
    *
    * Determinism: reciprocal ranks route through DECIMAL(18,9) before
    * the per-label mean (exact, order-independent — the
    * [[graft.operators.Corpus.unigramSurprisal]] rule). Scale contract
    * = [[topKCosine]]: probes broadcast, one corpus pass, bounded-heap
    * ranking; the metric aggregation touches probes×k rows.
    */
  def retrievalMetrics(corpus: DataFrame, probes: DataFrame, idCol: String,
                       vecCol: String, labelCol: String, k: Int,
                       maxProbes: Int = 100000): DataFrame = {
    val nProbes = requireSmallProbes(probes, maxProbes, "retrievalMetrics")
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"),
      col(labelCol).as("plabel"), sqNorm(col(vecCol)).as("__pn"))
    val c = spreadIfNarrow(corpus.select(col(idCol).as("vec_id"),
      col(vecCol).as("cvec"), col(labelCol).as("clabel"),
      sqNorm(col(vecCol)).as("__cn")),
      computeWeight = 8L * math.max(1L, nProbes))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id") &&
        pairDefined(col("cvec"), col("pvec"), col("__cn"), col("__pn")))
      .withColumn("sim", preNormSim(
        VectorFunctions.dot(col("cvec"), col("pvec")), col("__cn"), col("__pn")))
    val top = TopK.topKPerKey(scored, Seq("probe_id"),
      struct(negate(col("sim")), col("vec_id")),
      Seq("vec_id", "clabel", "plabel"), k)
    val perProbe = top
      .groupBy(col("probe_id"), col("plabel"))
      .agg(min(when(col("clabel") === col("plabel"), col("rk"))).as("__first"))
      .select(col("plabel").as("label"),
        when(col("__first").isNotNull, lit(1L)).otherwise(lit(0L)).as("__hit"),
        coalesce((lit(1.0) / col("__first"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)),
          lit(java.math.BigDecimal.ZERO)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).as("__rr"))
    perProbe.groupBy(col("label"))
      .agg(count(lit(1)).as("n_probes"),
        NumFunctions.roundNz(
          sum(col("__hit")).cast("double") / count(lit(1)), 6).as("recall_at_k"),
        NumFunctions.roundNz(
          sum(col("__rr")).cast("double") / count(lit(1)), 6).as("mrr"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * ACL 2019 — the LASER/CCMatrix miner): a candidate pair (x, y)
    * scores `cos(x,y) / ((avgK(x) + avgK(y)) / 2)` where avgK is the
    * mean cosine of the row's k nearest neighbors ON THE OTHER SIDE —
    * raw cosine over-pairs hub vectors, the margin normalizes each
    * row's neighborhood density away. Returns the best (margin-ranked)
    * `b` per `a` among a's k-NN candidates: `(a_id, b_id, sim_r,
    * margin)`.
    *
    * Determinism: margins are built from the ROUNDED sim_r (4 places,
    * [[topKCosine]]'s output contract) with neighborhood means routed
    * through DECIMAL(18,4) — exact sums, then fixed-order double
    * arithmetic both engines share. Scale: two [[topKCosine]] passes
    * (each side broadcast-probes the other under the `maxProbes`
    * guard — the 100 TB path swaps in the IVF/LSH candidate stage),
    * two neighborhood aggregates, one pair-scale join; the final cut
    * is the bounded heap.
    */
  def marginMining(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
                   k: Int, maxProbes: Int = 100000): DataFrame = {
    // cosine is symmetric: score the candidate pairs ONCE and feed both
    // directions' top-k aggregations from the same table. `a` is the
    // broadcast side (guarded); at 100 TB the cross join below is what
    // an ANN candidate stage replaces — the pair table then holds
    // candidates only, and the persist is candidate-scale.
    val nProbes = requireSmallProbes(a, maxProbes, "marginMining")
    val pa = a.select(col(idCol).as("a_id"), col(vecCol).as("pvec"),
      sqNorm(col(vecCol)).as("__pn"))
    val cb = spreadIfNarrow(
      b.select(col(idCol).as("b_id"), col(vecCol).as("cvec"),
        sqNorm(col(vecCol)).as("__cn")),
      computeWeight = 8L * math.max(1L, nProbes))
    // NOT persisted: the scored pairs are a MAP-SIDE product of a scan
    // and a broadcast — recomputing them for the second aggregation
    // costs two cheap codegen'd passes, where materializing pair-scale
    // rows costs memory/disk proportional to |A|·|B| (measured slower
    // already at 2.5 k × 2.5 k). An ANN-candidate variant whose pair
    // table is expensive to produce SHOULD persist its candidates.
    val pairs = cb.crossJoin(broadcast(pa))
      // the id filter only fires if the sides share ids
      .filter(col("a_id") =!= col("b_id") &&
        pairDefined(col("cvec"), col("pvec"), col("__cn"), col("__pn")))
      .withColumn("sim", preNormSim(
        VectorFunctions.dot(col("cvec"), col("pvec")), col("__cn"), col("__pn")))
      .select(col("a_id"), col("b_id"), col("sim"))
    marginFromPairs(pairs, k)
  }

  /** [[marginMining]] with LSH candidate generation — the 100 TB shape
    * made concrete: NEITHER side broadcasts (the candidate join keys on
    * the random-hyperplane bucket, so both sides shuffle on bucket
    * hashes), only bucket-sharing pairs are scored, and the candidate
    * table persists because producing it is the expensive stage.
    * Neighborhood means are computed WITHIN the candidate graph (the
    * standard mining practice — the margin needs the k-NN estimate the
    * index can see); recall vs the exact miner is spec-pinned, not
    * assumed. The candidate cache is lazy-scoped to the result (both
    * top-k directions read it) and reclaimed by the ContextCleaner when
    * the result is dropped — the [[Corpus.decontaminateBloom]]
    * lifecycle contract.
    */
  def marginMiningAnn(a: DataFrame, b: DataFrame, idCol: String,
                      vecCol: String, k: Int, bits: Int = 8,
                      tables: Int = 8, probes: Int = 2,
                      seed: Long = 42L,
                      portablePlanes: Boolean = false): DataFrame = {
    // `a` is the probe side: it additionally visits each table's
    // `probes` least-confident bit-flip buckets (multiprobe — recall
    // close to 2-4x the table count at ~(1+probes)x one side's rows,
    // measured in BASELINE.md `ann_mine_recall`); `b` hashes once per
    // table, so the join stays single-signature on the build side.
    def withBuckets(df: DataFrame, vec: String, nProbes: Int): DataFrame =
      df.withColumn("bucket",
        explode(concat((0 until tables).map { t =>
          transform(
            ColumnBridge.column(graft.functions.RandomHyperplaneMultiprobe(
              ColumnBridge.expression(col(vec)), bits, seed + t, nProbes,
              portablePlanes)),
            s => struct(lit(t).as("t"), s.as("sig")))
        }: _*)))
    // squared norms accumulate ONCE per input row, before the table
    // fan-out and the bucket exchange — the pair scoring downstream is
    // then a dot + the kernel's exact division (see [[preNormSim]])
    val ab = withBuckets(spreadIfNarrow(
      a.select(col(idCol).as("a_id"), col(vecCol).as("pvec"),
        sqNorm(col(vecCol)).as("__pn"))), "pvec", probes)
    val bb = withBuckets(spreadIfNarrow(
      b.select(col(idCol).as("b_id"), col(vecCol).as("cvec"),
        sqNorm(col(vecCol)).as("__cn"))), "cvec", 0)
    val pairs = ab.join(bb, "bucket")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("pvec"), col("cvec"),
        col("__pn"), col("__cn"))
      .dropDuplicates("a_id", "b_id")
      .filter(pairDefined(col("cvec"), col("pvec"), col("__cn"), col("__pn")))
      .withColumn("sim", preNormSim(
        VectorFunctions.dot(col("cvec"), col("pvec")), col("__cn"), col("__pn")))
      .select(col("a_id"), col("b_id"), col("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    marginFromPairs(pairs, k)
  }

  /** Shared margin stage: per-side top-k neighborhoods from one scored
    * pair table, decimal-exact neighborhood means, margin-ranked best
    * partner per `a_id`.
    */
  private def marginFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 4)
    val fwd = TopK.topKPerKey(pairs, Seq("a_id"),
        struct(negate(col("sim")), col("b_id")), Seq("b_id", "sim"), k)
      .select(col("a_id"), col("b_id"), NumFunctions.roundNz(col("sim"), 4).as("sim_r"))
    val bwd = TopK.topKPerKey(pairs, Seq("b_id"),
        struct(negate(col("sim")), col("a_id")), Seq("a_id", "sim"), k)
      .select(col("b_id"), NumFunctions.roundNz(col("sim"), 4).as("__s2"))
    // a's neighborhood mean rides a WINDOW over fwd's own ≤k rows per
    // a_id (already hash-partitioned by a_id off the heap aggregate —
    // no new exchange) instead of a groupBy + self-join, which
    // recomputed the whole unpersisted pair table a third time
    // (round-19: 3 pair-table passes → 2). Same decimal-exact sum /
    // count chain, same doubles.
    val wA = org.apache.spark.sql.expressions.Window.partitionBy(col("a_id"))
    val avgB = bwd.groupBy(col("b_id"))
      .agg((sum(col("__s2").cast(dec)).cast("double") / count(lit(1))).as("__avg_b"))
    val scored = fwd
      .withColumn("__avg_a",
        sum(col("sim_r").cast(dec)).over(wA).cast("double") / count(lit(1)).over(wA))
      .join(avgB, "b_id")
      .withColumn("margin", NumFunctions.roundNz(
        col("sim_r") / ((col("__avg_a") + col("__avg_b")) / 2.0), 6))
    TopK.topKPerKey(scored, Seq("a_id"),
        struct(negate(col("margin")), col("b_id")), Seq("b_id", "sim_r", "margin"), 1)
      .select(col("a_id"), col("b_id"), col("sim_r"), col("margin"))
  }

  /** Approximate top-k via random-hyperplane LSH: `tables` independent
    * signatures of `bits` hyperplane signs each; candidates = corpus rows
    * sharing any bucket with the probe; exact cosine re-ranking on the
    * candidate set only. Recall grows with `tables`; cost is
    * O(candidates) instead of O(n) per probe.
    */
  def annTopKCosine(corpus: DataFrame, probes: DataFrame, idCol: String,
                    vecCol: String, k: Int, bits: Int = 12, tables: Int = 8,
                    seed: Long = 42L, maxProbes: Int = 100000,
                    portablePlanes: Boolean = false): DataFrame = {
    requireSmallProbes(probes, maxProbes, "annTopKCosine")
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), col(vec),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("t"),
            ColumnBridge.column(RandomHyperplaneSignature(
              ColumnBridge.expression(col(vec)), bits, seed + t,
              portablePlanes)).as("sig"))
        }: _*)).as("bucket"))

    val cb = withBuckets(spreadIfNarrow(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))), "vec_id", "cvec")
    val pb = withBuckets(probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec")), "probe_id", "pvec")

    val candidates = cb.join(pb, "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("pvec"), col("cvec"))
      .dropDuplicates("probe_id", "vec_id")
      .withColumn("sim", VectorFunctions.cosineSimilarity(col("cvec"), col("pvec")))
      .filter(col("sim").isNotNull)
    TopK.topKPerKey(candidates, Seq("probe_id"),
        struct(negate(col("sim")), col("vec_id")), Seq("vec_id", "sim"), k)
      .select(col("probe_id"), col("vec_id"), col("rk"), NumFunctions.roundNz(col("sim"), 4).as("sim_r"))
  }

  /** Banded cosine near-duplicate scan: compare each vector only to ids
    * within `window` (the quadratic-to-linear trick of
    * [[Dedup.ngramJaccardBanded]]). Buckets are half the window wide —
    * enough keys to spread the pairwise scoring across the cluster —
    * and each left row probes every bucket its window can reach.
    */
  def cosineNearDupBanded(embeddings: DataFrame, idCol: String, vecCol: String,
                          window: Int = 100, minSim: Double = 0.3): DataFrame = {
    val w2 = math.max(1, window / 2)
    val maxDelta = (w2 - 1 + window) / w2
    // spread the streamed (probe) side only when it arrives narrow: a
    // single-file corpus would otherwise score every pair in one task
    val a = spreadIfNarrow(embeddings.select(col(idCol).as("a_id"), col(vecCol).as("va"),
        (col(idCol) / w2).cast("long").as("abkt")))
    val aExp = a.withColumn("bkt",
        explode(array((0 to maxDelta).map(d => col("abkt") + d): _*))).drop("abkt")
    val b = embeddings.select(col(idCol).as("b_id"), col(vecCol).as("vb"),
      (col(idCol) / w2).cast("long").as("bkt"))
    aExp.join(b, "bkt")
      .filter(col("b_id") > col("a_id") && col("b_id") <= col("a_id") + window)
      .withColumn("sim", VectorFunctions.cosineSimilarity(col("va"), col("vb")))
      .filter(col("sim") >= minSim)
      .select(col("a_id"), col("b_id"), NumFunctions.roundNz(col("sim"), 4).as("sim_r"))
  }

  /** Long-form per-label centroids: mean embedding per class as
    * (label, pos, c, n) rows — the supervised embedding analytic that
    * SemDeDup-style cluster pruning and class-prototype classifiers
    * build on (Abbas et al. 2023 dedups within k-means cells by
    * distance to the centroid). Long form keeps the aggregation fully
    * declarative: `posexplode` multiplies rows ×d map-side, but the
    * partial aggregate collapses to (labels × d) rows per partition
    * BEFORE the one shuffle, so shuffle volume is centroid-sized, not
    * corpus-sized — no array-summing UDAF needed. Dimension sums route
    * through DECIMAL(18,9) (each float widened via double first) so the
    * mean is exact and partition-order-independent; the mean rounds to
    * 6 places.
    */
  def labelCentroids(embeddings: DataFrame, labelCol: String,
                     vecCol: String): DataFrame =
    embeddings
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(
        NumFunctions.roundNz(sum(col("x").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double") / count(lit(1)), 6).as("c"),
        count(lit(1)).as("n"))

  /** Simplified silhouette per cluster (Hruschka et al. 2004's
    * centroid variant of Rousseeuw 1987): for each vector, `a` = its
    * cosine DISTANCE to its own cluster's centroid and `b` = the
    * minimum distance to any OTHER centroid; `s = (b − a)/max(a, b)`
    * averaged per cluster — the clustering-quality gate read before
    * trusting a semantic-dedup or selection pass built on those
    * clusters (s near 1: tight and separated; near 0: boundary mush;
    * negative: members closer to a foreign prototype than their own).
    * The centroid variant is the one that SCALES: the classic
    * silhouette needs all pairwise distances (quadratic); this needs
    * k distances per vector.
    *
    * Determinism: centroids come from [[labelCentroids]] (exact
    * decimal sums, rounded once); per-vector cosines round at 4 (the
    * q14/q90 cross-engine parity bound) so `a`, `b`, and `s` are a
    * fixed chain of exact IEEE ops; per-cluster means fold through
    * DECIMAL(18,9). Both distances zero (vector equals two centroids)
    * reports s = 0. Singleton clusters keep their definitional s
    * (their member IS the centroid → a = 0), documented rather than
    * special-cased.
    *
    * Scale shape: centroids COLLECT to the driver (metadata by
    * contract — `k ≤ maxClusters` enforced; the established bounded
    * collect of the centroid/vocab tier) and ride into a single
    * row-local projection as literal vectors — the per-vector scoring
    * pass has ZERO exchanges beyond the final per-cluster collapse;
    * nothing joins, nothing windows.
    *
    * Returns `(label, n, mean_sil_r)`.
    */
  def silhouetteSimplified(embeddings: DataFrame, labelCol: String,
                           vecCol: String,
                           maxClusters: Int = 256): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // null labels/vectors carry no cluster position: excluded from both
    // the centroid tier and the scored rows (a kept row would land a
    // null silhouette that count() silently dilutes the mean with)
    val clean = embeddings
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
    val cent = labelCentroids(clean, labelCol, vecCol)
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("__pc"))
      .select(col("label"), col("__pc").getField("c").as("__cvec"))
      .collect()
    require(cent.length >= 2,
      s"silhouette needs at least 2 clusters, got ${cent.length}")
    require(cent.length <= maxClusters,
      s"${cent.length} clusters exceed maxClusters = $maxClusters")
    val cents: Seq[(Any, Array[Double])] =
      cent.toSeq.map(r => (r.get(0), r.getSeq[Double](1).toArray))
    val base = clean.select(col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("__v"))
    // ROUND-19 KERNEL: all `k` cosines per row in ONE expression pass
    // ([[graft.functions.CosineOwnMax]] — row norm accumulated once,
    // centroid matrix a plan constant) instead of a fold of k
    // independent CosineSimilarity calls inside nested CASE WHENs,
    // whose generated code failed to compile past small k and fell
    // back to interpreted evaluation (~1 ms/row measured at k = 10).
    // Value equivalence: each cosine is the kernel's bit-identical
    // `dot / (sqrt(na)·sqrt(nb))` chain with identical null cases, and
    // `min over others of (1 − round4(cos))` equals
    // `1 − round4(max over others of cos)` because x ↦ 1 − round4(x)
    // is monotone non-increasing (round4 is monotone, IEEE subtraction
    // from a constant is monotone) — SimilaritySpec pins the outputs.
    // The kernel's null-ownIdx path (both elements null, where the old
    // fold still computed `b`) must stay unreachable for a row that can
    // score: every scored label appears in `cents`. It holds because
    // `cent` and `base` both come from `clean`, and any row with a
    // non-empty vector puts its label into the centroid tier through
    // `posexplode`. A label missing from `cents` has only empty
    // vectors, which score [null, null] with or without an own index.
    // Derive the centroids from any frame other than `clean` and this
    // breaks silently.
    val ownIdx = cents.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, ((l, _), i)) => when(col("label") === lit(l), lit(i)).otherwise(acc)
    }
    val ab = VectorFunctions.cosineOwnMax(col("__v"), ownIdx,
      cents.map(_._2).toArray)
    val a = lit(1.0) - NumFunctions.roundNz(element_at(col("__ab"), 1), 4)
    val b = lit(1.0) - NumFunctions.roundNz(element_at(col("__ab"), 2), 4)
    val s = when(greatest(a, b) === 0, lit(0.0))
      .otherwise(NumFunctions.roundNz((b - a) / greatest(a, b), 6))
    // count NON-NULL silhouettes only (count(col) skips nulls), so a
    // row whose cosine degenerates to null cannot deflate the mean
    base
      .withColumn("__ab", ab)
      .withColumn("__s", s.cast(DecimalType(18, 9)))
      .groupBy(col("label"))
      .agg(count(col("__s")).as("n"), NumFunctions.roundNz(
        sum(col("__s")).cast("double") / count(col("__s")), 6).as("mean_sil_r"))
  }

  /** Intra-class cohesion: each vector's cosine to its OWN label's
    * centroid (from [[labelCentroids]]), averaged per label — the
    * SemDeDup scoring pass (prune members too close to the prototype)
    * and the first diagnostic for embedding quality (a label whose
    * members don't face their own centroid is mislabeled or multimodal).
    *
    * Scale design: the long-form centroids reassemble into one
    * `array<double>` per label (`sort_array(collect_list(struct))` —
    * label-count × d rows, metadata scale) and BROADCAST back onto the
    * corpus, so the scoring pass is map-side; per-vector cosines round
    * to 4 places (the q14 cross-engine parity bound) and average through
    * an exact decimal sum. One corpus shuffle total (the final
    * per-label aggregate).
    */
  def centroidSpread(embeddings: DataFrame, labelCol: String,
                     vecCol: String): DataFrame = {
    val cent = labelCentroids(embeddings, labelCol, vecCol)
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("__pc"))
      .select(col("label"), col("__pc").getField("c").as("__cvec"))
    embeddings
      .select(col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(cent), "label")
      .withColumn("__sim",
        NumFunctions.roundNz(VectorFunctions.cosineSimilarity(col("__v"), col("__cvec")), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("label"))
      .agg(NumFunctions.roundNz(sum(col("__sim")).cast("double") / count(lit(1)), 6).as("avg_sim"),
        count(lit(1)).as("n"))
  }
}
