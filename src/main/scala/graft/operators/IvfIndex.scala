package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{NumFunctions, VectorFunctions}

/** IVF (inverted-file) approximate nearest neighbor (the coarse
  * quantizer of Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the second scale
  * path next to random-hyperplane LSH ([[Similarity.annTopKCosine]]):
  * a coarse k-means quantizer partitions the corpus into `nlist` cells;
  * a probe searches only its `nProbe` nearest cells.
  *
  * Scale design: cell assignment is a pure MAP-SIDE projection — the
  * [[graft.functions.NearestCentroid]] expression carries the nlist × dim
  * centroid matrix (KB-scale metadata) into each task, so neither
  * training nor final assignment ever shuffles the corpus. The only
  * per-Lloyd-iteration shuffle is the centroid-update aggregation, which
  * partial-aggregates map-side down to nlist × dim rows per partition.
  * Search streams the corpus through one broadcast-hash join against the
  * routed probes (probes are small by contract). At 100 TB the
  * assignment table would additionally be written bucketed by `cell` so
  * repeated probe batches touch only their cells' files; [[fitCached]]
  * models that index-reuse lifecycle in-process.
  */
object IvfIndex {

  /** Train the coarse quantizer and assign every vector to its cell.
    * Returns (assignments: [id, vec, cell], centroids: [cell, cvec]).
    * Init = first `nlist` vectors by id (deterministic); `iters` Lloyd
    * rounds of map-side assign + partial-aggregated per-dimension mean.
    * Driver-side materialization per round is nlist × dim doubles
    * (centroid metadata), never corpus rows.
    */
  def fit(embeddings: DataFrame, idCol: String, vecCol: String,
          nlist: Int = 16, iters: Int = 5): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // null vectors carry no assignment information and would NPE the
    // driver-side init collect — drop them before anything else
    // per-row assignment cost scales with nlist, so the partition
    // budget does too
    val corpus = Similarity.spreadIfNarrow(embeddings
        .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
        .filter(col("vec").isNotNull), computeWeight = nlist.toLong)
      .persist(StorageLevel.MEMORY_AND_DISK)

    var cents: Array[Array[Double]] = corpus.orderBy("id").limit(nlist)
      .select(col("vec")).collect()
      .map(_.getSeq[Double](0).toArray)

    var it = 0
    while (it < iters) {
      // assignment is a zero-shuffle projection (argmax cosine against
      // the in-expression centroid matrix); the update aggregation
      // shuffles only the partial (cell, pos) means — nlist × dim rows
      // per input partition after map-side combine
      // the per-dim mean routes through an exact decimal sum: a plain
      // avg(double) folds in partition-completion order, so the fitted
      // centroids (and every assignment derived from them) would vary
      // run to run — decimal addition is order-independent, making the
      // whole Lloyd loop replay-stable and SQL-replayable (q97's exact
      // oracle unrolls these very iterations in DuckDB).
      // DECIMAL(38,18) leaves 20 integer digits per value: components
      // up to |v| < 1e20 cast losslessly at 18 fractional digits —
      // any real embedding scale. (A narrower (27,18) would throw
      // under ANSI mode at |v| >= 1e9.)
      val means = corpus
        .withColumn("cell", VectorFunctions.nearestCentroid(col("vec"), cents))
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
          .cast("double") / count(lit(1))).as("m"))
        .collect()
      val next = cents.map(_.clone()) // cells that lost all members keep their centroid
      // a ragged corpus (rows longer than the init vectors) produces
      // positions past the centroid's dim — those contribute nothing to a
      // fixed-dim centroid, so they are skipped rather than crashing the
      // update; null means (all-null dims in a cell) are skipped too
      means.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
          val cell = r.getInt(0); val pos = r.getInt(1)
          if (cell >= 0 && cell < next.length && pos < next(cell).length)
            next(cell)(pos) = r.getDouble(2)
        }
      }
      cents = next
      it += 1
    }

    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
    val assigned = corpus
      .withColumn("cell", VectorFunctions.nearestCentroid(col("vec"), cents))
    // the persist existed for the Lloyd loop's repeated passes; release it
    // before returning so an uncached fit() leaves NOTHING in the cache
    // manager (the returned plan recomputes one map-side scan from source
    // when consumed — [[fitCached]] persists the assignment instead when
    // index reuse is wanted)
    corpus.unpersist(blocking = false)
    (assigned, centroids)
  }

  /** [[fit]] built once per (session application, `key`, params)
    * ([[graft.Memo]]): repeated query calls (e.g. a bench loop or a
    * probe-batch stream) reuse the trained quantizer and the persisted
    * assignment table instead of re-running Lloyd iterations per call.
    */
  def fitCached(key: String, embeddings: DataFrame, idCol: String, vecCol: String,
                nlist: Int = 16, iters: Int = 5): (DataFrame, DataFrame) = {
    val (assigned, centroids) = graft.Memo.inApp(embeddings.sparkSession,
      "IvfIndex.fit", key, idCol, vecCol, nlist, iters)(
      fit(embeddings, idCol, vecCol, nlist, iters))
    (graft.Memo.persisted(assigned), centroids)
  }

  /** ANN search: route each probe to its `nProbe` nearest cells, rerank
    * exactly inside those cells only. The routed probe set (|probes| ×
    * nProbe rows) is broadcast, so the corpus-sized assignment table
    * streams through the join without shuffling.
    */
  def search(assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
             idCol: String, vecCol: String, k: Int, nProbe: Int = 3): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).cast("array<double>").as("pvec"))
    val routed = p.crossJoin(broadcast(centroids))
      .withColumn("csim", VectorFunctions.cosineSimilarity(col("pvec"), col("cvec")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("csim").desc, col("cell"))))
      .filter(col("crk") <= nProbe)
      .select(col("probe_id"), col("pvec"), col("cell"))

    val candidates = assigned.join(broadcast(routed), "cell")
      .filter(col("id") =!= col("probe_id"))
      .withColumn("sim", VectorFunctions.cosineSimilarity(col("vec"), col("pvec")))
      .filter(col("sim").isNotNull)
    TopK.topKPerKey(candidates, Seq("probe_id"),
        struct(negate(col("sim")), col("id")), Seq("id", "sim"), k)
      .select(col("probe_id"), col("id").as("vec_id"), col("rk"),
        NumFunctions.roundNz(col("sim"), 4).as("sim_r"))
  }

  /** fit + search in one call; pass `cacheKey` to reuse a fitted index
    * across calls (the lifecycle real deployments run).
    */
  def annTopK(embeddings: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nProbe: Int = 3, iters: Int = 3,
              cacheKey: Option[String] = None): DataFrame = {
    val (assigned, centroids) = cacheKey match {
      case Some(ck) => fitCached(ck, embeddings, idCol, vecCol, nlist, iters)
      case None     => fit(embeddings, idCol, vecCol, nlist, iters)
    }
    search(assigned, centroids, probes, idCol, vecCol, k, nProbe)
  }
}
