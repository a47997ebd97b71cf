package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental maintenance of a partitioned aggregate table — the
  * materialized-view pattern for an append-only lake: each micro-batch
  * folds its partial aggregate into ONLY the partitions it touches,
  * instead of recomputing the rollup over the whole history (the
  * reference re-read and re-wrote entire objects per flush,
  * `df_manager.py:81-103`; at 100 TB a full recompute per batch is the
  * difference between seconds and hours).
  *
  * The maintained state is the classic mergeable pair (count, exact
  * decimal sum) per group — re-mergeable in any order, so the fold is
  * associative and replay produces identical bytes. Averages and rates
  * derive at read time.
  *
  * Protocol per batch:
  *   1. partial-aggregate the batch (one shuffle, map-side combined);
  *   2. collect the TOUCHED partition tuples — partition-granular
  *      metadata, bounded by the batch's spread, never row data;
  *   3. read back only those partitions (the filter is a literal
  *      disjunction, so it prunes statically at planning);
  *   4. merge old+new partials and rewrite JUST those partitions via
  *      dynamic partition overwrite.
  * Untouched partitions are never read and never rewritten (the spec
  * asserts their files byte-identical). `localCheckpoint` cuts the
  * merged plan's lineage so the write does not read its own output
  * path.
  */
object IncrementalAgg {

  /** Fold `batch` into the aggregate table at `root`, maintaining
    * per-`keyCols` row counts and the exact decimal sum of `valueCol`,
    * partitioned by `partCols` (a prefix of `keyCols` describing the
    * directory layout). Returns the number of partitions rewritten.
    *
    * `batchId` (streaming callers) makes the fold EXACTLY-ONCE under
    * Structured Streaming's replay model, by [[fold]]'s snapshot
    * protocol. Without `batchId` the fold reads the live table directly
    * (the batch-job path, where re-running means re-adding by intent).
    * `query` (the streaming query's id) scopes the markers to
    * `root/_batches/<query>/<id>`, so a second checkpoint draining into
    * the same table, whose ids restart at 0, still folds. Only the last
    * `spark.sql.streaming.minBatchesToRetain` ids keep their markers.
    */
  def maintain(spark: SparkSession, batch: DataFrame, root: String,
               partCols: Seq[String], keyCols: Seq[String],
               valueCol: String, batchId: Option[Long] = None,
               query: Option[String] = None): Int =
    foldCounts(spark,
      batch.withColumn("__dn", lit(1L))
        .withColumn("__dv", col(valueCol).cast(DecimalType(18, 2))),
      root, partCols, keyCols, batchId, query)

  /** Fold SIGNED deltas into the aggregate — the CDC path: feed it
    * [[graft.operators.Snapshot.toDeltas]] of a snapshot diff and the
    * view moves forward WITHOUT replaying history (added = +1/+value,
    * removed = −1/−value, changed = 0/value-shift). Because the state
    * is a mergeable (count, exact decimal sum), applying the delta is
    * associative with the original folds — maintained ≡ recomputed, the
    * invariant `IncrementalAggSpec` proves. Groups whose count reaches
    * zero are dropped from the rewritten partitions (a fully-retracted
    * key disappears, as a recompute would make it).
    */
  def maintainDeltas(spark: SparkSession, deltas: DataFrame, root: String,
                     partCols: Seq[String], keyCols: Seq[String],
                     dnCol: String, dvCol: String,
                     batchId: Option[Long] = None): Int =
    foldCounts(spark,
      deltas.withColumn("__dn", col(dnCol).cast("long"))
        .withColumn("__dv", col(dvCol).cast(DecimalType(18, 2))),
      root, partCols, keyCols, batchId, None)

  private def foldCounts(spark: SparkSession, batch: DataFrame, root: String,
                         partCols: Seq[String], keyCols: Seq[String],
                         batchId: Option[Long], query: Option[String]): Int = {
    require(partCols.nonEmpty && partCols.forall(keyCols.contains),
      s"partCols $partCols must be a subset of keyCols $keyCols")
    // sum(decimal(18,2)) widens to decimal(28,2); pin the STORED type to
    // decimal(18,2) here so every batch writes the same parquet encoding
    // (mixed widths across partitions break later schema-inferred reads)
    def counts(rows: DataFrame, n: String, v: String): DataFrame =
      rows.groupBy(keyCols.map(col): _*)
        .agg(sum(col(n)).cast("long").as("n"),
          sum(col(v)).cast(DecimalType(18, 2)).as("sum_v"))
    fold(spark, counts(batch, "__dn", "__dv"), root, partCols, batchId, query,
      dropsRows = true)(rows =>
      // fully-retracted keys (count folded to zero) leave the table, the
      // way a recompute over the corrected source would drop them
      counts(rows, "n", "sum_v").filter(col("n") =!= 0L))
  }

  /** The partition-granular fold every maintained view shares:
    * `partial` is the batch's state rows, `merge` combines them with the
    * touched partitions' current rows (unioned by name; the batch alone
    * when the table does not exist yet) into the rows to write back.
    * Returns the number of partitions rewritten.
    *
    * `batchId` runs the snapshot protocol, exactly-once under
    * Structured Streaming's replay model (a restart re-invokes
    * `foreachBatch` with the same id and, for replayable sources, the
    * same rows):
    *
    *   1. the [[BatchCommit.marker]] `root/_batches/[<query>/]<id>/_APPLIED`
    *      present → the fold committed; skip. This alone is not enough
    *      — a crash between the data write and the marker would
    *      otherwise double-fold — so:
    *   2. before touching the live table, the touched partitions'
    *      CURRENT rows are snapshotted to `_batches/[<query>/]<id>/snapshot`,
    *      sealed by `_SNAPSHOT_DONE`;
    *   3. the merge reads the SNAPSHOT, never the live partitions, so
    *      re-running after ANY crash point recomputes the identical
    *      merged rows and the dynamic-partition overwrite is an
    *      idempotent rewrite;
    *   4. `_APPLIED` commits, the snapshot is dropped, and so is the
    *      marker `minBatchesToRetain` ids back: a streaming checkpoint
    *      keeps no more batches than that, so that id can no longer be
    *      replayed.
    *
    * Crash replay matrix: before the snapshot seals → live is
    * untouched, the snapshot rebuilds; after sealing, anywhere through
    * the overwrite → the refold reads the sealed pre-batch state and
    * converges; after `_APPLIED` → skipped.
    * `_`-prefixed paths are invisible to parquet readers. Single-writer
    * (the `foreachBatch` serialization contract) is assumed.
    *
    * `dropsRows` says whether `merge` can filter a touched group out;
    * only then can a touched partition end up empty and need the scan
    * that deletes it.
    */
  private[sinks] def fold(spark: SparkSession, partial: DataFrame, root: String,
                          partCols: Seq[String], batchId: Option[Long],
                          query: Option[String], dropsRows: Boolean)
                         (merge: DataFrame => DataFrame): Int = {
    val fs = BatchCommit.fsOf(spark, root)
    val applied = batchId.map(BatchCommit.marker(root, _, query))
    if (applied.exists(fs.exists)) return 0

    val touched: Array[Row] = partial.select(partCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return 0

    val existing = fs.exists(new org.apache.hadoop.fs.Path(root))
    def liveTouched: DataFrame = {
      // literal disjunction over the touched tuples → static partition pruning
      val pruning = touched.map { r =>
        partCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
      spark.read.parquet(root).filter(pruning)
        .select(partial.columns.toIndexedSeq.map(col): _*) // align column order for the union
    }
    // streaming path: merge against a SEALED pre-batch snapshot of the
    // touched partitions, so any crash-point replay recomputes the
    // identical merged rows
    val current: Option[DataFrame] = applied match {
      case Some(marker) =>
        val bdir = marker.getParent
        val snapDir = new org.apache.hadoop.fs.Path(bdir, "snapshot")
        val snapDone = new org.apache.hadoop.fs.Path(bdir, "_SNAPSHOT_DONE")
        // a snapshot sealed by this call is read back with the schema it
        // was written with, which saves the schema-inference job
        val written = if (fs.exists(snapDone)) None else {
          if (fs.exists(snapDir)) fs.delete(snapDir, true) // partial copy
          val rows = if (existing) liveTouched
            else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], partial.schema)
          rows.write.mode("overwrite").parquet(snapDir.toString)
          fs.create(snapDone, true).close()
          Some(rows.schema)
        }
        Some(written.fold(spark.read)(spark.read.schema).parquet(snapDir.toString))
      case None => if (existing) Some(liveTouched) else None
    }
    val merged = merge(current.fold(partial)(partial.unionByName(_)))

    // cut lineage AND pin the result BEFORE any directory surgery: the
    // merged plan reads `root`, so both the emptied-partition scan below
    // and the final write must run against materialized rows, not a
    // plan that would re-read paths this fold is about to delete; the
    // checkpoint is released once the write has committed
    LocalCheckpoint.pinned(merged) { pinned =>
      // dynamic partition overwrite only replaces partitions PRESENT in
      // the written data — a partition whose every key was retracted
      // produces no output rows, so its stale files would silently
      // survive the write. Delete those directories explicitly (touched
      // minus surviving, partition-granular metadata again).
      if (existing && dropsRows) {
        val survived = pinned.select(partCols.map(col): _*).distinct().collect()
          .map(_.toSeq).toSet
        val emptied = touched.filterNot(r => survived.contains(r.toSeq))
        emptied.foreach { r =>
          val rel = partCols.zipWithIndex.map { case (c, i) =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString(c, String.valueOf(r.get(i)))
          }.mkString("/")
          fs.delete(new org.apache.hadoop.fs.Path(root, rel), true)
        }
      }

      pinned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*)
        .parquet(root)
      applied.foreach { marker =>
        fs.create(marker, true).close()
        val bdir = marker.getParent
        fs.delete(new org.apache.hadoop.fs.Path(bdir, "snapshot"), true)
        fs.delete(new org.apache.hadoop.fs.Path(bdir, "_SNAPSHOT_DONE"), true)
        val expired = batchId.get -
          spark.conf.get("spark.sql.streaming.minBatchesToRetain").toLong
        if (expired >= 0)
          fs.delete(BatchCommit.marker(root, expired, query).getParent, true)
      }
      touched.length
    }
  }

  /** Read the maintained aggregate with derived columns (mean). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val t = spark.read.parquet(root)
    t.withColumn("mean_v",
      (col("sum_v").cast("double") / col("n")))
  }
}
