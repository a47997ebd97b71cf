package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
               query: Option[String] = None): Int = {
    require(partCols.nonEmpty && partCols.forall(keyCols.contains),
      s"partCols $partCols must be a subset of keyCols $keyCols")
    // sum(decimal(18,2)) widens to decimal(28,2); pin the STORED type to
    // decimal(18,2) here so every batch writes the same parquet encoding
    // (mixed widths across partitions break later schema-inferred reads)
    def counts(rows: DataFrame, n: Column, v: Column): DataFrame =
      rows.groupBy(keyCols.map(col): _*)
        .agg(sum(n).cast("long").as("n"),
          sum(v).cast(DecimalType(18, 2)).as("sum_v"))
    fold(spark, counts(batch, lit(1L), col(valueCol).cast(DecimalType(18, 2))),
      root, partCols, batchId, query)(rows => counts(rows, col("n"), col("sum_v")))
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
    */
  private[sinks] def fold(spark: SparkSession, partial: DataFrame, root: String,
                          partCols: Seq[String], batchId: Option[Long],
                          query: Option[String])
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

    // cut lineage AND pin the result BEFORE the write: the merged plan
    // reads `root`, which the overwrite replaces, so the write must run
    // against materialized rows; the checkpoint is released once the
    // write has committed
    LocalCheckpoint.pinned(merged) { pinned =>
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
