package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Self-maintaining near-dup INDEX — the continuous-ingest dedup loop:
  * every arriving batch is (1) probed against the standing MinHash
  * index ([[Dedup.incrementalNearDupPrepared]] — the index side never
  * shuffles, batch state broadcasts), (2) checked against ITSELF for
  * intra-batch pairs ([[Dedup.minhashLshPairs]] at batch scale), and
  * (3) APPENDED to the index as per-document prepared state
  * ([[Dedup.prepareNearDupIndex]] rows: sorted shingle hashes + MinHash
  * signature — text is never stored and never re-read). Day N's cost is
  * O(batch · index-probe), not O(corpus²): the q105 incremental
  * discipline with the index maintenance closed into the same
  * exactly-once loop.
  *
  * Exactly-once under Structured Streaming replay, on the
  * [[BatchCommit]] protocol (the index is append-only — no existing
  * partition is ever rewritten, so no snapshot is needed): batch `id`'s
  * state lands at `root/ingest_batch=<id>/` and its probe result at
  * `root/_matches/ingest_batch=<id>/`, both via overwrite (idempotent
  * per id); `root/_batches/<id>/_APPLIED` commits. A replay re-probes
  * against exactly the same prior state (the probe reads only sealed
  * `ingest_batch < id` directories, never its own), so any crash point
  * converges to identical bytes. Single-writer (the `foreachBatch`
  * serialization contract) is assumed.
  *
  * STANDING-INDEX COMPACTION ([[compact]]): append-only per-batch
  * directories make every probe list and read O(#batches) directories
  * and markers — after a year of daily batches that quietly erodes the
  * sink's O(batch) daily-cost contract. `compact` folds every sealed
  * batch (plus the previous generation) into ONE [[BatchCommit.fold]]
  * generation of `targetBytes`-sized files under `root/_gen/<G>/
  * {state,matches}/`: probes then read one generation plus the short
  * post-compaction tail, so probe cost is flat in the number of folded
  * batches. The fold is pure data movement — the exact same state/match
  * ROWS, so probe results are bit-identical pre/post
  * (DedupIndexSinkSpec pins this, and crash convergence at every
  * protocol point).
  *
  * Use from streaming as
  * `stream.writeStream.foreachBatch((b, id) => maintain(spark, b, root,
  * "doc_id", "text", id))`, with `compact(spark, root)` as the
  * periodic (e.g. weekly) maintenance pass from the same single
  * writer. The root keeps the streaming query that first drained it
  * ([[BatchCommit.requireOwner]]): a batch under a second checkpoint
  * fails before it writes.
  */
object DedupIndexSink {

  import BatchCommit.{batchDir, fsOf, generation, horizon, join, read}

  private def matchRoot(root: String): String = join(root, "_matches").toString

  /** Fold every committed batch with `id ≤ upTo` — plus the previous
    * generation — into a new generation of `targetBytes`-sized files
    * (see [[BatchCommit]] for the crash protocol). Pure data movement:
    * readers see the exact same rows before and after, but a probe
    * after the fold reads ONE generation directory instead of one
    * directory per folded batch. Also sweeps pre-cleanup leftovers of
    * a crashed prior pass. Idempotent and crash-convergent at every
    * step. Returns the committed horizon (max folded id; -1 when
    * nothing has ever been folded). Single-writer, same as
    * [[maintain]]: run it from the stream's own maintenance window.
    */
  def compact(spark: SparkSession, root: String, upTo: Long = Long.MaxValue,
              targetBytes: Long = 128L * 1024 * 1024): Long =
    BatchCommit.fold(spark, root,
      Seq("state" -> root, "matches" -> matchRoot(root)),
      upTo, targetBytes)(BatchCommit.bySize)

  /** Probe `batch` against the standing index and fold its prepared
    * state in — exactly once per `batchId` (see object doc). Returns
    * the batch's match set `(new_id, old_id, inter, un, jac)`:
    * cross pairs (new in this batch, old already indexed) plus
    * intra-batch pairs (`new_id` is the larger id). Re-invoking with a
    * committed id skips all work and re-reads the stored result
    * (from the generation when the batch has since been folded).
    */
  def maintain(spark: SparkSession, batch: DataFrame, root: String,
               idCol: String, textCol: String, batchId: Long,
               numHashes: Int = 128, bands: Int = 32,
               thresholdNum: Int = 7, thresholdDen: Int = 10,
               ngram: Int = 3, seed: Long = 42L): DataFrame = {
    BatchCommit.requireOwner(spark, root)
    val fs = fsOf(spark, root)
    if (!BatchCommit.committed(fs, root, batchId)) {
      BatchCommit.requireReplayable(spark, root, batchId, "index")
      val idT = batch.schema(idCol).dataType
      val matchSchema = StructType(Seq(StructField("new_id", idT),
        StructField("old_id", idT), StructField("inter", LongType),
        StructField("un", LongType), StructField("jac", DoubleType)))
      // the probe reads ONLY sealed prior state, by explicit path —
      // the committed generation plus post-horizon batch directories
      // below this id; partition discovery must not touch this id's
      // own (possibly half-written, pre-crash) directory
      val prior = read(spark, root, "state", root, Some(batchId))
        .map(_.drop("ingest_batch"))
      val cross =
        if (prior.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], matchSchema)
        else Dedup.incrementalNearDupPrepared(batch,
          prior.reduce(_.unionByName(_)),
          idCol, textCol, numHashes, bands, thresholdNum, thresholdDen,
          ngram, seed)
      val intra = Dedup.minhashLshPairs(batch, idCol, textCol, numHashes,
          bands, thresholdNum, thresholdDen, ngram, seed)
        .select(col("b_id").as("new_id"), col("a_id").as("old_id"),
          col("inter").cast("long").as("inter"),
          col("un").cast("long").as("un"), col("jac"))
      cross.select(col("new_id"), col("old_id"),
          col("inter").cast("long").as("inter"),
          col("un").cast("long").as("un"), col("jac"))
        .unionByName(intra)
        .write.mode("overwrite")
        .parquet(batchDir(matchRoot(root), batchId).toString)
      Dedup.prepareNearDupIndex(batch, idCol, textCol, ngram, numHashes, seed)
        .write.mode("overwrite")
        .parquet(batchDir(root, batchId).toString)
      BatchCommit.commit(fs, root, batchId)
    }
    matchesOf(spark, root, batchId)
  }

  /** Batch `batchId`'s committed match set `(new_id, old_id, inter,
    * un, jac)` — from its per-batch directory while it is in the
    * post-compaction tail, from the generation after it is folded.
    */
  def matchesOf(spark: SparkSession, root: String, batchId: Long): DataFrame = {
    val dir = batchDir(matchRoot(root), batchId)
    if (horizon(spark, root) < batchId || fsOf(spark, root).exists(dir))
      spark.read.parquet(dir.toString)
    else {
      val (_, _, p) = generation(spark, root).get
      spark.read.parquet(new Path(p, "matches").toString)
        .filter(col("ingest_batch") === batchId).drop("ingest_batch")
    }
  }

  /** Every committed batch's matches, with the `ingest_batch` id
    * (long). Uncommitted (crashed, marker-less) batch data never
    * surfaces — the tail is filtered per-directory by its `_APPLIED`
    * marker, and the generation holds committed batches only.
    */
  def allMatches(spark: SparkSession, root: String): DataFrame = {
    val frames = read(spark, root, "matches", matchRoot(root), None)
    require(frames.nonEmpty, s"no committed batches under $root")
    frames.reduce(_.unionByName(_))
  }

  /** The standing per-document index state across all committed
    * batches: `(idCol, shingles, sig, ingest_batch)` with
    * `ingest_batch` long. Filtered like [[allMatches]].
    */
  def state(spark: SparkSession, root: String): DataFrame = {
    val frames = read(spark, root, "state", root, None)
    require(frames.nonEmpty, s"no committed batches under $root")
    frames.reduce(_.unionByName(_))
  }
}
