package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Self-maintaining LINE-dedup filter — the streaming twin of
  * [[Dedup.dedupLines]] (the C4/Dolma keep-first paragraph dedup), run
  * as a standing filter over continuous ingest: every arriving batch is
  * cleaned against the 64-bit line hashes of EVERYTHING already
  * ingested (a line whose hash is in the standing set is boilerplate
  * the corpus has seen — delete every occurrence in the batch), plus
  * the within-batch keep-first pass, and the batch's NEW line hashes
  * are appended to the standing set. The composed semantics are exactly
  * global keep-first in `(batch, id, pos)` order — LineDedupSinkSpec
  * pins streamed ≡ one-shot [[Dedup.dedupLines]] on the concatenated
  * corpus with that ordering — which is what Dolma's Bloom-filter
  * paragraph dedup computes, here exact rather than probabilistic.
  *
  * Day N's cost is O(batch lines + one MAP-SIDE scan of the standing
  * hash set): the batch's distinct hashes broadcast into the standing
  * set (which never shuffles and never broadcasts — it grows with the
  * corpus), the matched subset (≤ batch hashes) broadcasts back for
  * the split. 8 bytes per distinct line ever seen, text never stored
  * and never re-read — the q105/DedupIndexSink incremental discipline
  * applied to the line tier (PlanSpec gates the probe direction).
  * Because BATCH state is what broadcasts, the sink's regime is
  * micro-batches (the `foreachBatch` contract it runs under); a
  * corpus-scale backfill is a one-shot [[Dedup.dedupLines]] job, not
  * one giant batch through this sink.
  *
  * Protocol: [[BatchCommit]]'s append-only batches and generations —
  * per-batch hash directories at `root/ingest_batch=<id>/`,
  * `_batches/<id>/_APPLIED` markers, generation folds under `_gen/<G>/`
  * ([[compact]]). A replay of a committed id recomputes its cleaned
  * batch against exactly the same PRIOR state (the probe reads only
  * sealed `ingest_batch < id` directories, never its own) and skips the
  * fold, so any crash point converges. Single-writer, the
  * `foreachBatch` serialization contract; the root keeps the streaming
  * query that first drained it ([[BatchCommit.requireOwner]]).
  */
object LineDedupSink {

  /** Clean `batch` against the standing line-hash set and fold its new
    * hashes in — exactly once per `batchId`. Returns the CLEANED batch:
    * the input columns with `textCol` rewritten (cross-batch-duplicate
    * and within-batch-duplicate lines deleted in place, documents
    * rebuilt with surviving lines in order) plus `n_dropped`.
    *
    * `normalize = true` keys the standing set on the NORMALIZED line
    * ([[Dedup.dedupLines]]'s normalized tier — case-folded,
    * whitespace-collapsed before hashing, survivors keep original
    * bytes). The flag is part of the INDEX's identity: every batch of
    * one root must pass the same value, or probes compare hashes from
    * different key spaces (same contract as the MinHash parameters on
    * [[DedupIndexSink.maintain]]).
    */
  def maintain(spark: SparkSession, batch: DataFrame, root: String,
               idCol: String, textCol: String, batchId: Long,
               minLineChars: Int = 2, normalize: Boolean = false): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    BatchCommit.requireOwner(spark, root)
    val fs = BatchCommit.fsOf(spark, root)
    val applied = BatchCommit.committed(fs, root, batchId)
    if (!applied) BatchCommit.requireReplayable(spark, root, batchId, "line index")
    val key = if (normalize)
      graft.functions.TextFunctions.normalize(col("__line"))
    else col("__line")
    val lines = batch
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .filter(length(col("__line")) >= minLineChars)
      .select(col("__id"), col("__pos"), xxhash64(key).as("__h"))
      .persist()
    val winners = batchWinners(lines).persist()
    try {
      // prior state: committed generation + sealed batch dirs < batchId
      val prior = BatchCommit.read(spark, root, "state", root, Some(batchId))
        .map(_.select(col("h").as("__h")))
      // PROBE DIRECTION (the q105/DedupIndexSink discipline, round-17
      // verdict fix): the standing set grows with the corpus, so it must
      // NEVER shuffle and never broadcast. The batch's distinct hashes
      // (bounded by batch size) broadcast INTO one map-side scan of the
      // standing set; the matched subset that comes back is ≤ the batch
      // hash count, materialized eagerly (one standing scan total), and
      // IT alone broadcasts into the line-tier split and the new-hash
      // anti-probe. No per-batch .distinct() on standing state either —
      // the state is distinct by construction (each batch folds only
      // hashes absent from all prior state; replays skip the fold;
      // compaction is pure data movement).
      // LAZY checkpoint: the plan truncates immediately (both consumers
      // — the new-hash anti-probe and the line split — read the
      // checkpointed RDD, so the standing scan still runs exactly once,
      // at first materialization) without scheduling a dedicated job
      // per batch the way the previous eager form did
      val matched = probeMatched(prior, winners).map(_.localCheckpoint(false))
      val drops = dropsFor(lines, winners, matched)
      if (!applied) {
        // fold ONLY batch-new hashes (a seen line's hash is already in
        // the standing set); overwrite is idempotent per id
        val newHashes = matched match {
          case Some(m) => winners.join(broadcast(m), Seq("__h"), "left_anti")
          case None => winners
        }
        newHashes.select(col("__h").as("h"))
          .write.mode("overwrite")
          .parquet(BatchCommit.batchDir(root, batchId).toString)
        BatchCommit.commit(fs, root, batchId)
      }
      // materialize the cleaned batch before the lines cache drops —
      // the returned frame must not lazily re-run the probe
      val cleaned = Dedup.applyLineDrops(batch, idCol, textCol, drops)
      cleaned.localCheckpoint(true)
    } finally {
      winners.unpersist(blocking = false)
      lines.unpersist(blocking = false)
    }
  }

  /** Per-hash keep-first winner within the batch: `(__h, __w{i, p})`,
    * distinct on `__h` by construction (one partial-aggregating
    * batch-scale collapse).
    */
  private[graft] def batchWinners(lines: DataFrame): DataFrame =
    lines.groupBy(col("__h"))
      .agg(min(struct(col("__id").as("i"), col("__pos").as("p"))).as("__w"))

  /** The standing-set probe, exposed for PlanSpec's gate: the batch's
    * distinct hashes (`winners`, bounded by batch size) broadcast into
    * ONE inner join against the standing set, which therefore scans
    * map-side — zero exchange of standing state. Returns the matched
    * hash subset (≤ batch hashes); `None` when no prior state exists.
    */
  private[graft] def probeMatched(prior: Seq[DataFrame],
                                  winners: DataFrame): Option[DataFrame] =
    prior.reduceOption(_.unionByName(_))
      .map(_.join(broadcast(winners.select(col("__h"))), "__h")
        .select(col("__h")))

  /** The per-document drop positions: every occurrence of an
    * already-seen line (hash in `matched`, which broadcasts — it is ≤
    * batch hashes) and every non-first occurrence of a batch-new line.
    * Exposed for PlanSpec's gate.
    */
  private[graft] def dropsFor(lines: DataFrame, winners: DataFrame,
                              matched: Option[DataFrame]): DataFrame = {
    val flagged = matched match {
      case Some(m) => lines.join(winners, "__h")
        .join(broadcast(m.withColumn("__old", lit(1))), Seq("__h"), "left")
      case None => lines.join(winners, "__h").withColumn("__old",
        lit(null).cast("int"))
    }
    flagged
      .filter(col("__old").isNotNull ||
        !(col("__id") === col("__w.i") && col("__pos") === col("__w.p")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drops"),
        count(lit(1)).as("__nd"))
  }

  /** Fold sealed batch directories into one generation —
    * [[BatchCommit.fold]] with the line sink's single `state` table;
    * probe results are identical pre/post (pure data movement).
    * Returns the committed horizon.
    */
  def compact(spark: SparkSession, root: String, upTo: Long = Long.MaxValue,
              targetBytes: Long = 128L * 1024 * 1024): Long =
    BatchCommit.fold(spark, root, Seq("state" -> root), upTo, targetBytes)(
      BatchCommit.bySize)

  /** The standing hash set (`h`, `ingest_batch`) — committed state
    * only; exposed for audits and tests.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    BatchCommit.read(spark, root, "state", root, None)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.emptyDataFrame
        .withColumn("h", lit(null).cast("long"))
        .withColumn("ingest_batch", lit(null).cast("long")))
}
