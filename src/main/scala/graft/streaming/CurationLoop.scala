package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sinks.{BatchCommit, DedupIndexSink, IncrementalAgg, Layout, LineDedupSink, QuantileSink,
  VocabSink}

/** The production curation loop: ONE `foreachBatch` body that feeds
  * every arriving document micro-batch through the three certified
  * incremental sinks, in order —
  *
  *   1. [[DedupIndexSink.maintain]] — probe against the standing
  *      near-dup index, fold the batch's prepared state in;
  *   2. [[QuantileSink.maintain]] — fold the batch's quality metric
  *      into the standing per-group DDSketch quantile table;
  *   3. [[IncrementalAgg.maintain]] — fold (count, exact sum) into the
  *      standing per-group corpus-stats rollup.
  *
  * This is the single-writer flush loop the reference's CRON job
  * implies (`run.py:117-125` — one process draining the queue into
  * every derived table), composed from sinks that are each
  * EXACTLY-ONCE per `batchId` on their own markers: a crash at ANY
  * point — between sinks, or inside one — replays the same batch id,
  * the already-committed sinks skip on their `_APPLIED` markers, and
  * the uncommitted ones redo their deterministic fold, so the
  * composition converges to the identical bytes a never-crashed run
  * produces (the CurationLoopSpec replay matrix). No cross-sink
  * transaction is needed BECAUSE each sink is idempotent per id;
  * mid-crash the tables may transiently disagree by one batch, which
  * the restart heals before processing new data.
  *
  * An optional FOURTH table composes in the same way: pass `langCol`
  * and the loop also maintains the [[VocabSink]] vocabulary, under the
  * same batch ids and the same idempotence argument (q234 drives the
  * four-sink loop and oracle-checks its vocabulary reads).
  *
  * An optional FIFTH table is the DOCUMENT LAKE itself: pass
  * `lakeFiles > 0` and each batch's documents materialize to
  * `doc_lake/ingest_batch=<id>/`, SIMILARITY-ORDERED within the batch
  * ([[graft.sinks.Layout.similarityOrdered]]'s normalized-prefix key,
  * id tie-broken so replays are byte-identical) — arrival order wastes
  * bytes when the stream carries near-dup mass, since parquet
  * compresses page-locally (33 % fewer bytes at 40 % dup mass,
  * BASELINE `layout_compress`; the `curation_scale` bench carries the
  * loop-composed bytes column). Exactly-once per batch id on the
  * [[BatchCommit]] protocol the two indexes use; [[lake]] reads
  * committed batches only. [[optimizeLake]] is the maintenance pass
  * (Delta `OPTIMIZE` analogue): fold all committed batches into one
  * GLOBALLY similarity-ordered generation — cross-batch dup mass
  * becomes page-adjacent and the small per-batch files compact, under
  * [[BatchCommit.fold]]'s crash protocol.
  *
  * An optional SIXTH table is the standing LINE-dedup filter
  * ([[LineDedupSink]] — Dolma's pipeline dedups paragraphs BEFORE the
  * lake write): pass `cleanLines = true` and each batch's text is
  * cleaned against every line the stream has already seen (plus its
  * own within-batch keep-first) with the batch's new line hashes
  * folded into `line_index/` exactly-once on that sink's own markers —
  * and the document lake (when enabled) lands the CLEANED text, which
  * both shrinks the lake and compresses better (near-dup mass carries
  * duplicated lines). A replay of a committed id recomputes the same
  * cleaned batch against the same prior state (the probe reads only
  * sealed earlier batches), so lake bytes stay replay-identical.
  *
  * Layout under `root` (all joins via hadoop [[Path]] — object-store
  * roots survive): `dedup_index/`, `quality_quantiles/`,
  * `corpus_stats/`, `vocabulary/` (when enabled), `doc_lake/` (when
  * enabled), `line_index/` (when enabled), and `_QUERY_ID` (the
  * streaming query that owns the root, see [[writer]]).
  */
object CurationLoop {

  def dedupRoot(root: String): String = new Path(root, "dedup_index").toString
  def quantRoot(root: String): String = new Path(root, "quality_quantiles").toString
  def statsRoot(root: String): String = new Path(root, "corpus_stats").toString
  def vocabRoot(root: String): String = new Path(root, "vocabulary").toString
  def lakeRoot(root: String): String = new Path(root, "doc_lake").toString
  def lineRoot(root: String): String = new Path(root, "line_index").toString

  /** The `foreachBatch` body. `batch` must carry `idCol` (unique doc
    * id), `textCol`, the grouping `keyCols` (with `partCols` a subset
    * describing the directory layout), and the numeric `valueCol`
    * (the quality metric both the quantile table and the stats rollup
    * summarize). The batch persists across the three folds — each
    * sink re-reads it, and recomputing the upstream per fold would
    * triple the source work. `langCol` (optional) adds a FOURTH
    * standing table: the [[VocabSink]] maintained vocabulary at
    * `vocabulary/`, folded under the same batch id and marker
    * discipline — the composition's exactly-once argument is unchanged
    * because the new sink is idempotent per id like the other three.
    * Returns the batch's dedup match set (the
    * [[DedupIndexSink.maintain]] result) for callers that act on
    * duplicates inline.
    */
  def apply(spark: SparkSession, batch: DataFrame, root: String,
            idCol: String, textCol: String,
            partCols: Seq[String], keyCols: Seq[String], valueCol: String,
            batchId: Long, langCol: Option[String] = None,
            lakeFiles: Int = 0, cleanLines: Boolean = false): DataFrame = {
    batch.persist()
    try {
      val matches = DedupIndexSink.maintain(spark, batch, dedupRoot(root),
        idCol, textCol, batchId)
      QuantileSink.maintain(spark, batch, quantRoot(root),
        partCols, keyCols, valueCol, batchId = Some(batchId))
      IncrementalAgg.maintain(spark, batch, statsRoot(root),
        partCols, keyCols, valueCol, batchId = Some(batchId))
      langCol.foreach { lc =>
        VocabSink.maintain(spark, batch, vocabRoot(root), lc, textCol,
          batchId)
      }
      // the line filter folds its own standing table exactly-once and
      // returns the cleaned batch (a committed-id replay recomputes it
      // deterministically without folding) — the lake then lands the
      // CLEANED text; `n_dropped` is the cleaner's audit column, not
      // document data, so the lake schema stays the input's
      val lakeBatch =
        if (cleanLines)
          LineDedupSink.maintain(spark, batch, lineRoot(root),
            idCol, textCol, batchId).drop("n_dropped")
        else batch
      if (lakeFiles > 0)
        maintainLake(spark, lakeBatch, root, idCol, textCol, batchId,
          lakeFiles)
      matches
    } finally batch.unpersist()
  }

  /** The fifth sink's fold: batch → `doc_lake/ingest_batch=<id>/`,
    * similarity-ordered within the batch, exactly-once per id on the
    * [[BatchCommit]] marker (a replay of a committed id skips; a crashed
    * half-write has no marker, is invisible to [[lake]], and the
    * replay's deterministic overwrite converges to identical bytes).
    */
  private def maintainLake(spark: SparkSession, batch: DataFrame,
                           root: String, idCol: String, textCol: String,
                           batchId: Long, lakeFiles: Int): Unit = {
    val lr = lakeRoot(root)
    val fs = BatchCommit.fsOf(spark, lr)
    if (!BatchCommit.committed(fs, lr, batchId)) {
      BatchCommit.requireReplayable(spark, lr, batchId, "lake", "optimized")
      Layout.similarityOrdered(batch, textCol,
        BatchCommit.batchDir(lr, batchId).toString,
        nFiles = lakeFiles, tieCols = Seq(col(idCol)))
      BatchCommit.commit(fs, lr, batchId)
    }
  }

  /** OPTIMIZE the document lake (the Delta `OPTIMIZE ZORDER` analogue
    * for this plain-parquet lake): fold every committed per-batch
    * directory — plus the previous committed generation — into ONE
    * generation written GLOBALLY similarity-ordered
    * ([[Layout.similarityOrdered]] over the whole corpus, `(ingest_batch,
    * idCol)` tie-broken so the fold is deterministic). Per-batch
    * ordering can only make near-dups adjacent WITHIN a batch; after a
    * year of daily batches the cross-batch dup mass (the same
    * boilerplate arriving every day) sits one-per-file, which the
    * global re-cluster packs page-adjacent — fewer bytes AND
    * fewer/larger files (the small-files compaction in the same pass).
    *
    * The generation is a [[BatchCommit.fold]] with the single sub
    * `doc_lake/_gen/<G>/data/`, under its crash protocol; the `_batches`
    * markers stay, so a replay of a FOLDED id still short-circuits in
    * [[apply]]. Single-writer, same as the loop. `nFiles = 0` (the
    * default) sizes the generation by bytes — `ceil(source bytes /
    * targetBytes)` files; pass an explicit `nFiles` to pin the layout
    * (tests, benches). Returns the committed lake horizon.
    */
  def optimizeLake(spark: SparkSession, root: String, idCol: String,
                   textCol: String, nFiles: Int = 0,
                   targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(nFiles >= 0, s"file count must be >= 0 (0 = size by bytes), got $nFiles")
    val lr = lakeRoot(root)
    BatchCommit.fold(spark, lr, Seq("data" -> lr), Long.MaxValue, targetBytes) {
      (all, path, bySize) =>
        Layout.similarityOrdered(all, textCol, path,
          nFiles = if (nFiles > 0) nFiles else bySize(),
          tieCols = Seq(col("ingest_batch"), col(idCol)))
    }
  }

  /** Read the committed document lake ([[BatchCommit.read]]: the
    * committed generation plus every committed post-horizon
    * `ingest_batch=<id>/` directory), with the `ingest_batch` id as a
    * LONG column. THROWS (`IllegalArgumentException`) when no committed
    * batch exists — with zero batches there is no schema to hand back,
    * so a loud failure beats a silently-empty schemaless frame (the
    * [[DedupIndexSink.allMatches]] convention).
    */
  def lake(spark: SparkSession, root: String): DataFrame = {
    val lr = lakeRoot(root)
    val frames = BatchCommit.read(spark, lr, "data", lr, None)
    require(frames.nonEmpty,
      s"no committed lake batches under $lr — run the loop with lakeFiles > 0")
    frames.reduce(_.unionByName(_))
  }

  /** Periodic index maintenance (run from the same single writer, e.g.
    * weekly between drains): fold the dedup index's sealed per-batch
    * directories into one generation so probe cost stays flat as batch
    * history grows — a [[BatchCommit.fold]]; readers see identical
    * rows throughout. The line index (when the loop runs with
    * `cleanLines = true`) folds under the same call — probe results are
    * identical pre/post for both.
    * Returns the dedup index's committed horizon.
    */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024): Long = {
    val lr = new Path(lineRoot(root))
    if (lr.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lr))
      LineDedupSink.compact(spark, lineRoot(root), targetBytes = targetBytes)
    DedupIndexSink.compact(spark, dedupRoot(root), targetBytes = targetBytes)
  }

  /** Wire a document stream to the composed loop. `availableNow = true`
    * is CRON-drain mode (process everything, checkpoint, exit), the
    * [[IngestPipeline.writer]] convention. `compactEvery > 0` folds
    * the dedup index's sealed batches into a generation every that
    * many batches, FROM the same foreachBatch body — the single-writer
    * serialization the compaction protocol requires comes free, and
    * the probe wall stays pinned to index size as history grows
    * (BASELINE `curation_scale`). The fold runs AFTER the batch
    * commits, so a crash between them replays convergently (the
    * batch's markers short-circuit, the fold re-runs idempotently).
    *
    * A root keeps its first streaming query ([[BatchCommit.requireOwner]]
    * on `root/_QUERY_ID`): a batch of any other query fails before it
    * touches the root.
    */
  def writer(stream: DataFrame, root: String, checkpoint: String,
             idCol: String, textCol: String,
             partCols: Seq[String], keyCols: Seq[String], valueCol: String,
             availableNow: Boolean = true,
             interval: String = "10 seconds",
             compactEvery: Int = 0,
             langCol: Option[String] = None,
             lakeFiles: Int = 0,
             cleanLines: Boolean = false,
             optimizeEvery: Int = 0): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          BatchCommit.requireOwner(batch.sparkSession, root)
          apply(batch.sparkSession, batch, root, idCol, textCol,
            partCols, keyCols, valueCol, id, langCol, lakeFiles, cleanLines)
          if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
            compact(batch.sparkSession, root); ()
          }
          // the lake OPTIMIZE window, same single-writer serialization:
          // byte-sized generation (nFiles = 0), after the batch commits
          if (lakeFiles > 0 && optimizeEvery > 0 &&
              (id + 1) % optimizeEvery == 0) {
            optimizeLake(batch.sparkSession, root, idCol, textCol); ()
          }
        }
      }
}
