package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sinks.{DedupIndexSink, IncrementalAgg, Layout, LineDedupSink, QuantileSink, SmallFiles,
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
  * loop-composed bytes column). Exactly-once per batch id on the same
  * marker discipline as every other sink here; [[lake]] reads
  * committed batches only. [[optimizeLake]] is the maintenance pass
  * (Delta `OPTIMIZE` analogue): fold all committed batches into one
  * GLOBALLY similarity-ordered generation — cross-batch dup mass
  * becomes page-adjacent and the small per-batch files compact, under
  * the generation/manifest crash protocol.
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
  * enabled), `line_index/` (when enabled).
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
    * `_batches/<id>/_APPLIED` marker (a replay of a committed id skips;
    * a crashed half-write has no marker, is invisible to [[lake]], and
    * the replay's deterministic overwrite converges to identical
    * bytes).
    */
  private def maintainLake(spark: SparkSession, batch: DataFrame,
                           root: String, idCol: String, textCol: String,
                           batchId: Long, lakeFiles: Int): Unit = {
    val lr = new Path(lakeRoot(root))
    val fs = lr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val applied = new Path(new Path(lr, "_batches"),
      s"$batchId/_APPLIED")
    if (!fs.exists(applied)) {
      // an unapplied batch must sit ABOVE the optimize horizon — an
      // uncommitted id below it cannot replay (its directory would be
      // invisible to readers forever); only a checkpoint restored from
      // before an optimize pass can produce this
      val hz = lakeHorizon(spark, root)
      require(hz < batchId,
        s"lake batch $batchId has no _APPLIED marker but the lake is " +
          s"optimized through $hz: restore a checkpoint at or above the " +
          "horizon, or rebuild the lake")
      Layout.similarityOrdered(batch,
        textCol, new Path(lr, s"ingest_batch=$batchId").toString,
        nFiles = lakeFiles, tieCols = Seq(col(idCol)))
      fs.create(applied, true).close()
    }
  }

  // ---------------------------------------------------------------
  // lake generations (the OPTIMIZE pass)

  private def lakeFs(spark: SparkSession, root: String) =
    new Path(lakeRoot(root)).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed lake generation with the largest id, if any:
    * `(gen, maxFoldedId, dir)` — only `_COMMITTED` generations exist
    * to readers (the [[DedupIndexSink.committedGen]] discipline).
    */
  private def lakeGen(spark: SparkSession,
                      root: String): Option[(Long, Long, Path)] = {
    val fs = lakeFs(spark, root)
    val base = new Path(lakeRoot(root), "_gen")
    if (!fs.exists(base)) None
    else fs.listStatus(base).toSeq.map(_.getPath)
      .flatMap(p => scala.util.Try(p.getName.toLong).toOption.map((_, p)))
      .filter { case (_, p) => fs.exists(new Path(p, "_COMMITTED")) }
      .sortBy(_._1).lastOption
      .map { case (g, p) =>
        val maxId = SmallFiles.read(fs, new Path(p, "_MANIFEST")).linesIterator
          .collectFirst { case l if l.startsWith("max_id\t") =>
            l.stripPrefix("max_id\t").trim.toLong }
          .getOrElse(sys.error(
            s"lake generation $g under $root has no max_id in its manifest"))
        (g, maxId, p)
      }
  }

  /** Every batch id ≤ this is folded into the committed lake
    * generation (-1 with no generation).
    */
  private def lakeHorizon(spark: SparkSession, root: String): Long =
    lakeGen(spark, root).map(_._2).getOrElse(-1L)

  private def committedBatchDirs(spark: SparkSession, root: String,
                                 above: Long): Seq[(Long, String)] = {
    val lr = new Path(lakeRoot(root))
    val fs = lakeFs(spark, root)
    if (!fs.exists(lr)) Seq.empty
    else fs.listStatus(lr).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("ingest_batch="))
      .map(p => (p.getName.stripPrefix("ingest_batch=").toLong, p.toString))
      .filter(_._1 > above)
      .filter { case (id, _) => fs.exists(new Path(new Path(lr, "_batches"),
        s"$id/_APPLIED")) }
      .sortBy(_._1)
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
    * Crash protocol — the [[DedupIndexSink.compactSubs]] discipline:
    * generation `G` writes `doc_lake/_gen/<G>/data/` (overwrite,
    * idempotent), then `_MANIFEST`, commits with `_COMMITTED`, and only
    * then deletes the folded batch directories and the previous
    * generation; readers decide solely by `_COMMITTED`, so a crash at
    * any point leaves the old view intact and the next pass converges.
    * Pre-cleanup leftovers (batch dirs at or below the horizon,
    * uncommitted generations) are swept at the next pass. `_batches`
    * markers are kept forever, so a replay of a FOLDED id still
    * short-circuits in [[apply]]. Single-writer, same as the loop.
    * `nFiles = 0` (the default) sizes the generation by bytes —
    * `ceil(source bytes / targetBytes)` files, the
    * [[DedupIndexSink.compact]] discipline; pass an explicit `nFiles`
    * to pin the layout (tests, benches). Returns the committed lake
    * horizon.
    */
  def optimizeLake(spark: SparkSession, root: String, idCol: String,
                   textCol: String, nFiles: Int = 0,
                   targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(nFiles >= 0, s"file count must be >= 0 (0 = size by bytes), got $nFiles")
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val fs = lakeFs(spark, root)
    val gen = lakeGen(spark, root)
    val lo = gen.map(_._2).getOrElse(-1L)
    // sweep a crashed prior pass: folded batch dirs below the horizon,
    // generations other than the committed one
    val lr = new Path(lakeRoot(root))
    if (fs.exists(lr)) fs.listStatus(lr).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("ingest_batch="))
      .filter(_.getName.stripPrefix("ingest_batch=").toLong <= lo)
      .foreach(p => fs.delete(p, true))
    val genBase = new Path(lr, "_gen")
    if (fs.exists(genBase)) fs.listStatus(genBase).toSeq.map(_.getPath)
      .filter(p => scala.util.Try(p.getName.toLong).toOption
        .exists(g => gen.forall(_._1 != g)))
      .foreach(p => fs.delete(p, true))

    val tail = committedBatchDirs(spark, root, lo)
    if (tail.isEmpty) return lo
    val newMax = tail.map(_._1).max
    val g = gen.map(_._1 + 1).getOrElse(0L)
    val gDir = new Path(genBase, g.toString)
    // nFiles = 0 ⇒ size the generation by bytes (the compactSubs
    // discipline): ceil(source bytes / targetBytes) files
    val files =
      if (nFiles > 0) nFiles
      else {
        val bytes = gen.toSeq.map(gp =>
            fs.getContentSummary(new Path(gp._3, "data")).getLength) ++
          tail.map(d => fs.getContentSummary(new Path(d._2)).getLength)
        math.max(1L, (bytes.sum + targetBytes - 1) / targetBytes).toInt
      }

    val tailFrame = spark.read.option("basePath", lr.toString)
      .parquet(tail.map(_._2): _*)
      .withColumn("ingest_batch", col("ingest_batch").cast("long"))
    val all = gen.map { case (_, _, p) =>
        spark.read.parquet(new Path(p, "data").toString)
          .withColumn("ingest_batch", col("ingest_batch").cast("long"))
          .unionByName(tailFrame)
      }.getOrElse(tailFrame)
    Layout.similarityOrdered(all, textCol, new Path(gDir, "data").toString,
      nFiles = files, tieCols = Seq(col("ingest_batch"), col(idCol)))
    SmallFiles.write(fs, new Path(gDir, "_MANIFEST"),
      s"max_id\t$newMax\n" +
        gen.map(x => s"prev_gen\t${x._1}\n").getOrElse("") +
        tail.map(d => s"folded\t${d._1}").mkString("\n") + "\n")
    fs.create(new Path(gDir, "_COMMITTED"), true).close() // commit point
    // cleanup after the commit — a crash here is healed by the sweep
    tail.foreach { case (_, d) => fs.delete(new Path(d), true) }
    gen.foreach { case (_, _, p) => fs.delete(p, true) }
    newMax
  }

  /** Read the committed document lake: the committed generation (when
    * [[optimizeLake]] has run) plus every post-horizon
    * `ingest_batch=<id>/` directory whose `_APPLIED` marker exists,
    * with the `ingest_batch` id as a LONG column (the
    * [[DedupIndexSink]] reader discipline — uncommitted crash debris,
    * half-written generations, and pre-cleanup leftovers below the
    * horizon never surface). THROWS (`IllegalArgumentException`) when
    * no committed batch exists — with zero batches there is no schema
    * to hand back, so a loud failure beats a silently-empty schemaless
    * frame (the [[DedupIndexSink.allMatches]] convention).
    */
  def lake(spark: SparkSession, root: String): DataFrame = {
    val lr = new Path(lakeRoot(root))
    val gen = lakeGen(spark, root)
    val lo = gen.map(_._2).getOrElse(-1L)
    val tail = committedBatchDirs(spark, root, lo)
    val frames = gen.toSeq.map { case (_, _, p) =>
      spark.read.parquet(new Path(p, "data").toString)
        .withColumn("ingest_batch", col("ingest_batch").cast("long"))
    } ++ (if (tail.isEmpty) Nil
          else Seq(spark.read.option("basePath", lr.toString)
            .parquet(tail.map(_._2): _*)
            .withColumn("ingest_batch", col("ingest_batch").cast("long"))))
    require(frames.nonEmpty,
      s"no committed lake batches under $lr — run the loop with lakeFiles > 0")
    frames.reduce(_.unionByName(_))
  }

  /** Periodic index maintenance (run from the same single writer, e.g.
    * weekly between drains): fold the dedup index's sealed per-batch
    * directories into one generation so probe cost stays flat as batch
    * history grows — [[DedupIndexSink.compact]]'s manifest + marker
    * protocol; readers see identical rows throughout. The line index
    * (when the loop runs with `cleanLines = true`) folds under the
    * same call — probe results are identical pre/post for both.
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
