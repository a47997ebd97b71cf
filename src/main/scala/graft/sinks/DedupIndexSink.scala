package graft.sinks

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
  * Exactly-once under Structured Streaming replay (the [[QuantileSink]]
  * protocol, SIMPLER here because the index is append-only — no
  * existing partition is ever rewritten, so no snapshot is needed):
  * batch `id`'s state lands at `root/ingest_batch=<id>/` and its probe
  * result at `root/_matches/ingest_batch=<id>/`, both via overwrite
  * (idempotent per id); `root/_batches/<id>/_APPLIED` commits. A replay
  * re-probes against exactly the same prior state (the probe reads
  * only sealed `ingest_batch < id` directories, never its own), so any
  * crash point converges to identical bytes. Single-writer (the
  * `foreachBatch` serialization contract) is assumed.
  *
  * STANDING-INDEX COMPACTION ([[compact]]): append-only per-batch
  * directories make every probe list and read O(#batches) directories
  * and markers — after a year of daily batches that quietly erodes the
  * sink's O(batch) daily-cost contract. `compact` folds every sealed
  * batch (plus the previous generation) into ONE generation directory
  * of `targetBytes`-sized files: probes then read one generation plus
  * the short post-compaction tail, so probe cost is flat in the number
  * of folded batches. The fold is pure data movement — the exact same
  * state/match ROWS, so probe results are bit-identical pre/post
  * (DedupIndexSinkSpec pins this, and crash convergence at every
  * protocol point).
  *
  * Generation crash protocol (the [[PartitionedSink.compactPartitions]]
  * manifest + marker discipline, simpler because generations are
  * append-new-directory, never in-place): generation `G` writes its
  * data under `root/_gen/<G>/{state,matches}/` (overwrite — idempotent
  * per G), then `_gen/<G>/_MANIFEST` (the folded horizon), and commits
  * with `_gen/<G>/_COMMITTED`; only after the commit are the folded
  * per-batch directories and the previous generation deleted. Readers
  * decide solely by `_COMMITTED`: a crash before it leaves the old view
  * untouched (the half-written generation is invisible and the next
  * pass overwrites it); a crash after it, mid-cleanup, leaves stale
  * per-batch directories BELOW the committed horizon, which every
  * reader excludes by id and the next pass sweeps. `_batches/<id>`
  * markers are kept forever (tiny, and [[maintain]]'s replay
  * short-circuit checks one direct path — never a listing).
  *
  * Use from streaming as
  * `stream.writeStream.foreachBatch((b, id) => maintain(spark, b, root,
  * "doc_id", "text", id))`, with `compact(spark, root)` as the
  * periodic (e.g. weekly) maintenance pass from the same single
  * writer.
  */
object DedupIndexSink {

  import org.apache.hadoop.fs.{FileSystem, Path}

  private[sinks] def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All path arithmetic goes through hadoop [[Path]] — NEVER
    * `java.io.File` — so a scheme-qualified root (`s3a://bucket/x`,
    * `hdfs://nn/x`) survives joining: `File` would collapse the
    * `scheme://` double slash into `scheme:/` and the sink would
    * write to a local path that does not exist. See the sibling
    * [[QuantileSink]] which established the pattern.
    */
  private[graft] def join(root: String, segments: String*): Path =
    segments.foldLeft(new Path(root))((p, s) => new Path(p, s))

  private[sinks] def batchDirs(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("ingest_batch="))
      .map(q => (q.getName.stripPrefix("ingest_batch=").toLong, q.toString))
      .sortBy(_._1)
  }

  /** Does `_batches/<id>/_APPLIED` exist — i.e. did batch `id` commit?
    * A crashed batch may leave `ingest_batch=<id>/` or
    * `_matches/ingest_batch=<id>/` data with no marker; readers must
    * not surface it (the stream will replay that id and overwrite both
    * directories idempotently). One direct existence probe per
    * CANDIDATE directory — never a listing of `_batches`, so reader
    * cost tracks the visible directory count, not batch history.
    */
  private[sinks] def isCommitted(fs: FileSystem, root: String, id: Long): Boolean =
    fs.exists(join(root, "_batches", id.toString, "_APPLIED"))

  // ---------------------------------------------------------------
  // generations

  /** The current COMMITTED generation, if any: `(gen, maxFoldedId,
    * dir)`. Only `_COMMITTED` generations exist to readers; the one
    * with the largest id wins (older committed generations are
    * pre-cleanup leftovers of the pass that superseded them).
    */
  private[sinks] def committedGen(spark: SparkSession,
                           root: String): Option[(Long, Long, Path)] = {
    val base = join(root, "_gen")
    val fs = fsOf(spark, root)
    if (!fs.exists(base)) None
    else {
      val gens = fs.listStatus(base).toSeq.map(_.getPath)
        .flatMap(p => scala.util.Try(p.getName.toLong).toOption.map((_, p)))
        .filter { case (_, p) => fs.exists(new Path(p, "_COMMITTED")) }
        .sortBy(_._1)
      gens.lastOption.map { case (g, p) =>
        val maxId = SmallFiles.read(fs, new Path(p, "_MANIFEST")).linesIterator
          .collectFirst { case l if l.startsWith("max_id\t") =>
            l.stripPrefix("max_id\t").trim.toLong }
          .getOrElse(sys.error(
            s"generation $g under $root has no max_id in its manifest"))
        (g, maxId, p)
      }
    }
  }

  /** Committed horizon: every batch id ≤ this is folded into the
    * current generation (-1 when no generation exists). Per-batch
    * directories at or below it are pre-cleanup leftovers and must be
    * invisible.
    */
  private[sinks] def horizon(spark: SparkSession, root: String): Long =
    committedGen(spark, root).map(_._2).getOrElse(-1L)

  private[sinks] def normBatch(df: DataFrame): DataFrame =
    df.withColumn("ingest_batch", col("ingest_batch").cast("long"))

  /** Union of the committed generation's `sub` table and the committed
    * post-horizon per-batch directories under `dirRoot` with
    * `lo < id` (and `id < lt` when bounded), `ingest_batch` normalized
    * to long.
    */
  private[sinks] def readMerged(spark: SparkSession, root: String, sub: String,
                         dirRoot: String, lt: Option[Long]): Seq[DataFrame] = {
    val fs = fsOf(spark, root)
    val gen = committedGen(spark, root)
    val lo = gen.map(_._2).getOrElse(-1L)
    val tail = batchDirs(spark, dirRoot)
      .filter(d => d._1 > lo && lt.forall(d._1 < _))
      .filter(d => isCommitted(fs, root, d._1))
    // a generation may legitimately lack a sub: compactSubs skips a sub
    // with nothing to fold anywhere — treat missing as empty
    gen.toSeq.filter { case (_, _, p) => fs.exists(new Path(p, sub)) }
      .map { case (_, _, p) =>
      normBatch(spark.read.parquet(new Path(p, sub).toString))
        .filter(lt.map(col("ingest_batch") < _).getOrElse(lit(true)))
    } ++ (if (tail.isEmpty) Nil
          else Seq(normBatch(spark.read.option("basePath", dirRoot)
            .parquet(tail.map(_._2): _*))))
  }

  /** Fold every committed batch with `id ≤ upTo` — plus the previous
    * generation — into a new generation of `targetBytes`-sized files
    * (see the object doc for the crash protocol). Pure data movement:
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
    compactSubs(spark, root,
      Seq("state" -> root, "matches" -> join(root, "_matches").toString),
      upTo, targetBytes)

  /** The generation fold over an arbitrary set of `(sub, dirRoot)`
    * tables sharing one root's marker/manifest protocol — extracted so
    * sibling append-only sinks ([[LineDedupSink]]) inherit the whole
    * crash discipline instead of re-implementing it. The first `sub`
    * drives the tail selection; every sub folds its own committed
    * post-horizon directories. A sub with nothing to fold anywhere
    * (no generation, empty tail) is skipped — readers already treat a
    * missing generation sub as empty.
    */
  private[sinks] def compactSubs(spark: SparkSession, root: String,
                                 subs: Seq[(String, String)], upTo: Long,
                                 targetBytes: Long): Long = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    require(subs.nonEmpty, "need at least one sub table")
    val fs = fsOf(spark, root)
    val gen = committedGen(spark, root)
    val lo = gen.map(_._2).getOrElse(-1L)

    // self-heal a crash that committed but never finished cleanup:
    // batch dirs at or below the horizon are folded already — sweep
    // them, and any generation other than the committed one
    subs.foreach { case (_, dirRoot) =>
      batchDirs(spark, dirRoot).filter(_._1 <= lo)
        .foreach(d => fs.delete(new Path(d._2), true))
    }
    val genBase = join(root, "_gen")
    if (fs.exists(genBase)) fs.listStatus(genBase).map(_.getPath)
      .filter(p => scala.util.Try(p.getName.toLong).toOption
        .exists(g => gen.forall(_._1 != g)))
      .foreach(p => fs.delete(p, true))

    val tails = subs.map { case (sub, dirRoot) =>
      (sub, dirRoot, batchDirs(spark, dirRoot)
        .filter(d => d._1 > lo && d._1 <= upTo)
        .filter(d => isCommitted(fs, root, d._1)))
    }
    val tail = tails.head._3
    if (tail.isEmpty) return lo
    val newMax = tail.map(_._1).max
    val g = gen.map(_._1 + 1).getOrElse(0L)
    val gDir = join(root, "_gen", g.toString)

    tails.foreach { case (sub, dirRoot, srcTail) =>
      val genSub = gen.filter { case (_, _, p) =>
        fs.exists(new Path(p, sub)) }
      val frames = genSub.toSeq.map { case (_, _, p) =>
        normBatch(spark.read.parquet(new Path(p, sub).toString)) } ++
        (if (srcTail.isEmpty) Nil
         else Seq(normBatch(spark.read.option("basePath", dirRoot)
           .parquet(srcTail.map(_._2): _*))))
      if (frames.nonEmpty) {
        val bytes = genSub.toSeq.map(gp =>
            fs.getContentSummary(new Path(gp._3, sub)).getLength) ++
          srcTail.map(d => fs.getContentSummary(new Path(d._2)).getLength)
        val nFiles = math.max(1L, (bytes.sum + targetBytes - 1) / targetBytes).toInt
        frames.reduce(_.unionByName(_)).repartition(nFiles)
          .write.mode("overwrite").parquet(new Path(gDir, sub).toString)
      }
    }

    SmallFiles.write(fs, new Path(gDir, "_MANIFEST"),
      (Seq(s"max_id\t$newMax") ++ gen.map(x => s"prev_gen\t${x._1}") ++
        tail.map(d => s"folded\t${d._1}")).mkString("\n") + "\n")
    fs.create(new Path(gDir, "_COMMITTED"), true).close() // commit point

    // cleanup after the commit — a crash here is healed by the sweep
    tails.foreach { case (_, _, srcTail) =>
      srcTail.foreach(d => fs.delete(new Path(d._2), true)) }
    gen.foreach { case (_, _, p) => fs.delete(p, true) }
    newMax
  }

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
    val fs = fsOf(spark, root)
    val applied = join(root, "_batches", batchId.toString, "_APPLIED")
    if (!fs.exists(applied)) {
      // an unapplied batch must sit ABOVE the compaction horizon: a
      // replay below it cannot re-probe the pre-batch state (its own
      // rows are folded into the generation) — that only happens when
      // a checkpoint older than the last compaction is restored
      val hz = horizon(spark, root)
      require(hz < batchId,
        s"batch $batchId has no _APPLIED marker but the index is " +
          s"compacted through $hz: an uncommitted batch below the " +
          s"compaction horizon cannot replay — restore a checkpoint at " +
          s"or above the horizon, or rebuild the index")
      val idT = batch.schema(idCol).dataType
      val matchSchema = StructType(Seq(StructField("new_id", idT),
        StructField("old_id", idT), StructField("inter", LongType),
        StructField("un", LongType), StructField("jac", DoubleType)))
      // the probe reads ONLY sealed prior state, by explicit path —
      // the committed generation plus post-horizon batch directories
      // below this id; partition discovery must not touch this id's
      // own (possibly half-written, pre-crash) directory
      val prior = readMerged(spark, root, "state", root, Some(batchId))
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
        .parquet(join(root, "_matches", s"ingest_batch=$batchId").toString)
      Dedup.prepareNearDupIndex(batch, idCol, textCol, ngram, numHashes, seed)
        .write.mode("overwrite")
        .parquet(join(root, s"ingest_batch=$batchId").toString)
      fs.create(applied, true).close()
    }
    matchesOf(spark, root, batchId)
  }

  /** Batch `batchId`'s committed match set `(new_id, old_id, inter,
    * un, jac)` — from its per-batch directory while it is in the
    * post-compaction tail, from the generation after it is folded.
    */
  def matchesOf(spark: SparkSession, root: String, batchId: Long): DataFrame = {
    val dir = join(root, "_matches", s"ingest_batch=$batchId")
    if (horizon(spark, root) < batchId || fsOf(spark, root).exists(dir))
      spark.read.parquet(dir.toString)
    else {
      val (_, _, p) = committedGen(spark, root).get
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
    val frames = readMerged(spark, root, "matches",
      join(root, "_matches").toString, None)
    require(frames.nonEmpty, s"no committed batches under $root")
    frames.reduce(_.unionByName(_))
  }

  /** The standing per-document index state across all committed
    * batches: `(idCol, shingles, sig, ingest_batch)` with
    * `ingest_batch` long. Filtered like [[allMatches]].
    */
  def state(spark: SparkSession, root: String): DataFrame = {
    val frames = readMerged(spark, root, "state", root, None)
    require(frames.nonEmpty, s"no committed batches under $root")
    frames.reduce(_.unionByName(_))
  }
}
