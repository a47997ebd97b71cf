package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._

/** The batch/generation commit protocol of the append-only tables: the
  * near-dup index ([[DedupIndexSink]]), the line index
  * ([[LineDedupSink]]) and the curation loop's document lake
  * ([[graft.streaming.CurationLoop]]). Every `_batches`, `_gen`,
  * `_MANIFEST`, `_COMMITTED` and `_QUERY_ID` path of those tables is
  * built here.
  *
  * Batches: batch `id` writes each sub table's
  * `<dirRoot>/ingest_batch=<id>/` (overwrite — idempotent per id), then
  * [[commit]]s with `root/_batches/<id>/_APPLIED`. A crashed batch may
  * leave data with no marker; readers never surface it, and the replay
  * (same id, same prior state) overwrites it. The markers are kept
  * forever (tiny, and the replay short-circuit checks one direct path —
  * never a listing), so a replay of an id that a generation has since
  * folded still skips.
  *
  * Generations ([[fold]]): generation `G` writes the folded rows under
  * `root/_gen/<G>/<sub>/` (overwrite — idempotent per G), then
  * `_gen/<G>/_MANIFEST` (the folded horizon), and commits with
  * `_gen/<G>/_COMMITTED`; only after the commit are the folded
  * per-batch directories and the previous generation deleted. Readers
  * decide solely by `_COMMITTED`: a crash before it leaves the old view
  * untouched (the half-written generation is invisible and the next
  * pass overwrites it); a crash after it, mid-cleanup, leaves per-batch
  * directories BELOW the committed horizon, which every reader excludes
  * by id and the next pass sweeps.
  *
  * All path arithmetic goes through hadoop [[Path]] — NEVER
  * `java.io.File` — so a scheme-qualified root (`s3a://bucket/x`,
  * `hdfs://nn/x`) survives joining: `File` would collapse the
  * `scheme://` double slash into `scheme:/`. Single-writer (the
  * `foreachBatch` serialization contract) is assumed throughout.
  */
private[graft] object BatchCommit {

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def join(root: String, segments: String*): Path =
    segments.foldLeft(new Path(root))((p, s) => new Path(p, s))

  def batchDir(dirRoot: String, id: Long): Path =
    join(dirRoot, s"ingest_batch=$id")

  /** Batch `id`'s commit marker, `root/_batches[/<query>]/<id>/_APPLIED`.
    * The append-only tables pass no `query`; [[IncrementalAgg.fold]]
    * keys its markers by the streaming query's id when it has one.
    */
  def marker(root: String, id: Long, query: Option[String] = None): Path =
    join(root, (Seq("_batches") ++ query ++ Seq(id.toString, "_APPLIED")): _*)

  /** Did batch `id` commit? One direct existence probe — never a
    * listing of `_batches`, so the cost tracks the caller's candidates,
    * not batch history.
    */
  def committed(fs: FileSystem, root: String, id: Long): Boolean =
    fs.exists(marker(root, id))

  def commit(fs: FileSystem, root: String, id: Long): Unit =
    fs.create(marker(root, id), true).close()

  /** A root keeps the streaming query that first drained into it. The
    * markers are keyed by batch id alone, and a new checkpoint numbers
    * its batches from 0 again, so every one of them would skip as
    * already applied. The first batch records the streaming query's id
    * (the one the checkpoint's `metadata` keeps across restarts) in
    * `root/_QUERY_ID`; a batch of any other query fails before it
    * writes. Outside a streaming query (`StreamExecution.QUERY_ID_KEY`
    * unset) it does nothing: batch callers number their own batches.
    */
  def requireOwner(spark: SparkSession, root: String): Unit = {
    val query = spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
    if (query != null) {
      val file = new Path(root, "_QUERY_ID")
      val fs = fsOf(spark, root)
      if (!fs.exists(file)) SmallFiles.write(fs, file, query)
      else {
        val owner = SmallFiles.read(fs, file)
        require(owner == query,
          s"$root was drained by streaming query $owner, not by query " +
            s"$query: a new checkpoint restarts its batch ids at 0 and " +
            s"every batch would skip as already applied — restart from " +
            s"the checkpoint of query $owner, or drain into a fresh root")
      }
    }
  }

  /** An uncommitted batch must sit ABOVE the folded horizon: a replay
    * below it cannot re-read its pre-batch state (its own rows are
    * folded into the generation, and its directory would be invisible
    * forever). Only a checkpoint restored from before the fold produces
    * one.
    */
  def requireReplayable(spark: SparkSession, root: String, id: Long,
                        table: String, foldedBy: String = "compacted"): Unit = {
    val hz = horizon(spark, root)
    require(hz < id,
      s"batch $id has no _APPLIED marker but the $table is $foldedBy " +
        s"through $hz: an uncommitted batch below the compaction horizon " +
        s"cannot replay — restore a checkpoint at or above the horizon, " +
        s"or rebuild the $table")
  }

  private def batchDirs(fs: FileSystem, dir: String): Seq[(Long, String)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("ingest_batch="))
      .map(q => (q.getName.stripPrefix("ingest_batch=").toLong, q.toString))
      .sortBy(_._1)
  }

  /** The current COMMITTED generation, if any: `(gen, maxFoldedId,
    * dir)`. The committed generation with the largest id wins (older
    * committed ones are pre-cleanup leftovers of the pass that
    * superseded them).
    */
  def generation(spark: SparkSession, root: String): Option[(Long, Long, Path)] = {
    val base = join(root, "_gen")
    val fs = fsOf(spark, root)
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
            s"generation $g under $root has no max_id in its manifest"))
        (g, maxId, p)
      }
  }

  /** Every batch id ≤ this is folded into the committed generation (-1
    * when none exists).
    */
  def horizon(spark: SparkSession, root: String): Long =
    generation(spark, root).map(_._2).getOrElse(-1L)

  private def normBatch(df: DataFrame): DataFrame =
    df.withColumn("ingest_batch", col("ingest_batch").cast("long"))

  /** The committed rows of one sub table: the generation's `sub` plus
    * the committed post-horizon directories under `dirRoot` with
    * `id < lt` (when bounded), `ingest_batch` normalized to long.
    */
  def read(spark: SparkSession, root: String, sub: String,
           dirRoot: String, lt: Option[Long]): Seq[DataFrame] = {
    val fs = fsOf(spark, root)
    val gen = generation(spark, root)
    val lo = gen.map(_._2).getOrElse(-1L)
    val tail = batchDirs(fs, dirRoot)
      .filter(d => d._1 > lo && lt.forall(d._1 < _))
      .filter(d => committed(fs, root, d._1))
    // a generation may lack a sub: fold skips a sub with nothing to
    // fold anywhere — treat missing as empty
    gen.toSeq.filter { case (_, _, p) => fs.exists(new Path(p, sub)) }
      .map { case (_, _, p) =>
        normBatch(spark.read.parquet(new Path(p, sub).toString))
          .filter(lt.map(col("ingest_batch") < _).getOrElse(lit(true)))
      } ++ (if (tail.isEmpty) Nil
            else Seq(normBatch(spark.read.option("basePath", dirRoot)
              .parquet(tail.map(_._2): _*))))
  }

  /** Writes one generation sub: the folded rows, the sub's path, and
    * the byte-sized file count (`ceil(source bytes / targetBytes)`,
    * measured only when called).
    */
  type SubWriter = (DataFrame, String, () => Int) => Unit

  /** The indexes' writer: byte-sized files in arbitrary order. */
  val bySize: SubWriter = (rows, path, nFiles) =>
    rows.repartition(nFiles()).write.mode("overwrite").parquet(path)

  /** Fold every committed batch with `id ≤ upTo` — plus the previous
    * generation — into generation `G + 1` of each `(sub, dirRoot)`
    * table, written by `write` (see the object doc for the crash
    * protocol). The first sub drives the tail selection; a sub with
    * nothing to fold anywhere is skipped. Pure data movement: readers
    * see the same rows before and after. Also sweeps the leftovers of a
    * crashed prior pass. Returns the committed horizon (-1 when nothing
    * has ever been folded).
    */
  def fold(spark: SparkSession, root: String, subs: Seq[(String, String)],
           upTo: Long, targetBytes: Long)(write: SubWriter): Long = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    require(subs.nonEmpty, "need at least one sub table")
    val fs = fsOf(spark, root)
    val gen = generation(spark, root)
    val lo = gen.map(_._2).getOrElse(-1L)

    // self-heal a crash that committed but never finished cleanup:
    // batch dirs at or below the horizon are folded already — sweep
    // them, and any generation other than the committed one
    subs.foreach { case (_, dirRoot) =>
      batchDirs(fs, dirRoot).filter(_._1 <= lo)
        .foreach(d => fs.delete(new Path(d._2), true))
    }
    val genBase = join(root, "_gen")
    if (fs.exists(genBase)) fs.listStatus(genBase).map(_.getPath)
      .filter(p => scala.util.Try(p.getName.toLong).toOption
        .exists(g => gen.forall(_._1 != g)))
      .foreach(p => fs.delete(p, true))

    val tails = subs.map { case (sub, dirRoot) =>
      (sub, dirRoot, batchDirs(fs, dirRoot)
        .filter(d => d._1 > lo && d._1 <= upTo)
        .filter(d => committed(fs, root, d._1)))
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
        lazy val nFiles = {
          val bytes = genSub.toSeq.map(gp =>
              fs.getContentSummary(new Path(gp._3, sub)).getLength) ++
            srcTail.map(d => fs.getContentSummary(new Path(d._2)).getLength)
          math.max(1L, (bytes.sum + targetBytes - 1) / targetBytes).toInt
        }
        write(frames.reduce(_.unionByName(_)), new Path(gDir, sub).toString,
          () => nFiles)
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
}
