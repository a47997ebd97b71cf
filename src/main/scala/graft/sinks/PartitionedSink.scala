package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's sink layer (SURVEY.md §2 O16–O21), collapsed into one
  * declarative partitioned write.
  *
  * The reference hand-builds `bucket/{entity}/year={y}/month={m}/...csv`
  * paths in a months × keys driver loop (`df_manager.py:64-112`) and
  * accumulates by read-modify-writing whole CSV objects (O19). Here the
  * same table semantics are a single `partitionBy(entity, year, month)`
  * append — Hive-style directories (which the reference was imitating by
  * hand), no driver-side loop, no read-modify-write, and partition
  * pruning on read for free.
  *
  * Scale: the write shuffles nothing (partitionBy is a per-task fan-out);
  * for low-cardinality entity×month layouts at 100 TB, repartition on the
  * partition columns first to avoid small-file explosion
  * (`repartitionByPartitionColumns`).
  */
object PartitionedSink {

  val defaultPartitionCols: Seq[String] = Seq("entity", "year", "month")

  /** Append a batch to a partitioned table. `format` is "parquet" for the
    * engine's own tables; "csv" is the reference-compat sink (O20) — CSV
    * cannot represent array/struct/map columns, so those are dropped for
    * it (the vision pipeline carries `locations_json` precisely for this
    * sink, mirroring the reference's stringification, `run.py:46,51`).
    */
  def appendPartitioned(df: DataFrame, root: String,
                        partitionCols: Seq[String] = defaultPartitionCols,
                        format: String = "parquet"): Unit = {
    val out = if (format == "csv") dropComplexColumns(df) else df
    out.write.mode("append").partitionBy(partitionCols: _*).format(format).save(root)
  }

  /** Remove columns CSV cannot serialize (arrays, structs, maps). */
  def dropComplexColumns(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val complex = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[StructType] ||
                f.dataType.isInstanceOf[MapType] => f.name
    }
    df.drop(complex.toIndexedSeq: _*)
  }

  /** One output file per (partition-tuple) instead of one per task —
    * the small-file guard for wide-task / low-cardinality-partition
    * writes. A shuffle on the partition columns, then partitionBy.
    */
  def repartitionByPartitionColumns(df: DataFrame,
                                    partitionCols: Seq[String] = defaultPartitionCols): DataFrame =
    df.repartition(partitionCols.map(col): _*)

  /** O19 file-count parity — compaction as an explicit MAINTENANCE pass.
    *
    * The reference keeps exactly one CSV per (entity, year, month) by
    * read-modify-writing the whole object on every flush
    * (`df_manager.py:85-90`) — O(files × batches) rewritten bytes, the
    * part of its design that scales worst. A streaming append sink makes
    * the opposite trade: cheap appends, files accumulating per partition.
    * This pass closes the gap on the reader's terms: each Hive leaf
    * partition with more data files than `ceil(bytes / targetBytes)` is
    * rewritten into that many files (one, for reference-sized partitions).
    * Run it off the hot path (the reference's own CRON cadence), not per
    * batch.
    *
    * Leaves are independent, so the per-leaf rewrites fan out over a
    * fixed-size driver thread pool (`parallelism` concurrent Spark jobs —
    * at 10⁴–10⁵ leaves, serialized job submission would dominate wall
    * clock; each leaf's rewrite additionally parallelizes across the
    * cluster). Every queued leaf runs to completion (or failure) before
    * the pass returns; if any leaf failed, the first failure is rethrown
    * AFTER the others finish; an interrupt skips the leaves not yet
    * started and still waits for the running rewrites ([[AwaitAll]]) —
    * no compaction job keeps running detached past this method's
    * return. Completed leaves stay compacted (the pass is idempotent —
    * rerun it).
    *
    * `format` must match what [[appendPartitioned]] wrote: parquet/orc
    * reads merge schemas across files (the dead-letter migration path); csv
    * reads are header-less all-string (no type inference — values
    * round-trip semantically under Spark's default CSV options, NOT
    * byte-verbatim: empty fields are read as null and rewritten as
    * empty, conflating the two, and quoting/escaping may be
    * re-normalized; all files in a leaf must share column order/count,
    * since header-less CSV is stitched by position).
    *
    * Crash safety (documented, not transactional): the swap is a
    * five-step protocol with an explicit commit point, so recovery never
    * has to guess which side of the swap a crash landed on.
    *
    *   1. new files land in a `_compact_tmp` subdir;
    *   2. `_compact_old/_MANIFEST` is written, listing the names of the
    *      originals about to be parked and of the tmp files about to be
    *      swapped in — BEFORE any rename moves;
    *   3. originals are renamed (parked) into `_compact_old`;
    *   4. tmp files are renamed into the leaf;
    *   5. `_compact_old/_COMMITTED` is written — the commit point — and
    *      only then are `_compact_tmp` and `_compact_old` deleted.
    *
    * `_`-prefixed dirs are invisible to Spark/Hive readers, so a reader
    * that races a crash sees either the old file set, the new one, or a
    * transient mix during steps 3–4 — never the doubled rows of both.
    * The next compaction pass SELF-HEALS a crashed leaf before touching
    * it, deciding solely by the marker: `_COMMITTED` present means the
    * swap-in finished, so the parked copies are dropped; absent means
    * the swap must be rolled back — any visible file named in the
    * manifest's swap-in list is a partial swap-in and is deleted, every
    * parked original is restored, and only then are the `_compact_*`
    * dirs removed. A `_compact_old` with no `_MANIFEST` predates step 2,
    * so nothing was parked and it is simply dropped; a lone
    * `_compact_tmp` is always re-derivable and discarded. Recovery
    * itself is idempotent (restores and deletes re-run safely). True
    * ACID swaps belong to a table format (Delta/Iceberg), whose jars
    * this offline container cannot resolve; this pass is the
    * format-free equivalent for plain lakes.
    *
    * Returns the number of leaf partitions rewritten.
    */
  def compactPartitions(spark: SparkSession, root: String,
                        targetBytes: Long = 128L * 1024 * 1024,
                        format: String = "parquet",
                        parallelism: Int = 8): Int = {
    require(Set("parquet", "orc", "csv")(format),
      s"compactPartitions supports parquet, orc and csv lakes, got: $format")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def isHidden(p: Path): Boolean =
      p.getName.startsWith("_") || p.getName.startsWith(".")
    def leaves(p: Path): Seq[Path] = {
      val all = fs.listStatus(p)
      val entries = all.filterNot(s => isHidden(s.getPath))
      // a crashed pass can leave a leaf whose ONLY content is the parked
      // `_compact_old` dir (every visible file moved in, none swapped back);
      // such a dir has no visible entries but still needs recovery
      val crashed = all.exists(s => s.isDirectory &&
        (s.getPath.getName == "_compact_old" || s.getPath.getName == "_compact_tmp"))
      val here = if (entries.exists(_.isFile) || crashed) Seq(p) else Seq.empty
      here ++ entries.filter(_.isDirectory).flatMap(s => leaves(s.getPath))
    }

    def visibleFiles(leaf: Path) =
      fs.listStatus(leaf).filter(s => s.isFile && !isHidden(s.getPath))

    // self-heal a leaf a previous pass crashed in (see scaladoc):
    // _COMMITTED decides; the manifest tells us exactly what to undo
    def recoverLeaf(leaf: Path): Unit = {
      val old = new Path(leaf, "_compact_old")
      val tmp = new Path(leaf, "_compact_tmp")
      if (fs.exists(old)) {
        val committed = fs.exists(new Path(old, "_COMMITTED"))
        val manifest  = new Path(old, "_MANIFEST")
        if (!committed && fs.exists(manifest)) {
          // crash between park and commit: roll the swap back
          val swapIn = SmallFiles.read(fs, manifest).linesIterator
            .collect { case s if s.startsWith("new\t") => s.stripPrefix("new\t") }
            .toSet
          visibleFiles(leaf).filter(f => swapIn(f.getPath.getName))
            .foreach(f => fs.delete(f.getPath, false))
          fs.listStatus(old)
            .filter(s => s.isFile && !isHidden(s.getPath))
            .foreach(f => fs.rename(f.getPath, new Path(leaf, f.getPath.getName)))
        } else if (!committed && visibleFiles(leaf).isEmpty) {
          // legacy (pre-manifest protocol) crash between park and swap-in:
          // the parked copies are the ONLY copy of the data — restore them
          // before cleanup, else upgrading deletes the leaf's rows for good
          fs.listStatus(old)
            .filter(s => s.isFile && !isHidden(s.getPath))
            .foreach(f => fs.rename(f.getPath, new Path(leaf, f.getPath.getName)))
        }
        // committed → parked copies are stale; no manifest + leaf visible →
        // nothing was ever parked (crash before step 2); rolled back → empty
        fs.delete(old, true)
      }
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }

    def compactLeaf(leaf: Path): Boolean = {
      recoverLeaf(leaf)
      val files = visibleFiles(leaf)
      val nOut = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if (files.length <= nOut) false
      else {
        val tmp = new Path(leaf, "_compact_tmp")
        val old = new Path(leaf, "_compact_old")
        // partition-column values live in the directory name, not the
        // files, so a leaf-local read/rewrite round-trips the data columns
        val data = format match {
          case "parquet" =>
            spark.read.option("mergeSchema", "true").parquet(leaf.toString)
          case "orc" =>
            spark.read.option("mergeSchema", "true").orc(leaf.toString)
          case "csv" =>
            spark.read.format("csv").load(leaf.toString)
        }
        data.coalesce(nOut).write.mode("overwrite").format(format).save(tmp.toString)
        val newFiles = fs.listStatus(tmp).filter(s => s.isFile && !isHidden(s.getPath))
        fs.mkdirs(old)
        // step 2: manifest first — recovery needs it to undo a partial swap
        SmallFiles.write(fs, new Path(old, "_MANIFEST"),
          (files.map(f => s"old\t${f.getPath.getName}") ++
           newFiles.map(f => s"new\t${f.getPath.getName}")).mkString("\n"))
        files.foreach(f => fs.rename(f.getPath, new Path(old, f.getPath.getName)))
        newFiles.foreach(nf => fs.rename(nf.getPath, new Path(leaf, nf.getPath.getName)))
        // step 5: the commit point — only now may the parked copies die
        SmallFiles.write(fs, new Path(old, "_COMMITTED"), "")
        fs.delete(tmp, true)
        fs.delete(old, true)
        true
      }
    }

    val allLeaves = leaves(rootPath)
    if (allLeaves.isEmpty) 0
    else {
      AwaitAll(math.min(parallelism, allLeaves.size))(
        allLeaves.map(leaf => () => compactLeaf(leaf))).count(identity)
    }
  }
}
