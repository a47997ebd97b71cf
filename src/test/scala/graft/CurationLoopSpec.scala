package graft

import org.apache.spark.sql.functions._

import graft.sinks.{DedupIndexSink, IncrementalAgg, QuantileSink}
import graft.streaming.CurationLoop

/** [[graft.streaming.CurationLoop]] — the composed single-writer
  * curation loop: one `foreachBatch` feeding the dedup index, the
  * quantile table, and the stats rollup. Invariants: the streamed
  * composition equals the sequential batch twin on ALL THREE sinks,
  * and a crash at any between-sink point replays convergently (each
  * sink skips or redoes on its own `_APPLIED` marker).
  */
class CurationLoopSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private val sentence =
    "the quick brown fox jumps over the lazy dog while seven wizards " +
    "brew strong potions behind the old stone wall tonight"
  private val other =
    "completely different material about spark catalyst optimizer rules " +
    "and tungsten codegen stages that shares nothing with the fox story"

  // three "days" of documents: day d carries ids d0..; doc 20 duplicates
  // doc 10 across days, 31/32 duplicate each other intra-day; `quality`
  // is the numeric metric both numeric sinks fold
  private val docs = Seq(
    (10L, "en", sentence, 0.91), (11L, "en", other, 0.55),
    (12L, "de", "kurzer text hier", 0.30),
    (20L, "en", sentence, 0.88), (21L, "de", other + " tail", 0.62),
    (30L, "en", sentence, 0.97), (31L, "de", "alpha " + other, 0.41),
    (32L, "de", "alpha " + other, 0.44))
    .toDF("doc_id", "lang", "text", "quality")
  private def day(d: Long) = docs.filter(floor(col("doc_id") / 10) - 1 === d)

  private def runLoop(root: String, ids: Seq[Long] = Seq(0L, 1L, 2L)): Unit =
    ids.foreach { d =>
      CurationLoop(spark, day(d), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", d)
    }

  private def fingerprint(root: String): (Set[(Long, Long)],
      Set[(String, Long, Long, Double)], Set[(String, Long, Double)]) = (
    DedupIndexSink.allMatches(spark, CurationLoop.dedupRoot(root))
      .select(col("new_id"), col("old_id")).as[(Long, Long)].collect().toSet,
    QuantileSink.quantiles(spark, CurationLoop.quantRoot(root),
        Seq("lang"), Seq(50, 90))
      .as[(String, Long, Long, Double)].collect().toSet,
    IncrementalAgg.read(spark, CurationLoop.statsRoot(root))
      .select(col("lang"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet)

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"curation-$tag").toString + "/lake"

  test("streamed composition ≡ sequential batch twin on all three sinks") {
    val streamRoot = freshRoot("stream")
    val batchRoot = freshRoot("twin")
    runLoop(batchRoot)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Double)]
    val q = CurationLoop.writer(
        input.toDF().toDF("doc_id", "lang", "text", "quality"),
        streamRoot, freshRoot("ck"), "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality",
        availableNow = false, interval = "1 second")
      .start()
    val byDay = docs.as[(Long, String, String, Double)].collect()
      .groupBy(r => r._1 / 10 - 1)
    (0L to 2L).foreach { d => input.addData(byDay(d).toSeq); q.processAllAvailable() }
    q.stop()
    assert(fingerprint(streamRoot) === fingerprint(batchRoot))
    // and the content itself is right: the planted dup chains fired,
    // both langs hold quantile + stats state
    val (m, quant, stats) = fingerprint(streamRoot)
    assert(m((20L, 10L)) && m((30L, 20L)) && m((32L, 31L)))
    assert(quant.map(_._1) === Set("en", "de"))
    assert(stats === Set(("en", 4L, 3.31), ("de", 4L, 1.77)))
  }

  test("writer with compactEvery folds the index mid-stream; readers identical to the uncompacted twin") {
    val streamRoot = freshRoot("stream-compact")
    val batchRoot = freshRoot("twin-plain")
    runLoop(batchRoot)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Double)]
    val q = CurationLoop.writer(
        input.toDF().toDF("doc_id", "lang", "text", "quality"),
        streamRoot, freshRoot("ck2"), "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality",
        availableNow = false, interval = "1 second", compactEvery = 2)
      .start()
    val byDay = docs.as[(Long, String, String, Double)].collect()
      .groupBy(r => r._1 / 10 - 1)
    (0L to 2L).foreach { d => input.addData(byDay(d).toSeq); q.processAllAvailable() }
    q.stop()
    // batch ids 0..2 with compactEvery = 2 → one fold after batch 1:
    // a committed generation exists and batches 0-1's dirs are gone
    val fs = new org.apache.hadoop.fs.Path(streamRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen0 = new org.apache.hadoop.fs.Path(
      CurationLoop.dedupRoot(streamRoot), "_gen/0/_COMMITTED")
    assert(fs.exists(gen0), "compactEvery must have folded a generation")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      CurationLoop.dedupRoot(streamRoot), "ingest_batch=0")))
    // every reader sees the identical state the never-compacted twin has
    assert(fingerprint(streamRoot) === fingerprint(batchRoot))
  }

  test("crash between sinks: dedup committed, numeric sinks not — replay converges") {
    val root = freshRoot("crash1")
    val twin = freshRoot("crash1t")
    runLoop(twin)
    runLoop(root, Seq(0L, 1L))
    // batch 2 crashes after sink 1 (dedup) committed: only the dedup
    // maintain ran
    DedupIndexSink.maintain(spark, day(2L), CurationLoop.dedupRoot(root),
      "doc_id", "text", 2L)
    // the restart re-delivers batch 2 through the full loop
    CurationLoop(spark, day(2L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 2L)
    assert(fingerprint(root) === fingerprint(twin))
  }

  test("crash between sinks: dedup + quantiles committed, stats not — replay converges") {
    val root = freshRoot("crash2")
    val twin = freshRoot("crash2t")
    runLoop(twin)
    runLoop(root, Seq(0L, 1L))
    DedupIndexSink.maintain(spark, day(2L), CurationLoop.dedupRoot(root),
      "doc_id", "text", 2L)
    QuantileSink.maintain(spark, day(2L), CurationLoop.quantRoot(root),
      Seq("lang"), Seq("lang"), "quality", batchId = Some(2L))
    CurationLoop(spark, day(2L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 2L)
    assert(fingerprint(root) === fingerprint(twin))
  }

  test("CurationMain drains a directory of JSON documents into the three sinks") {
    // the CLI path end-to-end: day files land in a dir, one drain run
    // folds them through the composed loop; state equals the batch twin
    val landing = java.nio.file.Files.createTempDirectory("curmain-in").toString
    val root = freshRoot("curmain")
    val twin = freshRoot("curmaint")
    runLoop(twin)
    val byDay = docs.as[(Long, String, String, Double)].collect()
      .groupBy(r => r._1 / 10 - 1)
    (0L to 2L).foreach { d =>
      val json = byDay(d).map { case (id, lang, text, q) =>
        s"""{"doc_id":$id,"lang":"$lang","text":"$text","quality":$q}"""
      }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$landing/day$d.json"), json)
    }
    val q = graft.streaming.CurationMain.startQuery(spark, Map(
      "source" -> s"dir:$landing", "root" -> root,
      "checkpoint" -> freshRoot("curmain-ck"), "mode" -> "drain"))
    q.awaitTermination()
    // a drain folds everything available — possibly as ONE batch, so
    // compare against a single-batch twin when the ids differ: the
    // INVARIANT is the content of all three sinks, not the batch count
    val single = freshRoot("curmains")
    CurationLoop(spark, docs, single, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 0L)
    val got = fingerprint(root)
    assert(got === fingerprint(twin) || got === fingerprint(single),
      "drained state must equal a batch twin (3-day or single-batch)")
    // and the numeric sinks are batch-split-invariant, so those two
    // components must agree with BOTH twins regardless
    assert(got._2 === fingerprint(twin)._2 && got._3 === fingerprint(twin)._3)
  }

  test("CurationMain passes the lake/cleaner/vocab/optimize knobs through") {
    val landing = java.nio.file.Files.createTempDirectory("curopt-in").toString
    val root = freshRoot("curopt")
    val byDay = docs.as[(Long, String, String, Double)].collect()
      .groupBy(r => r._1 / 10 - 1)
    (0L to 2L).foreach { d =>
      val json = byDay(d).map { case (id, lang, text, q) =>
        s"""{"doc_id":$id,"lang":"$lang","text":"$text","quality":$q}"""
      }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$landing/day$d.json"), json)
    }
    val q = graft.streaming.CurationMain.startQuery(spark, Map(
      "source" -> s"dir:$landing", "root" -> root,
      "checkpoint" -> freshRoot("curopt-ck"), "mode" -> "drain",
      "lang" -> "lang", "lake" -> "1", "cleanlines" -> "true",
      "optimizeevery" -> "1"))
    q.awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // all four optional pieces materialized: vocabulary, line index,
    // lake, and (optimizeevery=1) a committed lake generation
    assert(new java.io.File(CurationLoop.vocabRoot(root)).exists)
    assert(new java.io.File(CurationLoop.lineRoot(root)).exists)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      CurationLoop.lakeRoot(root), "_gen/0/_COMMITTED")),
      "optimizeevery must have folded a committed generation")
    // the lake landed CLEANED text: the sentence line survives exactly
    // once corpus-wide (whatever batching the drain chose, keep-first
    // leaves one copy), and every document row is present
    val rows = CurationLoop.lake(spark, root)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    assert(rows.length === 8)
    assert(rows.count(_._2.contains(sentence)) === 1,
      "the cleaner must leave exactly one copy of the duplicated line")
  }

  test("full-loop replay of a committed batch id is a no-op") {
    val root = freshRoot("noop")
    runLoop(root)
    val before = fingerprint(root)
    CurationLoop(spark, day(1L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 1L)
    assert(fingerprint(root) === before)
  }

  test("langCol adds the vocabulary as a fourth exactly-once sink; default leaves no vocab dir") {
    // default (q204) path: the three-sink layout only
    val plain = freshRoot("vocab-off")
    runLoop(plain)
    assert(!new java.io.File(CurationLoop.vocabRoot(plain)).exists,
      "no vocabulary table unless langCol is passed")

    // four-sink loop: vocabulary equals the direct-maintain twin, and
    // replaying a committed id leaves all FOUR tables byte-identical
    val root = freshRoot("vocab-on")
    Seq(0L, 1L, 2L).foreach { d =>
      CurationLoop(spark, day(d), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", d, langCol = Some("lang"))
    }
    val twin = freshRoot("vocab-twin") + "/v"
    Seq(0L, 1L, 2L).foreach { d =>
      graft.sinks.VocabSink.maintain(spark, day(d), twin, "lang", "text", d)
    }
    def counts(path: String) =
      graft.sinks.VocabSink.read(spark, path)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    assert(counts(CurationLoop.vocabRoot(root)) === counts(twin))
    val before = (fingerprint(root), counts(CurationLoop.vocabRoot(root)))
    CurationLoop(spark, day(2L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 2L, langCol = Some("lang"))
    assert((fingerprint(root), counts(CurationLoop.vocabRoot(root))) === before,
      "replaying a committed id must not touch any of the four tables")
  }

  test("optimizeLake folds committed batches into one global generation; readers identical throughout") {
    val root = freshRoot("lake-opt")
    Seq(0L, 1L, 2L).foreach { d =>
      CurationLoop(spark, day(d), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", d, lakeFiles = 1)
    }
    def lakeRows() = CurationLoop.lake(spark, root)
      .select(col("ingest_batch"), col("doc_id"), col("lang"),
        col("text"), col("quality"))
      .as[(Long, Long, String, String, Double)].collect().toSet
    val before = lakeRows()

    // a half-written (uncommitted) generation is invisible
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    day(0L).write.mode("overwrite").parquet(
      CurationLoop.lakeRoot(root) + "/_gen/99/data")
    assert(lakeRows() === before,
      "a generation without _COMMITTED must never surface")

    // the optimize pass: same rows, one committed generation, batch
    // dirs folded away (and the crashed gen 99 swept)
    assert(CurationLoop.optimizeLake(spark, root, "doc_id", "text",
      nFiles = 1) === 2L)
    assert(lakeRows() === before, "the fold is pure data movement")
    val lr = CurationLoop.lakeRoot(root)
    assert(fs.exists(new org.apache.hadoop.fs.Path(lr, "_gen/0/_COMMITTED")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lr, "ingest_batch=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lr, "_gen/99")),
      "the sweep must remove a crashed prior pass")
    // cross-batch near-dups are now GLOBALLY adjacent: docs 10/20/30
    // (same text, three different batches) land consecutively
    val ordered = sp.read.parquet(s"$lr/_gen/0/data")
      .select(col("doc_id")).as[Long].collect().toSeq
    val pos = Seq(10L, 20L, 30L).map(ordered.indexOf).sorted
    assert(pos.last - pos.head === 2,
      s"identical docs from three batches must be row-adjacent, got $ordered")

    // a replay of a FOLDED id still short-circuits (markers are kept)
    CurationLoop(spark, day(1L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 1L, lakeFiles = 1)
    assert(lakeRows() === before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lr, "ingest_batch=1")),
      "a folded id's replay must not rewrite its batch directory")

    // post-optimize appends land as batch dirs above the horizon and
    // read alongside the generation; a second pass folds them in
    CurationLoop(spark, day(2L).withColumn("doc_id", col("doc_id") + 100),
      root, "doc_id", "text", Seq("lang"), Seq("lang"), "quality", 3L,
      lakeFiles = 1)
    val withNew = lakeRows()
    assert(withNew.size === before.size + 3)
    assert(CurationLoop.optimizeLake(spark, root, "doc_id", "text",
      nFiles = 1) === 3L)
    assert(lakeRows() === withNew, "the second fold is pure data movement")
    assert(fs.exists(new org.apache.hadoop.fs.Path(lr, "_gen/1/_COMMITTED")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lr, "_gen/0")),
      "the superseded generation is deleted after the commit")

    // an UNCOMMITTED batch below the optimize horizon is rejected
    // loudly (a checkpoint restored from before the fold)
    fs.delete(new org.apache.hadoop.fs.Path(lr, "_batches/2"), true)
    val ex = intercept[IllegalArgumentException] {
      CurationLoop(spark, day(2L), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", 2L, lakeFiles = 1)
    }
    assert(ex.getMessage.contains("optimized through"))
  }

  test("optimizeLake crash matrix: every protocol point converges") {
    import org.apache.hadoop.fs.Path
    val root = freshRoot("lake-crash")
    Seq(0L, 1L, 2L).foreach { d =>
      CurationLoop(spark, day(d), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", d, lakeFiles = 1)
    }
    def lakeRows() = CurationLoop.lake(spark, root)
      .select(col("ingest_batch"), col("doc_id"), col("lang"),
        col("text"), col("quality"))
      .as[(Long, Long, String, String, Double)].collect().toSet
    val before = lakeRows()
    val lr = CurationLoop.lakeRoot(root)
    val fs = new Path(lr).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // crash BEFORE commit: generation data + manifest written, no
    // _COMMITTED — readers ignore it entirely, the retry commits it
    CurationLoop.lake(spark, root).write.mode("overwrite")
      .parquet(lr + "/_gen/0/data")
    val mf = fs.create(new Path(lr, "_gen/0/_MANIFEST"), true)
    mf.write("max_id\t2\n".getBytes("UTF-8")); mf.close()
    assert(lakeRows() === before, "uncommitted generation must be invisible")
    assert(CurationLoop.optimizeLake(spark, root, "doc_id", "text",
      nFiles = 1) === 2L, "retry commits")
    assert(fs.exists(new Path(lr, "_gen/0/_COMMITTED")))
    assert(lakeRows() === before)
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(lr, "_gen/0/_MANIFEST")), "UTF-8") ===
      "max_id\t2\nfolded\t0\nfolded\t1\nfolded\t2\n",
      "the committed manifest records the horizon and every folded id")

    // crash AFTER commit, mid-cleanup: a folded batch dir survives
    // below the horizon — readers exclude it by id, next pass sweeps it
    val leftover = new Path(lr, "ingest_batch=1")
    CurationLoop.lake(spark, root).filter(col("ingest_batch") === 1L)
      .drop("ingest_batch").write.mode("overwrite").parquet(leftover.toString)
    assert(lakeRows() === before, "sub-horizon leftovers must be invisible")
    assert(CurationLoop.optimizeLake(spark, root, "doc_id", "text",
      nFiles = 1) === 2L) // no new batches
    assert(!fs.exists(leftover), "the next pass must sweep pre-cleanup leftovers")
    assert(lakeRows() === before)
  }

  test("a second checkpoint draining into one root fails fast and leaves the root unchanged") {
    val root = freshRoot("two-ck")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val byDay = docs.as[(Long, String, String, Double)].collect()
      .groupBy(r => r._1 / 10 - 1)
    def start(d: Long) = {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, Double)]
      input.addData(byDay(d).toSeq)
      CurationLoop.writer(
          input.toDF().toDF("doc_id", "lang", "text", "quality"),
          root, freshRoot(s"two-ck-$d"), "doc_id", "text",
          Seq("lang"), Seq("lang"), "quality",
          availableNow = false, interval = "1 second", lakeFiles = 1)
        .start()
    }
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).map(f => (f.getPath, f.length,
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))))
    }
    val q1 = start(0L)
    try q1.processAllAvailable() finally q1.stop()
    val before = files()

    // the second checkpoint numbers its first batch 0 again: on the
    // first checkpoint's markers every sink would skip it silently
    val q2 = start(1L)
    val failure = try scala.util.Try(q2.processAllAvailable()).failed.toOption
      finally q2.stop()
    assert(failure.isDefined, "the second drain must fail, but its documents " +
      "were silently skipped: the lake holds " + CurationLoop.lake(spark, root)
        .select(col("doc_id")).as[Long].collect().sorted.mkString(","))
    val msg = Iterator.iterate(failure.get)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains(q1.id.toString) && msg.contains(q2.id.toString),
      s"the failure must name both query ids, got: $msg")
    assert(msg.contains("checkpoint"), s"the failure must name the remedy, got: $msg")
    assert(files() === before, "the failed drain must leave the root unchanged")
  }

  test("cleanLines adds the line filter as a sixth exactly-once sink; the lake lands cleaned text") {
    // default path: no line index directory at all
    val plain = freshRoot("lines-off")
    runLoop(plain)
    assert(!new java.io.File(CurationLoop.lineRoot(plain)).exists,
      "no line index unless cleanLines = true is passed")

    // six-sink loop (vocab + lake + line filter on): the lake's text is
    // the CLEANED text — equal to the one-shot corpus-wide line dedup
    // on the concatenated days (batch order = id order here, so the
    // streamed keep-first composes to the same global keep-first)
    val root = freshRoot("lines-on")
    Seq(0L, 1L, 2L).foreach { d =>
      CurationLoop(spark, day(d), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", d, langCol = Some("lang"),
        lakeFiles = 1, cleanLines = true)
    }
    def lakeText() = CurationLoop.lake(spark, root)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val oneShot = graft.operators.Dedup.dedupLines(docs, "doc_id", "text")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(lakeText() === oneShot,
      "the lake must land the line-cleaned text, not the raw batch")
    // the cleaner touches ONLY the lake: dedup index, quantiles, and
    // stats still see the raw batch and equal the plain twin
    val rawTwin = freshRoot("lines-raw")
    runLoop(rawTwin)
    assert(fingerprint(root) === fingerprint(rawTwin),
      "the other sinks must keep seeing the raw batch")

    // replay of a committed id is a no-op across ALL SIX tables —
    // lake checked at the byte level (its files must not be rewritten)
    def lineHashes() = graft.sinks.LineDedupSink
      .read(spark, CurationLoop.lineRoot(root))
      .select(col("h")).as[Long].collect().toSet
    def vocabCounts() = graft.sinks.VocabSink
      .read(spark, CurationLoop.vocabRoot(root))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    def lakeBytes() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(CurationLoop.lakeRoot(root)))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length,
          java.util.Arrays.hashCode(
            java.nio.file.Files.readAllBytes(f.toPath))))
    }
    val before = (fingerprint(root), lineHashes(), vocabCounts(), lakeBytes())
    CurationLoop(spark, day(1L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 1L, langCol = Some("lang"),
      lakeFiles = 1, cleanLines = true)
    assert((fingerprint(root), lineHashes(), vocabCounts(), lakeBytes())
      === before,
      "replaying a committed id must leave all six tables untouched")
  }

  test("lakeFiles adds the similarity-ordered document lake as a fifth sink") {
    // default path: no lake directory at all
    val plain = freshRoot("lake-off")
    runLoop(plain)
    assert(!new java.io.File(CurationLoop.lakeRoot(plain)).exists,
      "no document lake unless lakeFiles > 0 is passed")

    // five-sink loop: the lake reads back exactly the source rows with
    // their batch ids (set identity — order is a storage property)
    val root = freshRoot("lake-on")
    Seq(0L, 1L, 2L).foreach { d =>
      CurationLoop(spark, day(d), root, "doc_id", "text",
        Seq("lang"), Seq("lang"), "quality", d, lakeFiles = 1)
    }
    def lakeRows() = CurationLoop.lake(spark, root)
      .select(col("ingest_batch").cast("long"), col("doc_id"), col("lang"),
        col("text"), col("quality"))
      .as[(Long, Long, String, String, Double)].collect().toSet
    val expected = Seq(0L, 1L, 2L).flatMap { d =>
      day(d).as[(Long, String, String, Double)].collect()
        .map { case (id, lang, text, q) => (d, id, lang, text, q) }
    }.toSet
    assert(lakeRows() === expected, "lake read-back must equal the source")

    // replay of a committed id is a byte-level no-op: same file names,
    // same lengths, same content hashes
    def bytes() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(CurationLoop.lakeRoot(root)))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length,
          java.util.Arrays.hashCode(
            java.nio.file.Files.readAllBytes(f.toPath))))
    }
    val before = bytes()
    CurationLoop(spark, day(1L), root, "doc_id", "text",
      Seq("lang"), Seq("lang"), "quality", 1L, lakeFiles = 1)
    assert(bytes() === before,
      "replaying a committed id must leave the lake byte-identical")

    // within a batch, near-identical documents are adjacent: doc 31/32
    // (same normalized prefix) must land consecutively in batch 2's file
    val b2 = sp.read.parquet(
      new org.apache.hadoop.fs.Path(CurationLoop.lakeRoot(root),
        "ingest_batch=2").toString)
      .select(col("doc_id")).as[Long].collect().toSeq
    val i31 = b2.indexOf(31L); val i32 = b2.indexOf(32L)
    assert(math.abs(i31 - i32) === 1,
      s"near-dup docs must be row-adjacent in the ordered lake, got $b2")
  }
}
