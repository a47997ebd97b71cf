package graft

import org.apache.spark.sql.functions._
import graft.sinks.{BatchCommit, DedupIndexSink}

/** [[graft.sinks.DedupIndexSink]] — the self-maintaining streaming
  * dedup index: maintained matches equal the brute-force day-ordered
  * pair set, replay with a committed batch id is a no-op, a crash
  * between the data writes and the marker converges, and the real
  * foreachBatch wiring produces the identical index.
  */
class DedupIndexSinkSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  // three "days": day 1 doc 20 duplicates day 0 doc 10; day 2 doc 30
  // duplicates both; day 2 docs 31/32 duplicate EACH OTHER (intra-day);
  // the rest are noise. ~20 tokens so 3-gram Jaccard is decisive.
  private val sentence =
    "the quick brown fox jumps over the lazy dog while seven wizards " +
    "brew strong potions behind the old stone wall tonight"
  private val other =
    "completely different material about spark catalyst optimizer rules " +
    "and tungsten codegen stages that shares nothing with the fox story"
  private def day(id: Long): Long = id / 10 - 1
  private val rows = Seq(
    10L -> sentence, 11L -> other, 12L -> "short one here",
    20L -> sentence, 21L -> (other + " with a small tail change"),
    30L -> sentence, 31L -> ("alpha " + other), 32L -> ("alpha " + other))
    .toDF("doc_id", "text")

  private def runDays(root: String): Unit =
    (0L to 2L).foreach { d =>
      DedupIndexSink.maintain(spark,
        rows.filter(floor(col("doc_id") / 10) - 1 === d), root,
        "doc_id", "text", d)
    }

  private def matchSet(root: String): Set[(Long, Long)] =
    DedupIndexSink.allMatches(spark, root)
      .select(col("new_id"), col("old_id")).as[(Long, Long)]
      .collect().toSet

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"dedupsink-$tag").toString + "/idx"

  /** day-ordered brute force mirroring the q200 oracle: 3-gram word
    * shingles, exact Jaccard ≥ 7/10, pair (new, old) when day(new) >
    * day(old) or same-day with new > old. */
  private def brute(data: Seq[(Long, String)]): Set[(Long, Long)] = {
    def sh(t: String): Set[String] = {
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    (for {
      (a, ta) <- data; (b, tb) <- data
      if day(a) > day(b) || (day(a) == day(b) && a > b)
      inter = (sh(ta) & sh(tb)).size
      un = sh(ta).size + sh(tb).size - inter
      if un > 0 && inter * 10 >= un * 7
    } yield (a, b)).toSet
  }

  test("maintained matches = day-ordered brute force on the planted fixture") {
    val root = freshRoot("base")
    runDays(root)
    val got = matchSet(root)
    val want = brute(rows.as[(Long, String)].collect().toSeq)
    assert(got === want)
    // the planted duplicate chains really fired: the cross-day copy
    // family (10/20/30) and the intra-day identical pair (31/32)
    assert(got((20L, 10L)) && got((30L, 20L)) && got((32L, 31L)))
    // the standing state holds every document exactly once, text-free
    val st = DedupIndexSink.state(spark, root)
    assert(st.count() === 8)
    assert(st.columns.toSet === Set("ingest_batch", "doc_id", "shingles", "sig"))
  }

  test("replaying a committed batch id is a no-op: state and matches unchanged") {
    val root = freshRoot("replay")
    runDays(root)
    val (s0, m0) = (DedupIndexSink.state(spark, root).count(), matchSet(root))
    // replay day 1 (same rows, same id) — the marker must short-circuit
    val re = DedupIndexSink.maintain(spark,
      rows.filter(floor(col("doc_id") / 10) - 1 === 1L), root, "doc_id", "text", 1L)
    assert(re.select(col("new_id")).as[Long].collect().toSet === Set(20L, 21L))
    assert(DedupIndexSink.state(spark, root).count() === s0)
    assert(matchSet(root) === m0)
  }

  test("crash window: data written, marker missing — re-run converges bit-for-bit") {
    val root = freshRoot("crash")
    runDays(root)
    val m0 = matchSet(root)
    // simulate a crash after day 2's writes but before its commit:
    // delete the marker, leave both data directories in place
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_batches/2/_APPLIED"), false)
    DedupIndexSink.maintain(spark,
      rows.filter(floor(col("doc_id") / 10) - 1 === 2L), root, "doc_id", "text", 2L)
    assert(matchSet(root) === m0, "replayed fold must converge")
    assert(DedupIndexSink.state(spark, root).count() === 8)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_batches/2/_APPLIED")))
  }

  test("scheme-qualified roots survive path construction (s3a://, hdfs://)") {
    // the sink's whole point is an object-store lake root; java.io.File
    // would collapse "s3a://bucket" into "s3a:/bucket". Assert every
    // constructed path keeps its scheme + authority intact.
    assert(BatchCommit.join("s3a://bucket/idx", "_matches",
      "ingest_batch=5").toString === "s3a://bucket/idx/_matches/ingest_batch=5")
    assert(BatchCommit.join("s3a://bucket/idx", "_batches", "7",
      "_APPLIED").toString === "s3a://bucket/idx/_batches/7/_APPLIED")
    assert(BatchCommit.join("hdfs://nn:8020/lake/idx",
      "ingest_batch=0").toString === "hdfs://nn:8020/lake/idx/ingest_batch=0")
  }

  test("end-to-end against a scheme-qualified (file://) root") {
    // full maintain/allMatches/state loop with an explicit URI scheme on
    // the root — the closest runnable stand-in for an object-store root
    val root = "file://" + freshRoot("scheme")
    runDays(root)
    assert(matchSet(root) === brute(rows.as[(Long, String)].collect().toSeq))
    assert(DedupIndexSink.state(spark, root).count() === 8)
  }

  test("uncommitted (crashed) batch data never surfaces in allMatches/state") {
    val root = freshRoot("uncommitted")
    runDays(root)
    val m0 = matchSet(root)
    val s0 = DedupIndexSink.state(spark, root).count()
    // simulate a crash mid-batch-3: matches + state written, no marker
    val extra = Seq(40L -> sentence).toDF("doc_id", "text")
    graft.operators.Dedup.prepareNearDupIndex(extra, "doc_id", "text", 3, 128, 42L)
      .write.mode("overwrite")
      .parquet(BatchCommit.join(root, "ingest_batch=3").toString)
    extra.select(col("doc_id").as("new_id"), lit(10L).as("old_id"),
        lit(1L).as("inter"), lit(1L).as("un"), lit(1.0).as("jac"))
      .write.mode("overwrite")
      .parquet(BatchCommit.join(root, "_matches", "ingest_batch=3").toString)
    // readers must not see the half-committed batch
    assert(matchSet(root) === m0)
    assert(DedupIndexSink.state(spark, root).count() === s0)
    // the replay commits it, and only then it appears
    DedupIndexSink.maintain(spark, extra, root, "doc_id", "text", 3L)
    assert(matchSet(root).contains((40L, 30L)))
    assert(DedupIndexSink.state(spark, root).count() === s0 + 1)
  }

  test("compact: probe results and readers identical pre/post; probe reads ONE generation") {
    val root = freshRoot("compact")
    val twin = freshRoot("compact-twin")
    runDays(root); runDays(twin)
    val m0 = matchSet(root)
    val st0 = DedupIndexSink.state(spark, root)
      .select(col("ingest_batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(DedupIndexSink.compact(spark, root) === 2L)
    // identical rows through every reader
    assert(matchSet(root) === m0)
    assert(DedupIndexSink.state(spark, root)
      .select(col("ingest_batch"), col("doc_id"))
      .as[(Long, Long)].collect().toSet === st0)
    assert(DedupIndexSink.matchesOf(spark, root, 2L)
        .select(col("new_id")).as[Long].collect().toSet ===
      DedupIndexSink.matchesOf(spark, twin, 2L)
        .select(col("new_id")).as[Long].collect().toSet)
    // per-batch dirs folded away: the index root holds NO batch dirs
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("ingest_batch=")))
    // probing a NEW batch against the compacted index = against the
    // uncompacted twin, bit-identical
    val d3 = Seq(40L -> sentence, 41L -> "brand new unrelated words")
      .toDF("doc_id", "text")
    val a = DedupIndexSink.maintain(spark, d3, root, "doc_id", "text", 3L)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val b = DedupIndexSink.maintain(spark, d3, twin, "doc_id", "text", 3L)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(a === b && a.exists(_._1 == 40L))
    assert(matchSet(root) === matchSet(twin))
    // a second compact folds the tail batch into generation 1
    assert(DedupIndexSink.compact(spark, root) === 3L)
    assert(matchSet(root) === matchSet(twin))
    // replaying committed-but-folded id 2 short-circuits to its matches
    val re = DedupIndexSink.maintain(spark,
      rows.filter(floor(col("doc_id") / 10) - 1 === 2L), root,
      "doc_id", "text", 2L)
    assert(re.select(col("new_id")).as[Long].collect().toSet ===
      Set(30L, 31L, 32L))
  }

  test("compact crash matrix: every protocol point converges") {
    import org.apache.hadoop.fs.Path
    val root = freshRoot("compact-crash")
    runDays(root)
    val m0 = matchSet(root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // crash BEFORE commit: generation data + manifest written, no
    // _COMMITTED — readers ignore it entirely, retry overwrites it
    DedupIndexSink.state(spark, root).write.mode("overwrite")
      .parquet(root + "/_gen/0/state")
    DedupIndexSink.allMatches(spark, root).write.mode("overwrite")
      .parquet(root + "/_gen/0/matches")
    val mf = fs.create(new Path(root, "_gen/0/_MANIFEST"), true)
    mf.write("max_id\t2\n".getBytes("UTF-8")); mf.close()
    assert(matchSet(root) === m0, "uncommitted generation must be invisible")
    assert(DedupIndexSink.state(spark, root).count() === 8)
    assert(DedupIndexSink.compact(spark, root) === 2L, "retry commits")
    assert(matchSet(root) === m0)
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_gen/0/_MANIFEST")), "UTF-8") ===
      "max_id\t2\nfolded\t0\nfolded\t1\nfolded\t2\n",
      "the committed manifest records the horizon and every folded id")

    // crash AFTER commit, mid-cleanup: a folded per-batch dir survives
    // below the horizon — readers exclude it by id, next pass sweeps it
    val leftoverState = new Path(root, "ingest_batch=1")
    val leftoverMatch = new Path(root, "_matches/ingest_batch=1")
    DedupIndexSink.state(spark, root).filter(col("ingest_batch") === 1L)
      .drop("ingest_batch").write.mode("overwrite")
      .parquet(leftoverState.toString)
    DedupIndexSink.allMatches(spark, root)
      .filter(col("ingest_batch") === 1L).drop("ingest_batch")
      .write.mode("overwrite").parquet(leftoverMatch.toString)
    assert(matchSet(root) === m0, "sub-horizon leftovers must be invisible")
    assert(DedupIndexSink.state(spark, root).count() === 8)
    assert(DedupIndexSink.compact(spark, root) === 2L) // no new batches
    assert(!fs.exists(leftoverState) && !fs.exists(leftoverMatch),
      "the next pass must sweep pre-cleanup leftovers")
    assert(matchSet(root) === m0)

    // replay BELOW the horizon (older checkpoint restored): refuse
    fs.delete(new Path(root, "_batches/1/_APPLIED"), false)
    val ex = intercept[IllegalArgumentException] {
      DedupIndexSink.maintain(spark,
        rows.filter(floor(col("doc_id") / 10) - 1 === 1L), root,
        "doc_id", "text", 1L)
    }
    assert(ex.getMessage.contains("compaction horizon"))
  }

  test("foreachBatch wiring: a 3-batch stream maintains the identical index") {
    val root = freshRoot("stream")
    val batchRoot = freshRoot("batchtwin")
    runDays(batchRoot)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        DedupIndexSink.maintain(spark, b, root, "doc_id", "text", id); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("dedupsink-ck").toString)
      .start()
    val byDay = rows.as[(Long, String)].collect().groupBy(r => r._1 / 10 - 1)
    (0L to 2L).foreach { d => input.addData(byDay(d).toSeq); q.processAllAvailable() }
    q.stop()
    assert(matchSet(root) === matchSet(batchRoot),
      "streamed index must equal the sequential batch index")
  }
}
