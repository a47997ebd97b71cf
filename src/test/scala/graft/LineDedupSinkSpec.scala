package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sinks.LineDedupSink

/** [[graft.sinks.LineDedupSink]] — the streaming twin of
  * [[Dedup.dedupLines]]: streamed cleaning over batches equals the
  * one-shot pass on the concatenated corpus, replays converge,
  * uncommitted state is invisible, compaction is pure data movement.
  */
class LineDedupSinkSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  // day d owns ids [d*10, d*10+9], so (batch, id, pos) order equals
  // (id, pos) order and the one-shot twin computes the same keep-first
  private val rows = Seq(
    (10L, "SHARED BANNER\nday zero prose"),
    (11L, "alpha text\nSHARED BANNER"),
    (20L, "SHARED BANNER\nday one prose"),
    (21L, "day one prose\nfresh line"),
    (30L, "fresh line\nday two original\nSHARED BANNER"))
  private def day(d: Long) = rows.toDF("doc_id", "text")
    .filter(floor(col("doc_id") / 10) - 1 === d)
  private def all = rows.toDF("doc_id", "text")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"linededup-$tag").toString + "/idx"

  private def cleanAll(root: String, ids: Seq[Long] = Seq(0L, 1L, 2L)) =
    ids.map(d => LineDedupSink.maintain(spark, day(d), root,
        "doc_id", "text", d))
      .reduce(_.unionByName(_))
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect()
      .map { case (i, t, n) => i -> ((t, n)) }.toMap

  private def hashes(root: String): Set[Long] =
    LineDedupSink.read(spark, root).select(col("h"))
      .as[Long].collect().toSet

  test("streamed cleaning ≡ one-shot dedupLines on the concatenated corpus") {
    val root = freshRoot("twin")
    val streamed = cleanAll(root)
    val oneShot = Dedup.dedupLines(all, "doc_id", "text")
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(streamed === oneShot,
      "the composed batch semantics must equal global keep-first")
    // spot-check the cross-batch semantics: day 1's batch-first copy
    // of SHARED BANNER still drops (it was seen on day 0)
    assert(streamed(20L) === (("day one prose", 1L)))
    assert(streamed(21L) === (("fresh line", 1L)),
      "'day one prose' was seen earlier IN THE SAME batch stream (doc 20)")
    assert(streamed(30L)._1 === "day two original")
  }

  test("normalize=true: streamed normalized cleaning ≡ one-shot normalized dedupLines") {
    val vRows = Seq(
      (10L, "Cookie  Policy\nday zero prose"),
      (20L, "COOKIE POLICY\nday one prose"),
      (30L, "cookie\tpolicy\nday two text"))
    def vDay(d: Long) = vRows.toDF("doc_id", "text")
      .filter(floor(col("doc_id") / 10) - 1 === d)
    val root = freshRoot("norm")
    val streamed = (0L to 2L).map(d => LineDedupSink.maintain(spark,
        vDay(d), root, "doc_id", "text", d, normalize = true))
      .reduce(_.unionByName(_))
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val oneShot = Dedup.dedupLines(vRows.toDF("doc_id", "text"),
        "doc_id", "text", normalize = true)
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(streamed === oneShot)
    // the later case variants died against day 0's normalized key, and
    // the survivor kept its ORIGINAL bytes (double space intact)
    assert(streamed(10L) === (("Cookie  Policy\nday zero prose", 0L)))
    assert(streamed(20L) === (("day one prose", 1L)))
    assert(streamed(30L) === (("day two text", 1L)))
  }

  test("replay of a committed id recomputes the same cleaned batch, folds nothing") {
    val root = freshRoot("replay")
    cleanAll(root)
    val before = hashes(root)
    val replay = LineDedupSink.maintain(spark, day(1L), root,
        "doc_id", "text", 1L)
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect().toSet
    assert(replay === Set((20L, "day one prose", 1L),
      (21L, "fresh line", 1L)))
    assert(hashes(root) === before, "replay must not grow the standing set")
  }

  test("empty batch: commits an empty fold, changes nothing, later batches unaffected") {
    val root = freshRoot("empty")
    LineDedupSink.maintain(spark, day(0L), root, "doc_id", "text", 0L)
    val before = hashes(root)
    val cleaned = LineDedupSink.maintain(spark,
      day(0L).filter(col("doc_id") < 0), root, "doc_id", "text", 1L)
    assert(cleaned.count() === 0L)
    assert(hashes(root) === before, "an empty batch folds nothing new")
    // batch 2 still probes the day-0 state correctly across the gap
    val c2 = LineDedupSink.maintain(spark, day(1L), root,
        "doc_id", "text", 2L)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(c2(20L) === "day one prose",
      "the standing set survives an empty batch intact")
  }

  test("uncommitted (marker-less) state is invisible to the probe") {
    val root = freshRoot("crash")
    LineDedupSink.maintain(spark, day(0L), root, "doc_id", "text", 0L)
    // simulate a crashed batch 1: state directory written, no marker
    spark.range(1).select(xxhash64(lit("fresh line")).as("h"))
      .write.mode("overwrite").parquet(s"$root/ingest_batch=1")
    // batch 2 must NOT see the crashed batch's hash: 'fresh line'
    // (first committed occurrence) survives in doc 21's replay...
    val cleaned2 = LineDedupSink.maintain(spark, day(1L), root,
        "doc_id", "text", 2L)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(cleaned2(21L).contains("fresh line"),
      "a marker-less directory must never influence cleaning")
  }

  test("compact folds the standing set losslessly; post-compact cleaning identical") {
    val plain = freshRoot("plain")
    val compacted = freshRoot("compacted")
    Seq(0L, 1L).foreach { d =>
      LineDedupSink.maintain(spark, day(d), plain, "doc_id", "text", d)
      LineDedupSink.maintain(spark, day(d), compacted, "doc_id", "text", d)
    }
    assert(LineDedupSink.compact(spark, compacted) === 1L)
    assert(hashes(compacted) === hashes(plain),
      "compaction is pure data movement")
    val a = LineDedupSink.maintain(spark, day(2L), plain,
        "doc_id", "text", 2L)
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect().toSet
    val b = LineDedupSink.maintain(spark, day(2L), compacted,
        "doc_id", "text", 2L)
      .select(col("doc_id"), col("text"), col("n_dropped"))
      .as[(Long, String, Long)].collect().toSet
    assert(a === b, "cleaning against the generation ≡ against batch dirs")
    // replaying a COMMITTED id below the horizon is legal (markers are
    // kept forever; the probe reads gen rows < id) and identical
    val replay0 = LineDedupSink.maintain(spark, day(0L), compacted,
        "doc_id", "text", 0L)
      .select(col("doc_id"), col("n_dropped")).as[(Long, Long)].collect().toMap
    assert(replay0 === Map(10L -> 0L, 11L -> 1L))
    // but an UNcommitted batch below the horizon (a checkpoint restored
    // from before the fold, marker lost) is rejected loudly
    val fs = new org.apache.hadoop.fs.Path(compacted)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$compacted/_batches/0"), true)
    val ex = intercept[IllegalArgumentException] {
      LineDedupSink.maintain(spark, day(0L), compacted, "doc_id", "text", 0L)
    }
    assert(ex.getMessage.contains("compacted through"))
  }

  test("a second checkpoint draining straight into one line index fails fast and leaves it unchanged") {
    val root = freshRoot("two-ck")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def start(d: Long) = {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      input.addData(day(d).as[(Long, String)].collect().toSeq)
      input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          LineDedupSink.maintain(spark, b, root, "doc_id", "text", id); ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("linededup-ck").toString)
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
    // first checkpoint's marker the sink would skip it silently
    val q2 = start(1L)
    val failure = try scala.util.Try(q2.processAllAvailable()).failed.toOption
      finally q2.stop()
    assert(failure.isDefined, "the second drain must fail, but its batch was " +
      s"silently skipped: the index holds ${hashes(root).size} hashes, " +
      s"all of day 0's")
    val msg = Iterator.iterate(failure.get)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains(q1.id.toString) && msg.contains(q2.id.toString),
      s"the failure must name both query ids, got: $msg")
    assert(msg.contains("checkpoint"), s"the failure must name the remedy, got: $msg")
    assert(files() === before, "the failed drain must leave the index unchanged")
  }
}
