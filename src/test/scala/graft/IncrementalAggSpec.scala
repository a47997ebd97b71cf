package graft

import org.apache.spark.sql.functions._
import graft.sinks.IncrementalAgg

/** [[graft.sinks.IncrementalAgg]] — incremental materialized-aggregate
  * maintenance. The invariants: fold(batches) == full recompute,
  * untouched partitions are byte-identical (never rewritten), and the
  * mergeable (count, decimal sum) state is replay/order-independent.
  */
class IncrementalAggSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def batch(rows: (String, Int, Double)*) =
    rows.toDF("entity", "month", "value")

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("fold of batches equals full recompute; only touched partitions rewritten") {
    val root = java.nio.file.Files.createTempDirectory("incragg").toString + "/agg"
    val b1 = batch(("a", 1, 10.5), ("a", 1, 2.25), ("b", 1, 7.0))
    val b2 = batch(("a", 1, 1.0), ("c", 2, 3.5))

    assert(IncrementalAgg.maintain(spark, b1, root,
      Seq("entity"), Seq("entity", "month"), "value") === 2)
    val filesAfterB1 = parquetFiles(root)

    assert(IncrementalAgg.maintain(spark, b2, root,
      Seq("entity"), Seq("entity", "month"), "value") === 2)

    // state equals the full recompute over b1 ∪ b2
    val got = IncrementalAgg.read(spark, root)
      .select(col("entity"), col("month"), col("n"),
        col("sum_v").cast("double"), col("mean_v"))
      .as[(String, Int, Long, Double, Double)].collect().sorted.toSeq
    assert(got === Seq(
      ("a", 1, 3L, 13.75, 13.75 / 3),
      ("b", 1, 1L, 7.0, 7.0),
      ("c", 2, 1L, 3.5, 3.5)))

    // partition b untouched by b2: its files must be EXACTLY the same ones
    val filesAfterB2 = parquetFiles(root)
    val bFilesBefore = filesAfterB1.filter(_._1.contains("entity=b"))
    val bFilesAfter = filesAfterB2.filter(_._1.contains("entity=b"))
    assert(bFilesBefore === bFilesAfter, "untouched partition was rewritten")
    // touched partition a WAS rewritten
    assert(filesAfterB1.keySet.filter(_.contains("entity=a")) !==
      filesAfterB2.keySet.filter(_.contains("entity=a")))
  }

  test("batch order does not matter (mergeable state)") {
    val r1 = java.nio.file.Files.createTempDirectory("incr1").toString + "/agg"
    val r2 = java.nio.file.Files.createTempDirectory("incr2").toString + "/agg"
    val b1 = batch(("x", 1, 1.25), ("y", 2, 2.0))
    val b2 = batch(("x", 1, 4.75), ("x", 3, 0.5))
    for (b <- Seq(b1, b2)) IncrementalAgg.maintain(spark, b, r1, Seq("entity"), Seq("entity", "month"), "value")
    for (b <- Seq(b2, b1)) IncrementalAgg.maintain(spark, b, r2, Seq("entity"), Seq("entity", "month"), "value")
    val a = IncrementalAgg.read(spark, r1).select("entity", "month", "n", "mean_v")
      .as[(String, Int, Long, Double)].collect().sorted.toSeq
    val b = IncrementalAgg.read(spark, r2).select("entity", "month", "n", "mean_v")
      .as[(String, Int, Long, Double)].collect().sorted.toSeq
    assert(a === b && a.nonEmpty)
  }

  test("foreachBatch wiring: a stream maintains the aggregate incrementally") {
    val root = java.nio.file.Files.createTempDirectory("incrs").toString + "/agg"
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Int, Double)]
    input.addData(("a", 1, 2.0), ("b", 1, 3.0))
    input.addData(("a", 1, 4.0))
    val q = input.toDF().toDF("entity", "month", "value")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        IncrementalAgg.maintain(spark, b, root, Seq("entity"), Seq("entity", "month"), "value")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = IncrementalAgg.read(spark, root)
      .select(col("entity"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(got === Seq(("a", 2L, 6.0), ("b", 1L, 3.0)))
  }

  test("empty batch is a no-op (zero partitions rewritten, table intact)") {
    val root = java.nio.file.Files.createTempDirectory("incre").toString + "/agg"
    IncrementalAgg.maintain(spark, batch(("a", 1, 1.0)), root,
      Seq("entity"), Seq("entity", "month"), "value")
    val before = parquetFiles(root)
    assert(IncrementalAgg.maintain(spark, batch().limit(0), root,
      Seq("entity"), Seq("entity", "month"), "value") === 0)
    assert(parquetFiles(root) === before)
  }

  test("batchId replay: committed id skips, crash window refolds from the snapshot") {
    val root = java.nio.file.Files.createTempDirectory("incrx").toString + "/agg"
    val b0 = batch(("a", 1, 10.0), ("b", 1, 4.0))
    val b1 = batch(("a", 1, 2.5), ("a", 2, 1.0))
    IncrementalAgg.maintain(spark, b0, root,
      Seq("entity"), Seq("entity", "month"), "value", batchId = Some(0L))
    IncrementalAgg.maintain(spark, b1, root,
      Seq("entity"), Seq("entity", "month"), "value", batchId = Some(1L))
    def state() = IncrementalAgg.read(spark, root)
      .select(col("entity"), col("month"), col("n"), col("sum_v").cast("double"))
      .as[(String, Int, Long, Double)].collect().sorted.toSeq
    val committed = state()
    assert(committed === Seq(("a", 1, 2L, 12.5), ("a", 2, 1L, 1.0), ("b", 1, 1L, 4.0)))

    // CLEAN replay of a committed id: _APPLIED short-circuits, 0 rewrites
    assert(IncrementalAgg.maintain(spark, b1, root,
      Seq("entity"), Seq("entity", "month"), "value", batchId = Some(1L)) === 0)
    assert(state() === committed)

    // forge the adversarial crash: batch 1's data IS in the live table
    // but its marker never landed and its sealed snapshot (batch 0's
    // fold of entity a) is back in place — the replay must refold from
    // the snapshot and converge, not double-add batch 1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = new org.apache.hadoop.fs.Path(root, "_batches/1")
    fs.delete(new org.apache.hadoop.fs.Path(bdir, "_APPLIED"), false)
    val standalone = java.nio.file.Files.createTempDirectory("incrx0").toString + "/agg"
    IncrementalAgg.maintain(spark, b0, standalone,
      Seq("entity"), Seq("entity", "month"), "value")
    spark.read.parquet(standalone).filter(col("entity") === "a")
      .select("entity", "month", "n", "sum_v")
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(bdir, "snapshot").toString)
    fs.create(new org.apache.hadoop.fs.Path(bdir, "_SNAPSHOT_DONE"), true).close()
    IncrementalAgg.maintain(spark, b1, root,
      Seq("entity"), Seq("entity", "month"), "value", batchId = Some(1L))
    assert(state() === committed, "crash-window replay must converge, not double-fold")
    assert(fs.exists(new org.apache.hadoop.fs.Path(bdir, "_APPLIED")))
  }

  test("markers are kept per query, and a commit drops the one minBatchesToRetain ids back") {
    val root = java.nio.file.Files.createTempDirectory("incrq").toString + "/agg"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fold(q: String, id: Long) = IncrementalAgg.maintain(spark, batch(("a", 1, 1.0)), root,
      Seq("entity"), Seq("entity", "month"), "value", batchId = Some(id), query = Some(q))
    val key = "spark.sql.streaming.minBatchesToRetain"
    spark.conf.set(key, "2")
    try (0L to 3L).foreach(fold("q1", _)) finally spark.conf.unset(key)
    def marked(q: String, id: Long) =
      fs.exists(new org.apache.hadoop.fs.Path(root, s"_batches/$q/$id/_APPLIED"))
    assert((0L to 3L).map(marked("q1", _)) === Seq(false, false, true, true))
    // a second query's batch 0 is not the first one's
    assert(fold("q2", 0L) === 1)
    assert(fold("q2", 0L) === 0)
    assert(IncrementalAgg.read(spark, root).select("n").as[Long].collect().toSeq === Seq(5L))
  }
}
