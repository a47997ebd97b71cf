package graft

import org.apache.spark.sql.functions._
import graft.sinks.QuantileSink

/** [[graft.sinks.QuantileSink]] — the incremental materialized view for
  * DDSketch quantiles. Invariants: fold(batches) ≡ the one-shot
  * [[graft.operators.Sketches.ddQuantiles]] over the union (same
  * bucketing code, addition-merged state, so BIT-identical estimates),
  * untouched partitions are never rewritten, and the α relative-error
  * bound holds against the exact order statistic at every fold point.
  */
class QuantilesSinkSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def vals(rows: (String, Double)*) = rows.toDF("grp", "v")

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  private def quantRows(root: String, qs: Seq[Int]) =
    QuantileSink.quantiles(spark, root, Seq("grp"), qs)
      .as[(String, Long, Long, Double)].collect().toSet

  test("two maintained tables MERGE by bucket addition ≡ one-shot over the union") {
    // the mergeability claim in the object doc, closed: two tables
    // maintained independently (e.g. two ingest pipelines, two
    // regions) combine by plain (keys, k)-summed counts into exactly
    // the sketch ONE table over all the data would hold
    val rootA = java.nio.file.Files.createTempDirectory("qsma").toString + "/sk"
    val rootB = java.nio.file.Files.createTempDirectory("qsmb").toString + "/sk"
    val rootM = java.nio.file.Files.createTempDirectory("qsmm").toString + "/sk"
    val a = (1 to 90).map(i => (s"g${i % 2}", math.exp((i % 31) / 7.0)))
    val b = (1 to 70).map(i => (s"g${i % 3}", math.exp((i % 23) / 5.0) * 1.7))
    QuantileSink.maintain(spark, a.toDF("grp", "v"), rootA,
      Seq("grp"), Seq("grp"), "v")
    QuantileSink.maintain(spark, b.toDF("grp", "v"), rootB,
      Seq("grp"), Seq("grp"), "v")
    spark.read.parquet(rootA).unionByName(spark.read.parquet(rootB))
      .groupBy(col("grp"), col("k"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .write.partitionBy("grp").parquet(rootM)
    val oneShot = java.nio.file.Files.createTempDirectory("qsm1").toString + "/sk"
    QuantileSink.maintain(spark, (a ++ b).toDF("grp", "v"), oneShot,
      Seq("grp"), Seq("grp"), "v")
    assert(quantRows(rootM, Seq(25, 50, 90)) === quantRows(oneShot, Seq(25, 50, 90)),
      "addition-merged tables must answer identically to the one-shot sketch")
  }

  test("fold of batches equals the one-shot ddQuantiles; only touched partitions rewritten") {
    val root = java.nio.file.Files.createTempDirectory("qsink").toString + "/sk"
    // ~3 decades of spread per group so bucketing actually matters
    def v(g: Int, i: Int): Double = math.exp((i * 7 + g) % 300 / 50.0) * 0.01
    val b1 = vals((1 to 400).map(i => (s"g${i % 3}", v(i % 3, i))): _*)
    val b2 = vals((1 to 200).map(i => (s"g${i % 2}", v(i % 2, i + 57))): _*)

    assert(QuantileSink.maintain(spark, b1, root, Seq("grp"), Seq("grp"), "v") === 3)
    val filesAfterB1 = parquetFiles(root)
    // b2 touches g0/g1 only
    assert(QuantileSink.maintain(spark, b2, root, Seq("grp"), Seq("grp"), "v") === 2)

    val qs = Seq(10, 50, 90, 99)
    val maintained = quantRows(root, qs)
    val recomputed = graft.operators.Sketches
      .ddQuantiles(b1.unionByName(b2), "grp", "v", qs)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(maintained === recomputed,
      "maintained sketch must equal the one-shot batch sketch bit-for-bit")

    // α bound against the exact order statistic, per maintained row
    val alpha = 0.02 / 2.02
    val exactByGroup = b1.unionByName(b2).as[(String, Double)].collect()
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
    maintained.foreach { case (g, q, n, est) =>
      val exact = exactByGroup(g)(((n * q + 99) / 100).toInt - 1)
      assert(math.abs(est - exact) <= alpha * exact + 1e-9,
        s"$g p$q: est $est vs exact $exact breaks the bound after folding")
    }

    // partition g2 untouched by b2: exactly the same files
    val filesAfterB2 = parquetFiles(root)
    assert(filesAfterB1.filter(_._1.contains("grp=g2")) ===
      filesAfterB2.filter(_._1.contains("grp=g2")),
      "untouched partition was rewritten")
    assert(filesAfterB1.keySet.filter(_.contains("grp=g0")) !==
      filesAfterB2.keySet.filter(_.contains("grp=g0")))
  }

  test("foreachBatch wiring: a stream maintains the standing quantile table") {
    val root = java.nio.file.Files.createTempDirectory("qsinks").toString + "/sk"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val q = input.toDF().toDF("grp", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          QuantileSink.maintain(spark, b, root, Seq("grp"), Seq("grp"), "v")
          ()
        }
      }.start()
    val data = (1 to 300).map(i => (s"s${i % 2}", math.exp((i % 80) / 16.0) * 0.3))
    input.addData(data.take(100)); q.processAllAvailable()
    input.addData(data.drop(100)); q.processAllAvailable()
    q.stop()
    val maintained = quantRows(root, Seq(25, 50, 75))
    val recomputed = graft.operators.Sketches
      .ddQuantiles(data.toDF("grp", "v"), "grp", "v", Seq(25, 50, 75))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(maintained === recomputed)
    assert(maintained.forall(_._3 === 150L))
  }

  test("streaming twin with batch ids: exact replay folds once, maintained ≡ one-shot") {
    // the real wiring a production stream uses: foreachBatch passes its
    // batchId through, and a replayed batch (restart re-delivery of the
    // last uncommitted micro-batch) must not double-fold
    val root = java.nio.file.Files.createTempDirectory("qsinkr").toString + "/sk"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val q = input.toDF().toDF("grp", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!b.isEmpty) {
          QuantileSink.maintain(spark, b, root, Seq("grp"), Seq("grp"), "v",
            batchId = Some(id))
          ()
        }
      }.start()
    val b0 = (1 to 120).map(i => (s"s${i % 3}", math.exp((i % 50) / 12.0)))
    val b1 = (1 to 90).map(i => (s"s${i % 2}", math.exp((i % 40) / 9.0) * 0.7))
    input.addData(b0); q.processAllAvailable()
    input.addData(b1); q.processAllAvailable()
    q.stop()
    val after = quantRows(root, Seq(50, 99))
    // CLEAN replay: the committed batch 1 re-delivered verbatim (the
    // restart shape) — the _APPLIED marker skips it, table unchanged
    val re = QuantileSink.maintain(spark, b1.toDF("grp", "v"), root,
      Seq("grp"), Seq("grp"), "v", batchId = Some(1L))
    assert(re === 0)
    assert(quantRows(root, Seq(50, 99)) === after)
    val oneShot = graft.operators.Sketches
      .ddQuantiles((b0 ++ b1).toDF("grp", "v"), "grp", "v", Seq(50, 99))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(after === oneShot)
  }

  test("crash-window replay: data written, marker missing — refold from the snapshot converges") {
    // the adversarial crash point the marker alone cannot survive: the
    // dynamic overwrite finished but _APPLIED never got written. The
    // protocol refolds from the SEALED pre-batch snapshot, so re-running
    // the batch rewrites the identical rows instead of adding them twice.
    val root = java.nio.file.Files.createTempDirectory("qsinkc").toString + "/sk"
    val b0 = (1 to 100).map(i => (s"g${i % 2}", math.exp((i % 30) / 8.0)))
    val b1 = (1 to 80).map(i => (s"g${i % 2}", math.exp((i % 25) / 6.0) * 1.3))
    QuantileSink.maintain(spark, b0.toDF("grp", "v"), root,
      Seq("grp"), Seq("grp"), "v", batchId = Some(0L))
    QuantileSink.maintain(spark, b1.toDF("grp", "v"), root,
      Seq("grp"), Seq("grp"), "v", batchId = Some(1L))
    val committed = quantRows(root, Seq(50, 90))
    // forge the crash state: batch 1's data IS in the live table, but
    // its commit marker is gone and its sealed snapshot (the pre-batch
    // rows, i.e. batch 0's fold) is back in place
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = new org.apache.hadoop.fs.Path(root, "_batches/1")
    fs.delete(new org.apache.hadoop.fs.Path(bdir, "_APPLIED"), false)
    val snap = new org.apache.hadoop.fs.Path(bdir, "snapshot")
    val sk0 = java.nio.file.Files.createTempDirectory("qsinkq").toString + "/sk0"
    QuantileSink.maintain(spark, b0.toDF("grp", "v"), sk0,
      Seq("grp"), Seq("grp"), "v") // rebuild batch 0's fold standalone
    spark.read.parquet(sk0).select(col("grp"), col("k"), col("cnt"))
      .write.mode("overwrite").parquet(snap.toString)
    fs.create(new org.apache.hadoop.fs.Path(bdir, "_SNAPSHOT_DONE"), true).close()
    // replay of batch 1 against the forged crash state
    val re = QuantileSink.maintain(spark, b1.toDF("grp", "v"), root,
      Seq("grp"), Seq("grp"), "v", batchId = Some(1L))
    assert(re === 2)
    assert(quantRows(root, Seq(50, 90)) === committed,
      "crash-window replay must converge, not double-fold")
    val oneShot = graft.operators.Sketches
      .ddQuantiles((b0 ++ b1).toDF("grp", "v"), "grp", "v", Seq(50, 90))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(quantRows(root, Seq(50, 90)) === oneShot)
  }

  test("batch-id folds release their merge checkpoint") {
    val root = java.nio.file.Files.createTempDirectory("qsinkp").toString + "/sk"
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val batches = (0 until 3).map(b =>
      (1 to 60).map(i => (s"g${i % 2}", math.exp((i * (b + 1) % 40) / 9.0))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      QuantileSink.maintain(spark, rows.toDF("grp", "v"), root,
        Seq("grp"), Seq("grp"), "v", batchId = Some(i.toLong))
    }
    assert((sc.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      sc.getPersistentRDDs.values.map(_.toDebugString))
    val oneShot = graft.operators.Sketches
      .ddQuantiles(batches.flatten.toDF("grp", "v"), "grp", "v", Seq(50, 90))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(quantRows(root, Seq(50, 90)) === oneShot)
  }
}
