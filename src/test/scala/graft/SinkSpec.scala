package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.PartitionedSink

/** Sink-layer specs: the reference-compat CSV sink (O20) and the
  * small-file-guard repartitioner write the same table back.
  */
class SinkSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def sample = Seq(
    (1L, "camA", 2024, 1, 7), (2L, "camA", 2024, 2, 3), (3L, "camB", 2024, 1, 9))
    .toDF("id", "entity", "year", "month", "hits")

  test("csv compatibility sink: partitioned write + read-back (O20 parity)") {
    val dir = Files.createTempDirectory("graft_csv_").toString
    PartitionedSink.appendPartitioned(sample, dir, format = "csv")
    // Hive-style layout on disk, as the reference builds by hand
    assert(new java.io.File(s"$dir/entity=camA/year=2024/month=1").exists())
    val back = spark.read
      .schema("id LONG, hits INT, entity STRING, year INT, month INT")
      .csv(dir)
      .select("id", "entity", "year", "month", "hits")
      .as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
    assert(back === sample.as[(Long, String, Int, Int, Int)].collect().sortBy(_._1))
  }

  test("compactPartitions: many appended files collapse to one per leaf, rows intact (O19 parity)") {
    val dir = Files.createTempDirectory("graft_compact_").toString
    // five appends -> >= 5 files per touched partition (the accumulation
    // the reference avoids by rewriting whole objects on every flush)
    (0 until 5).foreach { i =>
      PartitionedSink.appendPartitioned(
        sample.withColumn("id", col("id") + lit(i * 10L)), dir)
    }
    def dataFiles(leaf: String) = new java.io.File(s"$dir/$leaf")
      .listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles("entity=camA/year=2024/month=1") >= 5)
    val before = spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet

    val n = PartitionedSink.compactPartitions(spark, dir)
    assert(n === 3, s"expected all 3 leaf partitions compacted, got $n")
    Seq("entity=camA/year=2024/month=1", "entity=camA/year=2024/month=2",
        "entity=camB/year=2024/month=1").foreach { leaf =>
      assert(dataFiles(leaf) === 1, s"$leaf not compacted to one file")
      assert(!new java.io.File(s"$dir/$leaf/_compact_tmp").exists())
      assert(!new java.io.File(s"$dir/$leaf/_compact_old").exists())
    }
    assert(spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)

    // idempotent: already-compacted partitions are left alone
    assert(PartitionedSink.compactPartitions(spark, dir) === 0)
  }

  // --- compaction crash-recovery: hand-build the exact on-disk states a
  // crash leaves behind at each protocol step, then prove the next pass
  // restores every row (see PartitionedSink.compactPartitions scaladoc)

  /** A 2-file leaf plus helpers to fake protocol states inside it. */
  private def crashFixture() = {
    val dir = Files.createTempDirectory("graft_crash_").toString
    (0 until 2).foreach { i =>
      PartitionedSink.appendPartitioned(
        sample.withColumn("id", col("id") + lit(i * 10L)), dir)
    }
    val leaf = new java.io.File(s"$dir/entity=camA/year=2024/month=1")
    (dir, leaf, spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet)
  }
  private def parquetFiles(leaf: java.io.File) =
    leaf.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
  private def write(f: java.io.File, text: String): Unit =
    Files.write(f.toPath, text.getBytes("UTF-8"))

  test("compaction recovery: crash mid-park (some originals parked, none swapped in) restores all rows") {
    val (dir, leaf, before) = crashFixture()
    val old = new java.io.File(leaf, "_compact_old"); old.mkdirs()
    val files = parquetFiles(leaf)
    // manifest written (step 2), then crash after parking ONE of two originals
    write(new java.io.File(old, "_MANIFEST"),
      files.map(f => s"old\t${f.getName}").mkString("\n") + "\nnew\tpart-new-0.parquet")
    assert(files.head.renameTo(new java.io.File(old, files.head.getName)))

    assert(PartitionedSink.compactPartitions(spark, dir) >= 1)
    assert(!new java.io.File(leaf, "_compact_old").exists())
    assert(spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("compaction recovery: crash mid-swap-in (all parked, partial new files, no _COMMITTED) rolls back") {
    val (dir, leaf, before) = crashFixture()
    val old = new java.io.File(leaf, "_compact_old"); old.mkdirs()
    val tmp = new java.io.File(leaf, "_compact_tmp"); tmp.mkdirs()
    val files = parquetFiles(leaf)
    // fake compacted output: one real parquet swapped in, one still in tmp
    val swapped = new java.io.File(leaf, "part-new-0.parquet")
    Files.copy(files.head.toPath, swapped.toPath)
    Files.copy(files.head.toPath, new java.io.File(tmp, "part-new-1.parquet").toPath)
    write(new java.io.File(old, "_MANIFEST"),
      (files.map(f => s"old\t${f.getName}") ++
       Seq("new\tpart-new-0.parquet", "new\tpart-new-1.parquet")).mkString("\n"))
    files.foreach(f => assert(f.renameTo(new java.io.File(old, f.getName))))

    assert(PartitionedSink.compactPartitions(spark, dir) >= 1)
    assert(!new java.io.File(leaf, "_compact_old").exists())
    assert(!new java.io.File(leaf, "_compact_tmp").exists())
    // the duplicate-row partial swap-in must NOT survive recovery
    assert(spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("compaction recovery: legacy pre-manifest crash (all parked, no _MANIFEST, leaf empty) restores parked files") {
    val (dir, leaf, before) = crashFixture()
    // the old protocol parked originals WITHOUT writing a manifest; a crash
    // between park and swap-in leaves the parked copies as the only copy
    val old = new java.io.File(leaf, "_compact_old"); old.mkdirs()
    parquetFiles(leaf).foreach(f => assert(f.renameTo(new java.io.File(old, f.getName))))

    assert(PartitionedSink.compactPartitions(spark, dir) >= 0)
    assert(!new java.io.File(leaf, "_compact_old").exists())
    assert(spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("compaction recovery: crash after _COMMITTED keeps new files, drops parked copies") {
    val (dir, leaf, before) = crashFixture()
    // run a real compaction but recreate the committed-yet-uncleaned state:
    // park a stale duplicate under _compact_old with the marker present
    assert(PartitionedSink.compactPartitions(spark, dir) >= 1)
    val old = new java.io.File(leaf, "_compact_old"); old.mkdirs()
    Files.copy(parquetFiles(leaf).head.toPath,
      new java.io.File(old, "stale-dup.parquet").toPath)
    write(new java.io.File(old, "_MANIFEST"), "old\tstale-dup.parquet")
    write(new java.io.File(old, "_COMMITTED"), "")

    PartitionedSink.compactPartitions(spark, dir)
    assert(!new java.io.File(leaf, "_compact_old").exists())
    assert(spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("compaction: a failing leaf fails the pass only after all leaves ran (no detached jobs)") {
    val (dir, leaf, before) = crashFixture()
    // corrupt ONE leaf so its rewrite read fails; the other two must still compact
    val poison = new java.io.File(leaf, "poison.parquet")
    write(poison, "this is not a parquet file")
    intercept[Exception] {
      PartitionedSink.compactPartitions(spark, dir, parallelism = 2)
    }
    // healthy leaves were still compacted in the same (failed) pass
    val other = new java.io.File(s"$dir/entity=camB/year=2024/month=1")
    assert(parquetFiles(other).length === 1, "healthy leaf not compacted by failed pass")
    poison.delete()
    // rerun succeeds and the data is intact
    PartitionedSink.compactPartitions(spark, dir)
    assert(spark.read.parquet(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("compaction: an interrupt returns only after the running leaf rewrite has ended") {
    val dir = Files.createTempDirectory("graft_compact_stop_").toString
    (0 until 3).foreach(i =>
      PartitionedSink.appendPartitioned(sample.filter(col("id") === 1L)
        .withColumn("id", col("id") + lit(i * 10L)), dir))
    val before = spark.read.parquet(dir).as[(Long, Int, String, Int, Int)].collect().toSet
    spark.sparkContext.hadoopConfiguration.set("fs.holdfs.impl", classOf[HoldCommitFs].getName)
    // hold the commit point of the one leaf's swap, on a pool thread
    HoldCommitFs.reset(_.getName == "_COMMITTED")
    @volatile var outcome: Either[Throwable, Int] = null
    @volatile var releasedAtReturn = false
    val caller = new Thread(() => {
      outcome =
        try Right(PartitionedSink.compactPartitions(spark, s"holdfs://lake$dir"))
        catch { case e: Throwable => Left(e) }
      releasedAtReturn = HoldCommitFs.released
    })
    caller.start()
    assert(HoldCommitFs.held.await(1, java.util.concurrent.TimeUnit.MINUTES))
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive)
    assert(releasedAtReturn, "compactPartitions returned while a leaf rewrite was still running")
    assert(outcome.swap.exists(_.isInstanceOf[InterruptedException]), outcome)
    // the held rewrite finished its swap: one file, no parked copies
    val leaf = new java.io.File(s"$dir/entity=camA/year=2024/month=1")
    assert(parquetFiles(leaf).length === 1)
    assert(!new java.io.File(leaf, "_compact_old").exists())
    assert(spark.read.parquet(dir).as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("orc lake: partitioned append + compaction round-trip (Spark-bundled columnar alternative)") {
    val dir = Files.createTempDirectory("graft_orc_").toString
    (0 until 3).foreach { i =>
      PartitionedSink.appendPartitioned(
        sample.withColumn("id", col("id") + lit(i * 10L)), dir, format = "orc")
    }
    val before = spark.read.orc(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet
    assert(before.size === 9)
    assert(PartitionedSink.compactPartitions(spark, dir, format = "orc") === 3)
    val leaf = new java.io.File(s"$dir/entity=camA/year=2024/month=1")
    assert(leaf.listFiles().count(f => f.isFile && f.getName.endsWith(".orc")) === 1)
    assert(spark.read.orc(dir)
      .as[(Long, Int, String, Int, Int)].collect().toSet === before)
  }

  test("Hive-layout reads prune partitions: an entity/month filter never scans other leaves") {
    val dir = Files.createTempDirectory("graft_prune_").toString
    PartitionedSink.appendPartitioned(sample, dir)
    val q = spark.read.parquet(dir)
      .filter(col("entity") === "camA" && col("month") === 1)
    val p = q.queryExecution.executedPlan.toString
    // partition-column predicates must become PartitionFilters (pruned
    // at planning from the directory names — the 100 TB point of the
    // layout), not data filters evaluated per row
    assert(p.contains("PartitionFilters: [") && p.contains("(entity"),
      s"entity filter not applied to partitions:\n$p")
    val pruned = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(pruned === Seq(1), s"expected exactly one leaf dir scanned, got $pruned")
    assert(q.count() === 1) // only (id=1, camA, month=1) lives in that leaf
  }

  test("repartitionByPartitionColumns yields one file per partition tuple") {
    val dir = Files.createTempDirectory("graft_onefile_").toString
    val big = sample.repartition(8) // many tasks -> would write many files
    PartitionedSink.appendPartitioned(
      PartitionedSink.repartitionByPartitionColumns(big), dir)
    val files = new java.io.File(s"$dir/entity=camA/year=2024/month=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 1, s"expected exactly one parquet file, got $files")
  }
}
