package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.BatchCounts

/** End-to-end streaming spec: a MemoryStream plays the Kafka source
  * (same (topic, value) shape, same JSON decode path), drained with
  * Trigger.AvailableNow (the reference's CRON mode, SURVEY §3 E2), into
  * the partitioned lake — asserting routing, patching, validity gates,
  * partition layout, and dead-lettering in one pass.
  */
class StreamingIngestSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  import StreamingIngestSpec.dirtyCases

  test("MemoryStream -> foreachBatch -> partitioned lake, AvailableNow drain") {
    val root = Files.createTempDirectory("graft_lake_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_").toString

    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]

    input.addData(
      // vision: clean with hit_counts
      ("cuip_vision_events",
        """{"timestamp": 1704067200000, "camera_id": "cam1", "locations": [{"x":1.0,"y":2.0,"label":"car"}], "hit_counts": 7}"""),
      // vision: hit_counts missing -> patched to size(locations)=2
      ("cuip_vision_events",
        """{"timestamp": 1706745600000, "camera_id": "cam2", "locations": [{"x":1.0,"y":2.0,"label":"car"},{"x":3.0,"y":4.0,"label":"bus"}]}"""),
      // vision: epoch-0 -> dropped
      ("cuip_vision_events", """{"timestamp": 0, "camera_id": "cam1", "locations": []}"""),
      // vision: missing ts -> dropped
      ("cuip_vision_events", """{"camera_id": "cam1", "locations": []}"""),
      // air quality: clean (sensor fields ride in props)
      ("MLK_AIR_QUALITY",
        """{"timestamp": 1704070800000, "nicename": "downtown", "pm25": 12.5, "o3": 0.031}"""),
      // air quality: nan key -> dropped
      ("MLK_AIR_QUALITY", """{"timestamp": 1704070860000, "nicename": "nan", "pm25": 1.0}"""),
      // unknown topic -> dead letter
      ("mystery_topic", """{"whatever": true}"""),
      // malformed JSON on a KNOWN topic -> dead letter too (run.py:40-42
      // kept unreadable messages visible; we must not silently drop them)
      ("cuip_vision_events", """{definitely not json"""))

    val q = IngestPipeline.writer(
      input.toDF().toDF("topic", "value"), root, ckpt, availableNow = true).start()
    q.awaitTermination()

    // vision table: 2 surviving rows, patched hit_counts, partition columns
    val vision = spark.read.parquet(s"$root/vision")
    val vrows = vision.select("entity", "hit_counts", "year", "month")
      .as[(String, Int, Int, Int)].collect().sortBy(_._1)
    assert(vrows === Array(("cam1", 7, 2024, 1), ("cam2", 2, 2024, 2)))
    // partition pruning layout on disk (Hive-style dirs)
    assert(new java.io.File(s"$root/vision/entity=cam1/year=2024/month=1").exists())

    // air quality: 1 surviving row, sensor payload preserved in props
    val aq = spark.read.parquet(s"$root/air_quality")
    val arows = aq.select("entity", "props").as[(String, String)].collect()
    assert(arows.length === 1 && arows(0)._1 === "downtown" && arows(0)._2.contains("pm25"))

    // unknown topic AND malformed-known-topic rows dead-lettered with a
    // reason, not crashed/silently dropped (df_manager.py:115-121,
    // run.py:40-42 intent)
    val dead = spark.read.parquet(s"$root/_dead_letter")
      .select("topic", "reason").as[(String, String)].collect().sorted
    assert(dead === Array(
      ("cuip_vision_events", "malformed_json"),
      ("mystery_topic", "unknown_topic")))
  }

  test("one drain over every dirty case: exact lake rows, lake schemas and dead letters") {
    val root = Files.createTempDirectory("graft_lake_eq_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_eq_").toString
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]
    input.addData(dirtyCases: _*)
    IngestPipeline.writer(input.toDF().toDF("topic", "value"), root, ckpt, availableNow = true)
      .start().awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df.toJSON.collect().sorted.toSeq
    val vision = spark.read.parquet(s"$root/vision")
    val aq = spark.read.parquet(s"$root/air_quality")
    val dead = spark.read.parquet(s"$root/_dead_letter")
    // lake column order and types are part of the table contract
    assert(vision.schema.toDDL ===
      "timestamp BIGINT,locations ARRAY<STRUCT<x: DOUBLE, y: DOUBLE, label: STRING>>,hit_counts INT,locations_json STRING,ts TIMESTAMP,entity STRING,year INT,month INT")
    assert(aq.schema.toDDL === "timestamp BIGINT,props STRING,ts TIMESTAMP,entity STRING,year INT,month INT")
    assert(dead.schema.toDDL === "value STRING,reason STRING,topic STRING")
    assert(rows(vision) === Seq(
      """{"timestamp":1704067200000,"locations":[{"x":1.0,"y":2.0,"label":"car"}],"hit_counts":7,"locations_json":"[{\"x\":1.0,\"y\":2.0,\"label\":\"car\"}]","ts":"2024-01-01T00:00:00.000Z","entity":"cam1","year":2024,"month":1}""",
      """{"timestamp":1704067260000,"locations":[{"x":1.0,"y":2.0,"label":"car"},{"x":3.0,"y":4.0,"label":"bus"},{"x":5.0,"y":6.0,"label":"van"}],"hit_counts":3,"locations_json":"[{\"x\":1.0,\"y\":2.0,\"label\":\"car\"},{\"x\":3.0,\"y\":4.0,\"label\":\"bus\"},{\"x\":5.0,\"y\":6.0,\"label\":\"van\"}]","ts":"2024-01-01T00:01:00.000Z","entity":"cam3","year":2024,"month":1}""",
      """{"timestamp":1704067320000,"locations":[{"y":2.0,"label":"car"}],"hit_counts":1,"locations_json":"[{\"y\":2.0,\"label\":\"car\"}]","ts":"2024-01-01T00:02:00.000Z","entity":"cam4","year":2024,"month":1}""",
      """{"timestamp":1706745600000,"locations":[{"x":1.0,"y":2.0,"label":"car"},{"x":3.0,"y":4.0,"label":"bus"}],"hit_counts":2,"locations_json":"[{\"x\":1.0,\"y\":2.0,\"label\":\"car\"},{\"x\":3.0,\"y\":4.0,\"label\":\"bus\"}]","ts":"2024-02-01T00:00:00.000Z","entity":"cam2","year":2024,"month":2}"""))
    assert(rows(aq) === Seq(
      """{"timestamp":1704070800000,"props":"{\"timestamp\": 1704070800000, \"nicename\": \"downtown\", \"pm25\": 12.5, \"o3\": 0.031}","ts":"2024-01-01T01:00:00.000Z","entity":"downtown","year":2024,"month":1}""",
      """{"timestamp":1709251200000,"props":"{\"timestamp\": 1709251200000, \"nicename\": \"riverside\", \"pm25\": 3.0}","ts":"2024-03-01T00:00:00.000Z","entity":"riverside","year":2024,"month":3}"""))
    // toJSON omits the null `value` of the null-value row
    assert(rows(dead) === Seq(
      """{"reason":"malformed_json","topic":"cuip_vision_events"}""",
      """{"value":"not json at all","reason":"malformed_json","topic":"EPB_AIR_QUALITY"}""",
      """{"value":"{\"timestamp\": 1704067200000}","reason":"unknown_topic","topic":"__null__"}""",
      """{"value":"{\"timestamp\": 1704067260000, \"camera_id\": \"cam3\", \"locations\": [{\"x\":1.0,\"y\":2.0,\"label\":\"car\"},{\"x\":3.0,\"y\":4.0,\"label\":\"bus\"},{\"x\":5.0,\"y\":6.0,\"label\":\"van\"}], \"hit_counts\": \"x\"}","reason":"malformed_json","topic":"cuip_vision_events"}""",
      """{"value":"{\"timestamp\": 1704067320000, \"camera_id\": \"cam4\", \"locations\": [{\"x\":\"far\",\"y\":2.0,\"label\":\"car\"}], \"hit_counts\": 1}","reason":"malformed_json","topic":"cuip_vision_events"}""",
      """{"value":"{\"timestamp\": \"abc\", \"camera_id\": \"cam5\", \"locations\": []}","reason":"malformed_json","topic":"cuip_vision_events"}""",
      """{"value":"{\"whatever\": true}","reason":"unknown_topic","topic":"mystery_topic"}""",
      """{"value":"{definitely not json","reason":"malformed_json","topic":"cuip_vision_events"}"""))
  }

  test("dead letters spread over several input files commit one file per topic per batch") {
    val root = Files.createTempDirectory("graft_lake_dl_").toString
    val src = Files.createTempDirectory("graft_src_dl_").toString
    (0 until 3).foreach { i =>
      Files.write(java.nio.file.Paths.get(s"$src/part$i.json"), java.util.Arrays.asList(
        s"""{"topic": "mystery_topic", "value": "{\\"n\\": $i}"}""",
        s"""{"topic": "cuip_vision_events", "value": "not json $i"}""",
        """{"topic": "cuip_vision_events", "value": "{\"timestamp\": 1704067200000, \"camera_id\": \"cam1\", \"locations\": []}"}"""))
    }
    val batch = spark.read.schema("topic STRING, value STRING").json(src)
    assert(batch.rdd.getNumPartitions === 3)
    IngestPipeline.routeAndWrite(batch, root)

    val leaves = new java.io.File(s"$root/_dead_letter").listFiles().filter(_.isDirectory)
    assert(leaves.map(_.getName).sorted ===
      Array("topic=cuip_vision_events", "topic=mystery_topic"))
    leaves.foreach { leaf =>
      assert(leaf.listFiles().count(_.getName.endsWith(".parquet")) === 1, leaf.getName)
    }
    assert(IngestPipeline.readDeadLetter(spark, root).count() === 6)
    assert(spark.read.parquet(s"$root/vision").count() === 3)
  }

  /** `body`'s value and, per Spark job started while it ran, in job
    * order, the task count of each of its stages.
    */
  private def jobsDuring[T](body: => T): (T, Seq[Seq[Int]]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, Seq[Int]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, e.stageInfos.map(_.numTasks))
    }
    ListenerBusAccess.settle(sc)
    sc.addSparkListener(listener)
    val value =
      try { val v = body; ListenerBusAccess.settle(sc); v }
      finally sc.removeSparkListener(listener)
    (value, jobs.values.asScala.toSeq)
  }

  test("a batch wider than the slots is parsed in one job of at most defaultParallelism tasks") {
    val root = Files.createTempDirectory("graft_lake_wide_").toString
    val src = Files.createTempDirectory("graft_src_wide_").toString
    val slots = spark.sparkContext.defaultParallelism
    val n = 2 * slots + 1
    (0 until n).foreach { i =>
      Files.write(java.nio.file.Paths.get(s"$src/part$i.json"), java.util.Arrays.asList(
        s"""{"topic": "cuip_vision_events", "value": "{\\"timestamp\\": ${1704067200000L + i * 60000L}, \\"camera_id\\": \\"cam${i % 3}\\", \\"locations\\": [], \\"hit_counts\\": $i}"}""",
        s"""{"topic": "MLK_AIR_QUALITY", "value": "{\\"timestamp\\": ${1704070800000L + i * 60000L}, \\"nicename\\": \\"downtown\\", \\"pm25\\": $i}"}""",
        s"""{"topic": "mystery_topic", "value": "{\\"n\\": $i}"}"""))
    }
    val batch = spark.read.schema("topic STRING, value STRING").json(src)
    assert(batch.rdd.getNumPartitions === n)

    val (counts, jobs) = jobsDuring(IngestPipeline.routeAndWrite(batch, root))
    assert(counts === BatchCounts(vision = n, airQuality = n, malformedJson = 0, unknownTopic = n))
    // one job parses and materializes the batch and yields the counts;
    // then each of the three tables is one shuffle and one write
    assert(jobs.size === 1 + 2 * 3, jobs)
    assert(jobs.head.nonEmpty && jobs.head.forall(_ <= slots), jobs.head)

    val leaves = Seq("vision/entity=cam0/year=2024/month=1", "vision/entity=cam1/year=2024/month=1",
      "vision/entity=cam2/year=2024/month=1", "air_quality/entity=downtown/year=2024/month=1",
      "_dead_letter/topic=mystery_topic")
    leaves.foreach { leaf =>
      val files = new java.io.File(s"$root/$leaf").listFiles()
      assert(files != null && files.count(_.getName.endsWith(".parquet")) === 1, leaf)
    }
    val vision = spark.read.parquet(s"$root/vision")
      .select("entity", "hit_counts", "timestamp").as[(String, Int, Long)].collect().sorted.toSeq
    assert(vision === (0 until n).map(i => (s"cam${i % 3}", i, 1704067200000L + i * 60000L)).sorted)
    val aq = spark.read.parquet(s"$root/air_quality")
      .select("entity", "timestamp").as[(String, Long)].collect().sorted.toSeq
    assert(aq === (0 until n).map(i => ("downtown", 1704070800000L + i * 60000L)))
    val dead = IngestPipeline.readDeadLetter(spark, root)
      .select("topic", "value", "reason").as[(String, String, String)].collect().sorted.toSeq
    assert(dead === (0 until n).map(i => ("mystery_topic", s"""{"n": $i}""", "unknown_topic")).sorted)
  }

  test("routeAndWrite counts rows per route and dead letters per reason, with no extra job") {
    val root = Files.createTempDirectory("graft_lake_counts_").toString
    val (counts, jobs) = jobsDuring(
      IngestPipeline.routeAndWrite(dirtyCases.toDF("topic", "value"), root))
    assert(counts === BatchCounts(vision = 10, airQuality = 5, malformedJson = 6, unknownTopic = 2))
    assert(jobs.size === 1 + 2 * 3, jobs)
    val dead = IngestPipeline.readDeadLetter(spark, root)
      .groupBy("reason").count().as[(String, Long)].collect().sorted.toSeq
    assert(dead === Seq("malformed_json" -> 6L, "unknown_topic" -> 2L))
  }

  test("an empty batch of 0 or 4 partitions counts zero, writes no table and caches nothing") {
    val sc = spark.sparkContext
    val schema = StructType.fromDDL("topic STRING, value STRING")
    val batches = Seq(spark.createDataFrame(sc.emptyRDD[Row], schema),
      spark.createDataFrame(sc.parallelize(Seq.empty[Row], 4), schema))
    assert(batches.map(_.rdd.getNumPartitions) === Seq(0, 4))
    // an empty local relation too: the optimizer folds the projections
    // over it, and the observed counts must still arrive
    (batches :+ Seq.empty[(String, String)].toDF("topic", "value")).foreach { batch =>
      val root = Files.createTempDirectory("graft_lake_empty_").toString
      val cachedBefore = sc.getPersistentRDDs.keySet
      assert(IngestPipeline.routeAndWrite(batch, root) === BatchCounts(0, 0, 0, 0))
      assert(new java.io.File(root).list().isEmpty)
      assert((sc.getPersistentRDDs.keySet -- cachedBefore).isEmpty)
    }
  }

  test("a failed table commit is rethrown after the others commit; no job or cache outlives it") {
    val root = Files.createTempDirectory("graft_lake_fail_").toString
    // a plain file where the air_quality table directory belongs
    Files.write(java.nio.file.Paths.get(s"$root/air_quality"), "x".getBytes)
    val batch = Seq(
      ("cuip_vision_events",
        """{"timestamp": 1704067200000, "camera_id": "cam1", "locations": [], "hit_counts": 1}"""),
      ("MLK_AIR_QUALITY", """{"timestamp": 1704070800000, "nicename": "downtown", "pm25": 9.5}"""),
      ("mystery_topic", """{"x": 1}""")).toDF("topic", "value")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    val e = intercept[Exception](IngestPipeline.routeAndWrite(batch, root))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains(s"$root/air_quality")), e)
    org.apache.spark.ListenerBusAccess.settle(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore)
    // the other tables committed
    assert(spark.read.parquet(s"$root/vision").count() === 1)
    assert(IngestPipeline.readDeadLetter(spark, root).count() === 1)
  }

  test("query.stop() during a table commit returns only after every write has ended") {
    val dir = Files.createTempDirectory("graft_lake_stop_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_stop_").toString
    spark.sparkContext.hadoopConfiguration.set("fs.holdfs.impl", classOf[HoldCommitFs].getName)
    HoldCommitFs.reset()
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]
    input.addData(
      ("cuip_vision_events",
        """{"timestamp": 1704067200000, "camera_id": "cam1", "locations": [], "hit_counts": 1}"""),
      ("MLK_AIR_QUALITY", """{"timestamp": 1704070800000, "nicename": "downtown", "pm25": 9.5}"""),
      ("mystery_topic", """{"x": 1}"""))
    val query = IngestPipeline.writer(input.toDF().toDF("topic", "value"),
      s"holdfs://lake$dir", ckpt, availableNow = true).start()
    // the dead-letter commit is now held on a pool thread, on the driver
    assert(HoldCommitFs.held.await(1, java.util.concurrent.TimeUnit.MINUTES), query.exception)
    query.stop()

    assert(HoldCommitFs.released, "stop() returned while a table commit was still running")
    def listing(): Seq[String] = scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(dir))) {
      _.iterator().asScala.map(_.toString).toSeq.sorted }
    val atStop = listing()
    Thread.sleep(HoldCommitFs.holdMs + 500)
    assert(listing() === atStop)
    org.apache.spark.ListenerBusAccess.settle(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("O7 priorityTopics: two independent writers drain hot and rest topics") {
    val root = Files.createTempDirectory("graft_lake3_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt3_").toString
    val src = Files.createTempDirectory("graft_src_").toString
    Files.write(java.nio.file.Paths.get(s"$src/batch.json"), java.util.Arrays.asList(
      """{"topic": "cuip_vision_events", "value": "{\"timestamp\": 1704067200000, \"camera_id\": \"cam1\", \"locations\": [], \"hit_counts\": 1}"}""",
      """{"topic": "MLK_AIR_QUALITY", "value": "{\"timestamp\": 1704070800000, \"nicename\": \"downtown\", \"pm25\": 9.5}"}"""))

    val conf = Map(
      "source" -> s"dir:$src", "root" -> root, "checkpoint" -> ckpt,
      "topics" -> "cuip_vision_events,MLK_AIR_QUALITY",
      "priorityTopics" -> "cuip_vision_events", "mode" -> "drain")
    val queries = graft.streaming.IngestMain.startQueries(spark, conf)
    assert(queries.length === 2, "priorityTopics must start a dedicated hot-topic query")
    queries.foreach(_.awaitTermination())

    assert(spark.read.parquet(s"$root/vision").count() === 1)
    assert(spark.read.parquet(s"$root/air_quality").count() === 1)
  }

  test("O7 edge: blank priorityTopics= falls back to one query (no empty-topic subscription)") {
    val root = Files.createTempDirectory("graft_lake4_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt4_").toString
    val src = Files.createTempDirectory("graft_src4_").toString
    Files.write(java.nio.file.Paths.get(s"$src/batch.json"), java.util.Arrays.asList(
      """{"topic": "cuip_vision_events", "value": "{\"timestamp\": 1704067200000, \"camera_id\": \"cam1\", \"locations\": [], \"hit_counts\": 1}"}"""))

    // "".split(",") yields [""] — must not start a query subscribed to ""
    val conf = Map(
      "source" -> s"dir:$src", "root" -> root, "checkpoint" -> ckpt,
      "topics" -> "cuip_vision_events", "priorityTopics" -> "", "mode" -> "drain")
    val queries = graft.streaming.IngestMain.startQueries(spark, conf)
    assert(queries.length === 1, "blank priorityTopics= must mean no priority split")
    queries.foreach(_.awaitTermination())
    assert(spark.read.parquet(s"$root/vision").count() === 1)
  }

  test("O7 edge: priorityTopics covering every topic — dir twin keeps the dead-letter query") {
    val root = Files.createTempDirectory("graft_lake5_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt5_").toString
    val src = Files.createTempDirectory("graft_src5_").toString
    Files.write(java.nio.file.Paths.get(s"$src/batch.json"), java.util.Arrays.asList(
      """{"topic": "cuip_vision_events", "value": "{\"timestamp\": 1704067200000, \"camera_id\": \"cam1\", \"locations\": [], \"hit_counts\": 1}"}""",
      """{"topic": "mystery_topic", "value": "{\"x\": 1}"}"""))

    val conf = Map(
      "source" -> s"dir:$src", "root" -> root, "checkpoint" -> ckpt,
      "topics" -> "cuip_vision_events,MLK_AIR_QUALITY",
      "priorityTopics" -> "cuip_vision_events,MLK_AIR_QUALITY", "mode" -> "drain")
    val queries = graft.streaming.IngestMain.startQueries(spark, conf)
    // the dir twin's rest query deliberately survives: its exclude filter
    // is what routes UNKNOWN topics to the dead-letter table
    assert(queries.length === 2)
    queries.foreach(_.awaitTermination())
    assert(spark.read.parquet(s"$root/vision").count() === 1)
    val dead = spark.read.parquet(s"$root/_dead_letter")
    assert(dead.filter(col("topic") === "mystery_topic").count() === 1)
  }

  test("O7 edge: kafka source refuses an empty resolved subscription") {
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IngestMain.source(spark,
        Map("source" -> "kafka", "topics" -> " , "))
    }
    assert(e.getMessage.contains("topic"))
  }

  test("dead-letter schema migration: pre-reason files surface a backfilled reason") {
    val root = Files.createTempDirectory("graft_lake6_").toString
    // generation 1 wrote (topic, value) only — simulate those files in place
    Seq(("old_mystery", """{"a": 1}""")).toDF("topic", "value")
      .write.partitionBy("topic").parquet(s"$root/_dead_letter")
    // generation 2 appends with the reason column
    Seq(("new_mystery", """{"b": 2}""", "malformed_json")).toDF("topic", "value", "reason")
      .write.mode("append").partitionBy("topic").parquet(s"$root/_dead_letter")

    val dead = IngestPipeline.readDeadLetter(spark, root)
      .select("topic", "reason").as[(String, String)].collect().sorted
    // both generations present; the pre-reason row backfills to the only
    // reason that existed before the column did
    assert(dead === Array(
      ("new_mystery", "malformed_json"), ("old_mystery", "unknown_topic")))
  }

  test("compact=true after drain: accumulated per-batch files collapse to one per leaf") {
    val root = Files.createTempDirectory("graft_lake7_").toString
    def visionLine(ts: Long) =
      s"""{"topic": "cuip_vision_events", "value": "{\\"timestamp\\": $ts, \\"camera_id\\": \\"cam1\\", \\"locations\\": [], \\"hit_counts\\": 1}"}"""
    // two separate drains (own source dir + checkpoint each) -> two
    // files in the same (cam1, 2024, 1) leaf, the accumulation
    // compaction removes
    Seq(1704067200000L, 1704067260000L).zipWithIndex.foreach { case (ts, i) =>
      val src = Files.createTempDirectory(s"graft_src7_$i").toString
      Files.write(java.nio.file.Paths.get(s"$src/batch.json"),
        java.util.Arrays.asList(visionLine(ts)))
      val conf = Map("source" -> s"dir:$src", "root" -> root,
        "checkpoint" -> Files.createTempDirectory(s"graft_ckpt7_$i").toString,
        "topics" -> "cuip_vision_events", "mode" -> "drain")
      graft.streaming.IngestMain.startQueries(spark, conf).foreach(_.awaitTermination())
    }
    val leaf = new java.io.File(s"$root/vision/entity=cam1/year=2024/month=1")
    def files() = leaf.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files() >= 2, "two drains must have accumulated files")

    graft.streaming.IngestMain.compactLake(spark,
      Map("root" -> root, "mode" -> "drain", "compact" -> "true"))
    assert(files() === 1, "post-drain compaction must leave one file per leaf")
    assert(spark.read.parquet(s"$root/vision").count() === 2)
  }

  test("stats=true maintains the incremental vision rollup across drains") {
    val root = Files.createTempDirectory("graft_lake3_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt3_").toString
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("topic", "value")

    input.addData(
      ("cuip_vision_events",
        """{"timestamp": 1704067200000, "camera_id": "cam1", "locations": [], "hit_counts": 3}"""),
      ("cuip_vision_events",
        """{"timestamp": 1704067300000, "camera_id": "cam1", "locations": [], "hit_counts": 4}"""),
      ("cuip_vision_events",
        """{"timestamp": 1706745600000, "camera_id": "cam2", "locations": [], "hit_counts": 5}"""))
    IngestPipeline.writer(stream, root, ckpt, availableNow = true, stats = true)
      .start().awaitTermination()
    // second drain folds INTO the rollup instead of recomputing it
    input.addData(("cuip_vision_events",
      """{"timestamp": 1704067400000, "camera_id": "cam1", "locations": [], "hit_counts": 10}"""))
    IngestPipeline.writer(stream, root, ckpt, availableNow = true, stats = true)
      .start().awaitTermination()

    val got = graft.sinks.IncrementalAgg.read(spark, s"$root/_stats/vision")
      .select(col("entity"), col("year"), col("month"), col("n"),
        col("sum_v").cast("double"))
      .as[(String, Int, Int, Long, Double)].collect().sorted.toSeq
    assert(got === Seq(("cam1", 2024, 1, 3L, 17.0), ("cam2", 2024, 2, 1L, 5.0)))
    // and the rollup matches re-aggregating the lake itself
    val full = spark.read.parquet(s"$root/vision")
      .groupBy(col("entity")).agg(count(lit(1)).as("n"), sum("hit_counts").as("s"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(full === Seq(("cam1", 3L, 17L), ("cam2", 1L, 5L)))
  }

  test("stats=true batches release the rollup fold's checkpoint") {
    val root = Files.createTempDirectory("graft_lake_stats_ckpt_").toString
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    (1 to 3).foreach(_ =>
      IngestPipeline.routeAndWrite(dirtyCases.toDF("topic", "value"), root, stats = true))
    assert((sc.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      sc.getPersistentRDDs.values.map(_.toDebugString))
    // every folded vision row is counted once in the rollup
    val rolled = graft.sinks.IncrementalAgg.read(spark, s"$root/_stats/vision")
      .agg(sum("n")).as[Long].head()
    assert(rolled === spark.read.parquet(s"$root/vision").count())
  }

  private def rollup(root: String): Seq[String] =
    graft.sinks.IncrementalAgg.read(spark, s"$root/_stats/vision")
      .select("entity", "year", "month", "n", "sum_v").toJSON.collect().sorted.toSeq

  test("a batch routed twice under one batch id folds the stats rollup once") {
    val batch = dirtyCases.toDF("topic", "value")
    val once = Files.createTempDirectory("graft_lake_stats_once_").toString
    IngestPipeline.routeAndWrite(batch, once, stats = true, batchId = Some(0L))
    val twice = Files.createTempDirectory("graft_lake_stats_twice_").toString
    (1 to 2).foreach(_ =>
      IngestPipeline.routeAndWrite(batch, twice, stats = true, batchId = Some(0L)))
    assert(rollup(once).nonEmpty)
    assert(rollup(twice) === rollup(once))
  }

  test("writer passes its batch id: a batch replayed after a lost commit folds the stats rollup once") {
    val root = Files.createTempDirectory("graft_lake_replay_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_replay_").toString
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]
    input.addData(dirtyCases: _*)
    val stream = input.toDF().toDF("topic", "value")
    IngestPipeline.writer(stream, root, ckpt, availableNow = true, stats = true)
      .start().awaitTermination()
    val once = rollup(root)
    // a crash after the batch's writes but before its commit-log entry:
    // the restart replays batch 0
    Seq("0", ".0.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", f)))
    val q = IngestPipeline.writer(stream, root, ckpt, availableNow = true, stats = true).start()
    q.awaitTermination()
    assert(q.recentProgress.exists(p => p.batchId == 0 && p.numInputRows == dirtyCases.size),
      q.recentProgress.map(_.json).mkString("\n"))
    assert(rollup(root) === once)
  }

  test("two checkpoints drained into one root both fold the stats rollup") {
    val root = Files.createTempDirectory("graft_lake_two_ckpts_").toString
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    for (cam <- Seq("camA", "camB")) {
      val input = MemoryStream[(String, String)]
      input.addData(("cuip_vision_events",
        s"""{"timestamp": 1704067300000, "camera_id": "$cam", "locations": [], "hit_counts": 1}"""))
      val ckpt = Files.createTempDirectory("graft_ckpt_two_").toString
      IngestPipeline.writer(input.toDF().toDF("topic", "value"), root, ckpt,
        availableNow = true, stats = true).start().awaitTermination()
    }
    // both drains ran batch id 0, each under its own query id
    assert(rollup(root).map(r => (r.contains("camA"), r.contains("camB"))) ===
      Seq((true, false), (false, true)))
  }

  test("AvailableNow restart is idempotent (checkpoint prevents reprocessing)") {
    val root = Files.createTempDirectory("graft_lake2_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt2_").toString
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = MemoryStream[(String, String)]
    input.addData(("cuip_vision_events",
      """{"timestamp": 1704067200000, "camera_id": "cam1", "locations": [], "hit_counts": 1}"""))

    val stream = input.toDF().toDF("topic", "value")
    IngestPipeline.writer(stream, root, ckpt, availableNow = true).start().awaitTermination()
    // second drain over the same checkpoint: no new data -> no duplicate rows
    IngestPipeline.writer(stream, root, ckpt, availableNow = true).start().awaitTermination()

    assert(spark.read.parquet(s"$root/vision").count() === 1)
  }
}

object StreamingIngestSpec {
  private val v = "cuip_vision_events"
  /** Every dirty case the router must handle, in one batch. */
  val dirtyCases: Seq[(String, String)] = Seq(
    (v, """{"timestamp": 1704067200000, "camera_id": "cam1", "locations": [{"x":1.0,"y":2.0,"label":"car"}], "hit_counts": 7}"""),
    (v, """{"timestamp": 1706745600000, "camera_id": "cam2", "locations": [{"x":1.0,"y":2.0,"label":"car"},{"x":3.0,"y":4.0,"label":"bus"}]}"""),
    // wrong-typed fields parse partially: the row lands (hit_counts
    // patched to size(locations); the bad nested x nulled) AND is
    // dead-lettered
    (v, """{"timestamp": 1704067260000, "camera_id": "cam3", "locations": [{"x":1.0,"y":2.0,"label":"car"},{"x":3.0,"y":4.0,"label":"bus"},{"x":5.0,"y":6.0,"label":"van"}], "hit_counts": "x"}"""),
    (v, """{"timestamp": 1704067320000, "camera_id": "cam4", "locations": [{"x":"far","y":2.0,"label":"car"}], "hit_counts": 1}"""),
    // a bad timestamp fails the null-ts gate AND is dead-lettered
    (v, """{"timestamp": "abc", "camera_id": "cam5", "locations": []}"""),
    // gates: epoch 1970, missing ts, nan key
    (v, """{"timestamp": 0, "camera_id": "cam1", "locations": []}"""),
    (v, """{"camera_id": "cam1", "locations": []}"""),
    (v, """{"timestamp": 1704067200000, "camera_id": "nan", "locations": []}"""),
    // null value and non-JSON on a known topic: dead letters only
    (v, null),
    (v, """{definitely not json"""),
    ("MLK_AIR_QUALITY", """{"timestamp": 1704070800000, "nicename": "downtown", "pm25": 12.5, "o3": 0.031}"""),
    ("EPB_AIR_QUALITY", """{"timestamp": 1709251200000, "nicename": "riverside", "pm25": 3.0}"""),
    // air-quality gates: NaN key, epoch 1970; then non-JSON
    ("MLK_AIR_QUALITY", """{"timestamp": 1704070860000, "nicename": "NaN", "pm25": 1.0}"""),
    ("MLK_AIR_QUALITY", """{"timestamp": 1000, "nicename": "downtown", "pm25": 2.0}"""),
    ("EPB_AIR_QUALITY", """not json at all"""),
    // a null topic dead-letters as __null__, like an unknown one
    (null, """{"timestamp": 1704067200000}"""),
    ("mystery_topic", """{"whatever": true}"""))
}
