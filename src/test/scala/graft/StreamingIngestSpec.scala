package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.IngestPipeline

/** End-to-end streaming spec: a MemoryStream plays the Kafka source
  * (same (topic, value) shape, same JSON decode path), drained with
  * Trigger.AvailableNow (the reference's CRON mode, SURVEY §3 E2), into
  * the partitioned lake — asserting routing, patching, validity gates,
  * partition layout, and dead-lettering in one pass.
  */
class StreamingIngestSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

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
    val v = "cuip_vision_events"
    input.addData(
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

/** The local file system under the `holdfs` scheme, except that writing
  * the `_dead_letter` table's `_SUCCESS` marker, the last step of that
  * table's driver-side job commit, first sleeps `holdMs` regardless of
  * interrupts. It gives a spec a commit that is still running when it
  * calls `query.stop()`.
  */
class HoldCommitFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("holdfs://lake/")
  override def getScheme: String = "holdfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    held(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    held(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  private def held(f: Path)(create: => FSDataOutputStream): FSDataOutputStream = {
    val hold = f.getName == "_SUCCESS" && f.getParent.getName == "_dead_letter"
    if (hold) {
      HoldCommitFs.held.countDown()
      val until = System.nanoTime() + HoldCommitFs.holdMs * 1000000L
      while (System.nanoTime() < until)
        try Thread.sleep(10) catch { case _: InterruptedException => }
    }
    val out = create
    if (hold) HoldCommitFs.released = true
    out
  }
}

object HoldCommitFs {
  val holdMs = 2000L
  @volatile var held = new java.util.concurrent.CountDownLatch(1)
  @volatile var released = false
  def reset(): Unit = { held = new java.util.concurrent.CountDownLatch(1); released = false }
}
