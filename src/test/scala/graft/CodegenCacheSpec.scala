package graft

import java.nio.file.Files

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.IngestPipeline

/** The JVM-global codegen cache holds the registry's working set: a
  * query run again after others reuses its compiled classes instead of
  * recompiling them with Janino (see [[GraftSession.codegenCacheEntries]]),
  * and a fresh streaming query reuses the classes of the one before it
  * (see [[GraftSession.staticConfs]]).
  */
class CodegenCacheSpec extends SparkSpec {

  private val cacheKey = "spark.sql.codegen.cache.maxEntries"
  private val isolationKey = "spark.sql.artifact.isolation.enabled"
  private val fsKey = "spark.hadoop.fs.file.impl"
  private val fileContextKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"
  private val localFs = Map(
    fsKey -> classOf[graft.sinks.InProcessLocalFileSystem].getName,
    fileContextKey -> classOf[graft.sinks.InProcessLocalFs].getName)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()

  test("GraftSession.local sessions carry the engine's codegen cache size") {
    assert(spark.conf.get(cacheKey) === GraftSession.codegenCacheEntries.toString)
  }

  test("GraftSession.local sessions carry no session artifact isolation") {
    assert(spark.conf.get(isolationKey) === "false")
  }

  test("staticConfs: unset keys get the engine's values") {
    assert(GraftSession.staticConfs(new SparkConf(false)) === Map(
      cacheKey -> GraftSession.codegenCacheEntries.toString,
      isolationKey -> "false") ++ localFs)
  }

  test("staticConfs: a launcher-set value of either key wins") {
    assert(GraftSession.staticConfs(new SparkConf(false).set(cacheKey, "100")) === Map(
      cacheKey -> "100", isolationKey -> "false") ++ localFs)
    assert(GraftSession.staticConfs(new SparkConf(false).set(isolationKey, "true")) === Map(
      cacheKey -> GraftSession.codegenCacheEntries.toString, isolationKey -> "true") ++ localFs)
  }

  test("staticConfs: a launcher-set spark.hadoop.fs.file.impl wins") {
    val stock = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
    assert(GraftSession.staticConfs(new SparkConf(false).set(fsKey, stock)) === Map(
      cacheKey -> GraftSession.codegenCacheEntries.toString, isolationKey -> "false") ++
      localFs.updated(fsKey, stock))
  }

  test("queries run again after a rotation of 177 classes compile nothing") {
    val probes = Seq("q01_scan_project", "q02_filter_valid")
    // perfbench's seed-11 query sample: together its queries generate
    // 177 classes, more than Spark's default cache of 100 entries holds
    val rotation = Seq("q42_range_join", "q177_lang_entropy", "q239_boilerplate_topk",
      "q44_video_decode", "q223_fs_linkage", "q28_approx_distinct",
      "q216_mcnemar_gate", "q117_distinct_terms")
    probes.foreach(run)
    rotation.foreach(run)
    val before = compiles
    probes.foreach(run)
    assert(compiles === before, "probe queries recompiled: their classes were evicted")
  }

  test("a second AvailableNow drain of a same-shaped backlog compiles nothing") {
    val root = Files.createTempDirectory("graft_lake_cg_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_cg_").toString
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import sqlCtx.implicits._
    val input = MemoryStream[(String, String)]
    // one backlog reaches all three tables: vision, air quality and
    // dead letters (an unknown topic and a malformed message)
    def backlog(day: Int): Seq[(String, String)] = {
      val ts = 1704067200000L + day * 86400000L
      (0 until 20).flatMap { i =>
        Seq(
          ("cuip_vision_events",
            s"""{"timestamp": ${ts + i}, "camera_id": "cam${i % 3}", "locations": [{"x":1.0,"y":2.0,"label":"car"}], "hit_counts": $i}"""),
          ("MLK_AIR_QUALITY",
            s"""{"timestamp": ${ts + i}, "nicename": "site${i % 2}", "pm25": $i.5}"""))
      } ++ Seq(("mystery_topic", s"""{"day": $day}"""), ("cuip_vision_events", "{not json"))
    }
    // each drain is a fresh query on the same checkpoint and lake, as
    // successive CRON catch-ups are
    def drain(day: Int): Long = {
      input.addData(backlog(day))
      val before = compiles
      IngestPipeline.writer(input.toDF().toDF("topic", "value"), root, ckpt,
        availableNow = true).start().awaitTermination()
      compiles - before
    }
    drain(0)
    val second = drain(1)
    assert(spark.read.parquet(s"$root/vision").count() === 40)
    assert(spark.read.parquet(s"$root/air_quality").count() === 40)
    assert(spark.read.parquet(s"$root/_dead_letter").count() === 4)
    assert(second === 0L, "the second drain recompiled the ingest path's classes")
  }
}
