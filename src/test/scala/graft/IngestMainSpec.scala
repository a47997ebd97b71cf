package graft

import java.nio.file.{Files, Paths}

import graft.streaming.IngestMain

/** O25 — CLI argument/config validation error paths (the reference
  * validates its CLI + AWS env up front, `run.py:224-248`; the engine
  * must fail fast with a message naming the missing/bad argument, not
  * crash later inside a stream).
  */
class IngestMainSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("parseArgs: key=value pairs parse; values may contain '='") {
    val conf = IngestMain.parseArgs(Array(
      "root=s3a://bucket/lake", "interval=10 seconds", "extra=a=b"))
    assert(conf("root") === "s3a://bucket/lake")
    assert(conf("interval") === "10 seconds")
    assert(conf("extra") === "a=b") // split limit 2: first '=' only
  }

  test("parseArgs: a bare token without '=' fails fast, naming the token") {
    val e = intercept[IllegalArgumentException](
      IngestMain.parseArgs(Array("root=x", "definitely-not-a-pair")))
    assert(e.getMessage.contains("definitely-not-a-pair"))
  }

  test("startQueries: missing root= fails fast") {
    val e = intercept[IllegalArgumentException](
      IngestMain.startQueries(spark, Map("checkpoint" -> "/tmp/ckpt")))
    assert(e.getMessage.contains("root"))
  }

  test("startQueries: missing checkpoint= fails fast") {
    val e = intercept[IllegalArgumentException](
      IngestMain.startQueries(spark, Map("root" -> "/tmp/lake")))
    assert(e.getMessage.contains("checkpoint"))
  }

  test("source: unknown source= is rejected with the offending value") {
    val e = intercept[IllegalArgumentException](
      IngestMain.source(spark, Map("source" -> "carrier-pigeon")))
    assert(e.getMessage.contains("carrier-pigeon"))
  }

  test("storage validation: s3a without any credential source fails fast (run.py:224-248 intent)") {
    // this container has no AWS env and no fs.s3a conf -> must refuse
    val e = intercept[IllegalArgumentException](IngestMain.validateStorageConf(spark,
      Map("root" -> "s3a://bucket/lake", "checkpoint" -> "s3a://bucket/ckpt")))
    assert(e.getMessage.contains("credential"))
    // instance-profile escape hatch
    IngestMain.validateStorageConf(spark, Map(
      "root" -> "s3a://bucket/lake", "skipStorageValidation" -> "true"))
    // local paths never need credentials
    IngestMain.validateStorageConf(spark, Map("root" -> "/tmp/lake"))
    // an explicit provider satisfies the check
    val h = spark.sparkContext.hadoopConfiguration
    h.set("fs.s3a.aws.credentials.provider", "com.example.Provider")
    try IngestMain.validateStorageConf(spark, Map("root" -> "s3a://bucket/lake"))
    finally h.unset("fs.s3a.aws.credentials.provider")
  }

  /** Three CRON runs over one `dir:` source into two lakes (own
    * checkpoints) with the settings in `extra`: each run drains the file
    * that arrived since the last, so each lake leaf holds one data file
    * per run. Returns the confs of the two lakes.
    */
  private def drainThreeRuns(extra: Map[String, String])
      : (Map[String, String], Map[String, String]) = {
    val src = Files.createTempDirectory("graft_compact_src_").toString
    def conf(tag: String) = extra ++ Map("source" -> s"dir:$src",
      "root" -> Files.createTempDirectory(s"graft_compact_lake_$tag").toString,
      "checkpoint" -> Files.createTempDirectory(s"graft_compact_ck_$tag").toString)
    val compacted = conf("on")
    val plain = conf("off")
    (0 until 3).foreach { i =>
      Files.write(Paths.get(s"$src/part$i.json"), java.util.Arrays.asList(
        s"""{"topic": "cuip_vision_events", "value": "{\\"timestamp\\": ${1704067200000L + i * 60000L}, \\"camera_id\\": \\"cam${i % 2}\\", \\"locations\\": [], \\"hit_counts\\": $i}"}""",
        s"""{"topic": "cuip_vision_events", "value": "{\\"timestamp\\": ${1704067230000L + i * 60000L}, \\"camera_id\\": \\"cam${(i + 1) % 2}\\", \\"locations\\": [], \\"hit_counts\\": $i}"}""",
        s"""{"topic": "MLK_AIR_QUALITY", "value": "{\\"timestamp\\": ${1704070800000L + i * 60000L}, \\"nicename\\": \\"downtown\\", \\"pm25\\": $i}"}"""))
      Seq(compacted, plain).foreach { c =>
        IngestMain.startQueries(spark, c + ("mode" -> "drain")).foreach(_.awaitTermination())
      }
    }
    (compacted, plain)
  }

  /** Data files (names ending in `ext`) per leaf directory of the two lake tables. */
  private def dataFiles(c: Map[String, String], ext: String): Map[String, Seq[String]] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory && !d.getName.startsWith("_"))
        d.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else if (d.isFile && d.getName.endsWith(ext)) Seq(d)
      else Seq.empty
    Seq("vision", "air_quality").flatMap(t => walk(new java.io.File(s"${c("root")}/$t")))
      .groupBy(_.getParentFile.getPath.stripPrefix(c("root")))
      .map { case (leaf, fs) => leaf -> fs.map(_.getName) }
  }

  private val lakeLeaves = Set("/vision/entity=cam0/year=2024/month=1",
    "/vision/entity=cam1/year=2024/month=1", "/air_quality/entity=downtown/year=2024/month=1")

  test("compactLake: compact=true after a multi-batch drain leaves one data file per leaf, rows unchanged") {
    val (compacted, plain) = drainThreeRuns(Map.empty)
    def rows(c: Map[String, String]) = (
      spark.read.parquet(s"${c("root")}/vision")
        .select("entity", "timestamp", "hit_counts", "year", "month")
        .as[(String, Long, Int, Int, Int)].collect().sorted.toSeq,
      spark.read.parquet(s"${c("root")}/air_quality")
        .select("entity", "timestamp", "year", "month")
        .as[(String, Long, Int, Int)].collect().sorted.toSeq)
    val drained = dataFiles(compacted, ".parquet")
    assert(drained.keySet === lakeLeaves)
    assert(drained.values.forall(_.size === 3), drained)

    // only `mode=drain compact=true` compacts: a daemon run and a drain
    // without compact= leave every file as it was
    IngestMain.compactLake(spark, compacted + ("mode" -> "daemon") + ("compact" -> "true"))
    assert(dataFiles(compacted, ".parquet") === drained)
    IngestMain.compactLake(spark, plain)
    assert(dataFiles(plain, ".parquet").values.forall(_.size === 3))

    IngestMain.compactLake(spark, compacted + ("mode" -> "drain") + ("compact" -> "true"))
    val after = dataFiles(compacted, ".parquet")
    assert(after.keySet === drained.keySet)
    assert(after.values.forall(_.size === 1), after)
    assert(rows(compacted) === rows(plain))
    assert(rows(plain)._1.size === 6 && rows(plain)._2.size === 3)
  }

  test("compactLake: a format=csv drain compacts its csv leaves, rows unchanged") {
    val (compacted, plain) = drainThreeRuns(Map("format" -> "csv"))
    assert(dataFiles(compacted, ".csv").keySet === lakeLeaves)
    assert(dataFiles(compacted, ".csv").values.forall(_.size === 3))

    IngestMain.compactLake(spark, compacted + ("mode" -> "drain") + ("compact" -> "true"))
    val after = dataFiles(compacted, ".csv")
    assert(after.keySet === lakeLeaves)
    assert(after.values.forall(_.size === 1), after)
    def rows(c: Map[String, String]) = Seq("vision", "air_quality").map(t =>
      spark.read.csv(s"${c("root")}/$t").collect().map(_.toString).sorted.toSeq)
    assert(rows(compacted) === rows(plain))
    assert(rows(plain).map(_.size) === Seq(6, 3))
  }
}
