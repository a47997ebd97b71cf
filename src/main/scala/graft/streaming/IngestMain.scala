package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.schemas.TopicSchemas

/** The application entry point — the reference's `python run.py` CLI
  * (`run.py:134-264`, O25) as a spark-submit main.
  *
  * Arguments are `key=value` pairs:
  *
  * {{{
  * spark-submit --class graft.streaming.IngestMain app.jar \
  *   source=kafka bootstrap=broker:9092 \
  *   topics=cuip_vision_events,MLK_AIR_QUALITY \
  *   root=s3a://bucket/lake checkpoint=s3a://bucket/ckpt \
  *   mode=drain
  * }}}
  *
  * `mode=drain` is the reference's CRON catch-up operating model
  * (`README.md:35`, Trigger.AvailableNow: process everything, exit);
  * `mode=daemon interval="10 seconds"` runs continuously. The reference's
  * AWS env-var validation (`run.py:224-248`) is subsumed by
  * `spark.hadoop.fs.s3a.*` configuration.
  *
  * `source=dir:<path>` streams `{"topic": ..., "value": ...}` JSON files
  * from a directory through the identical decode/route/sink path — the
  * broker-less way to run (and verify) the whole app end-to-end.
  */
object IngestMain {

  def parseArgs(args: Array[String]): Map[String, String] =
    args.iterator.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(s"expected key=value, got: $a")
      }
    }.toMap

  /** Build the (topic, value) source stream from the `source=` arg.
    * `include` restricts the subscription to those topics; `exclude`
    * removes topics from it (for the Kafka source these change the
    * subscribe list itself; the `dir:` twin filters the stream — an
    * excluded-topics stream deliberately keeps UNKNOWN topics so they
    * still reach the dead-letter route).
    */
  def source(spark: SparkSession, conf: Map[String, String],
             include: Option[Seq[String]] = None,
             exclude: Seq[String] = Seq.empty): DataFrame = {
    val all = conf.getOrElse("topics", TopicSchemas.visionTopic)
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val wanted = include.getOrElse(all).filterNot(exclude.contains)
    conf.getOrElse("source", "kafka") match {
      case "kafka" =>
        require(wanted.nonEmpty,
          "kafka source needs a non-empty topic subscription " +
            "(topics= minus excludes resolved to nothing)")
        IngestPipeline.kafkaSource(
          spark,
          conf.getOrElse("bootstrap", "localhost:9092"),
          wanted,
          conf.getOrElse("maxOffsetsPerTrigger", "100000").toLong,
          conf.get("minPartitions").map(_.toInt))
      case dir if dir.startsWith("dir:") =>
        val s = spark.readStream
          .schema("topic STRING, value STRING")
          .json(dir.stripPrefix("dir:"))
        if (include.isEmpty && exclude.isEmpty) s
        else if (include.isEmpty)
          s.filter(!coalesce(col("topic").isin(exclude: _*), lit(false)))
        else s.filter(col("topic").isin(wanted: _*))
      case other =>
        throw new IllegalArgumentException(s"unknown source: $other")
    }
  }

  /** The reference refuses to start without AWS credentials
    * (`run.py:224-248` validates the env before the first poll); the
    * Spark twin of that intent: if the lake or checkpoint lives on
    * `s3a://` and NO credential source is visible, fail at startup with
    * an actionable message instead of deep inside the first batch
    * commit. Instance-profile/IMDS deployments configure no key and no
    * env — they pass `skipStorageValidation=true` (the provider chain
    * resolves at runtime), keeping the check strict for everyone else.
    */
  def validateStorageConf(spark: SparkSession, conf: Map[String, String]): Unit = {
    if (conf.getOrElse("skipStorageValidation", "false") == "true") return
    val s3 = Seq("root", "checkpoint").flatMap(conf.get).filter(_.startsWith("s3a://"))
    if (s3.nonEmpty) {
      val h = spark.sparkContext.hadoopConfiguration
      // fs.s3a.aws.credentials.provider carries a DEFAULT chain from
      // core-default.xml — only an explicit override (≠ the value a
      // fresh Configuration loads) counts as a configured source
      val fresh = new org.apache.hadoop.conf.Configuration()
      def overridden(key: String): Boolean = {
        val v = Option(h.get(key)).getOrElse("")
        v.nonEmpty && v != Option(fresh.get(key)).getOrElse("")
      }
      val hasCreds =
        Option(h.get("fs.s3a.access.key")).exists(_.nonEmpty) ||
        overridden("fs.s3a.aws.credentials.provider") ||
        sys.env.contains("AWS_ACCESS_KEY_ID") || sys.env.contains("AWS_PROFILE") ||
        sys.env.contains("AWS_ROLE_ARN") ||
        sys.env.contains("AWS_CONTAINER_CREDENTIALS_RELATIVE_URI")
      require(hasCreds,
        s"${s3.mkString(", ")} configured but no AWS credential source found: " +
          "set spark.hadoop.fs.s3a.access.key/secret.key, " +
          "spark.hadoop.fs.s3a.aws.credentials.provider, or AWS_* env vars " +
          "(instance-profile deployments: skipStorageValidation=true)")
    }
  }

  /** Start the writer(s). With `priorityTopics=` set this is O7 — the
    * reference pins half its worker processes to `cuip_vision_events`
    * (`run.py:88-105`); the Spark expression of the same intent is TWO
    * independent streaming queries: the hot topics get their own query
    * (own subscription, own checkpoint, faster `priorityInterval`
    * trigger), everything else drains on the normal `interval`. Combined
    * with `minPartitions=` (a hot Kafka partition read as several
    * splits) this is the whole prioritization surface. The router caps
    * each batch at the executor slot count
    * ([[IngestPipeline.routeAndWrite]] coalesces it to
    * `defaultParallelism`), so a larger `minPartitions` adds no tasks;
    * a hot partition's splits still spread over the slots rather than
    * queue behind one task.
    */
  def startQueries(spark: SparkSession, conf: Map[String, String]): Seq[StreamingQuery] = {
    val root = conf.getOrElse("root",
      throw new IllegalArgumentException("root=<lake path> is required"))
    val checkpoint = conf.getOrElse("checkpoint",
      throw new IllegalArgumentException("checkpoint=<path> is required"))
    val availableNow = conf.getOrElse("mode", "drain") == "drain"
    val format = conf.getOrElse("format", "parquet")

    // stats=true maintains the incremental per-entity monthly rollup
    // alongside the lake (IngestPipeline.routeAndWrite → IncrementalAgg)
    val stats = conf.getOrElse("stats", "false") == "true"
    def started(src: DataFrame, ckpt: String, interval: String): StreamingQuery =
      IngestPipeline.writer(
        src.selectExpr("CAST(topic AS STRING) AS topic", "CAST(value AS STRING) AS value"),
        root, ckpt, availableNow, interval, format, stats).start()

    // `"".split(",")` yields Seq("") — trim and drop blank entries so
    // `priorityTopics=` (or a stray trailing comma) never subscribes a
    // query to an empty-string topic; an all-blank list means "no
    // priority split" and falls through to the single-query path
    val priorityArg = conf.get("priorityTopics")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    val allTopics = conf.getOrElse("topics", TopicSchemas.visionTopic)
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)

    priorityArg match {
      case None =>
        Seq(started(source(spark, conf), checkpoint,
          conf.getOrElse("interval", "10 seconds")))
      case Some(priority) =>
        val priorityQ = started(source(spark, conf, include = Some(priority)),
          s"$checkpoint/priority", conf.getOrElse("priorityInterval", "5 seconds"))
        // listing every topic as priority leaves the rest-query's Kafka
        // subscribe list empty (fails at stream start) — skip it. The
        // `dir:` twin keeps its rest query regardless: its exclude filter
        // deliberately passes UNKNOWN topics through to the dead-letter
        // route, so that query is meaningful even with no known rest topic
        val restTopics = allTopics.filterNot(priority.contains)
        val kafkaStyle = conf.getOrElse("source", "kafka") == "kafka"
        if (restTopics.isEmpty && kafkaStyle) Seq(priorityQ)
        else Seq(priorityQ,
          started(source(spark, conf, exclude = priority),
            s"$checkpoint/rest", conf.getOrElse("interval", "30 seconds")))
    }
  }

  /** `compact=true` in drain mode = the reference's full CRON cadence:
    * catch up, exit, AND leave one-file-per-partition tables behind (its
    * read-modify-write invariant, `df_manager.py:85-90`) — as a
    * post-drain maintenance pass instead of a per-flush rewrite.
    */
  def compactLake(spark: SparkSession, conf: Map[String, String]): Unit =
    if (conf.getOrElse("mode", "drain") == "drain" &&
        conf.getOrElse("compact", "false") == "true") {
      val root = conf("root")
      Seq("vision", "air_quality").foreach { t =>
        val p = new org.apache.hadoop.fs.Path(s"$root/$t")
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          graft.sinks.PartitionedSink.compactPartitions(spark, s"$root/$t",
            format = conf.getOrElse("format", "parquet"))
      }
    }

  def main(args: Array[String]): Unit = {
    val conf = parseArgs(args)
    val spark = GraftSession.configure(
      GraftSession.builder().appName("graft-ingest").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    validateStorageConf(spark, conf)
    val queries = startQueries(spark, conf)

    // the reference's SIGINT flush intent (run.py:126-131) without its
    // leak: stop() ends the in-flight batch, and the checkpoint replays
    // an uncommitted one (the lake is at-least-once, `_stats` exactly-once)
    sys.addShutdownHook {
      queries.foreach(q => if (q.isActive) q.stop())
    }
    queries.foreach(_.awaitTermination())

    compactLake(spark, conf)
    spark.stop()
  }
}
