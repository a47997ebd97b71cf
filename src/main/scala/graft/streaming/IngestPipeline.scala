package graft.streaming

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.ops.EventOps
import graft.schemas.TopicSchemas
import graft.sinks.PartitionedSink

/** The reference's whole job (SURVEY.md §3 E1/E2) as one Structured
  * Streaming pipeline (model: Armbrust et al., "Structured Streaming: A
  * Declarative API for Real-Time Applications in Apache Spark",
  * SIGMOD 2018): Kafka topics → JSON decode → per-topic transform →
  * entity/year/month-partitioned data lake.
  *
  * What disappears versus the reference: worker processes (O7) →
  * executors; the bounded queue (O6) → `maxOffsetsPerTrigger`
  * backpressure; count-based flushing (O10) → triggers; the local CSV
  * crash mirror (O21) → checkpointing; the months × keys sink loop
  * (O15–O17) → `partitionBy`. CRON drain mode (`README.md:35`, E2) is
  * `Trigger.AvailableNow`: process everything available, checkpoint,
  * exit — with none of the reference's shutdown bugs (`run.py:126-131`).
  *
  * Every transform here is a pure `DataFrame => DataFrame`, so the same
  * code path is exercised by batch tests, `MemoryStream` specs, and the
  * real Kafka source.
  */
object IngestPipeline {

  /** O1 — the Kafka scan. `startingOffsets=earliest` mirrors
    * `auto.offset.reset: beginning` (`run.py:31`); `maxOffsetsPerTrigger`
    * bounds micro-batch size (the reference's flush threshold + queue
    * capacity collapsed into one knob).
    *
    * Deployment note: the `kafka` format lives in the separate
    * `spark-sql-kafka-0-10` artifact, which this offline container
    * neither ships nor can resolve — run with
    * `spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2`
    * (exact recipe in README "Kafka mode"). Everything downstream of
    * `load()` is source-agnostic and is exercised end-to-end by the
    * `dir:` twin and the MemoryStream specs.
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topics: Seq[String],
                  maxOffsetsPerTrigger: Long = 100000L,
                  minPartitions: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
    // O7 (resource split, `run.py:88-105`): `minPartitions` over-splits
    // Kafka partitions so a hot topic gets more than one task per
    // partition — the engine-level half of topic prioritization. The
    // scheduling half is two writers with separate triggers; see
    // [[IngestMain]] `priorityTopics=`.
    minPartitions.foldLeft(reader)((r, n) => r.option("minPartitions", n)).load()
  }

  /** O3/O4/O9/O12/O14/O18 for the vision topic: decode, default
    * `hit_counts` to `size(locations)`, gate validity, derive event time
    * and partition columns. `locations` stays a native array (the
    * reference stringifies it, `run.py:46,51`; `locations_json` keeps
    * CSV-sink parity).
    */
  def transformVision(batch: DataFrame): DataFrame =
    shapeVision(decode(batch, "vision", TopicSchemas.visionEvent))

  /** Same pipeline for air-quality topics, keyed on `nicename`; the
    * open-ended sensor fields ride along raw in `props`.
    */
  def transformAirQuality(batch: DataFrame): DataFrame =
    shapeAirQuality(decode(batch, "aq", TopicSchemas.airQualityReading))

  /** `from_json` under the standard rescue-column policy: the
    * `columnNameOfCorruptRecord` field tells truly unparseable JSON
    * (field set) from valid-but-incomplete records (which the validity
    * gates handle) and from forward-compatible messages with unknown
    * EXTRA fields (which parse cleanly). The typed fields come out the
    * same as without the rescue field, so one parse serves both the
    * lake and the dead letters. This is the pipeline's only JSON decode.
    */
  private def rescuedJson(value: Column, schema: StructType): Column =
    from_json(value, schema.add("_corrupt", StringType),
      Map("columnNameOfCorruptRecord" -> "_corrupt"))

  /** `value` as a string plus its parse against one topic family's
    * schema in column `record`: the shape [[routeAndWrite]] produces for
    * every family at once.
    */
  private def decode(batch: DataFrame, record: String, schema: StructType): DataFrame = {
    val value = col("value").cast("string")
    batch.select(value.as("value"), rescuedJson(value, schema).as(record))
  }

  /** Everything after decode for vision rows, parsed into `vision`. */
  private def shapeVision(parsed: DataFrame): DataFrame = {
    val records = parsed.select(col("vision.*")).drop("_corrupt")
    val patched = EventOps.patchHitCounts(records)
      .withColumn("locations_json", to_json(col("locations")))
    val timed = EventOps.deriveEventTime(patched, "timestamp", "ts")
    EventOps.withPartitionColumns(
      EventOps.filterValid(timed, "ts", Some("camera_id")), "ts")
      .withColumnRenamed("camera_id", "entity")
  }

  /** Everything after decode for air-quality rows, parsed into `aq`;
    * the raw payload rides along as `props`.
    */
  private def shapeAirQuality(parsed: DataFrame): DataFrame = {
    val records = parsed.select(col("aq.*"), col("value").as("props")).drop("_corrupt")
    val timed = EventOps.deriveEventTime(records, "timestamp", "ts")
    EventOps.withPartitionColumns(
      EventOps.filterValid(timed, "ts", Some("nicename")), "ts")
      .withColumnRenamed("nicename", "entity")
  }

  // null-safe routing: a null/missing topic must reach the dead-letter
  // table, not vanish (three-valued logic would make it match no branch)
  private val isVision = col("topic") <=> TopicSchemas.visionTopic
  private val isAq = coalesce(col("topic").endsWith(TopicSchemas.airQualitySuffix), lit(false))

  /** O8/O22 — topic routing, one pass per micro-batch:
    *
    *   - one projection parses each row's JSON once, against its topic
    *     family's schema, and tags dead rows with a `reason`; only this
    *     parsed frame is cached;
    *   - one counting job over it fills the cache and sizes the routes;
    *     a route with no rows writes nothing, so no empty table
    *     directory appears;
    *   - the non-empty tables (vision, then its `stats` rollup;
    *     `air_quality`; `_dead_letter`) commit concurrently, one driver
    *     thread each. All of them run to completion before the first
    *     failure (a fatal error included) is rethrown; the threads start
    *     here, inherit the stream's job group, and `query.stop()`
    *     cancels their jobs, then waits here for them to end. No write
    *     outlives this call;
    *   - dead letters are shuffled on `topic`, so each batch writes one
    *     file per topic.
    *
    * Unknown topics AND unreadable rows on known topics land in the
    * dead-letter table with a `reason` (the reference logs-and-drops
    * unknowns, `df_manager.py:115-121`, and skips unreadable messages
    * visibly, `run.py:40-42`). A row that parses only partially (say, a
    * string where a number belongs) both lands with the fields that did
    * parse and is dead-lettered.
    */
  def routeAndWrite(batch: DataFrame, root: String, format: String = "parquet",
                    stats: Boolean = false): Unit = {
    val value = col("value").cast("string")
    def malformed(record: String): Column =
      col(record).isNull || col(s"$record._corrupt").isNotNull
    val parsed = batch.select(
        col("topic"), value.as("value"),
        when(isVision, rescuedJson(value, TopicSchemas.visionEvent)).as("vision"),
        when(isAq, rescuedJson(value, TopicSchemas.airQualityReading)).as("aq"))
      .withColumn("reason",
        when(isVision, when(malformed("vision"), lit("malformed_json")))
          .when(isAq, when(malformed("aq"), lit("malformed_json")))
          .otherwise(lit("unknown_topic")))
      .persist()
    try {
      val Row(nVision: Long, nAq: Long, nDead: Long) = parsed.agg(
        count(when(isVision, 1)), count(when(isAq, 1)), count(col("reason"))).head()

      def writeVision(): Unit = {
        // one output file per (entity, year, month) partition instead of
        // one per task × partition — the small-file guard matters here
        // because a catch-up batch touches every partition at once
        val tv = shapeVision(parsed.filter(isVision))
        PartitionedSink.appendPartitioned(
          PartitionedSink.repartitionByPartitionColumns(tv),
          s"$root/vision", format = format)
        // stats=true additionally maintains the per-entity monthly
        // hit-count rollup incrementally — the derived table a
        // dashboard reads instead of re-aggregating the lake; each
        // batch touches only its own partitions (IncrementalAgg)
        if (stats)
          graft.sinks.IncrementalAgg.maintain(batch.sparkSession, tv,
            s"$root/_stats/vision", Seq("entity"),
            Seq("entity", "year", "month"), "hit_counts")
      }
      def writeAirQuality(): Unit =
        PartitionedSink.appendPartitioned(
          PartitionedSink.repartitionByPartitionColumns(shapeAirQuality(parsed.filter(isAq))),
          s"$root/air_quality", format = format)
      def writeDeadLetters(): Unit =
        parsed.filter(col("reason").isNotNull)
          .select(coalesce(col("topic"), lit("__null__")).as("topic"),
            col("value"), col("reason"))
          .repartition(col("topic"))
          .write.mode("append").partitionBy("topic").format(format)
          .save(s"$root/_dead_letter")

      val writes = Seq(nVision -> writeVision _, nAq -> writeAirQuality _,
          nDead -> writeDeadLetters _)
        .collect { case (rows, write) if rows > 0 => write }
      if (writes.nonEmpty) {
        val pool = Executors.newFixedThreadPool(writes.size)
        try {
          // a FutureTask records any Throwable, fatal ones too, so every
          // get() returns; one failure cannot abandon the other writes
          val pending = writes.map(write => pool.submit((() => write()): Callable[Unit]))
          val failures = pending.flatMap { f =>
            try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
          }
          failures.headOption.foreach(e => throw e)
        } finally awaitShutdown(pool)
      }
    } finally parsed.unpersist()
  }

  /** Shut `pool` down and wait until its writes have finished, also when
    * this thread is interrupted: `query.stop()` interrupts the stream
    * thread after cancelling its jobs, and must not return while a pool
    * thread still commits files. The interrupt is restored afterwards.
    */
  private def awaitShutdown(pool: ExecutorService): Unit = {
    pool.shutdown()
    var interrupted = false
    var done = false
    while (!done)
      try done = pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** THE read path for the dead-letter table, across schema generations.
    * Early deployments wrote `(topic, value)` without the `reason` column
    * that later releases append; a plain parquet read over such a mixed
    * directory picks whichever file's footer it samples first and either
    * drops `reason` or drops the old rows nondeterministically. Reading
    * with `mergeSchema` unions the file schemas (old rows surface
    * `reason = NULL`), and the null backfills to `unknown_topic` — the
    * only reason that existed before the column did.
    */
  def readDeadLetter(spark: SparkSession, root: String,
                     format: String = "parquet"): DataFrame = {
    val raw = spark.read.option("mergeSchema", "true").format(format)
      .load(s"$root/_dead_letter")
    val withReason =
      if (raw.columns.contains("reason")) raw
      else raw.withColumn("reason", lit(null).cast("string"))
    withReason.withColumn("reason", coalesce(col("reason"), lit("unknown_topic")))
  }

  /** Wire a Kafka-shaped stream (must have `topic` and `value` columns)
    * to the routed sink. `availableNow = true` is CRON-drain mode (E2);
    * false runs as a daemon with the given trigger interval.
    */
  def writer(stream: DataFrame, root: String, checkpoint: String,
             availableNow: Boolean = true, interval: String = "10 seconds",
             format: String = "parquet", stats: Boolean = false): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        routeAndWrite(batch, root, format, stats) }
}
