package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.ops.EventOps
import graft.schemas.TopicSchemas
import graft.sinks.PartitionedSink
import graft.streaming.{IngestMain, IngestPipeline}

/** The JVM half of the benchmark (`perfbench/run.py` is the other):
  * one run of one workload in a fresh session, timed, with the raw
  * samples written as JSON to `out=`. Arguments are `key=value` pairs.
  *
  *  - `workload=drain warm=<dir> rounds=<dir,...> batchFiles=<n>`: each
  *    round's backlog drained through `IngestPipeline.writer(availableNow
  *    = true)` by a fresh query, as successive CRON runs would,
  *    `batchFiles` files per micro-batch, after the backlog in `warm` was
  *    drained the same way, untimed; all into one lake.
  *  - `workload=queries data=<dir> names=<q,...> passes=<n>`: each query
  *    once into `results=<dir>` (warm pass, checked afterwards against
  *    its oracle), then `passes` timed rounds of build, plan, execute.
  *
  * Each timed round's wall goes to `rounds_s`.
  *
  * `trace=1` adds the per-layer probes and the spans; the timed region
  * itself runs the same calls either way.
  */
object PerfBench {

  private val isVision: Column = col("topic") <=> TopicSchemas.visionTopic
  private val isAq: Column =
    coalesce(col("topic").endsWith(TopicSchemas.airQualitySuffix), lit(false))

  final class Result {
    val fields = mutable.LinkedHashMap[String, String]()
    val layers = mutable.LinkedHashMap[String, Double]()
    def put(k: String, v: Double): Unit = fields(k) = Json.num(v)
    def layer(k: String, v: Double): Unit = layers(k) = v
  }

  def main(args: Array[String]): Unit = {
    val conf = IngestMain.parseArgs(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    val progress = new Progress
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    val trace = new Trace(spark, conf("run"), conf("trace") == "1")
    val res = new Result
    res.put("session_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    try conf("workload") match {
      case "drain" => drainWorkload(spark, conf, trace, counters, progress, res)
      case "queries" => queries(spark, conf, trace, counters, res)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    } finally spark.stop()
    val json = Json.obj(res.fields.toSeq ++ Seq(
      "layers" -> Json.obj(res.layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> trace.toJson))
    Files.write(Paths.get(conf("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def sparkWindow(res: Result, before: SparkCounters#Snapshot,
                          after: SparkCounters#Snapshot, gcMs: Long): Unit = {
    res.layer("spark.jobs", (after.jobs - before.jobs).toDouble)
    res.layer("spark.stages", (after.stages - before.stages).toDouble)
    res.layer("spark.tasks", (after.tasks - before.tasks).toDouble)
    res.layer("spark.task_run_ms", (after.runMs - before.runMs).toDouble)
    res.layer("spark.task_cpu_ms", (after.cpuNs - before.cpuNs) / 1e6)
    res.layer("spark.shuffle_write_mb", (after.shuffleWriteBytes - before.shuffleWriteBytes) / 1048576.0)
    res.layer("spark.spill_mb", (after.spillBytes - before.spillBytes) / 1048576.0)
    res.layer("spark.peak_exec_mem_mb", after.peakExecMem / 1048576.0)
    res.layer("jvm.gc_ms", gcMs.toDouble)
  }

  private def drainWorkload(spark: SparkSession, conf: Map[String, String], trace: Trace,
                            counters: SparkCounters, progress: Progress,
                            res: Result): Unit = {
    // the `dir:` source of IngestMain, bounded by the file source's
    // maxFilesPerTrigger as the Kafka source is by maxOffsetsPerTrigger
    def drain(dir: String, checkpoint: String): String = {
      val stream = spark.readStream.schema("topic STRING, value STRING")
        .option("maxFilesPerTrigger", conf("batchFiles"))
        .json(dir)
        .selectExpr("CAST(topic AS STRING) AS topic", "CAST(value AS STRING) AS value")
      val q = IngestPipeline.writer(stream, conf("lake"), checkpoint, availableNow = true).start()
      q.awaitTermination()
      q.runId.toString
    }
    res.put("warmup_s", time(drain(conf("warm"), s"${conf("checkpoints")}/warm"))._2)
    val rounds = conf("rounds").split(",").toSeq
    Trace.settle(spark)
    val before = counters.snapshot
    val gc0 = Trace.gcMs
    val drained = rounds.zipWithIndex.map { case (dir, i) =>
      trace.span("stream.drain")(time(drain(dir, s"${conf("checkpoints")}/round$i")))
    }
    val gcMs = Trace.gcMs - gc0
    Trace.settle(spark)
    sparkWindow(res, before, counters.snapshot, gcMs)
    val batches = drained.flatMap { case (runId, _) => progress.of(runId) }
    res.fields("rounds_s") = drained.map(d => Json.num(d._2)).mkString("[", ",", "]")
    res.put("items", batches.map(_.rows).sum.toDouble)
    res.fields("ops_ms") =
      batches.map(b => Json.num(b.durationMs.getOrElse("triggerExecution", 0L).toDouble))
        .mkString("[", ",", "]")
    res.layer("streaming.batches", batches.size.toDouble)
    Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
      .foreach { case (phase, name) =>
        val per = batches.map(_.durationMs.getOrElse(phase, 0L).toDouble)
        res.layer(s"streaming.$name", if (per.isEmpty) 0.0 else per.sum / per.size)
      }
    if (trace.on) drainProbes(spark, conf, trace, counters, res)
  }

  /** Per-layer probes on a static copy of the first round's first
    * micro-batch.
    */
  private def drainProbes(spark: SparkSession, conf: Map[String, String], trace: Trace,
                          counters: SparkCounters, res: Result): Unit = {
    val files = new File(conf("rounds").split(",").head).listFiles().map(_.getPath)
      .filter(_.endsWith(".json")).sorted.take(conf("batchFiles").toInt)
    def batch(): DataFrame = spark.read.schema("topic STRING, value STRING").json(files: _*)
      .selectExpr("CAST(topic AS STRING) AS topic", "CAST(value AS STRING) AS value")
    val probeRoot = conf("probe")

    // pipeline: the whole per-batch function, as foreachBatch calls it
    trace.span("pipeline.route") {
      IngestPipeline.routeAndWrite(batch(), s"$probeRoot/route")
    }
    Trace.settle(spark)
    res.layer("pipeline.route_ms", trace.ms("pipeline.route"))
    res.layer("pipeline.route_jobs", counters.jobsIn("pipeline.route").toDouble)
    val dead = IngestPipeline.readDeadLetter(spark, s"$probeRoot/route")
      .groupBy("reason").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    res.layer("pipeline.dead_unknown_topic", dead.getOrElse("unknown_topic", 0L).toDouble)
    res.layer("pipeline.dead_malformed_json", dead.getOrElse("malformed_json", 0L).toDouble)

    // ops: decode + patch + gates per topic family, on a cached batch
    val cached = batch().persist()
    cached.count()
    val vision = cached.filter(isVision)
    val aq = cached.filter(isAq)
    trace.span("ops.decode_vision")(noop(IngestPipeline.transformVision(vision)))
    trace.span("ops.decode_aq")(noop(IngestPipeline.transformAirQuality(aq)))
    res.layer("ops.decode_vision_ms", trace.ms("ops.decode_vision"))
    res.layer("ops.decode_aq_ms", trace.ms("ops.decode_aq"))
    // rows left after each gate, in the order filterValid applies them
    def gates(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
              key: String): Seq[Long] = {
      val timed = EventOps.deriveEventTime(
        EventOps.decodeJson(df, schema).select(col("record.*")), "timestamp", "ts")
      val hasTs = EventOps.filterHasTimestamp(timed, "ts")
      val notEpoch = EventOps.filterEpochGarbage(hasTs, "ts")
      Seq(timed, hasTs, notEpoch, EventOps.filterValidKey(notEpoch, key)).map(_.count())
    }
    val left = gates(vision, TopicSchemas.visionEvent, "camera_id")
      .zip(gates(aq, TopicSchemas.airQualityReading, "nicename")).map { case (a, b) => a + b }
    res.layer("ops.rows_in", left.head.toDouble)
    res.layer("ops.rows_out", left.last.toDouble)
    res.layer("ops.drop_null_ts", (left(0) - left(1)).toDouble)
    res.layer("ops.drop_epoch_1970", (left(1) - left(2)).toDouble)
    res.layer("ops.drop_nan_key", (left(2) - left(3)).toDouble)

    // sinks: the partitioned append of already-transformed rows, and the
    // same repartition into `noop` (the shuffle without the file writes)
    val tv = IngestPipeline.transformVision(vision).persist()
    val ta = IngestPipeline.transformAirQuality(aq).persist()
    tv.count(); ta.count()
    trace.span("sinks.shuffle") {
      noop(PartitionedSink.repartitionByPartitionColumns(tv))
      noop(PartitionedSink.repartitionByPartitionColumns(ta))
    }
    trace.span("sinks.append") {
      PartitionedSink.appendPartitioned(
        PartitionedSink.repartitionByPartitionColumns(tv), s"$probeRoot/sink/vision")
      PartitionedSink.appendPartitioned(
        PartitionedSink.repartitionByPartitionColumns(ta), s"$probeRoot/sink/air_quality")
    }
    val written = scala.util.Using.resource(Files.walk(Paths.get(probeRoot, "sink"))) {
      _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
        .toArray
    }
    val appendMs = trace.ms("sinks.append")
    val shuffleMs = trace.ms("sinks.shuffle")
    res.layer("sinks.append_ms", appendMs)
    res.layer("sinks.shuffle_ms", shuffleMs)
    res.layer("sinks.files_written", written.length.toDouble)
    res.layer("sinks.bytes_written", written.map(Files.size).sum.toDouble)
    res.layer("sinks.leaves_touched", written.map(_.getParent).distinct.length.toDouble)
    res.layer("sinks.ms_per_file",
      if (written.isEmpty) 0.0 else (appendMs - shuffleMs) / written.length)
    res.layer("pipeline.overhead_ms", trace.ms("pipeline.route") -
      trace.ms("ops.decode_vision") - trace.ms("ops.decode_aq") - appendMs)
    spark.catalog.clearCache()
  }

  private def queries(spark: SparkSession, conf: Map[String, String], trace: Trace,
                      counters: SparkCounters, res: Result): Unit = {
    val data = conf("data")
    val names = conf("names").split(",").toSeq
    val fns = SparkEntry.queries
    val failed = mutable.LinkedHashMap[String, String]()
    def attempt(name: String)(body: => Unit): Unit =
      try body
      catch {
        case e: Throwable =>
          failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .take(300)
      } finally spark.catalog.clearCache()

    // warm pass: every query once, its result kept for the oracle check
    val (_, warmS) = time(names.foreach { n =>
      attempt(n)(fns(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"${conf("results")}/$n"))
    })
    res.put("warmup_s", warmS)
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
    Files.write(Paths.get(conf("results"), "oracle_sql.json"),
      Json.obj(oracle).getBytes(StandardCharsets.UTF_8))

    val tableOf = Tables.names.map(t => s"$t.parquet" -> t).toMap
    val opsMs = mutable.ArrayBuffer[Double]()
    val reads = mutable.ArrayBuffer[Seq[String]]()
    var executions = 0
    Trace.settle(spark)
    val before = counters.snapshot
    val gc0 = Trace.gcMs
    val passes = (1 to conf("passes").toInt).map(_ => time(names.foreach { n =>
        executions += 1
        attempt(n) {
          val t0 = System.nanoTime()
          val df = trace.span("entry.build")(fns(n)(spark, data))
          trace.span("plan")(df.queryExecution.executedPlan)
          trace.span("exec")(noop(df))
          opsMs += (System.nanoTime() - t0) / 1e6
          if (trace.on) reads += df.inputFiles.toSeq.flatMap(f => tableOf.get(new File(f).getName))
        }
      })._2)
    val gcMs = Trace.gcMs - gc0
    Trace.settle(spark)
    sparkWindow(res, before, counters.snapshot, gcMs)
    // tables: what resolving each timed query's input tables costs alone
    reads.foreach(ts => trace.span("tables.resolve")(ts.distinct.foreach(Tables.table(spark, data, _))))
    Trace.settle(spark)
    res.fields("rounds_s") = passes.map(Json.num).mkString("[", ",", "]")
    res.put("items", opsMs.size.toDouble)
    res.put("executions", executions.toDouble)
    res.fields("ops_ms") = opsMs.map(Json.num).mkString("[", ",", "]")
    res.fields("errors") = Json.obj(failed.toSeq.map { case (k, v) => k -> Json.str(v) })
    res.layer("entry.build_ms", trace.ms("entry.build"))
    res.layer("tables.resolve_ms", trace.ms("tables.resolve"))
    res.layer("plan.ms", trace.ms("plan"))
    res.layer("exec.ms", trace.ms("exec"))
    res.layer("entry.build_jobs", counters.jobsIn("entry.build").toDouble)
    res.layer("tables.resolve_jobs", counters.jobsIn("tables.resolve").toDouble)
    res.layer("exec.jobs", counters.jobsIn("exec").toDouble)
  }
}
