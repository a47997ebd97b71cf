package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession

/** The curation-loop application entry point — [[IngestMain]]'s CLI
  * shape applied to the document pipeline: a directory of JSON
  * documents streams through ONE [[CurationLoop]] `foreachBatch`
  * (dedup index + quality quantiles + corpus stats, each sink
  * exactly-once per batch id).
  *
  * Arguments are `key=value` pairs:
  *
  * {{{
  * spark-submit --class graft.streaming.CurationMain app.jar \
  *   source=dir:/landing/docs root=s3a://bucket/curation \
  *   checkpoint=s3a://bucket/ckpt mode=drain \
  *   schema="doc_id BIGINT, lang STRING, text STRING, quality DOUBLE" \
  *   id=doc_id text=text value=quality keys=lang parts=lang \
  *   lang=lang lake=8 cleanlines=true compactevery=12 optimizeevery=12
  * }}}
  *
  * The last line turns on the optional tables and maintenance passes:
  * `lang=` the maintained vocabulary, `lake=` the similarity-ordered
  * document lake (`<nFiles>` per batch), `cleanlines=true` the
  * standing line-dedup filter (the lake lands CLEANED text),
  * `compactevery=` / `optimizeevery=` the periodic index fold and the
  * lake OPTIMIZE (global re-cluster + small-files compaction), both
  * from the same single writer.
  *
  * `mode=drain` (Trigger.AvailableNow) is the CRON shape: fold
  * everything that landed since the last run into the three standing
  * tables, checkpoint, exit — each run's batches replay-safe on their
  * `_APPLIED` markers. `mode=daemon interval="30 seconds"` runs
  * continuously. Storage credentials validate at startup via
  * [[IngestMain.validateStorageConf]] (the reference's fail-fast env
  * check, `run.py:224-248`).
  */
object CurationMain {

  def startQuery(spark: SparkSession, conf: Map[String, String]): StreamingQuery = {
    val src = conf.getOrElse("source",
      throw new IllegalArgumentException("source=dir:<path> is required"))
    require(src.startsWith("dir:"),
      s"curation source must be dir:<path> (got $src) — broker ingest " +
        "routes through IngestMain; this main owns the document loop")
    val root = conf.getOrElse("root",
      throw new IllegalArgumentException("root=<lake path> is required"))
    val checkpoint = conf.getOrElse("checkpoint",
      throw new IllegalArgumentException("checkpoint=<path> is required"))
    val schema = conf.getOrElse("schema",
      "doc_id BIGINT, lang STRING, text STRING, quality DOUBLE")
    val keys = conf.getOrElse("keys", "lang").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    val parts = conf.getOrElse("parts", keys.mkString(",")).split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    val stream = spark.readStream.schema(schema).json(src.stripPrefix("dir:"))
    // optional table/maintenance knobs: lang=<col> adds the vocabulary
    // sink, lake=<nFiles> the similarity-ordered document lake,
    // cleanlines=true the standing line-dedup filter (the lake then
    // lands CLEANED text), compactevery=<n> / optimizeevery=<n> the
    // periodic index fold and lake OPTIMIZE from the same single writer
    CurationLoop.writer(stream, root, checkpoint,
      idCol = conf.getOrElse("id", "doc_id"),
      textCol = conf.getOrElse("text", "text"),
      partCols = parts, keyCols = keys,
      valueCol = conf.getOrElse("value", "quality"),
      availableNow = conf.getOrElse("mode", "drain") == "drain",
      interval = conf.getOrElse("interval", "30 seconds"),
      compactEvery = conf.getOrElse("compactevery", "0").toInt,
      langCol = conf.get("lang"),
      lakeFiles = conf.getOrElse("lake", "0").toInt,
      cleanLines = conf.getOrElse("cleanlines", "false").toBoolean,
      optimizeEvery = conf.getOrElse("optimizeevery", "0").toInt).start()
  }

  def main(args: Array[String]): Unit = {
    val conf = IngestMain.parseArgs(args)
    val spark = GraftSession.configure(
      GraftSession.builder().appName("graft-curation").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    IngestMain.validateStorageConf(spark, conf)
    val q = startQuery(spark, conf)
    sys.addShutdownHook { if (q.isActive) q.stop() }
    q.awaitTermination()
    spark.stop()
  }
}
