package graft.schemas

import org.apache.spark.sql.types._

/** Explicit per-topic message schemas (FIXTURES.md §A) — reconstructed
  * from the reference's field accesses, declared instead of inferred
  * (the reference's per-batch pandas inference is the root of its
  * dtype-drift bugs, SURVEY.md §1.2).
  */
object TopicSchemas {

  /** `cuip_vision_events` (reference `config.yaml:6`): epoch-ms
    * `timestamp` (required; null rows dropped at ingest), `camera_id`
    * partition key, `locations` detection array (inner fields
    * unconstrained by the reference — x/y/label chosen for fixtures),
    * optional `hit_counts` defaulted to `size(locations)` (`run.py:48-50`).
    */
  val visionTopic = "cuip_vision_events"

  val visionEvent: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = true),
    StructField("camera_id", StringType, nullable = true),
    StructField("locations", ArrayType(StructType(Seq(
      StructField("x", DoubleType, nullable = true),
      StructField("y", DoubleType, nullable = true),
      StructField("label", StringType, nullable = true)))), nullable = true),
    StructField("hit_counts", IntegerType, nullable = true)))

  /** `*_AIR_QUALITY` topics (`config.yaml:7-13`, matched by suffix):
    * epoch-ms `timestamp`, `nicename` partition key; the open-ended
    * sensor measurement fields ride along as the raw JSON payload
    * (`props` escape hatch) rather than inferred columns.
    */
  val airQualitySuffix = "_AIR_QUALITY"

  val airQualityReading: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = true),
    StructField("nicename", StringType, nullable = true)))
}
