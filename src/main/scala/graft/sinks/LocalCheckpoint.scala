package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager local checkpoints that live only as long as their user. */
object LocalCheckpoint {

  /** `body` run on `df` materialized by `localCheckpoint(eager = true)`;
    * the checkpoint's blocks are released when `body` returns or throws.
    * `Dataset.unpersist` does not reach them: they belong to the RDD of
    * the checkpoint's `LogicalRDD`.
    */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val checkpoint = df.localCheckpoint(eager = true)
    try body(checkpoint) finally checkpoint.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
