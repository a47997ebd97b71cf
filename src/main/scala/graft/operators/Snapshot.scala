package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot reconciliation: classify every key of two versions of the
  * same table as added / removed / changed / unchanged — the
  * change-data-capture diff a pipeline runs between two loads of an
  * upstream table. The reference re-reads and appends whole partitions
  * per cycle (`df_manager.py:59-84`); the diff is the set-level
  * generalization that tells you WHAT moved instead of a blind
  * rewrite.
  *
  * Scale design (100 TB): exactly one FULL OUTER shuffle join on the
  * key — the minimum any diff must pay — with both sides partial-pruned
  * to key + compared columns before the exchange. Presence is tracked
  * by marker literals (not key-null checks), so nullable key columns
  * cannot masquerade as absent rows; the change test is a null-safe
  * (`<=>`) equality ladder evaluated row-wise in codegen. No driver
  * state, no window, no collect.
  */
object Snapshot {

  /** Rows of `oldDf ⋈ newDf` (full outer on `keyCols`) with a `status`
    * column: `added` (key only in new), `removed` (only in old),
    * `changed` (in both, some compared column differs under null-safe
    * equality), `unchanged`. Output carries the coalesced key plus
    * `old_<c>` / `new_<c>` for each compared column. Keys must be
    * unique per side (a snapshot, not a log); duplicate keys would
    * fan out in the join like any SQL full outer would.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
           compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshot diff needs at least one key column")
    val l = oldDf.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__in_old", lit(true)).as("l")
    val r = newDf.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__in_new", lit(true)).as("r")
    val on = keyCols.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
    val changed =
      if (compareCols.isEmpty) lit(false)
      else compareCols.map(c => !(col(s"l.$c") <=> col(s"r.$c"))).reduce(_ || _)
    val status = when(col("__in_old").isNull, lit("added"))
      .when(col("__in_new").isNull, lit("removed"))
      .when(changed, lit("changed"))
      .otherwise(lit("unchanged"))
    l.join(r, on, "full_outer")
      .select(keyCols.map(k => coalesce(col(s"l.$k"), col(s"r.$k")).as(k)) ++
        compareCols.flatMap(c =>
          Seq(col(s"l.$c").as(s"old_$c"), col(s"r.$c").as(s"new_$c"))) :+
        status.as("status"): _*)
  }

  /** [[diff]] without the unchanged rows — the materialized "what
    * changed" set (typically ≪ the snapshot, which is the point: ship
    * the delta, not the table).
    */
  def changes(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
              compareCols: Seq[String]): DataFrame =
    diff(oldDf, newDf, keyCols, compareCols).filter(col("status") =!= "unchanged")
}
