package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._
import graft.registry.EventQueries.q09

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the north-star extensions), with a DuckDB-executable
  * oracle for every SQL-expressible one.
  *
  * The entries are data: one [[graft.registry.Query]] per name, declared
  * beside its builder in a family file under `graft/registry/`.
  * `queries` and `oracleSql` are views of that one list, built once.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - double aggregates go through DECIMAL(18,s) (exact, order-independent)
  *    and are cast back to DOUBLE;
  *  - averages are computed as exact-decimal-sum / count in DOUBLE;
  *  - timestamps are surfaced as epoch-µs BIGINT or formatted strings;
  *  - top-k queries carry a total tie-break order;
  *  - Jaccard thresholds compare integers (inter·den ≥ un·num), never
  *    floats.
  */
object SparkEntry {

  /** Flagship query (sf0.001): the 4-way revenue join, Q9 shape. */
  def entry(spark: SparkSession): DataFrame =
    q09(spark, "/root/testdata/sf0.001")

  /** Every entry, family by family; `queries` and `oracleSql` index it. */
  private[graft] val registry: Seq[Query] =
    Seq(EventQueries, TextQueries, DedupQueries, CorpusQueries, MediaQueries,
      StatsQueries, SinkQueries).flatMap(_.all)

  locally {
    val twice = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"registry names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
