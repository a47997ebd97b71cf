package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.EventOps
import graft.functions.NumFunctions

/** Registry family: the event log and the TPC-H tables — scans, filters,
  * joins (as-of, range, salted, semi/anti, TPC-H shapes), grouping sets,
  * windows, time series and the record-linkage and privacy audits over
  * `customer`.
  */
private[graft] object EventQueries extends Family {

  /** Q1 — O3/O11 scan + projection. */
  def q01(s: SparkSession, d: String): DataFrame =
    ev(s, d).select("event_id", "user_id", "event_type", "value")
  query("q01_scan_project", q01,
      "SELECT event_id, user_id, event_type, value FROM events")

  /** Q2 — O9/O14 validity filters; ts surfaced as epoch-µs. */
  def q02(s: SparkSession, d: String): DataFrame =
    EventOps.filterValid(ev(s, d))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  query("q02_filter_valid", q02,
      ("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props " +
       "FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970"))

  /** Q3 — O12 derived time columns. */
  def q03(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("d"),
      date_format(col("ts"), "yyyy-MM").as("ym"))
  query("q03_derive_time", q03,
      ("SELECT event_id, strftime(ts, '%Y-%m-%d') AS d, strftime(ts, '%Y-%m') AS ym " +
       "FROM events"))

  /** Q4 — O13 distinct months. */
  def q04(s: SparkSession, d: String): DataFrame =
    EventOps.distinctMonths(ev(s, d))
  query("q04_distinct_months", q04,
      "SELECT DISTINCT strftime(ts, '%Y-%m') AS ym FROM events")

  /** Q5 — O15 half-open range predicate (fixes the reference's
    * boundary-dropping bug, `df_manager.py:70-74`).
    */
  def q05(s: SparkSession, d: String): DataFrame =
    EventOps.rangeFilter(ev(s, d), "ts", "2024-01-05 00:00:00", "2024-01-20 00:00:00")
      .agg(count(lit(1)).as("n"))
  query("q05_range_count", q05,
      ("SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
       "AND ts < TIMESTAMP '2024-01-20 00:00:00'"))

  /** Q6 — O16/O17 group fan-out as a declarative aggregation. */
  def q06(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type"),
        year(col("ts")).cast("long").as("y"), month(col("ts")).cast("long").as("m"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("s"))
  query("q06_group_fanout", q06,
      ("SELECT event_type, CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m, " +
       "count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM events GROUP BY 1, 2, 3"))

  /** Q7 — O4 schema patch / default column on the raw-JSON escape hatch. */
  def q07(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("event_id"),
      coalesce(get_json_object(col("props"), "$.k"), lit("0")).as("hits"))
  query("q07_props_patch", q07,
      ("SELECT event_id, coalesce(json_extract_string(props, '$.k'), '0') AS hits " +
       "FROM events"))

  /** Q8 — O19 append/accumulate as a pure union. */
  def q08(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select("event_id", "user_id", "event_type", "value")
    EventOps.append(e.filter(col("event_id") % 2 === 0), e.filter(col("event_id") % 2 === 1))
  }
  query("q08_union_append", q08,
      ("SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 2 = 0 " +
       "UNION ALL " +
       "SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 2 = 1"))

  /** Q9 — multi-way join + aggregation (broadcast the 25-row nation dim). */
  def q09(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
  query("q09_join_revenue", q09,
      ("SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) " +
       "AS DOUBLE) AS revenue FROM customer " +
       "JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON o_orderkey = l_orderkey " +
       "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"))

  /** Q10 — TPC-H Q1 shape (scan-heavy aggregation). */
  def q10(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base"),
        (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n"))
  query("q10_tpch_q1", q10,
      ("SELECT l_returnflag, l_linestatus, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price, " +
       "count(*) AS n FROM lineitem " +
       "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2"))

  /** Q11 — window function top-k per key (total order via tie-break). */
  def q11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
  }
  query("q11_window_top3", q11,
      ("SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (" +
       "SELECT o_custkey, o_orderkey, o_totalprice, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
       "AS BIGINT) AS rk FROM orders) t WHERE rk <= 3"))

  /** Q15 — O10 micro-batch semantics, batch-equivalent: tumbling 1-hour
    * event-time window aggregation (streaming twin in
    * [[graft.streaming.IngestPipeline]] specs).
    */
  def q15(s: SparkSession, d: String): DataFrame =
    ev(s, d).filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))
  query("q15_hourly_window", q15,
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart, " +
       "event_type, count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"))

  /** Q16 — E3 end-to-end: validity gates → derived time → JSON patch →
    * grouped sink-shaped aggregation (the whole reference pipeline as one
    * declarative query).
    */
  def q16(s: SparkSession, d: String): DataFrame =
    EventOps.filterValid(ev(s, d))
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM").as("ym"),
        coalesce(get_json_object(col("props"), "$.k"), lit("0")).cast("long").as("hits"))
      .groupBy(col("event_type"), col("ym"))
      .agg(count(lit(1)).as("n"), sum(col("hits")).as("hits_sum"))
  query("q16_etl_pipeline", q16,
      ("SELECT event_type, strftime(ts, '%Y-%m') AS ym, count(*) AS n, " +
       "CAST(sum(TRY_CAST(coalesce(json_extract_string(props, '$.k'), '0') AS BIGINT)) " +
       "AS BIGINT) AS hits_sum " +
       "FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970 GROUP BY 1, 2"))

  /** Q24 — exact distinct-entity count (the O13 pattern at entity level). */
  def q24(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  query("q24_distinct_users", q24,
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type")

  /** Q33 — gap-based sessionization (30-min inactivity): lag + cumulative
    * window flags, then per-session aggregates. All-integer arithmetic
    * (epoch-µs) with total tie-break orders, so oracle-exact.
    */
  def q33(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(us, 1).over(wOrd)
    val flag = when(prev.isNull, 0).when(us - prev > 1800000000L, 1).otherwise(0)
    ev(s, d).filter(col("ts").isNotNull)
      .withColumn("us", us)
      .withColumn("session_idx",
        sum(flag).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n"), (max(col("us")) - min(col("us"))).as("span_us"))
  }
  query("q33_sessionize", q33,
      ("""WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events WHERE ts IS NOT NULL),
         |y AS (SELECT user_id, event_id, us,
         |  CASE WHEN prev IS NULL THEN 0 WHEN us - prev > 1800000000 THEN 1 ELSE 0 END AS flag
         |  FROM x),
         |z AS (SELECT user_id, us, CAST(sum(flag) OVER (PARTITION BY user_id
         |  ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS BIGINT) AS session_idx FROM y)
         |SELECT user_id, session_idx, count(*) AS n, max(us) - min(us) AS span_us
         |FROM z GROUP BY 1, 2
         |""".stripMargin))

  /** Q34 — ROLLUP grouping sets over the ETL dimensions. */
  def q34(s: SparkSession, d: String): DataFrame =
    ev(s, d).rollup(col("event_type"), date_format(col("ts"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("s"))
  query("q34_rollup", q34,
      ("SELECT event_type, strftime(ts, '%Y-%m') AS ym, count(*) AS n, " +
       "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m'))"))

  /** Q35 — anti join: market segments' customers with no large orders. */
  def q35(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0d)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
  }
  query("q35_anti_join", q35,
      ("SELECT c_mktsegment, count(*) AS n FROM customer WHERE NOT EXISTS (" +
       "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0" +
       ") GROUP BY c_mktsegment"))

  /** Q38 — stream-shaped dimension enrichment ([[EventOps.enrich]]):
    * broadcast left-join of the customer dimension onto events, the
    * batch twin of the `foreachBatch` stream-static join.
    */
  def q38(s: SparkSession, d: String): DataFrame =
    EventOps.enrich(
      ev(s, d).select(col("event_id"), col("user_id").as("c_custkey"), col("event_type")),
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
      Seq("c_custkey"))
      .select(col("event_id"), col("c_custkey").as("user_id"),
        col("event_type"), col("c_mktsegment"))
  query("q38_enrich_dim", q38,
      ("SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment " +
       "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"))

  /** Q45 — PIVOT: long→wide reshaping via
    * [[graft.operators.Reshape.pivotWide]] — one conditional aggregation
    * instead of built-in pivot's two-Exchange `pivotfirst` plan (and no
    * values-discovery scan: values are explicit by construction). One
    * shuffle on the grouping key, map-side partial aggregation, fully
    * codegen'd — gated in PlanSpec.
    */
  def q45(s: SparkSession, d: String): DataFrame =
    graft.operators.Reshape.pivotWide(
      Tables.lineitem(s, d), "l_returnflag", "l_linestatus",
      Seq("F", "O"), col("l_quantity"), c => dsum(c, 2))
  query("q45_pivot", q45,
      ("SELECT l_returnflag, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS \"F\", " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS \"O\" " +
       "FROM lineitem GROUP BY l_returnflag"))

  /** Q46 — CUBE grouping sets (all 2² subtotal combinations in one
    * pass). Catalyst expands the cube into a grouping-sets Expand (×4
    * rows) BEFORE the partial aggregate, so map-side combine still
    * collapses each grouping set locally — one shuffle total, versus
    * four separate scans+shuffles for the union-of-group-bys a naive
    * caller would write. Completes the q34 ROLLUP story.
    */
  def q46(s: SparkSession, d: String): DataFrame =
    // the cube's Expand multiplies per-row work x4 before the partial
    // aggregate — spread a narrow scan accordingly (never fires wide)
    graft.operators.Similarity.spreadIfNarrow(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_linestatus"), col("l_extendedprice")), computeWeight = 32)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("s"))
  query("q46_cube", q46,
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"))

  /** Q47 — running total per customer: a cumulative window frame
    * (`rows unbounded preceding → current`). One shuffle on the
    * partition key, one in-partition sort, then a single streaming pass
    * — the frame never materializes (running aggregation, not
    * per-row re-scan). Decimal accumulate / double surface for exact
    * oracle parity; `o_orderkey` in the ordering makes the running
    * order total-tie-break deterministic.
    */
  def q47(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
        .cast("double").as("run_total"))
  }
  query("q47_cumsum", q47,
      ("SELECT o_custkey, o_orderkey, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
       "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total " +
       "FROM orders"))

  /** Q48 — LEFT SEMI join: customers with at least one large order, by
    * segment. Semi joins short-circuit on first match and never
    * replicate matched rows (an inner join + distinct would shuffle the
    * full match multiplicity first); the filtered orders side stays
    * small enough to broadcast, so the customer scan never shuffles.
    */
  def q48(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 200000.0),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
  query("q48_semi_join", q48,
      ("SELECT c_mktsegment, count(*) AS n FROM customer WHERE EXISTS (" +
       "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0" +
       ") GROUP BY c_mktsegment"))

  /** Q49 — trailing 7-day revenue per customer: a RANGE window frame
    * over event-time (epoch days), the time-based sibling of Q47's ROWS
    * frame. RANGE includes all peers of the current ordering value, so
    * same-day orders see identical totals — deterministic without a
    * tie-break. One shuffle + one sort; the frame slides, never
    * re-scans.
    */
  def q49(s: SparkSession, d: String): DataFrame = {
    val ds = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("ds"))
      .rangeBetween(-6, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), ds.cast("long").as("ds"),
        col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("ds"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("rev_7d"))
  }
  query("q49_moving_window", q49,
      ("SELECT o_custkey, o_orderkey, " +
       "CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS ds, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
       "PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate) " +
       "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d " +
       "FROM orders"))

  /** Q50 — FORWARD as-of join (q41's mirror): each event picks the
    * user's next order at-or-after the event time — same union-tag +
    * one-shuffle + forward-fill plan with the time ordering reversed
    * ([[graft.operators.Joins.asofJoin]] `direction = "forward"`),
    * through the bucketed hot-key fallback like q41 — the forward
    * stitch carries each bucket's FIRST right row backward across the
    * bucket list. Hash-matches the LATERAL `>= ... ORDER BY ASC LIMIT 1`
    * oracle.
    */
  def q50(s: SparkSession, d: String): DataFrame = {
    val events = ev(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val orders = Tables.orders(s, d).select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ots"),
      col("o_orderkey"), col("o_totalprice"))
    graft.operators.Joins.asofJoin(
        events, orders, Seq("user_id"), "ts_us", "ots",
        tieBreak = "o_orderkey", direction = "forward",
        timeBucket = 180L * 24 * 3600 * 1000000)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey").as("next_orderkey"), col("o_totalprice").as("next_price"))
  }
  query("q50_asof_forward", q50,
      ("SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, " +
       "o.o_orderkey AS next_orderkey, o.o_totalprice AS next_price " +
       "FROM events e LEFT JOIN LATERAL (" +
       "SELECT o_orderkey, o_totalprice FROM orders " +
       "WHERE o_custkey = e.user_id " +
       "AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) >= epoch_us(e.ts) " +
       "ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 1) o ON TRUE"))

  /** Q51 — explicit GROUPING SETS: per-returnflag and per-linestatus
    * subtotals in one pass, WITHOUT the cross products or grand total a
    * cube would add — the general form q34 (rollup) and q46 (cube) are
    * shorthands of. Same Expand-then-partial-aggregate single-shuffle
    * plan, but the Expand factor is exactly the number of requested
    * sets (2 here), not 2^dims.
    */
  def q51(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("s"))
  query("q51_grouping_sets", q51,
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"))

  /** Q55 — set difference (EXCEPT, distinct semantics): customers who
    * ordered but show no event activity. Catalyst plans `except` as a
    * distinct left-anti join — one shuffle each side on the compared
    * column, partial-aggregated dedup, no full materialized distinct
    * before the join.
    */
  def q55(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("user_id"))
      .except(ev(s, d).select(col("user_id")))
  query("q55_set_diff", q55,
      "SELECT o_custkey AS user_id FROM orders EXCEPT SELECT user_id FROM events")

  /** Q57 — deterministic exact stratified sample
    * ([[graft.operators.Corpus.stratifiedSample]]): the first ⌊tot/10⌋
    * events per event_type in event_id order — replay-stable,
    * exactly-proportional per stratum, one shuffle shared by both
    * windows. The declarative alternative to `sampleBy`'s Bernoulli
    * draw (whose per-stratum counts vary run to run).
    */
  def q57(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.stratifiedSample(
      ev(s, d).select(col("event_id"), col("event_type"), col("user_id")),
      Seq("event_type"), "event_id", num = 1, den = 10)
  query("q57_stratified_sample", q57,
      ("""SELECT event_id, event_type, user_id FROM (
         |  SELECT event_id, event_type, user_id,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS tot
         |  FROM events) WHERE rn * 10 <= tot
         |""".stripMargin))

  /** Q60 — set intersection (INTERSECT, distinct semantics — q55's
    * complement): customers who ordered AND have event activity.
    * Catalyst plans it as a distinct left-semi join, partial-aggregated
    * each side before its single shuffle.
    */
  def q60(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("user_id"))
      .intersect(ev(s, d).select(col("user_id")))
  query("q60_intersect", q60,
      "SELECT o_custkey AS user_id FROM orders INTERSECT SELECT user_id FROM events")

  /** Q61 — quantile bucketing: users ranked into spend quartiles with
    * [[graft.operators.Ranks.ntileExact]] — bit-identical to
    * `ntile(4) OVER (ORDER BY spend DESC, user_id)` (the oracle SQL),
    * but with NO partition-less window over the data: the per-user
    * aggregate is range-partitioned, ranked locally, and stitched with a
    * metadata-scale offset window, so the plan completes even when the
    * aggregate itself (billions of users at 100 TB) outgrows one task.
    */
  def q61(s: SparkSession, d: String): DataFrame = {
    val spend = ev(s, d).groupBy(col("user_id"))
      .agg(dsum(col("value"), 2).as("spend"))
    graft.operators.Ranks.ntileExact(spend,
        Seq(col("spend").desc, col("user_id").asc), k = 4, outCol = "quartile")
      .select(col("user_id"), col("spend"), col("quartile"))
  }
  query("q61_ntile_quartiles", q61,
      ("""WITH s AS (SELECT user_id,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |  FROM events GROUP BY 1)
         |SELECT user_id, spend,
         |  CAST(ntile(4) OVER (ORDER BY spend DESC, user_id) AS BIGINT) AS quartile
         |FROM s
         |""".stripMargin))

  /** Q65 — PII pseudonymization ([[graft.operators.Corpus.pseudonymize]]):
    * user ids replaced by salted sha256 — deterministic (joins/groupBys
    * survive) but irreversible without the salt.
    */
  def q65(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.pseudonymize(
        ev(s, d).select(col("event_id"), col("user_id")),
        "user_id", salt = "graft", outCol = "uid_token")
      .select(col("event_id"), col("uid_token"))
  query("q65_pseudonymize", q65,
      ("SELECT event_id, sha256('graft:' || CAST(user_id AS VARCHAR)) AS uid_token " +
       "FROM events"))

  /** Q66 — heavy-hitter skew profile
    * ([[graft.operators.Corpus.heavyHitters]]): top-10 users by event
    * count with share of total — the scan whose output picks
    * [[graft.operators.Joins.saltedJoin]]'s factor.
    */
  def q66(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.heavyHitters(
      ev(s, d).select(col("user_id")), Seq("user_id"), k = 10)
  query("q66_heavy_hitters", q66,
      ("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         |t AS (SELECT count(*) AS total FROM events)
         |SELECT user_id, cnt, round(CAST(cnt AS DOUBLE) / total, 6) + 0 AS share
         |FROM c CROSS JOIN t ORDER BY cnt DESC, user_id LIMIT 10
         |""".stripMargin))

  /** Q74 — cohort retention: users grouped by first-active day, counted
    * per day-offset of later activity — the canonical retention matrix.
    * Two shuffles total: the user-day dedup reuses its partitioning for
    * the first-day aggregate (same key), then one shuffle to the
    * (cohort, offset) cells; the first-day table joins back user-keyed.
    * Cells are COUNTS of (user, day) pairs, which the dedup already
    * made distinct — no count-distinct shuffle needed.
    */
  def q74(s: SparkSession, d: String): DataFrame = {
    val daily = EventOps.filterValid(ev(s, d))
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = daily.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    daily.join(first, "user_id")
      .select(date_format(col("d0"), "yyyy-MM-dd").as("cohort"),
        datediff(col("d"), col("d0")).cast("long").as("day_offset"))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
  query("q74_cohort_retention", q74,
      ("""WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |first AS (SELECT user_id, min(d) AS d0 FROM daily GROUP BY 1)
         |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort,
         |  date_diff('day', f.d0, daily.d) AS day_offset, count(*) AS n_users
         |FROM daily JOIN first f USING (user_id)
         |GROUP BY 1, 2
         |""".stripMargin))

  /** Q77 — exact global ranking ([[graft.operators.Ranks.globalRank]]),
    * oracle-checked directly: every user's 1-based rank by (spend desc,
    * user_id) against DuckDB's `row_number()` over the same total order.
    * The distributed two-level rank (range partition → local row_number
    * → metadata offset stitch) that q61's ntile is built on, proven
    * hash-exact on its own.
    */
  def q77(s: SparkSession, d: String): DataFrame = {
    val spend = ev(s, d).groupBy(col("user_id"))
      .agg(dsum(col("value"), 2).as("spend"))
    graft.operators.Ranks.globalRank(spend,
        Seq(col("spend").desc, col("user_id").asc), outCol = "rk")
      .select(col("user_id"), col("spend"), col("rk"))
  }
  query("q77_global_rank", q77,
      ("""WITH s AS (SELECT user_id,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |  FROM events GROUP BY 1)
         |SELECT user_id, spend,
         |  CAST(row_number() OVER (ORDER BY spend DESC, user_id) AS BIGINT) AS rk
         |FROM s
         |""".stripMargin))

  /** Q80 — ordered conversion funnel: users who viewed, then clicked
    * at-or-after their first view, then purchased at-or-after that
    * click — the classic sequence-match analytics scan. Three STACKED
    * per-user windows (each stage's cutoff feeds the next) share ONE
    * hash partitioning, so the whole funnel costs a single shuffle at
    * any scale; the final stage counts are a tiny global aggregate.
    */
  def q80(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = EventOps.filterValid(ev(s, d))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") >= col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") >= col("t2"), col("ts"))).over(w))
    staged.agg(
      count_distinct(when(col("t1").isNotNull, col("user_id"))).as("n_view"),
      count_distinct(when(col("t2").isNotNull, col("user_id"))).as("n_click"),
      count_distinct(when(col("t3").isNotNull, col("user_id"))).as("n_purchase"))
  }
  query("q80_funnel", q80,
      ("""WITH e AS (SELECT user_id, event_type, ts FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
         |  OVER (PARTITION BY user_id) AS t1 FROM e),
         |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
         |  OVER (PARTITION BY user_id) AS t2 FROM w1),
         |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
         |  OVER (PARTITION BY user_id) AS t3 FROM w2)
         |SELECT
         |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n_view,
         |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n_click,
         |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n_purchase
         |FROM w3
         |""".stripMargin))

  /** Q83 — snapshot diff ([[graft.operators.Snapshot.changes]]): two
    * deterministic versions of `orders` (keys ≡ 0 mod 13 removed in the
    * new load, ≡ 1 mod 13 added, ≡ 2 mod 13 repriced +100) reconciled
    * into the added/removed/changed delta via ONE full-outer shuffle
    * join — the CDC feed incremental maintenance consumes. Oracle: the
    * same FULL OUTER JOIN + IS DISTINCT FROM ladder in DuckDB.
    */
  def q83(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val old = base.filter(pmod(col("o_orderkey"), lit(13)) =!= 1)
    val neu = base.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(13)) === 2, col("o_totalprice") + 100.0d)
          .otherwise(col("o_totalprice")))
    graft.operators.Snapshot.changes(old, neu,
      keyCols = Seq("o_orderkey"), compareCols = Seq("o_totalprice"))
  }
  query("q83_snapshot_diff", q83,
      ("""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 13 <> 1),
         |n AS (SELECT o_orderkey,
         |  CASE WHEN o_orderkey % 13 = 2 THEN o_totalprice + 100.0
         |       ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 13 <> 0)
         |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         |  o.o_totalprice AS old_o_totalprice,
         |  n.o_totalprice AS new_o_totalprice,
         |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
         |       WHEN n.o_orderkey IS NULL THEN 'removed'
         |       ELSE 'changed' END AS status
         |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
         |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
         |""".stripMargin))

  /** Q84 — per-group winsorization
    * ([[graft.operators.Corpus.winsorize]]): event values clamped to
    * their event type's [p01, p99] band — the robust-stats outlier trim
    * run before normalization. Cutoffs are exact interpolated
    * percentiles rounded to 6 places before the clamp so both engines
    * cut identically; the clamp is a map-side projection behind one
    * cutoff aggregation. Oracle: `quantile_cont` + the same clamp.
    */
  def q84(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.winsorize(
        ev(s, d).select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value", lo = 0.01, hi = 0.99, outCol = "value_w")
      .select(col("event_id"), col("event_type"), col("value_w"))
  query("q84_winsorize", q84,
      ("""WITH e AS (SELECT event_id, event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |c AS (SELECT event_type, round(quantile_cont(value, 0.01), 6) AS lo,
         |  round(quantile_cont(value, 0.99), 6) AS hi FROM e GROUP BY 1)
         |SELECT event_id, e.event_type,
         |  round(least(greatest(value, lo), hi), 6) + 0 AS value_w
         |FROM e JOIN c USING (event_type)
         |""".stripMargin))

  /** Q87 — per-user modal event type ([[graft.operators.TopK.modePerKey]]):
    * each user's most frequent event_type, ties broken toward the
    * greatest value — deterministic where SQL `mode()` is not. Two
    * partial-aggregating shuffles, no window. Oracle: the count +
    * row_number formulation of the same total order in DuckDB.
    */
  def q87(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK.modePerKey(
      ev(s, d).select(col("user_id"), col("event_type")),
      Seq("user_id"), "event_type")
  query("q87_mode", q87,
      ("""WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events
         |  GROUP BY 1, 2),
         |r AS (SELECT user_id, event_type, n, row_number() OVER (
         |  PARTITION BY user_id ORDER BY n DESC, event_type DESC) AS rk FROM c)
         |SELECT user_id, event_type AS mode_event_type, n FROM r WHERE rk = 1
         |""".stripMargin))

  /** Q114 — gap-based sessionization
    * ([[graft.operators.TimeSeries.sessionize]]): each user's valid
    * events split into sessions at 30-minute silences, one summary row
    * per session — the canonical event-log rollup the reference's
    * telemetry domain feeds (per-entity activity bursts). One window
    * exchange tags rows (lag + prefix sum share a single sort) and the
    * session aggregate reuses that partitioning — a single shuffle end
    * to end. Exact-microsecond arithmetic throughout.
    */
  def q114(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.sessionize(
      EventOps.filterValid(ev(s, d)), "user_id", "ts", "event_id",
      gapSeconds = 1800)
  query("q114_sessionize", q114,
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |s AS (SELECT user_id, event_id, tu,
         |  CASE WHEN lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) IS NULL
         |         OR tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id)
         |            > 1800000000
         |       THEN 1 ELSE 0 END AS brk FROM e),
         |t AS (SELECT user_id, tu,
         |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session
         |  FROM s)
         |SELECT user_id, session, min(tu) AS start_us, max(tu) AS end_us,
         |  count(*) AS n_events, max(tu) - min(tu) AS span_us
         |FROM t GROUP BY 1, 2
         |""".stripMargin))

  /** Q180 — TPC-H Q18 (large-volume orders): customers whose orders
    * total more than 300 units — the classic large-group
    * `HAVING sum(qty) > n` SEMI-JOIN planner stressor. The qualifying
    * key set comes from one partial-aggregating pass over lineitem and
    * re-enters as a left-semi on `l_orderkey`, so lineitem shuffles
    * ONCE on the key both the semi and the orders join reuse; AQE
    * decides whether the (selective) key set broadcasts. Quantity sums
    * route through DECIMAL(18,2); the final order is total
    * (totalprice desc, date, orderkey).
    */
  def q180(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val l = Tables.lineitem(s, d)
    val big = l.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("__q"))
      .filter(col("__q") > 300)
      .select(col("l_orderkey").as("__bk"))
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    l.join(big, l("l_orderkey") === col("__bk"), "left_semi")
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }
  // q180: the Q18 semi-join under the same DECIMAL(18,2) sum path;
  // (totalprice, date, orderkey) is a total order so LIMIT is stable.
  query("q180_tpch_q18", q180,
      ("""SELECT c_name, c_custkey, o_orderkey,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM customer, orders, lineitem
         |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY 1
         |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
         |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
         |""".stripMargin))

  /** Q181 — TPC-H Q21 join shape (sole implicated supplier): for
    * finalized orders with a RETURNED item, the suppliers who were the
    * ONLY supplier with a return among an order's several suppliers —
    * the classic multi-EXISTS / NOT-EXISTS self-join stressor (the
    * fixture lacks commit/receipt dates, so `l_returnflag = 'R'` plays
    * the "failed the order" role; the join geometry is Q21's exactly).
    * The returned-line table semi-joins lineitem (another supplier
    * exists), anti-joins the returned subset (no OTHER supplier
    * returned), semi-joins 'F' orders — all three legs co-partitioned
    * on `l_orderkey` — then the nation-filtered supplier dim
    * broadcasts for the count.
    */
  def q181(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val late = l.filter(col("l_returnflag") === "R")
    val l1 = late.select(col("l_orderkey").as("__ok"), col("l_suppkey").as("__sk"))
    val others = l.select(col("l_orderkey").as("__ok2"), col("l_suppkey").as("__sk2"))
    val lateOthers = late.select(col("l_orderkey").as("__ok3"),
      col("l_suppkey").as("__sk3"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    l1.join(others, col("__ok") === col("__ok2") && col("__sk") =!= col("__sk2"),
        "left_semi")
      .join(lateOthers,
        col("__ok") === col("__ok3") && col("__sk") =!= col("__sk3"), "left_anti")
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("__ok") === col("o_orderkey"), "left_semi")
      .join(broadcast(sup), col("__sk") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }
  // q181: the Q21 EXISTS / NOT EXISTS self-join geometry with
  // l_returnflag = 'R' as the failure mark (no commit/receipt dates
  // in the fixture schema).
  query("q181_tpch_q21", q181,
      ("""WITH l1 AS (SELECT l_orderkey, l_suppkey FROM lineitem
         |  WHERE l_returnflag = 'R')
         |SELECT s_name, count(*) AS numwait
         |FROM l1
         |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
         |JOIN supplier ON s_suppkey = l1.l_suppkey
         |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
         |WHERE EXISTS (SELECT 1 FROM lineitem l2
         |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |    WHERE l3.l_returnflag = 'R' AND l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100
         |""".stripMargin))

  /** The q186/q189 dense per-type index: `(event_type, idx, v)` with
    * `idx` = 1-based position of each event within its type by
    * event_id. Derived via [[graft.operators.Ranks.perKeyRank]] — the
    * two-level range-partitioned rank — NOT a
    * `row_number() OVER (PARTITION BY event_type ...)` window:
    * event_type has ~5 values, so the keyed window would sort N/5 rows
    * in ONE task per key at any scale; the two-level shape spreads
    * every hot key across the range split (PlanSpec gates it).
    */
  private def ssdBase(s: SparkSession, d: String): DataFrame =
    graft.operators.Ranks.perKeyRank(
      ev(s, d).filter(col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"), col("event_id"),
          col("value").cast("double").as("v")),
      Seq("event_type"), Seq(col("event_id")), outCol = "idx")

  /** Q186 — subsequence similarity search
    * ([[graft.operators.TimeSeries.ssdTopK]]): the 20 length-8 windows
    * across all per-type value sequences closest (sum of squared
    * differences, DECIMAL(38,12) terms) to the first type's opening
    * 8-value pattern — "where does this sensor signature recur".
    * Probe broadcasts as 8 rows; each series row fans out to ≤ 8
    * windows feeding one partial-aggregating (type, start) shuffle and
    * a bounded TakeOrdered cut. Exact oracle: the same window algebra
    * over `row_number` sequences.
    */
  def q186(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val base = ssdBase(s, d)
    val probeType = base.agg(min(col("event_type"))).head().getString(0)
    val probe = base
      .filter(col("event_type") === probeType && col("idx") <= 8)
      .orderBy("idx").select("v").as[Double].collect()
    // the DuckDB twin hard-codes complete windows as n = 8: a shorter
    // probe (first type has < 8 rows) must fail loudly here, not
    // silently diverge from the oracle's window-length literal
    require(probe.length == 8,
      s"q186 probe must be exactly 8 values (oracle pins n = 8), got ${probe.length}")
    graft.operators.TimeSeries.ssdTopK(base, "event_type", "idx", "v",
      probe, k = 20)
  }
  // q186: identical window algebra — row_number sequences, the probe
  // from the lexicographically-first type's first 8 values, squared
  // differences through DECIMAL(38,12), (ssd, type, start) total
  // order for the LIMIT.
  query("q186_subseq_search", q186,
      ("""WITH s AS (SELECT event_type,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS idx,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |p AS (SELECT idx - 1 AS j, v AS pv FROM s
         |  WHERE event_type = (SELECT min(event_type) FROM s) AND idx <= 8),
         |c AS (SELECT s.event_type, s.idx - p.j AS start_idx,
         |    CAST((s.v - p.pv) * (s.v - p.pv) AS DECIMAL(38,12)) AS t
         |  FROM s JOIN p ON s.idx - p.j >= 1),
         |w AS (SELECT event_type, start_idx, sum(t) AS ssd, count(*) AS n
         |  FROM c GROUP BY 1, 2)
         |SELECT event_type, CAST(start_idx AS BIGINT) AS start_idx,
         |  round(CAST(ssd AS DOUBLE), 6) + 0 AS ssd_r
         |FROM w WHERE n = 8
         |ORDER BY ssd_r, event_type, start_idx LIMIT 20
         |""".stripMargin))

  /** Q189 — LARGE-probe subsequence search through the PAA
    * propose/verify path ([[graft.operators.TimeSeries.ssdTopKPaa]]):
    * q186's shape at L = 64 (segments = 8) — the probe is the first
    * type's values at positions 101–164, and the top-15 closest
    * windows anywhere are found by the PAA lower-bound prune + exact
    * DECIMAL verify. Because the PAA path is output-identical to the
    * exact operator (TimeSeriesSpec pins it), the oracle is the SAME
    * exact window algebra as q186's — which means the whole
    * propose/seed/τ-prune machinery is oracle-checked end to end, not
    * just spec-pinned.
    */
  def q189(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    // the ranked base feeds THREE actions (probe-type min, the probe
    // collect, and the search itself) — persist it or perKeyRank's
    // two-level rank recomputes per action (~1 s each at sf0.1). Safe
    // to release before returning: ssdTopKPaa materializes its ≤ k
    // result rows eagerly, so the returned frame never re-reads base
    val base = ssdBase(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probeType = base.agg(min(col("event_type"))).head().getString(0)
      val probe = base
        .filter(col("event_type") === probeType &&
          col("idx").between(101, 164))
        .orderBy("idx").select("v").as[Double].collect()
      require(probe.length == 64,
        s"q189 probe must be exactly 64 values (oracle pins n = 64), got ${probe.length}")
      graft.operators.TimeSeries.ssdTopKPaa(base, "event_type", "idx", "v",
        probe, k = 15, segments = 8)
    } finally base.unpersist(blocking = false)
  }
  // q189: q186's exact window algebra at L = 64 (probe = the first
  // type's positions 101-164) — the PAA propose/verify path must
  // reproduce the exact top-15, so the same SQL is the oracle.
  query("q189_subseq_paa", q189,
      ("""WITH s AS (SELECT event_type,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS idx,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |p AS (SELECT idx - 101 AS j, v AS pv FROM s
         |  WHERE event_type = (SELECT min(event_type) FROM s)
         |    AND idx BETWEEN 101 AND 164),
         |c AS (SELECT s.event_type, s.idx - p.j AS start_idx,
         |    CAST((s.v - p.pv) * (s.v - p.pv) AS DECIMAL(38,12)) AS t
         |  FROM s JOIN p ON s.idx - p.j >= 1),
         |w AS (SELECT event_type, start_idx, sum(t) AS ssd, count(*) AS n
         |  FROM c GROUP BY 1, 2)
         |SELECT event_type, CAST(start_idx AS BIGINT) AS start_idx,
         |  round(CAST(ssd AS DOUBLE), 6) + 0 AS ssd_r
         |FROM w WHERE n = 64
         |ORDER BY ssd_r, event_type, start_idx LIMIT 15
         |""".stripMargin))

  /** Q179 — TPC-H Q5 (local supplier volume): revenue by nation for
    * ASIA-region customers served by same-nation suppliers in 1996 —
    * the classic six-table join. The region→nation→supplier dimension
    * chain broadcasts (genuinely bounded); customer carries NO hint
    * (fact-scaling — AQE size-picks its join); lineitem streams through
    * one shuffle join with orders; revenue routes through
    * DECIMAL(28,6).
    */
  def q179(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val nations = Tables.nation(s, d).join(
      broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      // customer scales LINEARLY with the fact side (sf·150k rows): no
      // broadcast HINT — AQE size-picks BHJ while it fits and falls back
      // to a shuffle join at lake scale, where a forced driver-side
      // broadcast of a growing table would OOM. Only genuinely bounded
      // dims (nation/region/supplier chain) stay pinned.
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("__r"))
      .select(col("n_name"),
        NumFunctions.roundNz(col("__r").cast("double"), 2).as("revenue"))
  }
  // q179: the Q5 join tree, revenue through DECIMAL(28,6).
  query("q179_tpch_q5", q179,
      ("""SELECT n_name,
         |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE), 2) + 0 AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1
         |""".stripMargin))

  /** Q178 — TPC-H Q3 (shipping-priority revenue): top-10 unshipped
    * BUILDING-segment orders by discounted revenue as of 1995-03-15 —
    * the classic 3-table join + aggregate + total-order cut, with
    * revenue routed through DECIMAL(28,6) before the rounded rank.
    * The customer side carries NO broadcast hint (it scales with the
    * fact side) — AQE size-picks the join strategy; PlanSpec gates
    * that no fact-scaling table is ever hint-pinned.
    */
  def q178(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1995-03-15 00:00:00").cast("timestamp")
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      // customer is fact-scaling (sf·150k): no broadcast hint — AQE
      // size-picks the strategy (BHJ at test SF, shuffle join at scale)
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("__r"))
      .select(col("l_orderkey"),
        NumFunctions.roundNz(col("__r").cast("double"), 2).as("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc,
        col("l_orderkey").asc)
      .limit(10)
  }
  // q178: the classic Q3 join tree, revenue through DECIMAL(28,6),
  // rounded rank with date + key tie-breaks.
  query("q178_tpch_q3", q178,
      ("""WITH j AS (SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         |  CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6)) AS r
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  WHERE c.c_mktsegment = 'BUILDING'
         |    AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         |    AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'),
         |g AS (SELECT l_orderkey, round(CAST(sum(r) AS DOUBLE), 2) + 0 AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
         |  FROM j GROUP BY l_orderkey, j.o_orderdate, o_orderpriority)
         |SELECT l_orderkey, revenue, o_orderdate, o_orderpriority FROM g
         |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10
         |""".stripMargin))

  /** Q220 — recursive (c, l)-diversity audit
    * ([[graft.operators.Corpus.recursiveCLDiversity]],
    * Machanavajjhala et al. 2006): q155's quasi-identifier classes
    * ((nation, segment) with the balance bucket sensitive), but the
    * STRONGER dominance test — the top sensitive count must stay
    * under c = 2 times the tail mass from the 2nd value down, as an
    * exact integer cross-multiplication. Oracle replays the
    * frequency-ranked window and the integer test.
    */
  def q220(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.recursiveCLDiversity(
      Tables.customer(s, d).withColumn("bal_bucket",
        floor(col("c_acctbal") / 2000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket",
      l = 2, cNum = 2, cDen = 1)
  // q220: frequency-ranked sensitive counts per quasi class
  // (ties to the smaller bucket), then the exact integer
  // r1·cDen < cNum·tail test at l = 2, c = 2
  query("q220_cl_diversity", q220,
      ("""WITH b AS (SELECT c_nationkey, c_mktsegment,
         |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket
         |  FROM customer),
         |c AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
         |  count(*) AS r FROM b GROUP BY 1, 2, 3),
         |rk AS (SELECT *, row_number() OVER (
         |  PARTITION BY c_nationkey, c_mktsegment
         |  ORDER BY r DESC, bal_bucket ASC) AS rk FROM c),
         |g AS (SELECT c_nationkey, c_mktsegment, sum(r) AS n,
         |  count(*) AS m_distinct, max(CASE WHEN rk = 1 THEN r END) AS r1,
         |  sum(CASE WHEN rk >= 2 THEN r ELSE 0 END) AS tail_sum
         |  FROM rk GROUP BY 1, 2)
         |SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
         |  CAST(m_distinct AS BIGINT) AS m_distinct,
         |  CAST(r1 AS BIGINT) AS r1, CAST(tail_sum AS BIGINT) AS tail_sum,
         |  (m_distinct >= 2 AND r1 * 1 < 2 * tail_sum) AS ok_cl
         |FROM g
         |""".stripMargin))

  /** Q235 — linkage blocking pre-flight profile
    * ([[graft.operators.Linkage.blockProfile]]): per q223 block key,
    * the record count, the exact `n(n−1)/2` candidate-pair count the
    * linkage would generate, and its share of total pair work — the
    * Σ block² cost made visible BEFORE the pass runs. Oracle replays
    * the block counts and the HUGEINT pair arithmetic.
    */
  def q235(s: SparkSession, d: String): DataFrame =
    graft.operators.Linkage.blockProfile(
      Tables.customer(s, d).select(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_kb")),
      Seq("c_mktsegment", "bal_kb"))
  // q235: block counts, exact n(n−1)/2 pair counts in HUGEINT, one
  // scalar total for the shares
  query("q235_block_profile", q235,
      ("""WITH r AS (SELECT c_mktsegment,
         |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb FROM customer),
         |c AS (SELECT c_mktsegment, bal_kb, count(*) AS n_records
         |  FROM r GROUP BY 1, 2),
         |p AS (SELECT *, CAST(n_records AS HUGEINT) * (n_records - 1) // 2
         |  AS n_pairs FROM c),
         |t AS (SELECT greatest(sum(n_pairs), 1) AS tot FROM p)
         |SELECT c_mktsegment, bal_kb, CAST(n_records AS BIGINT) AS n_records,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  round(CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0
         |    AS pair_share
         |FROM p, t
         |""".stripMargin))

  /** Q223 — Fellegi-Sunter record-linkage scoring
    * ([[graft.operators.Linkage.fellegiSunterScores]], Fellegi &
    * Sunter 1969): customers blocked on (segment, balance-thousand),
    * compared on nation / name-suffix / balance-hundred with supplied
    * m-probabilities and data-estimated u-probabilities, scored as an
    * odds product (no logarithm — every factor is one IEEE division
    * of exact 128-bit integers) and banded match / possible /
    * nonmatch. Oracle replays the frequency-based u estimates, the
    * blocked pairs, and the factor product in fixed order.
    */
  def q223(s: SparkSession, d: String): DataFrame = {
    val recs = Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_kb"),
      col("c_nationkey").as("nation"),
      substring(col("c_name"), -2, 2).as("name2"),
      floor(col("c_acctbal") / 100).cast("long").as("bal_hb"))
    graft.operators.Linkage.fellegiSunterScores(recs, "c_custkey",
      Seq("c_mktsegment", "bal_kb"), Seq("nation", "name2", "bal_hb"),
      Seq(900000L, 800000L, 700000L), upper = 1000.0, lower = 1.0)
  }
  // q223: frequency-method u estimates per field (Laplace-clamped),
  // blocked pairs under the id total order, the odds product in
  // fixed field order, and the banded decision on the rounded odds
  query("q223_fs_linkage", q223,
      ("""WITH r AS (SELECT c_custkey AS id, c_mktsegment,
         |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
         |  c_nationkey AS nation, substr(c_name, -2) AS name2,
         |  CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_hb FROM customer),
         |nr AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM r),
         |s0 AS (SELECT coalesce(sum(CAST(f AS HUGEINT) * (f - 1)), 0) AS s
         |  FROM (SELECT count(*) AS f FROM r GROUP BY nation)),
         |s1 AS (SELECT coalesce(sum(CAST(f AS HUGEINT) * (f - 1)), 0) AS s
         |  FROM (SELECT count(*) AS f FROM r GROUP BY name2)),
         |s2 AS (SELECT coalesce(sum(CAST(f AS HUGEINT) * (f - 1)), 0) AS s
         |  FROM (SELECT count(*) AS f FROM r GROUP BY bal_hb)),
         |st AS (SELECT n * (n - 1) AS nn1,
         |  greatest(s0.s, 1) AS sa0, greatest(n * (n - 1) - s0.s, 1) AS sd0,
         |  greatest(s1.s, 1) AS sa1, greatest(n * (n - 1) - s1.s, 1) AS sd1,
         |  greatest(s2.s, 1) AS sa2, greatest(n * (n - 1) - s2.s, 1) AS sd2
         |  FROM nr, s0, s1, s2),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  a.nation IS NOT DISTINCT FROM b.nation AS ag0,
         |  a.name2 IS NOT DISTINCT FROM b.name2 AS ag1,
         |  a.bal_hb IS NOT DISTINCT FROM b.bal_hb AS ag2
         |  FROM r a JOIN r b ON a.c_mktsegment = b.c_mktsegment
         |    AND a.bal_kb = b.bal_kb AND a.id < b.id),
         |sc AS (SELECT id_a, id_b, ag0, ag1, ag2, round(
         |  (CASE WHEN ag0
         |    THEN CAST(900000 * nn1 AS DOUBLE) / CAST(1000000 * sa0 AS DOUBLE)
         |    ELSE CAST(100000 * nn1 AS DOUBLE) / CAST(1000000 * sd0 AS DOUBLE)
         |    END) *
         |  (CASE WHEN ag1
         |    THEN CAST(800000 * nn1 AS DOUBLE) / CAST(1000000 * sa1 AS DOUBLE)
         |    ELSE CAST(200000 * nn1 AS DOUBLE) / CAST(1000000 * sd1 AS DOUBLE)
         |    END) *
         |  (CASE WHEN ag2
         |    THEN CAST(700000 * nn1 AS DOUBLE) / CAST(1000000 * sa2 AS DOUBLE)
         |    ELSE CAST(300000 * nn1 AS DOUBLE) / CAST(1000000 * sd2 AS DOUBLE)
         |    END), 6) + 0 AS odds_r FROM p, st)
         |SELECT id_a, id_b, ag0 AS agree_nation, ag1 AS agree_name2,
         |  ag2 AS agree_bal_hb, odds_r,
         |  CASE WHEN odds_r >= 1000.0 THEN 'match'
         |    WHEN odds_r <= 1.0 THEN 'nonmatch'
         |    ELSE 'possible' END AS decision
         |FROM sc
         |""".stripMargin))

  /** Q174 — event association rules
    * ([[graft.operators.Corpus.associationPairs]]; Agrawal-Srikant
    * 1994 + lift): which event types co-occur across users beyond
    * chance — exact support and lift over deduped (user, type) sets;
    * the pair join is keyed by user and bounded by the type
    * vocabulary. Oracle: the same dedup + pair + ratio replay.
    */
  def q174(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.associationPairs(
      ev(s, d), "user_id", "event_type", minKeys = 1L)
  // q174: dedup (user,type), pair self-join on the user, exact
  // support/lift ratios.
  query("q174_associations", q174,
      ("""WITH ki AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events
         |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         |itn AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM ki GROUP BY 1),
         |nk AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS nk FROM ki),
         |p AS (SELECT x.i AS item_a, y.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM ki x JOIN ki y ON x.k = y.k AND x.i < y.i GROUP BY 1, 2)
         |SELECT item_a, item_b, a.n AS n_a, b.n AS n_b, n_ab,
         |  round(CAST(n_ab AS DOUBLE) / nk.nk, 6) + 0 AS support,
         |  round(CAST(nk.nk AS DOUBLE) * n_ab / (CAST(a.n AS DOUBLE) * b.n), 6) + 0
         |    AS lift
         |FROM p JOIN itn a ON p.item_a = a.i JOIN itn b ON p.item_b = b.i
         |CROSS JOIN nk
         |""".stripMargin))

  /** Q167 — per-type value trend
    * ([[graft.operators.TimeSeries.trendSlope]]): OLS slope of `value`
    * over the day index per event type — the sensor-drift scan for
    * the reference's telemetry domain. Exact decimal component sums,
    * IEEE closed form, one keyed exchange.
    */
  def q167(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.trendSlope(ev(s, d), "event_type", "ts", "value")
  // q167: day-index OLS closed form — exact decimal component sums,
  // the q73 recipe, single-day groups null out.
  query("q167_trend", q167,
      ("""WITH b AS (SELECT event_type AS k, CAST(ts AS DATE) AS d, value AS y
         |  FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970
         |    AND value IS NOT NULL AND NOT isnan(value)),
         |a AS (SELECT min(d) AS mind FROM b),
         |t AS (SELECT k, CAST(date_diff('day', mind, d) AS BIGINT) AS x, y
         |  FROM b CROSS JOIN a),
         |g AS (SELECT k, count(*) AS n,
         |  CAST(sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
         |  CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
         |  FROM t GROUP BY 1)
         |SELECT k AS event_type, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n * sxx - sx * sx <> 0.0
         |    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0
         |    ELSE NULL END AS slope,
         |  round(sy / n, 6) + 0 AS mean_v
         |FROM g
         |""".stripMargin))

  /** Q160 — recency-decayed activity score
    * ([[graft.operators.TimeSeries.decayScore]]): per-user engagement
    * with a 7-day stepped half-life against the corpus max date. The
    * decay factor is a bit-shift power of two (exactly representable —
    * no libm `pow`), terms route through DECIMAL(18,9); map-side +
    * one keyed partial-aggregating shuffle.
    */
  def q160(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.decayScore(
      ev(s, d), "user_id", "ts", "value", halfLifeDays = 7)
  // q160: bit-shift powers of two, IEEE multiply, decimal-path sum —
  // no pow() anywhere.
  query("q160_decay_score", q160,
      ("""WITH b AS (SELECT user_id, CAST(ts AS DATE) AS d, value AS v FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970
         |    AND value IS NOT NULL AND NOT isnan(value)),
         |a AS (SELECT max(d) AS maxd FROM b),
         |t AS (SELECT user_id, v,
         |  least(CAST(floor(CAST(date_diff('day', d, maxd) AS DOUBLE) / 7)
         |    AS BIGINT), 62) AS steps
         |  FROM b CROSS JOIN a)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  round(CAST(sum(CAST(v * (1.0 /
         |    CAST((CAST(1 AS BIGINT) << CAST(steps AS INTEGER)) AS DOUBLE))
         |    AS DECIMAL(18,9))) AS DOUBLE), 6) + 0 AS decay_score
         |FROM t GROUP BY 1
         |""".stripMargin))

  /** Q159 — data-quality constraint audit
    * ([[graft.operators.Audit.audit]]; the dbt-test/Deequ expectation
    * surface): not-null, range, unique-key, and referential-integrity
    * checks over orders and lineitem — one conditional-sum scan for
    * all row-local checks, a two-level distinct for uniqueness, an
    * anti-join for orphans. Exact SQL twin per constraint row.
    */
  def q159(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Audit._
    val o = Tables.orders(s, d)
    audit(o, "orders", Seq(
        NotNull("o_orderdate"),
        InRange("o_totalprice", 0.0, 200000.0),
        UniqueKey(Seq("o_orderkey")),
        ForeignKey("o_custkey", Tables.customer(s, d), "c_custkey", "customer")))
      .unionByName(audit(Tables.lineitem(s, d), "lineitem", Seq(
        InRange("l_quantity", 1.0, 30.0),
        ForeignKey("l_orderkey", o, "o_orderkey", "orders"))))
  }
  // q159: one UNION ALL branch per constraint, labels matching the
  // engine's generated check names exactly.
  query("q159_audit", q159,
      ("""WITH o AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
         |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL
         |    AND (o_totalprice < 0.0 OR o_totalprice > 200000.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS v_rng FROM orders),
         |ou AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d FROM orders),
         |ofk AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM customer
         |      WHERE c_custkey = o_custkey)) AS v),
         |l AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN l_quantity IS NOT NULL
         |    AND (l_quantity < 1.0 OR l_quantity > 30.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS v FROM lineitem),
         |lfk AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM orders
         |      WHERE o_orderkey = l_orderkey)) AS v)
         |SELECT 'orders' AS table_name, 'not_null(o_orderdate)' AS check_name,
         |  n AS n_rows, v_nn AS n_violations,
         |  round(CAST(v_nn AS DOUBLE) / n, 6) + 0 AS violation_rate FROM o
         |UNION ALL SELECT 'orders', 'in_range(o_totalprice,0.0,200000.0)', n, v_rng,
         |  round(CAST(v_rng AS DOUBLE) / n, 6) + 0 FROM o
         |UNION ALL SELECT 'orders', 'unique(o_orderkey)', n, n - d,
         |  round(CAST(n - d AS DOUBLE) / n, 6) + 0 FROM ou
         |UNION ALL SELECT 'orders', 'fk(o_custkey->customer.c_custkey)', n, v,
         |  round(CAST(v AS DOUBLE) / n, 6) + 0 FROM ofk
         |UNION ALL SELECT 'lineitem', 'in_range(l_quantity,1.0,30.0)', n, v,
         |  round(CAST(v AS DOUBLE) / n, 6) + 0 FROM l
         |UNION ALL SELECT 'lineitem', 'fk(l_orderkey->orders.o_orderkey)', n, v,
         |  round(CAST(v AS DOUBLE) / n, 6) + 0 FROM lfk
         |""".stripMargin))

  /** Q155 — k-anonymity / l-diversity audit
    * ([[graft.operators.Corpus.kAnonymityAudit]]; Sweeney 2002): the
    * customer table audited on (nation, market segment) as
    * quasi-identifiers with the width-2000 account-balance bucket as
    * the sensitive attribute — per group, size, distinct sensitive
    * classes, and the k<8 re-identification flag. Two partial-
    * aggregating exchanges, exact SQL twin.
    */
  def q155(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.kAnonymityAudit(
      Tables.customer(s, d).withColumn("bal_bucket",
        floor(col("c_acctbal") / 2000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 8)
  // q155: two-level distinct-sensitive replay, HUGEINT sums pinned
  // back to BIGINT.
  query("q155_k_anonymity", q155,
      ("""WITH b AS (SELECT c_nationkey, c_mktsegment,
         |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket FROM customer),
         |g AS (SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS n
         |  FROM b GROUP BY 1, 2, 3)
         |SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS l_distinct, sum(n) < 8 AS at_risk
         |FROM g GROUP BY 1, 2
         |""".stripMargin))

  /** Q146 — frequent journeys ([[graft.operators.TimeSeries.journeys]]):
    * the 10 most common per-session event-type sequences under q33's
    * sessionization (user key, 30-minute gap) — funnels test one
    * hypothesis, this mines them. One keyed window + per-session
    * bounded sort + TakeOrdered cut.
    */
  def q146(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.journeys(
      ev(s, d).filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts")),
      "user_id", "ts", "event_id", "event_type",
      gapSeconds = 1800L, k = 10)
  query("q146_journeys", q146,
      ("""WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |    AS prev
         |  FROM events WHERE ts IS NOT NULL),
         |y AS (SELECT user_id, event_id, event_type, us,
         |  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS brk
         |  FROM x),
         |z AS (SELECT user_id, event_type, us, event_id,
         |  sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session
         |  FROM y),
         |j AS (SELECT user_id, session,
         |  string_agg(event_type, '>' ORDER BY us, event_id) AS journey
         |  FROM z GROUP BY 1, 2)
         |SELECT journey, count(*) AS n_sessions
         |FROM j GROUP BY 1 ORDER BY n_sessions DESC, journey LIMIT 10
         |""".stripMargin))

  /** Q142 — event debounce ([[graft.operators.TimeSeries.debounce]]):
    * the first event of every ≤1-day burst per (user, event type) —
    * repeat-notification suppression (the daily-digest rule), the
    * row-level complement of q114's sessionization. One keyed window.
    */
  def q142(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.debounce(
      ev(s, d).filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
      Seq("user_id", "event_type"), "ts", "event_id", gapSeconds = 86400L)
  query("q142_debounce", q142,
      ("""WITH x AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
         |    ORDER BY epoch_us(ts), event_id) AS prev
         |  FROM events WHERE ts IS NOT NULL)
         |SELECT event_id, user_id, event_type, ts_us
         |FROM x WHERE prev IS NULL OR ts_us - prev > 86400000000
         |""".stripMargin))

  /** Q69 — sensor gap-filling ([[graft.operators.TimeSeries.gapFillDaily]]):
    * each user's daily series completed over its own [min, max] span,
    * gaps forward-filled — the reference's air-quality domain analyzed
    * (regular grids are what downstream dashboards/models consume).
    * Per-key grid explode + one fill window per key; no global calendar
    * cross-join.
    */
  def q69(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.gapFillDaily(
      EventOps.filterValid(ev(s, d)), "user_id", "ts", "value")
  query("q69_gap_fill", q69,
      ("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |daily AS (SELECT user_id, date_trunc('day', ts) AS d,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM e GROUP BY 1, 2),
         |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM span)
         |SELECT g.user_id, strftime(g.d, '%Y-%m-%d') AS day,
         |  last_value(daily.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
         |  daily.v IS NULL AS is_gap
         |FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.d = daily.d
         |""".stripMargin))

  /** Q70 — rolling z-score anomaly detection
    * ([[graft.operators.TimeSeries.rollingZscore]]): trailing 7-day
    * mean/std per user over the daily series, exact decimal window
    * sums, flags on the rounded score.
    */
  def q70(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.rollingZscore(
      EventOps.filterValid(ev(s, d)), "user_id", "ts", "value")
  query("q70_anomaly", q70,
      ("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |daily AS (SELECT user_id, date_trunc('day', ts) AS d,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM e GROUP BY 1, 2),
         |w AS (SELECT user_id, d, v,
         |  count(v) OVER win AS n,
         |  CAST(sum(CAST(v AS DECIMAL(18,2))) OVER win AS DOUBLE) AS s1,
         |  CAST(sum(CAST(v * v AS DECIMAL(28,6))) OVER win AS DOUBLE) AS s2
         |  FROM daily
         |  WINDOW win AS (PARTITION BY user_id ORDER BY d
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, v,
         |  CASE WHEN n >= 2 AND (s2 - s1*s1/n)/(n-1) > 0
         |    THEN round((v - s1/n)/sqrt((s2 - s1*s1/n)/(n-1)), 6) END + 0 AS zscore,
         |  coalesce(abs(CASE WHEN n >= 2 AND (s2 - s1*s1/n)/(n-1) > 0
         |    THEN round((v - s1/n)/sqrt((s2 - s1*s1/n)/(n-1)), 6) END) > 2.0, false) AS is_anomaly
         |FROM w
         |""".stripMargin))

  /** Q40 — skew-mitigation salted join, oracle-checked: market-segment
    * revenue through [[graft.operators.Joins.saltedJoin]] — deterministic
    * per-row salt (`hash(o_orderkey)`), customer dimension replicated
    * `factor` times, sort-merge FORCED (the `merge` hint) so the salt
    * path is what actually runs, not a broadcast. Hash-matching the
    * plain-join oracle proves salting changes the shuffle layout only,
    * never the result.
    */
  def q40(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"), col("o_totalprice"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")).hint("merge")
    graft.operators.Joins.saltedJoin(
        orders, cust, Seq("c_custkey"), hash(col("o_orderkey")), factor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
  }
  // q40: the oracle is the PLAIN join — the salted plan must be
  // result-invisible (salting changes shuffle layout, nothing else)
  query("q40_salted_join", q40,
      ("SELECT c_mktsegment, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
       "AS revenue, count(*) AS n_orders FROM orders JOIN customer " +
       "ON o_custkey = c_custkey GROUP BY c_mktsegment"))

  /** Q41 — backward as-of join ([[graft.operators.Joins.asofJoin]]):
    * each event picks the user's most recent order at-or-before the
    * event time (ties on order date broken by greatest orderkey), nulls
    * when no order precedes. Runs the HOT-KEY fallback (180-day
    * `timeBucket`) so the bucketed stitch path is what the oracle — an
    * independent correlated LATERAL subquery, a nested-loop spec of the
    * same semantics — actually certifies; every task is bounded by a
    * key's rows per bucket, never a key's whole history.
    */
  def q41(s: SparkSession, d: String): DataFrame = {
    val events = ev(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val orders = Tables.orders(s, d).select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ots"),
      col("o_orderkey"), col("o_totalprice"))
    graft.operators.Joins.asofJoin(
        events, orders, Seq("user_id"), "ts_us", "ots", tieBreak = "o_orderkey",
        timeBucket = 180L * 24 * 3600 * 1000000)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey").as("last_orderkey"), col("o_totalprice").as("last_price"))
  }
  // q41: nested-loop LATERAL spec of as-of semantics — deliberately
  // nothing like the engine's union+window plan
  query("q41_asof_join", q41,
      ("SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, " +
       "o.o_orderkey AS last_orderkey, o.o_totalprice AS last_price " +
       "FROM events e LEFT JOIN LATERAL (" +
       "SELECT o_orderkey, o_totalprice FROM orders " +
       "WHERE o_custkey = e.user_id " +
       "AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) <= epoch_us(e.ts) " +
       "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON TRUE"))

  /** Q42 — bucketed range join ([[graft.operators.Joins.rangeJoin]]):
    * event values land in OVERLAPPING nation-derived bands (width 30,
    * stride 20 — most points match two bands), aggregated per band. The
    * plan is an equi-join on derived bucket keys + exact containment
    * filter; the oracle is the raw theta join (`BETWEEN lo AND hi`) the
    * engine must never physically run as a nested loop.
    */
  def q42(s: SparkSession, d: String): DataFrame = {
    val points = ev(s, d).select(col("event_id"), col("value"))
    val bands = Tables.nation(s, d).select(
      col("n_name"),
      (col("n_nationkey") * 20.0d).as("lo"),
      (col("n_nationkey") * 20.0d + 29.99d).as("hi"))
    graft.operators.Joins.rangeJoin(points, bands, "value", "lo", "hi",
        bucketWidth = 25.0d)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 2).as("sum_value"))
  }
  // q42: the oracle IS the theta join the engine refuses to run as a
  // nested loop — same semantics, naive formulation
  // band bounds MUST be computed in DOUBLE on both sides: a bare
  // `29.99` literal is DECIMAL in DuckDB, making hi exactly 49.99
  // (→ 49.99000000000000198 at compare time) while Spark's double
  // arithmetic yields 49.98999999999999488 — points sitting exactly
  // on the boundary (value = 49.99) then differ. Surfaced by the
  // sf0.1 check; sf0.01 had no boundary-exact values.
  query("q42_range_join", q42,
      ("WITH bands AS (SELECT n_name, n_nationkey * CAST(20.0 AS DOUBLE) AS lo, " +
       "n_nationkey * CAST(20.0 AS DOUBLE) + CAST(29.99 AS DOUBLE) AS hi FROM nation) " +
       "SELECT n_name, count(*) AS n_events, " +
       "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
       "FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi " +
       "GROUP BY n_name"))

  /** Q32 — the q11 ranking computed by the bounded-heap top-k aggregate
    * ([[graft.operators.TopK]]) instead of a window sort: identical
    * output contract (same oracle SQL), shuffle-light plan — the
    * scale-path formulation of per-key top-k.
    */
  def q32(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK.topKPerKey(
      Tables.orders(s, d), Seq("o_custkey"),
      struct(negate(col("o_totalprice")), col("o_orderkey")),
      Seq("o_orderkey", "o_totalprice"), 3)
  query("q32_topk_agg", q32,
      ("SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (" +
       "SELECT o_custkey, o_orderkey, o_totalprice, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
       "AS BIGINT) AS rk FROM orders) t WHERE rk <= 3"))
}
