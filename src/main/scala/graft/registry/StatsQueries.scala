package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.NumFunctions

/** Registry family: sketches, drift profiles, the learned classifiers
  * (quality, naive Bayes) with their evaluation metrics, and the
  * statistical tests.
  */
private[graft] object StatsQueries extends Family {

  /** Shared q148/q150 oracle prefix: hashed features, labels, and the
    * three unrolled integer gradient steps ending in trained weights
    * `w3` ([[graft.operators.QualityClassifier]]'s fixed-point replay).
    */
  private lazy val QC_TRAIN_CTE: String = {
    def step(wp: String, k: Int): String =
      s"""z$k AS (SELECT f.doc_id, sum(f.x * $wp.w) AS z
         |  FROM f JOIN $wp USING (j) GROUP BY 1),
         |e$k AS (SELECT lab.doc_id, CAST(lab.y AS BIGINT) * 1000000 -
         |  ((2000000 + greatest(-2000000, least(2000000, coalesce(z$k.z, 0)))) // 4)
         |    AS e
         |  FROM lab LEFT JOIN z$k USING (doc_id)),
         |g$k AS (SELECT f.j, sum(e$k.e * f.x) AS g
         |  FROM f JOIN e$k USING (doc_id) GROUP BY 1),
         |w$k AS (SELECT w.j, w.w + coalesce(g$k.g, 0) // (nn.n * 64) AS w
         |  FROM $wp w LEFT JOIN g$k USING (j) CROSS JOIN nn)"""
        .stripMargin
    s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
       |lab AS (SELECT doc_id,
       |  CASE WHEN 2 * len(list_distinct(tk)) >= len(tk) THEN 1 ELSE 0 END AS y
       |  FROM t2),
       |u AS (SELECT doc_id, unnest(tk) AS tok FROM t2),
       |f AS (SELECT doc_id,
       |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 64 AS j,
       |  count(*) AS x FROM u GROUP BY 1, 2),
       |nn AS (SELECT count(*) AS n FROM t2),
       |w0 AS (SELECT CAST(range AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
       |  FROM range(64)),
       |${step("w0", 1)},
       |${step("w1", 2)},
       |${step("w2", 3)}""".stripMargin
  }

  /** Shared q152/q161 oracle prefix: the multinomial-NB prediction
    * replay — hashed histograms, integer unit scores, prior, and the
    * per-doc argmax in `best` ([[graft.operators.NaiveBayes]]'s
    * fixed-point contract).
    */
  private lazy val NB_PRED_CTE: String =
    s"""WITH t2 AS (SELECT doc_id, lang, $TOKS AS tk FROM documents
       |  WHERE lang IS NOT NULL AND len($TOKS) > 0),
       |b AS (SELECT doc_id, lang,
       |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 128 AS j
       |  FROM (SELECT doc_id, lang, unnest(tk) AS tok FROM t2)),
       |hist AS (SELECT lang AS c, j, count(*) AS n FROM b GROUP BY 1, 2),
       |tot AS (SELECT c, sum(n) AS tn FROM hist GROUP BY 1),
       |ndoc AS (SELECT lang AS c, count(*) AS nd FROM t2 GROUP BY 1),
       |nn AS (SELECT count(*) AS n, count(DISTINCT lang) AS k FROM t2),
       |grid AS (SELECT ndoc.c, CAST(range AS BIGINT) AS j
       |  FROM ndoc CROSS JOIN range(128)),
       |su AS (SELECT g.c, g.j, CAST(round(
       |    ln(CAST(coalesce(h.n, 0) + 1 AS DOUBLE) /
       |       CAST(t.tn + 128 AS DOUBLE)) * 1000000) AS BIGINT) AS u
       |  FROM grid g LEFT JOIN hist h ON g.c = h.c AND g.j = h.j
       |  JOIN tot t ON g.c = t.c),
       |pri AS (SELECT ndoc.c, CAST(round(
       |    ln(CAST(ndoc.nd + 1 AS DOUBLE) /
       |       CAST(nn.n + nn.k AS DOUBLE)) * 1000000) AS BIGINT) AS p
       |  FROM ndoc CROSS JOIN nn),
       |z AS (SELECT b.doc_id, su.c, sum(su.u) AS s
       |  FROM b JOIN su USING (j) GROUP BY 1, 2),
       |zz AS (SELECT z.doc_id, z.c, z.s + pri.p AS zt
       |  FROM z JOIN pri ON z.c = pri.c),
       |best AS (SELECT doc_id, c, row_number() OVER (
       |  PARTITION BY doc_id ORDER BY zt DESC, c ASC) AS rk FROM zz)"""
      .stripMargin

  /** Q28 — HLL++ approximate distinct (`approx_count_distinct`, Heule
    * et al. 2013) with its accuracy contract made oracle-checkable: the
    * exact per-group cardinality is computed alongside, and the output
    * carries `within_bound` = |est − exact| ≤ max(4, 3·rsd·exact)
    * (three standard deviations of the published relative-error
    * contract, with an absolute floor for sparse-mode small groups).
    * The engine-specific estimate itself stays out of the hashed
    * columns; the oracle reproduces the exact count and asserts the
    * bound held.
    */
  def q28(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("__est"),
           countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__est") - col("exact_users")).cast("double") <=
          greatest(lit(4.0), col("exact_users") * lit(0.15))).as("within_bound"))
  query("q28_approx_distinct", q28,
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, " +
       "TRUE AS within_bound FROM events GROUP BY event_type"))

  /** Q36 — interpolated percentiles per group (rounded: both engines
    * interpolate linearly but may differ in the last ulp).
    */
  def q36(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type")).agg(
      NumFunctions.roundNz(expr("percentile(value, 0.5)"), 6).as("p50"),
      NumFunctions.roundNz(expr("percentile(value, 0.9)"), 6).as("p90"))
  query("q36_percentiles", q36,
      ("SELECT event_type, round(quantile_cont(value, 0.5), 6) + 0 AS p50, " +
       "round(quantile_cont(value, 0.9), 6) + 0 AS p90 FROM events GROUP BY event_type"))

  /** Q72 — fixed-bin histogram: event values bucketed into width-50
    * bins (clamped to [0, 9]) per event type — one partial-aggregated
    * shuffle, the map-side bucketization a dashboard's distribution
    * panel runs. The floor input is guarded finite: under ANSI (Spark 4
    * default) `cast(NaN as long)` THROWS, so one bad row would
    * otherwise kill the scan.
    */
  def q72(s: SparkSession, d: String): DataFrame = {
    val v = col("value")
    val bin = greatest(lit(0L), least(lit(9L),
      floor(v / 50).cast("long")))
    ev(s, d).filter(v.isNotNull && !isnan(v))
      .groupBy(col("event_type"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
  }
  query("q72_histogram", q72,
      ("""SELECT event_type, greatest(0, least(9, CAST(floor(value / 50) AS BIGINT))) AS bin,
         |  count(*) AS n
         |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |GROUP BY 1, 2
         |""".stripMargin))

  /** Q73 — Pearson correlation between value and hour-of-day per event
    * type, computed FROM EXACT SUMS (n, Σx, Σy, Σx², Σy², Σxy routed
    * through decimals) rather than the built-in `corr` (whose
    * double-accumulator merge order varies with partitioning). The
    * formula then runs in double on six deterministic scalars —
    * replay-stable, hash-matching the same sums in DuckDB.
    */
  def q73(s: SparkSession, d: String): DataFrame = {
    val x = col("value")
    val y = hour(col("ts")).cast("long")
    val dec = (c: Column, s: Int) => sum(c.cast(DecimalType(28, s))).cast("double")
    ev(s, d).filter(x.isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dec(x, 6).as("sx"), sum(y).as("sy"),
        dec(x * x, 6).as("sxx"), sum(y * y).as("syy"), dec(x * y, 6).as("sxy"))
      .select(col("event_type"), col("n"),
        NumFunctions.roundNz((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("corr_vh"))
  }
  query("q73_correlation", q73,
      ("""WITH s AS (SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         |  sum(hour(ts)) AS sy,
         |  CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         |  sum(hour(ts) * hour(ts)) AS syy,
         |  CAST(sum(CAST(value * hour(ts) AS DECIMAL(28,6))) AS DOUBLE) AS sxy
         |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
         |SELECT event_type, n, round((n * sxy - sx * sy) /
         |  (sqrt(n * sxx - sx * sx) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0 AS corr_vh
         |FROM s
         |""".stripMargin))

  /** Q86 — distribution drift profile ([[graft.operators.Drift.psiProfile]]):
    * events split into reference (even event_id) and current (odd)
    * loads; the current batch binned on the REFERENCE's per-type decile
    * cutoffs, per-bin shares compared via the PSI decomposition — the
    * data-quality monitor run before trusting a new load. Static
    * nine-comparison binning, no lambda, no window. Oracle: the same
    * decile binning + share arithmetic in DuckDB.
    */
  def q86(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("event_id"), col("event_type"), col("value"))
    graft.operators.Drift.psiProfile(
      e.filter(pmod(col("event_id"), lit(2)) === 0),
      e.filter(pmod(col("event_id"), lit(2)) === 1),
      "event_type", "value")
  }
  query("q86_drift_psi", q86,
      ("""WITH e AS (SELECT event_type, value, event_id % 2 AS side FROM events
         |  WHERE value IS NOT NULL),
         |cuts AS (SELECT event_type,
         |  round(quantile_cont(value, 0.1), 6) AS c1,
         |  round(quantile_cont(value, 0.2), 6) AS c2,
         |  round(quantile_cont(value, 0.3), 6) AS c3,
         |  round(quantile_cont(value, 0.4), 6) AS c4,
         |  round(quantile_cont(value, 0.5), 6) AS c5,
         |  round(quantile_cont(value, 0.6), 6) AS c6,
         |  round(quantile_cont(value, 0.7), 6) AS c7,
         |  round(quantile_cont(value, 0.8), 6) AS c8,
         |  round(quantile_cont(value, 0.9), 6) AS c9
         |  FROM e WHERE side = 0 GROUP BY 1),
         |b AS (SELECT e.event_type, side,
         |  (CASE WHEN value >= c1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c2 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c4 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c7 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c8 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c9 THEN 1 ELSE 0 END) AS bin
         |  FROM e JOIN cuts USING (event_type)),
         |g AS (SELECT event_type, bin,
         |  count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
         |  count(CASE WHEN side = 1 THEN 1 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, sum(n_ref) AS tr, sum(n_cur) AS tc
         |  FROM g GROUP BY 1),
         |p AS (SELECT g.event_type, bin, n_ref, n_cur,
         |  round(CAST(n_ref AS DOUBLE) / tr, 6) + 0 AS p_ref,
         |  round(CAST(n_cur AS DOUBLE) / tc, 6) + 0 AS p_cur
         |  FROM g JOIN t USING (event_type))
         |SELECT event_type, bin, n_ref, n_cur, p_ref, p_cur,
         |  CASE WHEN p_ref > 0 AND p_cur > 0 THEN
         |    round((p_ref - p_cur) * ln(p_ref / p_cur), 6) END + 0 AS psi_term
         |FROM p
         |""".stripMargin))

  /** Q100 — Count-Min frequency sketch
    * ([[graft.operators.Sketches]]; Cormode & Muthukrishnan 2005): the
    * MERGEABLE counter grid — one grid per partition through the
    * shuffle, elementwise adds — with the exact top-20 alongside so the
    * never-underestimate guarantee is visible in the output. The grid
    * is deterministic given the affine family, and the JVM's wrapping
    * 64-bit hash replays exactly in HUGEINT mod-2^64 arithmetic — the
    * oracle rebuilds the (depth, slot) grid and takes the same min.
    * The CMS guarantees (est ≥ exact, merge ≡ one-pass, error ≤ bound)
    * stay spec-pinned (SketchesSpec).
    */
  def q100(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketches.heavyHittersWithEstimates(
      ev(s, d), "user_id", k = 20)
  // q100: the CMS grid is fully deterministic given the affine hash
  // family, and the JVM's wrapping 64-bit arithmetic replays exactly
  // in HUGEINT: slot_d(k) = ((k·a_d + b_d mod 2^64 unsigned) >> 33)
  // % width. The four (a, b) pairs below ARE the seed-42 family
  // (java.util.Random, pinned constants; slot replay cross-checked
  // JVM vs DuckDB). The grid rebuilds as a (d, slot) count table and
  // est = min over the key's four cells — never under exact.
  query("q100_cms_sketch", q100, {
      val T = "18446744073709551616" // 2^64
      s"""WITH h(d, a, b) AS (VALUES
         |  (0, CAST(-5025562857975149833 AS BIGINT), CAST(-3346207314135029174 AS BIGINT)),
         |  (1, CAST(-5843495416241995735 AS BIGINT), CAST(7055661172365764401 AS BIGINT)),
         |  (2, CAST(5694868678511409995 AS BIGINT), CAST(5727132727125604993 AS BIGINT)),
         |  (3, CAST(5111195811822994797 AS BIGINT), CAST(9108621128106954951 AS BIGINT))),
         |ks AS MATERIALIZED (SELECT CAST(user_id AS BIGINT) AS k FROM events
         |  WHERE user_id IS NOT NULL),
         |grid AS MATERIALIZED (SELECT h.d,
         |  CAST((((CAST(ks.k AS HUGEINT) * h.a + h.b) % $T + $T) % $T)
         |    // 8589934592 % 2048 AS BIGINT) AS s,
         |  count(*) AS c
         |  FROM ks CROSS JOIN h GROUP BY 1, 2),
         |top AS MATERIALIZED (SELECT k AS key, count(*) AS exact FROM ks
         |  GROUP BY 1 ORDER BY exact DESC, key LIMIT 20)
         |SELECT CAST(t.key AS BIGINT) AS key, CAST(t.exact AS BIGINT) AS exact,
         |  CAST(min(g.c) AS BIGINT) AS est
         |FROM top t CROSS JOIN h
         |JOIN grid g ON g.d = h.d AND g.s =
         |  CAST((((CAST(t.key AS HUGEINT) * h.a + h.b) % $T + $T) % $T)
         |    // 8589934592 % 2048 AS BIGINT)
         |GROUP BY 1, 2
         |""".stripMargin
    })

  /** Q116 — two-sample Kolmogorov–Smirnov drift
    * ([[graft.operators.Drift.ksProfile]]): q86's even/odd event split
    * compared per event type by maximum CDF separation over the
    * reference-decile bins (location-shift detector; PSI reads density
    * ratios). Bin counts cost one partial-aggregating shuffle per side;
    * the CDF window runs over ≤ 10 rows per group.
    */
  def q116(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        pmod(col("event_id"), lit(2)).as("__side"))
    graft.operators.Drift.ksProfile(
      e.filter(col("__side") === 0).drop("__side"),
      e.filter(col("__side") === 1).drop("__side"),
      "event_type", "value")
  }
  query("q116_ks_drift", q116,
      ("""WITH e AS (SELECT event_type, value, event_id % 2 AS side FROM events
         |  WHERE value IS NOT NULL),
         |cuts AS (SELECT event_type,
         |  round(quantile_cont(value, 0.1), 6) AS c1,
         |  round(quantile_cont(value, 0.2), 6) AS c2,
         |  round(quantile_cont(value, 0.3), 6) AS c3,
         |  round(quantile_cont(value, 0.4), 6) AS c4,
         |  round(quantile_cont(value, 0.5), 6) AS c5,
         |  round(quantile_cont(value, 0.6), 6) AS c6,
         |  round(quantile_cont(value, 0.7), 6) AS c7,
         |  round(quantile_cont(value, 0.8), 6) AS c8,
         |  round(quantile_cont(value, 0.9), 6) AS c9
         |  FROM e WHERE side = 0 GROUP BY 1),
         |b AS (SELECT e.event_type, side,
         |  (CASE WHEN value >= c1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c2 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c4 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c7 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c8 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c9 THEN 1 ELSE 0 END) AS bin
         |  FROM e JOIN cuts USING (event_type)),
         |g AS (SELECT event_type, bin,
         |  count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
         |  count(CASE WHEN side = 1 THEN 1 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |f AS (SELECT event_type, bin, n_ref, n_cur,
         |  sum(n_ref) OVER (PARTITION BY event_type ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fr,
         |  sum(n_cur) OVER (PARTITION BY event_type ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc,
         |  sum(n_ref) OVER (PARTITION BY event_type) AS tr,
         |  sum(n_cur) OVER (PARTITION BY event_type) AS tc
         |  FROM g)
         |SELECT event_type,
         |  round(max(abs(CAST(fr AS DOUBLE) / CAST(tr AS DOUBLE) -
         |                CAST(fc AS DOUBLE) / CAST(tc AS DOUBLE))), 6) + 0 AS ks_d,
         |  CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur
         |FROM f GROUP BY 1
         |""".stripMargin))

  /** Q130 — robust outlier profile ([[graft.operators.Drift.madOutliers]]):
    * per event type, values beyond 3 MADs of the median — the
    * 50 %-breakdown screen that mean±kσ is not. Exact medians; the
    * outlier comparison runs on unrounded estimates in both engines.
    */
  def q130(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.madOutliers(
      ev(s, d).filter(col("value").isNotNull), "event_type", "value", k = 3.0)
  query("q130_mad_outliers", q130,
      ("""WITH e AS (SELECT event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM e GROUP BY 1),
         |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med AS med
         |  FROM e JOIN m USING (event_type)),
         |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
         |  FROM d GROUP BY 1)
         |SELECT d.event_type, count(*) AS n,
         |  CAST(sum(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_outliers,
         |  round(max(d.med), 6) + 0 AS med_r,
         |  round(max(md.mad), 6) + 0 AS mad_r
         |FROM d JOIN md USING (event_type) GROUP BY 1
         |""".stripMargin))

  /** Q148 — learned quality classifier
    * ([[graft.operators.QualityClassifier.train]]): 3 full-batch
    * fixed-point gradient steps of a hashed-bag-of-words linear
    * classifier (hard-sigmoid link, LMS update, 1e6-unit weights)
    * against the integer distinct-ratio label — the trained corpus
    * filter of the CCNet/GPT-3/LLaMA recipes. All arithmetic is exact
    * 64-bit integer, so the oracle replays the 3 steps as unrolled
    * CTEs bit for bit. Per iteration: map-side scoring + one dim-sized
    * gradient shuffle. Training is session-memoized (trainCached) —
    * the q150/q162/q163/q166 evaluation family reuses this one run.
    */
  def q148(s: SparkSession, d: String): DataFrame =
    graft.operators.QualityClassifier.weightsTable(s,
      graft.operators.QualityClassifier.trainCached(d, docs(s, d),
        "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L))
  // q148 replays the fixed-point training exactly (the q133 recipe):
  // md5-prefix feature buckets, hard-sigmoid in 1e6 units with a
  // non-negative dividend, LMS update with truncate-toward-zero
  // division (DuckDB // ≡ Spark div ≡ JVM / on negatives) — three
  // unrolled CTE steps reproduce the engine's weights bit for bit
  query("q148_quality_clf", q148,
      (s"""$QC_TRAIN_CTE
         |SELECT j AS feat, CAST(w AS BIGINT) AS w_units,
         |  round(CAST(w AS DOUBLE) / 1000000, 6) + 0 AS w_r
         |FROM w3 ORDER BY feat
         |""".stripMargin))

  /** The q140 oracle: both Count-Min grids replayed as GROUP BYs over
    * the SAME affine-hash slot arithmetic — constants inlined from
    * [[graft.functions.HashFamilies]] at generation time (one code
    * path, no drift) — then `min_d ⟨row_d(orders), row_d(lineitem)⟩`.
    * All mod-2^64 wrapping runs in HUGEINT.
    */
  private def q140OracleSql: String = {
    val (depth, width, seed) = (4, 8192, 42L)
    val as = graft.functions.HashFamilies.multipliers(depth, seed)
    val bs = graft.functions.HashFamilies.offsets(depth, seed)
    val consts = (0 until depth)
      .map(d => s"($d, CAST(${as(d)} AS HUGEINT), CAST(${bs(d)} AS HUGEINT))")
      .mkString(",\n  ")
    val h = "18446744073709551616" // 2^64
    def slotCte(name: String, table: String, key: String): String =
      s"""$name AS (SELECT c.d,
         |    CAST((((CAST($key AS HUGEINT) * c.a + c.b) % $h + $h) % $h)
         |      // 8589934592 % $width AS INT) AS s, count(*) AS cnt
         |  FROM $table, consts c WHERE $key IS NOT NULL GROUP BY 1, 2)""".stripMargin
    s"""WITH consts(d, a, b) AS (VALUES
       |  $consts),
       |${slotCte("oslot", "orders", "o_orderkey")},
       |${slotCte("lslot", "lineitem", "l_orderkey")},
       |dd AS (SELECT range AS d FROM range($depth)),
       |dots AS (SELECT dd.d, coalesce(sum(o.cnt * l.cnt), 0) AS dot
       |  FROM dd LEFT JOIN oslot o ON o.d = dd.d
       |  LEFT JOIN lslot l ON l.d = o.d AND l.s = o.s
       |  GROUP BY 1)
       |SELECT CAST(min(dot) AS BIGINT) AS est_join_rows FROM dots
       |""".stripMargin
  }

  /** Q209 — deterministic bootstrap confidence band
    * ([[graft.operators.Eval.bootstrapMeanCI]]; Efron's percentile
    * bootstrap): 200 md5-keyed with-replacement resamples of the
    * documents table, each resample's exact-integer mean of `n_chars`,
    * exact order-statistic percentiles (5/50/95) across the resample
    * means. Oracle replays the md5 draw indices, the position join,
    * and the percentile CTE.
    */
  def q209(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.bootstrapMeanCI(docs(s, d), "doc_id", "n_chars",
      numResamples = 200, qPcts = Seq(5, 50, 95))
  // q209: bootstrap CI — the same md5 draw indices over the
  // row_number position order, exact-integer resample sums, one IEEE
  // division rounded to 6, exact order-statistic percentiles
  query("q209_bootstrap_ci", q209,
      ("""WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v
         |  FROM documents),
         |ranked AS (SELECT v, row_number() OVER (ORDER BY doc_id) AS idx
         |  FROM base),
         |nn AS (SELECT count(*) AS n FROM base),
         |draws AS (SELECT b.range + 1 AS b,
         |  (CAST('0x' || substr(md5('bs:' || (b.range + 1) || ':' || r2.idx),
         |    1, 8) AS BIGINT) % (SELECT n FROM nn)) + 1 AS idx
         |  FROM range(200) b, ranked r2),
         |means AS (SELECT d.b,
         |  round(CAST(sum(r.v) AS DOUBLE) / (SELECT n FROM nn), 6) + 0 AS m
         |  FROM draws d JOIN ranked r USING (idx) GROUP BY 1),
         |c AS (SELECT m, count(*) AS cnt FROM means GROUP BY 1),
         |cc AS (SELECT m, sum(cnt) OVER (ORDER BY m
         |  ROWS UNBOUNDED PRECEDING) AS cum FROM c),
         |qs AS (SELECT unnest([5, 50, 95]) AS q_pct)
         |SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |  CAST((SELECT n FROM nn) AS BIGINT) AS n_docs,
         |  CAST(200 AS BIGINT) AS n_resamples, min(m) AS boot_mean
         |FROM cc JOIN qs ON cum * 100 >= 200 * q_pct GROUP BY 1, 2, 3
         |""".stripMargin))

  /** Q212 — one-pass Poisson bootstrap confidence band
    * ([[graft.operators.Eval.bootstrapMeanCIPooled]]; Chamandy et
    * al. 2012): q209's band recomputed the way a 100 TB corpus must —
    * every document draws a Poisson(1) weight per resample from
    * `md5(bsp:b:doc_id) mod 1e6` against the integer CDF table, all
    * 200 weighted sums fold map-side in ONE corpus pass (no draw
    * grid, no join, no rank), resample mean = Σw·v / Σw, exact
    * order-statistic percentiles over the retained means. Oracle
    * replays the md5 draws, the threshold lookup, and the percentile
    * CTE with the same integer table.
    */
  def q212(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.bootstrapMeanCIPooled(docs(s, d), "doc_id",
      "n_chars", numResamples = 200, qPcts = Seq(5, 50, 95))
  // q212: Poisson bootstrap — the same md5 (salt:b:doc_id) draws,
  // the same integer Poisson(1) CDF thresholds via list_filter,
  // weighted means over retained resamples, same percentile CTE
  query("q212_bootstrap_pooled", q212,
      ("""WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST(n_chars AS BIGINT) AS v FROM documents),
         |draws AS (SELECT b.range + 1 AS b, v,
         |  CAST('0x' || substr(md5('bsp:' || (b.range + 1) || ':' || id),
         |    1, 8) AS BIGINT) % 1000000 AS u
         |  FROM range(200) b, base),
         |wt AS (SELECT b, v, len(list_filter(
         |  [367879, 735759, 919699, 981012, 996340,
         |   999406, 999917, 999990, 999999], t -> t <= u)) AS w
         |  FROM draws),
         |means AS (SELECT b, count(*) AS nd,
         |  round(CAST(sum(w * v) AS DOUBLE) / sum(w), 6) + 0 AS m
         |  FROM wt GROUP BY 1 HAVING sum(w) > 0),
         |c AS (SELECT m, count(*) AS cnt, max(nd) AS nd
         |  FROM means GROUP BY 1),
         |cc AS (SELECT m, sum(cnt) OVER (ORDER BY m
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(cnt) OVER () AS tot, max(nd) OVER () AS ndg FROM c),
         |qs AS (SELECT unnest([5, 50, 95]) AS q_pct)
         |SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |  CAST(max(ndg) AS BIGINT) AS n_docs,
         |  CAST(max(tot) AS BIGINT) AS n_resamples, min(m) AS boot_mean
         |FROM cc JOIN qs ON cum * 100 >= tot * q_pct GROUP BY 1
         |""".stripMargin))

  /** Q216 — McNemar filter-promotion gate
    * ([[graft.operators.Eval.mcnemarGate]]): per language, does
    * quality-filter B (≥ 50 tokens) pass a significantly different
    * document set than filter A (≥ 300 chars) on the SAME corpus?
    * Paired-data discordant counts, z = (n_ab − n_ba)/√(n_ab + n_ba)
    * (IEEE sqrt is correctly rounded in both engines), significance
    * on the rounded z vs the 1.96 literal. One partial-aggregating
    * collapse; the flags evaluate in the scan projection. Oracle
    * replays the flags, counts, and the same sqrt arithmetic.
    */
  def q216(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.mcnemarGate(docs(s, d), "lang",
      col("n_chars") >= 300,
      graft.functions.TextFunctions.tokenCount(col("text")) >= 50)
  // q216: paired pass flags per doc, discordant counts per lang,
  // the same sqrt z and the 1.96 literal on the rounded value
  query("q216_mcnemar_gate", q216,
      (s"""WITH f AS (SELECT lang,
          |  (n_chars >= 300) AS a, (len($TOKS) >= 50) AS b
          |  FROM documents),
          |g AS (SELECT lang AS grp, count(*) AS n_docs,
          |  sum(CASE WHEN a THEN 1 ELSE 0 END) AS a_pass,
          |  sum(CASE WHEN b THEN 1 ELSE 0 END) AS b_pass,
          |  sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n_ab,
          |  sum(CASE WHEN b AND NOT a THEN 1 ELSE 0 END) AS n_ba
          |  FROM f GROUP BY 1)
          |SELECT grp, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(a_pass AS BIGINT) AS a_pass,
          |  CAST(b_pass AS BIGINT) AS b_pass,
          |  CAST(n_ab AS BIGINT) AS n_ab, CAST(n_ba AS BIGINT) AS n_ba,
          |  CASE WHEN n_ab + n_ba = 0 THEN 0.0 ELSE
          |    round(CAST(n_ab - n_ba AS DOUBLE) /
          |      sqrt(CAST(n_ab + n_ba AS DOUBLE)), 6) + 0 END AS z_r,
          |  CASE WHEN n_ab + n_ba = 0 THEN abs(0.0) > 1.96 ELSE
          |    abs(round(CAST(n_ab - n_ba AS DOUBLE) /
          |      sqrt(CAST(n_ab + n_ba AS DOUBLE)), 6) + 0) > 1.96 END
          |    AS significant
          |FROM g
          |""".stripMargin))

  /** Q218 — Fleiss' kappa inter-annotator agreement
    * ([[graft.operators.Eval.fleissKappa]], Fleiss 1971): per
    * language, the chance-corrected agreement of a 3-rater panel
    * labeling each document short/mid/long — rater judgments are the
    * document's length perturbed by a per-(doc, rater) md5 jitter, so
    * the panel disagrees exactly at bucket boundaries and the whole
    * fixture is a pure function of the corpus. The kappa itself is
    * ONE division of two exact 128-bit integers. Oracle replays the
    * jittered labels, both integer marginals, and the cleared-denominator
    * formula in HUGEINT.
    */
  def q218(s: SparkSession, d: String): DataFrame = {
    val eff = col("n_chars") + pmod(conv(substring(md5(concat_ws(":",
      lit("fk"), col("doc_id").cast("string"), col("rater").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(200L))
    val ratings = docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(3))).as("rater"))
      .withColumn("label", when(eff < 400, lit("short"))
        .when(eff < 700, lit("mid")).otherwise(lit("long")))
    graft.operators.Eval.fleissKappa(ratings, "lang", "doc_id", "rater",
      "label", ratersPerItem = 3)
  }
  // q218: the md5-jittered 3-rater labels, per-item and per-category
  // integer marginals over complete items, and the cleared-denominator
  // Fleiss formula in HUGEINT — one divide, rounded at the edge
  query("q218_fleiss_kappa", q218,
      ("""WITH r AS (SELECT lang, doc_id, n_chars, b.range + 1 AS rater
         |  FROM documents, range(3) b),
         |lab AS (SELECT lang, doc_id,
         |  CASE WHEN n_chars + CAST('0x' || substr(md5('fk:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 400 THEN 'short'
         |    WHEN n_chars + CAST('0x' || substr(md5('fk:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 700 THEN 'mid'
         |    ELSE 'long' END AS label FROM r),
         |cells AS (SELECT lang, doc_id, label, count(*) AS nij
         |  FROM lab GROUP BY 1, 2, 3),
         |items AS (SELECT lang, doc_id, sum(nij) AS ni,
         |  sum(nij * nij) AS s2i FROM cells GROUP BY 1, 2),
         |gi AS (SELECT lang,
         |  sum(CASE WHEN ni = 3 THEN 1 ELSE 0 END) AS n_items,
         |  sum(CASE WHEN ni <> 3 THEN 1 ELSE 0 END) AS n_dropped,
         |  sum(CASE WHEN ni = 3 THEN s2i ELSE 0 END) AS s2
         |  FROM items GROUP BY 1),
         |ct AS (SELECT c.lang, c.label, sum(c.nij) AS cj
         |  FROM cells c JOIN items i
         |  ON c.lang = i.lang AND c.doc_id = i.doc_id
         |  WHERE i.ni = 3 GROUP BY 1, 2),
         |gc AS (SELECT lang, count(*) AS n_categories,
         |  sum(CAST(cj AS HUGEINT) * CAST(cj AS HUGEINT)) AS cs
         |  FROM ct GROUP BY 1)
         |SELECT gi.lang AS grp, CAST(n_items AS BIGINT) AS n_items,
         |  CAST(n_dropped AS BIGINT) AS n_dropped,
         |  CAST(coalesce(n_categories, 0) AS BIGINT) AS n_categories,
         |  CASE WHEN n_items = 0 THEN NULL
         |    WHEN (CAST(n_items AS HUGEINT) * 3 * (CAST(n_items AS HUGEINT)
         |      * 3) - coalesce(cs, 0)) * 2 = 0 THEN 1.0
         |    ELSE round(CAST((CAST(s2 AS HUGEINT) - n_items * 3) *
         |      (CAST(n_items AS HUGEINT) * 3) - coalesce(cs, 0) * 2 AS DOUBLE)
         |      / CAST((CAST(n_items AS HUGEINT) * 3 *
         |      (CAST(n_items AS HUGEINT) * 3) - coalesce(cs, 0)) * 2
         |      AS DOUBLE), 6) + 0 END AS kappa_r
         |FROM gi LEFT JOIN gc USING (lang)
         |""".stripMargin))

  /** Q221 — Benjamini-Hochberg FDR step-up
    * ([[graft.operators.Eval.bhFdr]], Benjamini & Hochberg 1995):
    * one significance gate per (lang, source) cell with a
    * deterministic md5 p-value (even-length sources draw from
    * [0, 1000) ppm — the "real effects"; odd-length from the full
    * million — the nulls), then the exact-integer step-up at
    * q = 0.1: which alarms survive FDR control. Oracle replays the
    * p-values, both windows, and the cleared-denominator comparison.
    */
  def q221(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(concat_ws(":", lit("bh"), col("lang"),
      col("source"))), 1, 8), 16, 10).cast("long")
    val gates = docs(s, d).select(col("lang"), col("source")).distinct()
      .withColumn("test", concat_ws("/", col("lang"), col("source")))
      .withColumn("p_ppm", when(length(col("source")) % 2 === 0,
        pmod(u, lit(1000L))).otherwise(pmod(u, lit(1000000L))))
    graft.operators.Eval.bhFdr(gates, "test", "p_ppm", qPpm = 100000L)
  }
  // q221: md5 gate p-values (even-length sources draw small),
  // rank/total windows, the exact p·m ≤ rank·q step-up, and the
  // bottom-up running min for the adjusted p
  query("q221_bh_fdr", q221,
      ("""WITH g AS (SELECT DISTINCT lang, source FROM documents),
         |p AS (SELECT lang || '/' || source AS test,
         |  CASE WHEN len(source) % 2 = 0
         |    THEN CAST('0x' || substr(md5('bh:' || lang || ':' || source),
         |      1, 8) AS BIGINT) % 1000
         |    ELSE CAST('0x' || substr(md5('bh:' || lang || ':' || source),
         |      1, 8) AS BIGINT) % 1000000 END AS p_ppm FROM g),
         |r AS (SELECT test, p_ppm,
         |  row_number() OVER (ORDER BY p_ppm, test) AS rnk,
         |  count(*) OVER () AS m FROM p),
         |a AS (SELECT *, least(1.0, CAST(p_ppm * m AS DOUBLE) /
         |  CAST(rnk * 1000000 AS DOUBLE)) AS raw FROM r),
         |b AS (SELECT *, min(raw) OVER (ORDER BY p_ppm, test
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS adj,
         |  max(CASE WHEN p_ppm * m <= rnk * 100000 THEN rnk ELSE 0 END)
         |    OVER () AS k FROM a)
         |SELECT test, CAST(p_ppm AS BIGINT) AS p_ppm,
         |  CAST(m AS BIGINT) AS m, CAST(rnk AS BIGINT) AS "rank",
         |  round(adj, 6) + 0 AS adj_p_r, rnk <= k AS rejected
         |FROM b
         |""".stripMargin))

  /** Q222 — paired sign-flip permutation test
    * ([[graft.operators.Eval.pairedPermutationTest]], Fisher's
    * randomization logic with the Phipson-Smyth add-one estimator):
    * per language, does the character count differ from 6× the token
    * count beyond chance — 200 md5-keyed sign assignments of each
    * document's exact integer difference, folded in ONE corpus pass
    * (the q212 skeleton). Oracle replays the signs, the permuted
    * totals, and the add-one ratio.
    */
  def q222(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.pairedPermutationTest(
      docs(s, d).filter(col("text").isNotNull), "lang", "doc_id",
      col("n_chars"),
      lit(6L) * graft.functions.TextFunctions.tokenCount(col("text")),
      numPerms = 200)
  // q222: exact integer differences, 200 md5 sign assignments,
  // permuted totals vs the observed total, add-one p
  query("q222_perm_test", q222,
      (s"""WITH base AS (SELECT lang, CAST(doc_id AS VARCHAR) AS id,
          |  CAST(n_chars AS BIGINT) - 6 * len($TOKS) AS d
          |  FROM documents WHERE text IS NOT NULL),
          |obs AS (SELECT lang, count(*) AS n_docs, sum(d) AS t_obs
          |  FROM base GROUP BY 1),
          |pr AS (SELECT lang, d, b.range + 1 AS p,
          |  2 * (CAST('0x' || substr(md5('pt:' || (b.range + 1) || ':' ||
          |    id), 1, 8) AS BIGINT) % 2) - 1 AS s
          |  FROM base, range(200) b),
          |t AS (SELECT lang, p, sum(s * d) AS t FROM pr GROUP BY 1, 2),
          |g AS (SELECT t.lang, max(n_docs) AS n_docs,
          |  max(obs.t_obs) AS t_obs,
          |  sum(CASE WHEN abs(t.t) >= abs(obs.t_obs) THEN 1 ELSE 0 END)
          |    AS n_ge
          |  FROM t JOIN obs ON t.lang = obs.lang GROUP BY 1)
          |SELECT lang AS grp, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(t_obs AS BIGINT) AS t_obs, CAST(n_ge AS BIGINT) AS n_ge,
          |  round(CAST(n_ge + 1 AS DOUBLE) / 201.0, 6) + 0 AS p_r
          |FROM g
          |""".stripMargin))

  /** Q224 — Cochran's Q over three paired gate versions
    * ([[graft.operators.Eval.cochranQ]], Cochran 1950): per language,
    * do the 300-char, 50-token, and 500-char gates pass different
    * document sets beyond chance — the k-version generalization of
    * q216 in one exact-integer statistic (ONE division of two
    * DECIMAL(38,0) integers, χ²₀.₀₅ at df 2 on the rounded value).
    * Oracle replays the flags, the per-doc pass counts, and the
    * cleared-denominator formula in HUGEINT.
    */
  def q224(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.cochranQ(docs(s, d), "lang", Seq(
      col("n_chars") >= 300,
      graft.functions.TextFunctions.tokenCount(col("text")) >= 50,
      col("n_chars") >= 500))
  // q224: row-local pass flags and pass counts, one collapse per
  // lang, the cleared-denominator Q in HUGEINT, χ² literal on the
  // rounded statistic
  query("q224_cochran_q", q224,
      (s"""WITH f AS (SELECT lang,
          |  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS f0,
          |  CASE WHEN len($TOKS) >= 50 THEN 1 ELSE 0 END AS f1,
          |  CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS f2
          |  FROM documents),
          |g AS (SELECT lang, count(*) AS n_docs, sum(f0) AS c0,
          |  sum(f1) AS c1, sum(f2) AS c2, sum(f0 + f1 + f2) AS nn,
          |  sum((f0 + f1 + f2) * (f0 + f1 + f2)) AS sr2
          |  FROM f GROUP BY 1)
          |SELECT lang AS grp, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
          |  CAST(c2 AS BIGINT) AS c2,
          |  CASE WHEN 3 * nn - sr2 = 0 THEN 0.0
          |    ELSE round(CAST(1 * (3 * (CAST(c0 AS HUGEINT) * c0 +
          |      CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2) -
          |      CAST(nn AS HUGEINT) * nn) * 2 AS DOUBLE) /
          |      CAST(3 * CAST(nn AS HUGEINT) - sr2 AS DOUBLE), 6) + 0
          |    END AS q_r,
          |  CASE WHEN 3 * nn - sr2 = 0 THEN 0.0 > 5.991464
          |    ELSE round(CAST(1 * (3 * (CAST(c0 AS HUGEINT) * c0 +
          |      CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2) -
          |      CAST(nn AS HUGEINT) * nn) * 2 AS DOUBLE) /
          |      CAST(3 * CAST(nn AS HUGEINT) - sr2 AS DOUBLE), 6) + 0
          |      > 5.991464 END AS significant
          |FROM g
          |""".stripMargin))

  /** Q225 — Cohen's d between corpus halves
    * ([[graft.operators.Eval.cohensD]], Cohen 1988): per language,
    * the standardized character-count difference between even- and
    * odd-id documents — exact integer sums of squares, a fixed chain
    * of IEEE divides and one sqrt. Oracle replays the slice sums and
    * the same operation chain.
    */
  def q225(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.cohensD(docs(s, d), "lang", "n_chars",
      col("doc_id") % 2 === 0)
  // q225: exact slice sums/squares per lang, then the same fixed
  // chain — means, n·Σx²−S² centered squares, pooled variance, one
  // sqrt — operation for operation
  query("q225_cohens_d", q225,
      ("""WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
         |  (doc_id % 2 = 0) AS a FROM documents),
         |g AS (SELECT lang,
         |  sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         |  sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb,
         |  sum(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
         |  sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) END) AS sb,
         |  sum(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
         |  sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) * v END) AS qb
         |  FROM b GROUP BY 1),
         |e AS (SELECT lang, na, nb,
         |  CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         |  CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         |  CAST(na * qa - sa * sa AS DOUBLE) / CAST(na AS DOUBLE) AS ssa,
         |  CAST(nb * qb - sb * sb AS DOUBLE) / CAST(nb AS DOUBLE) AS ssb
         |  FROM g)
         |SELECT lang AS grp, CAST(na AS BIGINT) AS n_a,
         |  CAST(nb AS BIGINT) AS n_b,
         |  CASE WHEN na = 0 OR nb = 0 THEN NULL
         |    ELSE round(ma - mb, 6) + 0 END AS mean_diff_r,
         |  CASE WHEN na < 2 OR nb < 2 THEN NULL
         |    WHEN ssa + ssb = 0.0 THEN NULL
         |    ELSE round((ma - mb) / sqrt((ssa + ssb) /
         |      CAST(na + nb - 2 AS DOUBLE)), 6) + 0 END AS d_r
         |FROM e
         |""".stripMargin))

  /** Q226 — Cliff's delta between corpus halves
    * ([[graft.operators.Eval.cliffsDelta]], Cliff 1993): the
    * distribution-free companion of q225 on the same slices — exact
    * integer greater/less pair counts via per-value collapse + one
    * group-partitioned cumulative window, one division. Oracle
    * replays the value counts, the cumulative window, and the pair
    * products.
    */
  def q226(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.cliffsDelta(docs(s, d), "lang", "n_chars",
      col("doc_id") % 2 === 0)
  // q226: per-(lang, value) slice counts, cumulative-below window
  // inside each lang, exact pair products, one divide
  query("q226_cliffs_delta", q226,
      ("""WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
         |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a
         |  FROM documents),
         |c AS (SELECT lang, v, sum(a) AS ca, sum(1 - a) AS cb
         |  FROM b GROUP BY 1, 2),
         |w AS (SELECT lang, v, ca, cb,
         |  sum(cb) OVER (PARTITION BY lang ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) - cb AS below,
         |  sum(cb) OVER (PARTITION BY lang) AS totb FROM c),
         |g AS (SELECT lang, sum(ca) AS na, max(totb) AS nb,
         |  sum(CAST(ca AS HUGEINT) * below) AS gt,
         |  sum(CAST(ca AS HUGEINT) * (totb - below - cb)) AS lt
         |  FROM w GROUP BY 1)
         |SELECT lang AS grp, CAST(na AS BIGINT) AS n_a,
         |  CAST(nb AS BIGINT) AS n_b, CAST(gt AS BIGINT) AS gt,
         |  CAST(lt AS BIGINT) AS lt,
         |  CASE WHEN na = 0 OR nb = 0 THEN NULL
         |    ELSE round(CAST(gt - lt AS DOUBLE) /
         |      CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 6) + 0
         |    END AS delta_r
         |FROM g
         |""".stripMargin))

  /** Q227 — Krippendorff's alpha with varying panel sizes
    * ([[graft.operators.Eval.krippendorffAlpha]], Krippendorff 2011):
    * per language, nominal agreement over panels of 2 OR 3 raters
    * (`2 + doc_id % 2` — the varying-panel table q218's Fleiss must
    * drop rows from), md5-jittered length labels; the
    * lcm-cleared disagreement ratio is ONE division of two exact
    * DECIMAL(38,0) integers. Oracle replays the panels, both
    * disagreement sums, and the lcm scaling in HUGEINT.
    */
  def q227(s: SparkSession, d: String): DataFrame = {
    val eff = col("n_chars") + pmod(conv(substring(md5(concat_ws(":",
      lit("ka"), col("doc_id").cast("string"), col("rater").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(200L))
    val ratings = docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1L), lit(2L) + pmod(col("doc_id"), lit(2L))))
          .as("rater"))
      .withColumn("label", when(eff < 400, lit("short"))
        .when(eff < 700, lit("mid")).otherwise(lit("long")))
    graft.operators.Eval.krippendorffAlpha(ratings, "lang", "doc_id",
      "label", maxRaters = 12)
  }
  // q227: varying 2/3-rater panels, the same md5 labels, both
  // disagreement sums lcm-scaled (L = lcm(1..11) = 27720), one
  // HUGEINT divide
  query("q227_krippendorff", q227,
      ("""WITH r AS (SELECT lang, doc_id, n_chars,
         |  unnest(range(2 + doc_id % 2)) + 1 AS rater FROM documents),
         |lab AS (SELECT lang, doc_id,
         |  CASE WHEN n_chars + CAST('0x' || substr(md5('ka:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 400 THEN 'short'
         |    WHEN n_chars + CAST('0x' || substr(md5('ka:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 700 THEN 'mid'
         |    ELSE 'long' END AS label FROM r),
         |cells AS (SELECT lang, doc_id, label, count(*) AS nij
         |  FROM lab GROUP BY 1, 2, 3),
         |items AS (SELECT lang, doc_id, sum(nij) AS ni
         |  FROM cells GROUP BY 1, 2),
         |j AS (SELECT c.lang, c.label, c.nij, i.ni FROM cells c
         |  JOIN items i ON c.lang = i.lang AND c.doc_id = i.doc_id
         |  WHERE i.ni BETWEEN 2 AND 12),
         |num AS (SELECT lang, sum(CAST(nij AS HUGEINT) * (ni - nij) *
         |  (27720 // (ni - 1))) AS numl FROM j GROUP BY 1),
         |cat AS (SELECT lang, label, sum(nij) AS nc FROM j GROUP BY 1, 2),
         |nt AS (SELECT lang, sum(ni) AS n FROM items
         |  WHERE ni BETWEEN 2 AND 12 GROUP BY 1),
         |dd AS (SELECT cat.lang, max(n) AS n,
         |  sum(CAST(nc AS HUGEINT) * (n - nc)) AS dden
         |  FROM cat JOIN nt ON cat.lang = nt.lang GROUP BY 1),
         |cnt AS (SELECT lang,
         |  sum(CASE WHEN ni BETWEEN 2 AND 12 THEN 1 ELSE 0 END) AS n_items,
         |  sum(CASE WHEN ni = 1 THEN 1 ELSE 0 END) AS n_single,
         |  sum(CASE WHEN ni > 12 THEN 1 ELSE 0 END) AS n_oversize
         |  FROM items GROUP BY 1)
         |SELECT cnt.lang AS grp, CAST(n_items AS BIGINT) AS n_items,
         |  CAST(n_single AS BIGINT) AS n_single,
         |  CAST(n_oversize AS BIGINT) AS n_oversize,
         |  CAST(coalesce(q.n, 0) AS BIGINT) AS n_ratings,
         |  CASE WHEN n_items = 0 THEN NULL
         |    WHEN 27720 * q.dden = 0 THEN 1.0
         |    ELSE round(CAST(27720 * q.dden - (q.n - 1) * q.numl AS DOUBLE)
         |      / CAST(27720 * q.dden AS DOUBLE), 6) + 0 END AS alpha_r
         |FROM cnt LEFT JOIN (SELECT num.lang, numl, n, dden FROM num
         |  JOIN dd ON num.lang = dd.lang) q ON cnt.lang = q.lang
         |""".stripMargin))

  /** Q229 — Wilcoxon signed-rank paired test
    * ([[graft.operators.Eval.wilcoxonSignedRank]], Wilcoxon 1945):
    * per language, the magnitude-aware paired test on q222's exact
    * difference (characters vs 6× tokens) — doubled midranks over
    * tie groups, the tie-corrected z with every fraction cleared to
    * exact integers, one divide + one sqrt. Oracle replays the tie
    * groups, the doubled ranks, and the cleared-denominator z.
    */
  def q229(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.wilcoxonSignedRank(
      docs(s, d).filter(col("text").isNotNull), "lang",
      col("n_chars"),
      lit(6L) * graft.functions.TextFunctions.tokenCount(col("text")))
  // q229: nonzero differences to (lang, |d|) tie groups, doubled
  // midranks via the cumulative window, the cleared-fraction
  // tie-corrected z
  query("q229_wilcoxon", q229,
      (s"""WITH base AS (SELECT lang,
          |  CAST(n_chars AS BIGINT) - 6 * len($TOKS) AS d
          |  FROM documents WHERE text IS NOT NULL),
          |nz AS (SELECT lang, abs(d) AS ad,
          |  CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
          |  FROM base WHERE d <> 0),
          |c AS (SELECT lang, ad, count(*) AS t, sum(pos) AS ca
          |  FROM nz GROUP BY 1, 2),
          |w AS (SELECT lang, ad, t, ca, sum(t) OVER (PARTITION BY lang
          |  ORDER BY ad ROWS UNBOUNDED PRECEDING) - t AS cb FROM c),
          |g AS (SELECT lang, sum(t) AS n,
          |  sum(CAST(ca AS HUGEINT) * (2 * cb + t + 1)) AS w2,
          |  sum(CAST(t AS HUGEINT) * t * t - t) AS tie FROM w GROUP BY 1)
          |SELECT lang AS grp, CAST(n AS BIGINT) AS n_nz,
          |  CAST(w2 AS BIGINT) AS w2,
          |  round(CAST(2 * w2 - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) /
          |    sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) -
          |      tie AS DOUBLE) / 3.0), 6) + 0 AS z_r,
          |  abs(round(CAST(2 * w2 - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) /
          |    sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) -
          |      tie AS DOUBLE) / 3.0), 6) + 0) > 1.96 AS significant
          |FROM g
          |""".stripMargin))

  /** Q230 — Spearman rank correlation
    * ([[graft.operators.Eval.spearmanRho]], Spearman 1904): per
    * language, the monotone association between character and token
    * counts — doubled midranks joined back by value, Pearson over
    * exact DECIMAL(38,0) rank sums, one fixed IEEE chain. Oracle
    * replays both rank tables, the joins, and the same formula.
    */
  def q230(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.spearmanRho(
      docs(s, d).filter(col("text").isNotNull)
        .withColumn("n_toks",
          graft.functions.TextFunctions.tokenCount(col("text"))),
      "lang", "n_chars", "n_toks")
  // q230: doubled midranks per metric, value joins back to rows,
  // Pearson over exact rank sums
  query("q230_spearman", q230,
      (s"""WITH base AS (SELECT lang, CAST(n_chars AS BIGINT) AS x,
          |  len($TOKS) AS y FROM documents WHERE text IS NOT NULL),
          |cx AS (SELECT lang, x, count(*) AS t FROM base GROUP BY 1, 2),
          |wx AS (SELECT lang, x, 2 * (sum(t) OVER (PARTITION BY lang
          |  ORDER BY x ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS rx FROM cx),
          |cy AS (SELECT lang, y, count(*) AS t FROM base GROUP BY 1, 2),
          |wy AS (SELECT lang, y, 2 * (sum(t) OVER (PARTITION BY lang
          |  ORDER BY y ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS ry FROM cy),
          |j AS (SELECT b.lang, wx.rx, wy.ry FROM base b
          |  JOIN wx ON b.lang = wx.lang AND b.x = wx.x
          |  JOIN wy ON b.lang = wy.lang AND b.y = wy.y),
          |g AS (SELECT lang, count(*) AS n,
          |  sum(CAST(rx AS HUGEINT)) AS sx, sum(CAST(ry AS HUGEINT)) AS sy,
          |  sum(CAST(rx AS HUGEINT) * rx) AS sxx,
          |  sum(CAST(ry AS HUGEINT) * ry) AS syy,
          |  sum(CAST(rx AS HUGEINT) * ry) AS sxy FROM j GROUP BY 1)
          |SELECT lang AS grp, CAST(n AS BIGINT) AS n,
          |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
          |    THEN NULL
          |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
          |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0
          |    END AS rho_r
          |FROM g
          |""".stripMargin))

  /** Q236 — CLUSTER bootstrap confidence band
    * ([[graft.operators.Eval.bootstrapMeanCIPooled]] keyed on the
    * SOURCE, Field & Welsh 2007): documents within a source draw the
    * same Poisson weight per resample, so whole sources resample
    * together — the honest band when in-source correlation would make
    * q212's iid band too tight. Same one-pass fold, same md5
    * discipline, different resampling unit. Oracle replays the
    * source-keyed draws through the q212 CTE chain.
    */
  def q236(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.bootstrapMeanCIPooled(docs(s, d), "source",
      "n_chars", numResamples = 200, salt = "bspc")
  // q236: the q212 Poisson chain with the draw keyed on SOURCE —
  // every doc of a source shares its weight per resample
  query("q236_cluster_bootstrap", q236,
      ("""WITH base AS (SELECT source AS id,
         |  CAST(n_chars AS BIGINT) AS v FROM documents),
         |draws AS (SELECT b.range + 1 AS b, v,
         |  CAST('0x' || substr(md5('bspc:' || (b.range + 1) || ':' || id),
         |    1, 8) AS BIGINT) % 1000000 AS u
         |  FROM range(200) b, base),
         |wt AS (SELECT b, v, len(list_filter(
         |  [367879, 735759, 919699, 981012, 996340,
         |   999406, 999917, 999990, 999999], t -> t <= u)) AS w
         |  FROM draws),
         |means AS (SELECT b, count(*) AS nd,
         |  round(CAST(sum(w * v) AS DOUBLE) / sum(w), 6) + 0 AS m
         |  FROM wt GROUP BY 1 HAVING sum(w) > 0),
         |c AS (SELECT m, count(*) AS cnt, max(nd) AS nd
         |  FROM means GROUP BY 1),
         |cc AS (SELECT m, sum(cnt) OVER (ORDER BY m
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(cnt) OVER () AS tot, max(nd) OVER () AS ndg FROM c),
         |qs AS (SELECT unnest([5, 50, 95]) AS q_pct)
         |SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |  CAST(max(ndg) AS BIGINT) AS n_docs,
         |  CAST(max(tot) AS BIGINT) AS n_resamples, min(m) AS boot_mean
         |FROM cc JOIN qs ON cum * 100 >= tot * q_pct GROUP BY 1
         |""".stripMargin))

  /** Q237 — Kendall's W judge concordance
    * ([[graft.operators.Eval.kendallW]], Kendall & Babington Smith
    * 1939): per language, do three judges ORDER the documents
    * consistently — each judge's score is the length perturbed by a
    * per-(doc, judge) md5 jitter, ranked in doubled midrank units per
    * judge; the tie-corrected W clears to one division of two exact
    * DECIMAL(38,0) integers. The ordinal companion of q218/q227.
    * Oracle replays the per-judge rank tables, the per-item rank
    * sums, and the cleared formula in HUGEINT.
    */
  def q237(s: SparkSession, d: String): DataFrame = {
    val score = col("n_chars") + pmod(conv(substring(md5(concat_ws(":",
      lit("kw"), col("doc_id").cast("string"), col("judge").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(200L))
    val ratings = docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(3))).as("judge"))
      .withColumn("score", score)
    graft.operators.Eval.kendallW(ratings, "lang", "doc_id", "judge",
      "score")
  }
  // q237: per-judge doubled midranks over the jittered scores,
  // per-item rank sums, the tie-corrected W cleared to HUGEINT
  query("q237_kendall_w", q237,
      ("""WITH r AS (SELECT lang, doc_id, b.range + 1 AS judge,
         |  n_chars + CAST('0x' || substr(md5('kw:' || doc_id || ':' ||
         |    (b.range + 1)), 1, 8) AS BIGINT) % 200 AS s
         |  FROM documents, range(3) b),
         |c AS (SELECT lang, judge, s, count(*) AS t FROM r GROUP BY 1, 2, 3),
         |rk AS (SELECT lang, judge, s, t,
         |  2 * (sum(t) OVER (PARTITION BY lang, judge ORDER BY s
         |    ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS r2 FROM c),
         |ts AS (SELECT lang, sum(CAST(t AS HUGEINT) * t * t - t) AS tt
         |  FROM rk GROUP BY 1),
         |ri AS (SELECT r.lang, r.doc_id, sum(rk.r2) AS rr FROM r
         |  JOIN rk ON r.lang = rk.lang AND r.judge = rk.judge
         |    AND r.s = rk.s
         |  GROUP BY 1, 2),
         |sr AS (SELECT lang, count(*) AS n,
         |  sum(CAST(rr AS HUGEINT) * rr) AS sr2 FROM ri GROUP BY 1)
         |SELECT sr.lang AS grp, CAST(n AS BIGINT) AS n_items,
         |  CAST(3 AS BIGINT) AS k_judges, true AS complete,
         |  round(CAST(3 * (sr2 - 9 * CAST(n AS HUGEINT) * (n + 1) *
         |    (n + 1)) AS DOUBLE) /
         |    CAST(9 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
         |    - 3 * tt AS DOUBLE), 6) + 0 AS w_r
         |FROM sr JOIN ts ON sr.lang = ts.lang
         |""".stripMargin))

  /** Q233 — chi-square drift test
    * ([[graft.operators.Drift.chiSquareHomogeneity]], Pearson 1900):
    * the q86/q116 even/odd event split over the SAME reference-decile
    * bins, but as the proper homogeneity TEST — expected counts from
    * exact integer margin products, per-cell contributions frozen at
    * 9 places into decimal before the order-independent sum, the
    * χ²₀.₀₅(df 9) gate on the rounded statistic. Oracle replays the
    * q86 bin CTEs and the same frozen-contribution chain.
    */
  def q233(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("event_id"), col("event_type"), col("value"))
    graft.operators.Drift.chiSquareHomogeneity(
      e.filter(pmod(col("event_id"), lit(2)) === 0),
      e.filter(pmod(col("event_id"), lit(2)) === 1),
      "event_type", "value")
  }
  // q233: the q86 decile-bin CTEs, margin-product expected counts,
  // per-cell contributions frozen at 9 places into DECIMAL(28,9)
  // before the order-independent sum, χ² gate on the rounded value
  query("q233_chi2_drift", q233,
      ("""WITH e AS (SELECT event_type, value, event_id % 2 AS side FROM events
         |  WHERE value IS NOT NULL),
         |cuts AS (SELECT event_type,
         |  round(quantile_cont(value, 0.1), 6) AS c1,
         |  round(quantile_cont(value, 0.2), 6) AS c2,
         |  round(quantile_cont(value, 0.3), 6) AS c3,
         |  round(quantile_cont(value, 0.4), 6) AS c4,
         |  round(quantile_cont(value, 0.5), 6) AS c5,
         |  round(quantile_cont(value, 0.6), 6) AS c6,
         |  round(quantile_cont(value, 0.7), 6) AS c7,
         |  round(quantile_cont(value, 0.8), 6) AS c8,
         |  round(quantile_cont(value, 0.9), 6) AS c9
         |  FROM e WHERE side = 0 GROUP BY 1),
         |b AS (SELECT e.event_type, side,
         |  (CASE WHEN value >= c1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c2 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c4 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c7 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c8 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c9 THEN 1 ELSE 0 END) AS bin
         |  FROM e JOIN cuts USING (event_type)),
         |g AS (SELECT event_type, bin,
         |  count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
         |  count(CASE WHEN side = 1 THEN 1 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, sum(n_ref) AS tr, sum(n_cur) AS tc
         |  FROM g GROUP BY 1),
         |c2 AS (SELECT g.event_type, n_ref, n_cur, tr, tc,
         |  n_ref + n_cur AS cb, tr + tc AS n
         |  FROM g JOIN t USING (event_type)),
         |k AS (SELECT event_type, tr, tc,
         |  (CASE WHEN tr = 0 THEN CAST(0 AS DECIMAL(28,9)) ELSE
         |  CAST(round((CAST(n_ref AS DOUBLE) -
         |      CAST(CAST(tr AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    * (CAST(n_ref AS DOUBLE) -
         |      CAST(CAST(tr AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    / (CAST(CAST(tr AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE)),
         |    9) AS DECIMAL(28,9)) END) +
         |  (CASE WHEN tc = 0 THEN CAST(0 AS DECIMAL(28,9)) ELSE
         |  CAST(round((CAST(n_cur AS DOUBLE) -
         |      CAST(CAST(tc AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    * (CAST(n_cur AS DOUBLE) -
         |      CAST(CAST(tc AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    / (CAST(CAST(tc AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE)),
         |    9) AS DECIMAL(28,9)) END) AS kk
         |  FROM c2),
         |f AS (SELECT event_type, max(tr) AS n_ref, max(tc) AS n_cur,
         |  count(*) AS n_bins, sum(kk) AS s FROM k GROUP BY 1)
         |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
         |  CAST(n_cur AS BIGINT) AS n_cur, CAST(n_bins AS BIGINT) AS n_bins,
         |  CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
         |    ELSE round(CAST(s AS DOUBLE), 6) + 0 END AS chi2_r,
         |  CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
         |    ELSE round(CAST(s AS DOUBLE), 6) + 0 > 16.918978
         |    END AS significant
         |FROM f
         |""".stripMargin))

  /** Q166 — uncertainty sampling
    * ([[graft.operators.Eval.uncertaintyTopK]]; Lewis & Gale 1994):
    * the 50 documents whose q148-classifier probability sits closest
    * to 0.5 — where a labeling budget goes. Integer margins,
    * TakeOrdered cut. Oracle: the shared training CTE + scoring +
    * margin order.
    */
  def q166(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.Eval.uncertaintyTopK(
      graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w),
      "id", "p_units", k = 50)
  }
  // q166: the scoring pass ordered by integer distance from the
  // boundary, id tie-break, k-row cut.
  query("q166_uncertainty", q166,
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id)),
         |pp AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST((2000000 + zc) // 4 AS BIGINT) AS p_units FROM sc)
         |SELECT id, p_units, CAST(abs(p_units - 500000) AS BIGINT) AS margin_units
         |FROM pp ORDER BY margin_units ASC, id ASC LIMIT 50
         |""".stripMargin))

  /** Q163 — exact ROC-AUC + Brier score
    * ([[graft.operators.Eval.binaryScoreEval]]): the Mann-Whitney U
    * form with exact integer midrank tie handling over q148's
    * fixed-point scores, plus the Brier decomposition over the same
    * collapsed support. One collapse exchange; the cumulative window's
    * support is bounded by the score scale, not the data.
    */
  def q163(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.Eval.binaryScoreEval(
      graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w),
      "p_units", "y")
  }
  // q163: the scoring pass collapsed per distinct score, U2 in exact
  // integers (HUGEINT side / DECIMAL(38,0) engine side), one IEEE
  // division each for AUC and Brier.
  query("q163_auc", q163,
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, CAST(lab.y AS BIGINT) AS y,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id)),
         |pp AS (SELECT y, (2000000 + zc) // 4 AS p FROM sc),
         |s2 AS (SELECT p, sum(y) AS np, sum(1 - y) AS nn FROM pp GROUP BY 1),
         |c2 AS (SELECT p, np, nn,
         |  sum(nn) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) - nn AS cumn FROM s2),
         |ag AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(np * (2 * cumn + nn)) AS u2,
         |  sum(CAST((CAST(p AS DOUBLE) / 1000000 - 1.0)
         |    * (CAST(p AS DOUBLE) / 1000000 - 1.0) * np
         |    + (CAST(p AS DOUBLE) / 1000000) * (CAST(p AS DOUBLE) / 1000000) * nn
         |    AS DECIMAL(28,9))) AS bs
         |  FROM c2)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |    THEN round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) + 0
         |    ELSE NULL END AS auc,
         |  CASE WHEN n_pos + n_neg > 0
         |    THEN round(CAST(bs AS DOUBLE) / (n_pos + n_neg), 6) + 0
         |    ELSE NULL END AS brier
         |FROM ag
         |""".stripMargin))

  /** Q162 — classifier calibration
    * ([[graft.operators.Eval.calibrationBuckets]]): reliability table
    * for q148's trained quality classifier — 10 equal-width
    * fixed-point probability buckets, mean predicted p vs observed
    * positive rate. Integer bucket cuts; one keyed exchange. Oracle:
    * the shared q148 training CTE + q150's scoring pass + bucket
    * replay.
    */
  def q162(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.Eval.calibrationBuckets(
      graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w),
      "p_units", "y")
  }
  // q162: q150's scoring pass bucketed by integer division of
  // p_units — reliability cells with IEEE mean/rate divisions.
  query("q162_calibration", q162,
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, lab.y,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id)),
         |pp AS (SELECT y, (2000000 + zc) // 4 AS p FROM sc),
         |bk AS (SELECT least(9, p // 100000) AS bucket, count(*) AS n,
         |  sum(p) AS sp, sum(y) AS sy FROM pp GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n_docs,
         |  round(CAST(sp AS DOUBLE) / n / 1000000, 6) + 0 AS mean_p,
         |  round(CAST(sy AS DOUBLE) / n, 6) + 0 AS pos_rate
         |FROM bk
         |""".stripMargin))

  /** Q161 — classification report
    * ([[graft.operators.Eval.classificationReport]]): per-class
    * support/precision/recall/F1 for q152's NB language classifier —
    * the evaluation face of the learned-gate family (rows collapse to
    * K² confusion cells in one exchange; everything after is
    * metadata-scale). Oracle: the shared NB prediction CTE + cell
    * replay.
    */
  def q161(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.classificationReport(
      graft.operators.NaiveBayes.nbClassify(docs(s, d), "doc_id", "text", "lang",
        cacheKey = Some(d)),
      "label", "pred")
  // q161: q152's NB prediction CTE collapsed to confusion cells,
  // then per-class support/predicted/diagonal and IEEE ratios.
  query("q161_nb_report", q161,
      (s"""$NB_PRED_CTE,
          |pr AS (SELECT t2.lang AS label, best.c AS pred
          |  FROM t2 JOIN best ON t2.doc_id = best.doc_id AND best.rk = 1),
          |cells AS (SELECT label, pred, count(*) AS n FROM pr GROUP BY 1, 2),
          |sup AS (SELECT label AS class, CAST(sum(n) AS BIGINT) AS support
          |  FROM cells GROUP BY 1),
          |prd AS (SELECT pred AS class, CAST(sum(n) AS BIGINT) AS predicted
          |  FROM cells GROUP BY 1),
          |tp AS (SELECT label AS class, CAST(n AS BIGINT) AS tp FROM cells
          |  WHERE label = pred),
          |j AS (SELECT coalesce(sup.class, prd.class) AS class,
          |  coalesce(support, 0) AS support, coalesce(predicted, 0) AS predicted,
          |  coalesce(tp, 0) AS tp
          |  FROM sup FULL JOIN prd ON sup.class = prd.class
          |  LEFT JOIN tp ON coalesce(sup.class, prd.class) = tp.class),
          |m AS (SELECT class, support, predicted, tp,
          |  CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END AS p,
          |  CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS r
          |  FROM j)
          |SELECT class, support, predicted, tp,
          |  round(p, 6) + 0 AS precision, round(r, 6) + 0 AS recall,
          |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) + 0 AS f1
          |FROM m
          |""".stripMargin))

  /** Q158 — exact Wasserstein-1 drift
    * ([[graft.operators.Drift.w1Profile]]; Vallender 1974's 1-D closed
    * form): earth-mover's distance between the even/odd event halves'
    * value distributions per event type — the unit-bearing magnitude
    * companion to q86's PSI and q116's KS. No binning; CDF trapezoid
    * terms route through DECIMAL(18,9).
    */
  def q158(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        pmod(col("event_id"), lit(2)).as("__side"))
    graft.operators.Drift.w1Profile(
      e.filter(col("__side") === 0).drop("__side"),
      e.filter(col("__side") === 1).drop("__side"),
      "event_type", "value")
  }
  // q158: merged-support CDF trapezoids — integer cumsums, one IEEE
  // division each, DECIMAL(18,9) terms.
  query("q158_w1_drift", q158,
      ("""WITH s AS (SELECT event_type, value AS v, event_id % 2 AS side
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |m AS (SELECT event_type, v,
         |  sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_ref,
         |  sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_cur
         |  FROM s GROUP BY 1, 2),
         |c AS (SELECT event_type, v, n_ref, n_cur,
         |  sum(n_ref) OVER (PARTITION BY event_type ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS fr,
         |  sum(n_cur) OVER (PARTITION BY event_type ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS fc,
         |  sum(n_ref) OVER (PARTITION BY event_type) AS tr,
         |  sum(n_cur) OVER (PARTITION BY event_type) AS tc,
         |  lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS dv
         |  FROM m)
         |SELECT event_type,
         |  round(CAST(sum(CAST(CASE WHEN dv IS NULL THEN 0.0
         |    ELSE abs(CAST(fr AS DOUBLE) / tr - CAST(fc AS DOUBLE) / tc) * dv
         |    END AS DECIMAL(18,9))) AS DOUBLE), 6) + 0 AS w1,
         |  CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur
         |FROM c WHERE tr > 0 AND tc > 0
         |GROUP BY 1
         |""".stripMargin))

  /** Q152 — learned language ID
    * ([[graft.operators.NaiveBayes.nbClassify]]; McCallum & Nigam
    * 1998, the fastText-family linear classifier): multinomial NB over
    * hashed bag-of-words trained on the documents' own `lang` labels,
    * every document classified by fixed-point log-posterior argmax —
    * the TRAINED counterpart of q19's character-n-gram heuristic.
    * Exact oracle: histograms, unit scores and the argmax replay as
    * integer SQL.
    */
  def q152(s: SparkSession, d: String): DataFrame =
    graft.operators.NaiveBayes.nbClassify(docs(s, d), "doc_id", "text", "lang",
      cacheKey = Some(d))
  // q152: multinomial-NB replay — the q149 unit-freeze recipe per
  // class (add-one token likelihoods + doc-count priors in integer
  // 1e-6 units), per-doc class sums, argmax with name tie-break.
  query("q152_nb_langid", q152,
      (s"""$NB_PRED_CTE
          |SELECT t2.doc_id AS id, t2.lang AS label, best.c AS pred,
          |  (t2.lang = best.c) AS correct
          |FROM t2 JOIN best ON t2.doc_id = best.doc_id AND best.rk = 1
          |""".stripMargin))

  /** Q150 — learned quality SCORING
    * ([[graft.operators.QualityClassifier.scoreWith]]): q148's trained
    * weights applied back over the corpus — the inference face of the
    * learned filter (train once, rank everything; the pass a pipeline
    * actually gates documents with). Row-local: the 64 trained
    * weights fold into a plan-literal map and the token array folds
    * against it per row — ZERO exchanges in the scoring plan
    * (PlanSpec-gated), so the pass streams unchanged
    * (StreamComposeSpec's gate twin). Exact oracle: the q148 integer
    * replay plus one scoring pass.
    */
  def q150(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w)
      .withColumn("p_r",
        graft.functions.NumFunctions.roundNz(
          col("p_units").cast("double") / 1000000.0, 6))
  }
  // q150: one more integer pass over the q148 replay — score every
  // doc with the trained w3 and apply the hard-sigmoid link.
  query("q150_quality_score", q150,
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, lab.y,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id))
         |SELECT CAST(doc_id AS VARCHAR) AS id, CAST(y AS BIGINT) AS y,
         |  CAST(zc AS BIGINT) AS z_units,
         |  CAST((2000000 + zc) // 4 AS BIGINT) AS p_units,
         |  round(CAST((2000000 + zc) // 4 AS DOUBLE) / 1000000, 6) + 0 AS p_r
         |FROM sc
         |""".stripMargin))

  /** Q145 — exact median WITHOUT reducer-side buffering
    * ([[graft.operators.Quantiles.quantileScan]]): per-event-type
    * interpolated median by histogram bisection — counting passes
    * shrink each group's candidate region until a bounded value
    * histogram resolves the order statistics, so no executor ever
    * holds a group's values. Same interpolation as `percentile` /
    * `quantile_cont`, hence the exact oracle. Parameters are set
    * small (16 bins, 64-row terminal) so the bench exercises the
    * multi-round path, not the terminal shortcut.
    */
  def q145(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantiles.quantileScan(
        ev(s, d).filter(col("value").isNotNull), "event_type", "value",
        p = 0.5, bins = 16, collectLimit = 64)
      .select(col("event_type"), col("n"),
        NumFunctions.roundNz(col("q"), 6).as("q_r"))
  query("q145_scan_median", q145,
      ("""SELECT event_type, count(*) AS n,
         |  round(quantile_cont(value, 0.5), 6) + 0 AS q_r
         |FROM events WHERE value IS NOT NULL GROUP BY 1
         |""".stripMargin))

  /** Q140 — sketch-based join-cardinality estimate
    * ([[graft.operators.Sketches.cmsJoinSize]]): |orders ⋈ lineitem|
    * on the order key from two one-pass KB-size Count-Min grids — the
    * planner-side oracle consulted before committing a join order or a
    * broadcast decision. Never under the true size (SketchesSpec pins
    * the ≥-exact and ε-bound guarantees against the exactly-computed
    * join size). EXACT oracle: the affine hash family is deterministic
    * integer arithmetic — `slot_d(k) = ((k·a_d + b_d) ≫ 33) mod width`
    * with the eight (a, b) constants derived from seed 42 — so
    * [[q140OracleSql]] INLINES the very constants
    * `HashFamilies.multipliers/offsets` produce (generated from the
    * same code, they cannot drift) and replays both grids as GROUP BYs
    * over HUGEINT mod-2^64 arithmetic, then the min-of-inner-products
    * estimator. A hash bug, a grid-merge bug, or an estimator bug all
    * hash-fail.
    */
  def q140(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (depth, width, seed) = (4, 8192, 42L)
    val o = graft.operators.Sketches.countMin(
      Tables.orders(s, d).select(col("o_orderkey")), "o_orderkey", depth, width, seed)
    val l = graft.operators.Sketches.countMin(
      Tables.lineitem(s, d).select(col("l_orderkey")), "l_orderkey", depth, width, seed)
    Seq(graft.operators.Sketches.cmsJoinSize(o, l, depth, width))
      .toDF("est_join_rows")
  }
  query("q140_join_card", q140, q140OracleSql)
}
