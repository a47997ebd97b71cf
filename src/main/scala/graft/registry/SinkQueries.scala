package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NumFunctions

/** Registry family: queries over standing state — on-disk layouts, the
  * incremental sinks and the curation loop, each checked as maintained ≡
  * recomputed — plus the shard export round-trip.
  */
private[graft] object SinkQueries extends Family {

  /** Shared q183/q188 oracle: exact per-group order statistic + the
    * TRUE bound literal (the estimate never leaves the engine).
    */
  private val DD_QUANT_ORACLE: String =
    """WITH pos AS (SELECT event_type, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL AND value > 0
      |    AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE))),
      |c AS (SELECT event_type, v, count(*) AS cnt FROM pos GROUP BY 1, 2),
      |cc AS (SELECT event_type, v,
      |  sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  sum(cnt) OVER (PARTITION BY event_type) AS tot FROM c),
      |qs AS (SELECT unnest([25, 50, 75, 90]) AS q_pct)
      |SELECT event_type, CAST(q_pct AS BIGINT) AS q_pct,
      |  CAST(tot AS BIGINT) AS n, round(min(v), 6) + 0 AS exact_v,
      |  true AS within_bound
      |FROM cc JOIN qs ON cum * 100 >= tot * q_pct
      |GROUP BY 1, 2, 3
      |""".stripMargin

  /** Shared q219/q231 oracle: Good-Turing stats recomputed from raw
    * tokens — q231 reads the identical numbers off the MAINTAINED
    * vocabulary table (maintained ≡ recomputed).
    */
  private lazy val GOOD_TURING_ORACLE: String =
    s"""WITH t AS (SELECT lang, unnest($TOKS) AS tok FROM documents
       |  WHERE text IS NOT NULL),
       |c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
       |g AS (SELECT lang, sum(c) AS n_tokens, count(*) AS vocab,
       |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
       |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
       |  FROM c GROUP BY 1)
       |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(vocab AS BIGINT) AS vocab, CAST(n1 AS BIGINT) AS n1,
       |  CAST(n2 AS BIGINT) AS n2,
       |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0
       |    AS p0_r,
       |  CASE WHEN n1 = 0 THEN 0.0 ELSE round(CAST(2 * n2 AS DOUBLE)
       |    / CAST(n1 AS DOUBLE), 6) + 0 END AS gt1_r
       |FROM g
       |""".stripMargin

  /** Q75 — layout-governed scan ([[graft.sinks.Layout]]): events
    * re-clustered on the Z-order of (user_id, event_id) — domains
    * normalized to a common bit width first — then a user_id band
    * answered through the file-level min/max manifest, reading only the
    * files whose band intersects. The copy + manifest are built once per
    * JVM (the compaction lifecycle); the EXACT predicate re-applies
    * after pruning, so skipping can never change the answer — the oracle
    * is the same SELECT over the original table. The spec asserts
    * files_read ≪ files_total; this row asserts rows are right.
    */
  def q75(s: SparkSession, d: String): DataFrame = {
    val (df, _, _) = q75Pruned(s, d)
    df.select("event_id", "user_id", "event_type", "value")
  }
  query("q75_skip_scan", q75,
      ("SELECT event_id, user_id, event_type, value FROM events " +
       "WHERE user_id BETWEEN 4 AND 7"))

  /** q75's pruned read with its (files read, files total) skip counters
    * — the spec gate consumes the counters, the registry row the rows.
    */
  def q75Pruned(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = ev(s, d).select("event_id", "user_id", "event_type", "value")
    val (dir, stats) = graft.sinks.Layout.zOrderedWithStats(
      src, cacheKey = s"events:$d", Seq("user_id", "event_id"), nFiles = 16)
    graft.sinks.Layout.readPruned(s, dir, stats, "user_id", lo = 4, hi = 7)
  }

  /** Q98 — dynamic partition pruning over the Hive-partitioned layout
    * ([[graft.sinks.Layout.partitionedCopy]]): the fact side reads the
    * events copy partitioned by `event_type`; the dim side is the
    * above-average-frequency types (count × 5 > total — integer
    * arithmetic, no float boundary). Catalyst inserts a
    * `dynamicpruningexpression` into the fact scan's PartitionFilters,
    * so only the dim's partitions are ever read — the lake-format
    * partition-elimination path, plan-gated in PlanSpec. Oracle = the
    * same join over the unpartitioned table.
    */
  def q98(s: SparkSession, d: String): DataFrame = {
    val src = ev(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    val dir = graft.sinks.Layout.partitionedCopy(src, s"events:$d", "event_type")
    val fact = s.read.parquet(dir)
    val total = src.count()
    val dim = src.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") * 5 > lit(total))
      .select(col("event_type"))
    fact.join(dim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_v"))
  }
  query("q98_dpp_join", q98,
      ("""WITH dim AS (
         |  SELECT event_type FROM events GROUP BY 1
         |  HAVING count(*) * 5 > (SELECT count(*) FROM events))
         |SELECT e.event_type, count(*) AS n,
         |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         |FROM events e JOIN dim USING (event_type)
         |GROUP BY 1
         |""".stripMargin))

  /** Q183 — mergeable quantile sketch, bound-checked
    * ([[graft.operators.Sketches.ddQuantiles]]; Masson et al., VLDB
    * 2019): per-event-type p25/p50/p75/p90 of positive values from ONE
    * DDSketch pass — bucket-count maps merge order-independently
    * (task order cannot change a bit), ~16 KB of state per (partition,
    * group) through the shuffle at any row count. The q28 oracle
    * pattern: the estimate never leaves the engine; the output carries
    * the EXACT discrete order statistic (min v with cum ≥
    * ceil(n·q/100) over the distinct-value support) and a boolean
    * asserting the sketch's published relative-error guarantee
    * α = (γ−1)/(γ+1) ≈ 0.99 % held — DuckDB replays the exact side and
    * the TRUE literal.
    */
  def q183(s: SparkSession, d: String): DataFrame = {
    val pos = ddPos(s, d)
    val est = graft.operators.Sketches.ddQuantiles(pos, "event_type", "v",
      Seq(25, 50, 75, 90), 1.02)
    ddBoundCheck(s, pos, est, Seq(25, 50, 75, 90), 1.02)
  }
  // q183: the q28 pattern — the sketch estimate stays internal; the
  // oracle replays the exact discrete order statistic (min v with
  // 100·cum >= tot·q over the distinct-value support) and the TRUE
  // bound literal. A sketch outside its published α would hash-fail.
  query("q183_dd_quantiles", q183, DD_QUANT_ORACLE)

  /** The sketch-admissible event values (positive finite), shared by
    * q183/q188.
    */
  private def ddPos(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("event_type"), col("value").cast("double").as("v"))
      .filter(col("v").isNotNull && col("v") > 0 && !isnan(col("v")) &&
        col("v") =!= Double.PositiveInfinity)

  /** The q28/q183 oracle pattern: join an estimate table against the
    * exact per-group order statistic and emit `(exact_v,
    * within_bound)` — the engine-specific estimate stays internal.
    */
  private def ddBoundCheck(s: SparkSession, pos: DataFrame, est: DataFrame,
                           qs: Seq[Int], gamma: Double,
                           keyCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alpha = (gamma - 1.0) / (gamma + 1.0)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("v"))
    val cum = pos.groupBy(col(keyCol), col("v")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__c")).over(
        Window.partitionBy(col(keyCol))))
    val sp = s
    import sp.implicits._
    // cum >= ceil(tot·q/100)  ⟺  100·cum >= tot·q for integer cum
    val exact = cum
      .join(broadcast(qs.map(_.toLong).toDF("q_pct")),
        col("__cum") * 100 >= col("__tot") * col("q_pct"))
      .groupBy(col(keyCol), col("q_pct"))
      .agg(min(col("v")).as("__exact"))
    exact.join(est, Seq(keyCol, "q_pct"))
      .select(col(keyCol), col("q_pct"), col("n"),
        NumFunctions.roundNz(col("__exact"), 6).as("exact_v"),
        (abs(col("est") - col("__exact")) <=
          lit(alpha) * col("__exact") + lit(1e-9)).as("within_bound"))
  }

  /** Q188 — STANDING quantile table, maintained then bound-checked
    * ([[graft.sinks.QuantileSink]]): the events split into two
    * micro-batches (the q76 incremental-rollup drill), each folded
    * into the partitioned sketch table — only touched partitions
    * rewritten, bucket counts merged by addition — and the standing
    * table's estimates checked exactly like q183's one-shot sketch:
    * the output carries the exact order statistic and a
    * `within_bound` flag, so the oracle is the same SQL. Because the
    * maintained state merges order-independently and buckets with the
    * identical StrictMath code, maintained ≡ one-shot bit for bit
    * (QuantilesSinkSpec) — and therefore this query's rows match
    * q183's exactly.
    */
  def q188(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-qsink-${math.abs(d.hashCode)}/sk").toString
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val src = ev(s, d).select(col("event_type"), col("value"),
      pmod(col("event_id"), lit(2)).as("__b"))
    for (b <- 0 to 1)
      graft.sinks.QuantileSink.maintain(s,
        src.filter(col("__b") === b).drop("__b"), root,
        partCols = Seq("event_type"), keyCols = Seq("event_type"),
        valueCol = "value", gamma = 1.02)
    val est = graft.sinks.QuantileSink.quantiles(s, root,
      Seq("event_type"), Seq(25, 50, 75, 90), 1.02)
    ddBoundCheck(s, ddPos(s, d), est, Seq(25, 50, 75, 90), 1.02)
  }
  // q188: the MAINTAINED sketch table is bit-identical to q183's
  // one-shot sketch (addition-merged buckets, same bucketing code),
  // so the same exact-order-statistic oracle applies verbatim.
  query("q188_quantile_sink", q188, DD_QUANT_ORACLE)

  /** Q198 — zero-exchange co-located join over bucketed tables
    * ([[graft.sinks.Layout.bucketedTable]]): orders and lineitem are
    * laid out ONCE as 16-bucket parquet tables keyed on orderkey (one
    * sorted file per bucket), and the fact-fact join then sort-merges
    * with NO shuffle on either side — each bucketed scan reports its
    * hash partitioning and sort order, so the only exchange in the
    * whole plan is the 5-row priority aggregate above the join. The
    * layout-vs-query trade every lake makes: pay the co-location at
    * write/compaction time, never per query; at 100 TB this deletes
    * the two largest exchanges a TPC-H-shaped join pipeline has. The
    * `merge` hint pins the scale-relevant strategy at test SF (size
    * stats would otherwise broadcast the small fixture). Plan-gated:
    * exactly one exchange, and it carries the post-join aggregate.
    */
  def q198(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("__r"))
    val ot = graft.sinks.Layout.bucketedTable(o, s"q198-orders|$d",
      "o_orderkey", 16)
    val lt = graft.sinks.Layout.bucketedTable(l, s"q198-lineitem|$d",
      "l_orderkey", 16)
    s.table(ot).hint("merge")
      .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        NumFunctions.roundNz(sum(col("__r")).cast("double"), 2).as("revenue"))
  }
  // q198: the bucketed layout changes the PLAN, never the answer —
  // the oracle is the plain join/aggregate over the original tables
  query("q198_bucket_join", q198,
      ("""SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
         |  round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE), 2) + 0 AS revenue
         |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |GROUP BY 1
         |""".stripMargin))

  /** Q199 — bucket-PRUNED point lookup over q198's layout (the same
    * [[graft.sinks.Layout.bucketedTable]] copy, same cache key — one
    * compaction pass serves the co-located join AND the point reads):
    * an IN-list on the bucket key scans only the buckets the keys hash
    * to, `SelectedBucketsCount ≤ 3 out of 16` instead of the full
    * table — at 100 TB a point lookup touches 1/16th of the files
    * before any row-group stat is even consulted. Plan-gated on the
    * selected-bucket count. Oracle: the plain IN-list aggregate —
    * layout changes the scan, never the answer.
    */
  def q199(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("__r"))
    val lt = graft.sinks.Layout.bucketedTable(l, s"q198-lineitem|$d",
      "l_orderkey", 16)
    s.table(lt).filter(col("l_orderkey").isin(1L, 7L, 32L))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        NumFunctions.roundNz(sum(col("__r")).cast("double"), 2).as("revenue"))
  }
  query("q199_bucket_lookup", q199,
      ("""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
         |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE), 2) + 0 AS revenue
         |FROM lineitem WHERE l_orderkey IN (1, 7, 32) GROUP BY 1
         |""".stripMargin))

  /** Q200 — self-maintaining streaming dedup index
    * ([[graft.sinks.DedupIndexSink]]): the corpus arrives as three
    * content-keyed daily batches (`doc_id % 3`); each batch is probed
    * against the STANDING MinHash index (cross-day pairs — the index
    * side never shuffles, q105's discipline), checked against itself
    * (intra-day pairs), and appended as prepared per-document state
    * (shingle hashes + signature — text never re-read), all
    * exactly-once under streaming replay (per-batch overwrite dirs +
    * `_APPLIED` markers; the probe reads only SEALED prior batches).
    * Day N costs O(batch · probe), never O(corpus²). Output: every
    * committed batch's matches. Oracle: brute-force day-ordered
    * cross-Jaccard — `(new, old)` qualifies when day(new) > day(old),
    * or same day with new > old, at Jaccard ≥ 0.7.
    */
  def q200(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q200|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-dedupsink-$keyHex/idx").toString
    (0L to 2L).foreach { day =>
      graft.sinks.DedupIndexSink.maintain(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day),
        root, "doc_id", "text", day)
    }
    graft.sinks.DedupIndexSink.allMatches(s, root)
      .select(col("new_id"), col("old_id"), col("inter"), col("un"),
        col("jac"))
  }
  // q200: the maintained index's lifetime match set — brute-force
  // day-ordered cross-Jaccard (day = doc_id % 3); a pair qualifies
  // when the new side's day is later, or same-day with the larger id
  query("q200_dedup_sink", q200,
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON (a.doc_id % 3 > b.doc_id % 3)
          |    OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id > b.doc_id))
          |SELECT new_id, old_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin))

  /** Q219 — Good-Turing unseen-mass estimate
    * ([[graft.operators.Corpus.goodTuringMass]], Good 1953): per
    * language, the probability the next token is unseen (`N1/N`) and
    * the Good-Turing adjusted hapax count (`2·N2/N1`) — exact integer
    * counts off one (lang, term) table, one IEEE division each.
    * Oracle replays the whitespace tokens and counts-of-counts.
    */
  def q219(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.goodTuringMass(docs(s, d), "lang", "text")
  // q219: whitespace term counts per lang, counts-of-counts, the
  // hapax-share unseen mass and the 2·N2/N1 adjusted hapax count
  query("q219_good_turing", q219, GOOD_TURING_ORACLE)

  /** Q234 — the FOUR-sink curation loop's vocabulary reads
    * ([[graft.streaming.CurationLoop]] with `langCol` set): the q204
    * three-day composition, now also maintaining the
    * [[graft.sinks.VocabSink]] vocabulary in the same `foreachBatch`
    * body — the Good-Turing statistics then read the loop-maintained
    * standing table. Oracle is q219's raw-token recompute verbatim:
    * maintained-through-the-composed-loop ≡ recomputed.
    */
  def q234(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q234|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-curvocab-$keyHex/lake").toString
    (0L to 2L).foreach { day =>
      graft.streaming.CurationLoop(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day)
          .withColumn("quality", col("n_chars").cast("double")),
        root, "doc_id", "text", Seq("lang"), Seq("lang"), "quality",
        day, langCol = Some("lang"))
    }
    graft.sinks.VocabSink.goodTuring(s,
      graft.streaming.CurationLoop.vocabRoot(root))
  }
  // q234: the four-sink composed loop's vocabulary — again q219's
  // recompute verbatim (maintained through the loop ≡ recomputed)
  query("q234_curation_vocab", q234, GOOD_TURING_ORACLE)

  /** Q231 — maintained vocabulary: Good-Turing off the standing table
    * ([[graft.sinks.VocabSink]]): three content-keyed batches
    * (`doc_id % 3`, the q200 fixture) fold exactly-once into the
    * (lang, bucket)-partitioned vocabulary via the [[graft.sinks
    * .IncrementalAgg]] snapshot/marker protocol; the q219 statistics
    * then read the MAINTAINED table. Oracle is q219's raw-token
    * recompute verbatim — the maintained ≡ recomputed gate.
    */
  def q231(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q231|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-vocabsink-$keyHex/vocab").toString
    (0L to 2L).foreach { day =>
      graft.sinks.VocabSink.maintain(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day),
        root, "lang", "text", day)
    }
    graft.sinks.VocabSink.goodTuring(s, root)
  }
  // q231: the SAME Good-Turing stats, but read off the MAINTAINED
  // vocabulary table after three exactly-once batch folds — the
  // maintained ≡ recomputed gate (the q188/q204 protocol), so the
  // oracle is q219's recompute verbatim
  query("q231_vocab_sink", q231, GOOD_TURING_ORACLE)

  /** Q232 — probe OOV against the maintained vocabulary
    * ([[graft.sinks.VocabSink.oovRate]]): days 1 and 2 fold into the
    * standing table, then day 0 probes it — per language, the probe's
    * token count, unseen-token count, and share, via one key-local
    * left join against the vocabulary (the historical corpus is never
    * re-read). Oracle replays train-distinct terms and the probe join.
    */
  def q232(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q232|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-vocabsink-$keyHex/vocab").toString
    (1L to 2L).foreach { day =>
      graft.sinks.VocabSink.maintain(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day),
        root, "lang", "text", day)
    }
    graft.sinks.VocabSink.oovRate(s, root,
      docs(s, d).filter(pmod(col("doc_id"), lit(3)) === 0), "lang", "text")
  }
  // q232: probe-slice OOV against the 2-batch maintained vocabulary
  // — train terms from day 1/2 docs, probe tokens from day-0 docs,
  // one key-local left join
  query("q232_vocab_oov", q232,
      (s"""WITH tr AS (SELECT lang, unnest($TOKS) AS term FROM documents
          |  WHERE text IS NOT NULL AND doc_id % 3 <> 0),
          |v AS (SELECT DISTINCT lang, term FROM tr),
          |pr AS (SELECT lang, unnest($TOKS) AS term FROM documents
          |  WHERE text IS NOT NULL AND doc_id % 3 = 0)
          |SELECT pr.lang, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_oov,
          |  round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*), 6) + 0 AS oov_r
          |FROM pr LEFT JOIN v ON pr.lang = v.lang AND pr.term = v.term
          |GROUP BY 1
          |""".stripMargin))

  /** Q243 — lake OPTIMIZE round-trip
    * ([[graft.streaming.CurationLoop.optimizeLake]], the Delta
    * `OPTIMIZE ZORDER` analogue for the plain-parquet document lake):
    * three content-keyed batches (`doc_id % 3`, the q200 fixture) land
    * per-batch similarity-ordered through the six-sink loop's lake,
    * then the maintenance pass folds them into ONE globally
    * similarity-ordered generation under the `_MANIFEST`/`_COMMITTED`
    * crash protocol. The query returns the post-optimize lake
    * read-back — the fold is PURE DATA MOVEMENT, so the oracle is
    * simply the source rows with their batch keys: any lost, duplicated,
    * or mutated row anywhere in the marker/generation machinery breaks
    * the content hash.
    */
  def q243(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q243|v1", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-lakeopt-$keyHex/root").toString
    val src = docs(s, d).select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), col("text"),
      col("n_chars").cast("double").as("quality"))
    (0L to 2L).foreach { day =>
      graft.streaming.CurationLoop(s,
        src.filter(pmod(col("doc_id"), lit(3)) === day), root,
        "doc_id", "text", Seq("lang"), Seq("lang"), "quality", day,
        lakeFiles = 1)
    }
    graft.streaming.CurationLoop.optimizeLake(s, root, "doc_id", "text",
      nFiles = 1)
    graft.streaming.CurationLoop.lake(s, root)
      .select(col("ingest_batch"), col("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"),
        col("text"))
  }
  // q243: the optimize fold is pure data movement — the oracle is
  // the source rows with their content-keyed batch ids
  query("q243_lake_optimize", q243,
      ("SELECT doc_id % 3 AS ingest_batch, doc_id, lang, source, " +
       "n_chars, text FROM documents"))

  /** Q244 — deterministic training-shard export round-trip
    * ([[graft.sinks.ShardExport]]): the documents corpus lands as
    * `shard=K/` parquet directories of ~4 k tokens each under a
    * content-addressed global shuffle (q78's order) with first-fit
    * token packing (q58's prefix-sum decomposition), manifest written
    * last as the commit. The query returns the manifest RECOMPUTED from
    * the read-back shard files — doc counts, token sums, rank spans and
    * the order-independent 60-bit content fingerprint sum — so any
    * document lost, duplicated, or mutated anywhere in the write/read
    * path breaks the oracle, which replays the order + packing + sums
    * from the raw table.
    */
  def q244(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q244|b4000|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-shards-$keyHex/root").toString
    val src = docs(s, d).select(col("doc_id"), col("lang"), col("source"),
      col("text"))
    graft.sinks.ShardExport.write(s, src, "doc_id", "text",
      budget = 4000L, salt = "graft", root)
    graft.sinks.ShardExport.manifestFromData(s, root, "doc_id", "text")
  }
  // q244: replay the content-addressed shuffle order (q78's kernel),
  // the strictly-before-prefix first-fit packing (q58's kernel) and
  // the 60-bit md5 fingerprint sum against the raw table — the
  // engine's number comes off the read-back shard FILES, so the match
  // certifies the whole write/read round-trip
  query("q244_shard_export", q244,
      (s"""WITH t AS (SELECT doc_id, text,
          |  coalesce(CAST(len($TOKS) AS BIGINT), 0) AS n,
          |  md5('graft:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents),
          |o AS (SELECT doc_id, text, n,
          |  CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS rnk,
          |  coalesce(sum(n) OVER (ORDER BY hk, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          |  FROM t)
          |SELECT CAST(off // 4000 AS BIGINT) AS shard,
          |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
          |  min(rnk) AS rank_min, max(rnk) AS rank_max,
          |  CAST(sum(CAST(('0x' || substr(md5('fp:' ||
          |    CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')),
          |    1, 15)) AS BIGINT)) % 2305843009213693952 AS BIGINT)
          |    AS content_fp
          |FROM o GROUP BY 1
          |""".stripMargin))

  /** Q204 — the COMPOSED streaming curation loop
    * ([[graft.streaming.CurationLoop]]): one `foreachBatch` body
    * driving all three certified incremental sinks — the near-dup
    * index ([[graft.sinks.DedupIndexSink]]), the per-lang DDSketch
    * quantile table ([[graft.sinks.QuantileSink]]), and the per-lang
    * (count, exact sum) rollup ([[graft.sinks.IncrementalAgg]]) —
    * over three content-keyed daily batches (`doc_id % 3`, the q200
    * fixture), each sink exactly-once on its own `_APPLIED` marker.
    * The production shape of the reference's flush loop
    * (`run.py:117-125`): one writer, every derived table advanced per
    * batch, crash-replay convergent at any point (CurationLoopSpec).
    * Output grain (lang, q_pct ∈ {50, 90}): the maintained rollup
    * (n_docs, sum_chars), the maintained sketch checked against the
    * exact order statistic (q188's bound protocol — the estimate
    * never leaves the engine), and the lifetime dedup match count by
    * the new side's lang. Oracle: per-lang recompute + brute-force
    * day-ordered cross-Jaccard count + the TRUE bound literal.
    */
  def q204(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q204|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-curation-$keyHex/lake").toString
    val src = docs(s, d).select(col("doc_id"), col("lang"), col("text"),
      col("n_chars").cast("double").as("quality"))
    (0L to 2L).foreach { day =>
      graft.streaming.CurationLoop(s,
        src.filter(pmod(col("doc_id"), lit(3)) === day), root,
        "doc_id", "text", Seq("lang"), Seq("lang"), "quality", day)
    }
    val stats = graft.sinks.IncrementalAgg
      .read(s, graft.streaming.CurationLoop.statsRoot(root))
      .select(col("lang"), col("n").as("n_docs"),
        col("sum_v").cast("double").as("sum_chars"))
    val matches = graft.sinks.DedupIndexSink
      .allMatches(s, graft.streaming.CurationLoop.dedupRoot(root))
      .join(docs(s, d).select(col("doc_id").as("new_id"), col("lang")),
        "new_id")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_matches"))
    val est = graft.sinks.QuantileSink.quantiles(s,
      graft.streaming.CurationLoop.quantRoot(root), Seq("lang"),
      Seq(50, 90), 1.02)
    val pos = src.filter(col("quality") > 0)
      .select(col("lang"), col("quality").as("v"))
    ddBoundCheck(s, pos, est, Seq(50, 90), 1.02, keyCol = "lang")
      .join(stats, Seq("lang"))
      .join(matches, Seq("lang"), "left")
      .na.fill(0L, Seq("n_matches"))
  }
  // q204: the composed curation loop — per-lang recompute of the
  // rollup (n_docs, sum_chars), exact order statistic + TRUE bound
  // literal (the q188 protocol: the sketch estimate never leaves the
  // engine), and the q200 brute-force day-ordered cross-Jaccard
  // match count attributed to the new side's lang
  query("q204_curation_loop", q204,
      (s"""WITH stats AS (SELECT lang, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS DOUBLE) AS sum_chars
          |  FROM documents GROUP BY 1),
          |toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON (a.doc_id % 3 > b.doc_id % 3)
          |    OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id > b.doc_id)),
          |mt AS (SELECT d.lang, count(*) AS n_matches FROM pairs p
          |  JOIN documents d ON d.doc_id = p.new_id
          |  WHERE (p.tot - p.inter) > 0 AND p.inter * 10 >= (p.tot - p.inter) * 7
          |  GROUP BY 1),
          |pos AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
          |  WHERE n_chars > 0),
          |c AS (SELECT lang, v, count(*) AS cnt FROM pos GROUP BY 1, 2),
          |cc AS (SELECT lang, v,
          |  sum(cnt) OVER (PARTITION BY lang ORDER BY v
          |    ROWS UNBOUNDED PRECEDING) AS cum,
          |  sum(cnt) OVER (PARTITION BY lang) AS tot FROM c),
          |qs AS (SELECT unnest([50, 90]) AS q_pct),
          |ex AS (SELECT lang, CAST(q_pct AS BIGINT) AS q_pct,
          |  CAST(tot AS BIGINT) AS n, round(min(v), 6) + 0 AS exact_v
          |  FROM cc JOIN qs ON cum * 100 >= tot * q_pct GROUP BY 1, 2, 3)
          |SELECT e.lang, e.q_pct, e.n, e.exact_v, true AS within_bound,
          |  CAST(st.n_docs AS BIGINT) AS n_docs, st.sum_chars,
          |  CAST(coalesce(mt.n_matches, 0) AS BIGINT) AS n_matches
          |FROM ex e JOIN stats st ON st.lang = e.lang
          |LEFT JOIN mt ON mt.lang = e.lang
          |""".stripMargin))

  /** Q76 — incremental rollup maintenance ([[graft.sinks.IncrementalAgg]]):
    * the events stream split into two deterministic batches (even/odd
    * event_id), each folded into a partitioned (count, exact decimal
    * sum) aggregate table — only the touched partitions are read back
    * and rewritten per fold. The read-back equals the oracle's FULL
    * recompute over all events: maintained ≡ recomputed, the
    * materialized-view invariant, proven by hash. The root is
    * deterministic per (JVM tmpdir, sf dir) and wiped before the folds,
    * so re-runs are deterministic AND repeated invocations (bench warms
    * + min-of-3) do not accumulate temp copies.
    */
  def q76(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-incr-${math.abs(d.hashCode)}/rollup").toString
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val src = ev(s, d).select(col("event_type"), col("user_id"), col("value"),
      pmod(col("event_id"), lit(2)).as("__b"))
    for (b <- 0 to 1)
      graft.sinks.IncrementalAgg.maintain(s, src.filter(col("__b") === b).drop("__b"),
        root, partCols = Seq("event_type"), keyCols = Seq("event_type", "user_id"),
        valueCol = "value")
    graft.sinks.IncrementalAgg.read(s, root)
      .select(col("event_type"), col("user_id"), col("n"),
        col("sum_v").cast("double").as("sum_v"), NumFunctions.roundNz(col("mean_v"), 6).as("mean_v"))
  }
  query("q76_incremental_rollup", q76,
      ("""SELECT event_type, user_id, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) + 0 AS mean_v
         |FROM events GROUP BY 1, 2
         |""".stripMargin))
}
