package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** One keyed, timestamped event of a test stream. */
case class KeyedEvent(entity: String, event_id: Long, ts: Timestamp)

/** Streaming specs: Spark's built-in watermarked replay dedup, and
  * batch operators composed per micro-batch (`foreachBatch` state or a
  * row-local projection) that match their batch recompute.
  */
class StreamComposeSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private implicit def sqlCtx: org.apache.spark.sql.classic.SQLContext =
    spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark: built-in replay-dedup with bounded state") {
    // the built-in replay dedup: state for an id is only retained
    // within the watermark horizon, the operational default for replay
    // windows measured in minutes, not the whole-stream Set
    val input = MemoryStream[KeyedEvent]
    val deduped = input.toDS().toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("entity", "event_id")
    val q = deduped.writeStream.format("memory").queryName("ddww_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      KeyedEvent("camA", 1L, ts("2024-01-01 00:00:00")),
      KeyedEvent("camA", 2L, ts("2024-01-01 00:00:01")))
    q.processAllAvailable()
    input.addData( // replay of id 1 inside the horizon + one new
      KeyedEvent("camA", 1L, ts("2024-01-01 00:00:00")),
      KeyedEvent("camA", 3L, ts("2024-01-01 00:00:03")))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("ddww_out").select("entity", "event_id")
      .as[(String, Long)].collect().sorted.toSeq
    assert(out === Seq(("camA", 1L), ("camA", 2L), ("camA", 3L)))
  }

  test("streams compose: per-trigger (source, shingle) sets accumulate to the batch contamination matrix (q110)") {
    // the q110 governance surface maintained incrementally: each
    // micro-batch contributes its documents' DISTINCT (source, shingle)
    // rows; the running state table is their set-union (8-byte hashes,
    // idempotent under replay because union+distinct is), and the pair
    // matrix derived from the state after any trigger equals the batch
    // recompute over everything ingested so far.
    import graft.functions.HashFunctions

    def shingleSet(d: org.apache.spark.sql.DataFrame) =
      d.select(col("source"),
          explode(HashFunctions.hashedWordNgrams(col("text"), 3)).as("h"))
        .distinct()

    def matrix(sh: org.apache.spark.sql.DataFrame) =
      sh.as("x").join(sh.as("y"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .as[(String, String, Long)].collect().toSet

    val input = MemoryStream[(Long, String, String)]
    // state table starts empty; localCheckpoint per trigger models the
    // stored state table and keeps lineage from growing with triggers
    var state = shingleSet(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
    val q = input.toDS().toDF("doc_id", "source", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty)
          state = state.unionByName(shingleSet(b)).distinct().localCheckpoint(true)
        ()
      }.start()

    val t1 = Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta"),
      (2L, "srcB", "alpha beta gamma delta other words here"),
      (3L, "srcC", "completely unrelated content with no overlap at all"))
    val t2 = Seq(
      (4L, "srcB", "beta gamma delta epsilon zeta eta"),   // widens A∩B
      (5L, "srcC", "gamma delta epsilon zeta eta theta"),  // creates A∩C, B∩C
      (6L, "srcA", "alpha beta gamma delta epsilon zeta")) // exact replay of doc 1
    input.addData(t1); q.processAllAvailable()
    val afterT1 = matrix(state)
    input.addData(t2); q.processAllAvailable()
    q.stop()

    val batchT1 = matrix(shingleSet(t1.toDF("doc_id", "source", "text")))
    val batchAll = matrix(shingleSet((t1 ++ t2).toDF("doc_id", "source", "text")))
    assert(afterT1 === batchT1, "mid-stream state must equal the batch recompute")
    assert(matrix(state) === batchAll, "final state must equal the batch recompute")
    assert(batchAll.exists { case (a, b, n) => a == "srcA" && b == "srcB" && n > 0 })
    assert(batchAll.size === 3, "t2 must create all three source pairs")
  }

  test("streams compose: per-trigger min-merged first-occurrences accumulate to the batch Heaps curve (q131)") {
    // the vocabulary-growth surface maintained incrementally: the state
    // table holds (token, first_bucket, n_in_bucket...) reduced per
    // trigger with min/sum — both commutative and idempotent-safe under
    // the replay model (a replayed batch re-reduces to the same state) —
    // and the curve derived from state after any trigger equals
    // Corpus.heapsCurve recomputed over everything ingested so far.
    def tokenStats(d: org.apache.spark.sql.DataFrame) =
      d.select((col("doc_id") - pmod(col("doc_id"), lit(2L))).cast("long").as("bucket"),
          explode(split(trim(lower(col("text"))), "[ \\t\\n\\f\\r]+")).as("token"))
        .filter(col("token") =!= "")

    // state: per (token) first bucket; per (bucket) token count
    def firsts(d: org.apache.spark.sql.DataFrame) =
      tokenStats(d).groupBy(col("token")).agg(min(col("bucket")).as("bucket"))
    def perBucket(d: org.apache.spark.sql.DataFrame) =
      tokenStats(d).groupBy(col("bucket")).agg(count(lit(1)).as("n"))

    def curveOf(fi: org.apache.spark.sql.DataFrame,
                pb: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val fb = fi.groupBy(col("bucket")).agg(count(lit(1)).as("nf"))
      pb.join(fb, Seq("bucket"), "left")
        .select(col("bucket"), sum(col("n")).over(w).as("tok"),
          sum(coalesce(col("nf"), lit(0L))).over(w).as("voc"))
        .as[(Long, Long, Long)].collect().toSet
    }

    val input = MemoryStream[(Long, String)]
    var fState = firsts(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    var bState = perBucket(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val q = input.toDS().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          fState = fState.unionByName(firsts(b))
            .groupBy(col("token")).agg(min(col("bucket")).as("bucket"))
            .localCheckpoint(true)
          bState = bState.unionByName(perBucket(b))
            .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
            .localCheckpoint(true)
        }
        ()
      }.start()

    val t1 = Seq((0L, "a b"), (1L, "b c"))
    val t2 = Seq((2L, "a c d"), (3L, "d d e"))
    input.addData(t1); q.processAllAvailable()
    val mid = curveOf(fState, bState)
    input.addData(t2); q.processAllAvailable()
    q.stop()

    def batchCurve(rows: Seq[(Long, String)]) =
      graft.operators.Corpus.heapsCurve(rows.toDF("doc_id", "text"),
          "doc_id", "text", bucketWidth = 2L)
        .as[(Long, Long, Long)].collect().toSet
    assert(mid === batchCurve(t1), "mid-stream curve must equal the batch recompute")
    assert(curveOf(fState, bState) === batchCurve(t1 ++ t2),
      "final curve must equal the batch recompute")
    // bucket 0: [a,b]+[b,c] = 4 tokens, vocab {a,b,c};
    // bucket 2 adds [a,c,d]+[d,d,e] = 6 tokens, new types {d,e}
    assert(curveOf(fState, bState) === Set((0L, 4L, 3L), (2L, 10L, 5L)))
  }

  test("streams compose: the learned quality gate scores micro-batches exactly like batch (q150)") {
    // scoreRowWise is a pure projection, so the trained gate drops
    // into a streaming query unchanged: same weights, same integer
    // scores, regardless of how documents are micro-batched
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "spam spam spam spam spam spam"),
      (3L, "unique tokens make a quality document here"),
      (4L, "dup dup dup dup"),
      (5L, "mixed bag dup dup alpha beta"))
    val docs = corpus.toDF("doc_id", "text")
    val w = graft.operators.QualityClassifier.train(docs, "doc_id", "text",
        dim = 16, iterations = 2, etaDen = 16L)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1))
    val want = graft.operators.QualityClassifier
      .scoreRowWise(docs, "doc_id", "text", w)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val input = MemoryStream[(Long, String)]
    val gated = graft.operators.QualityClassifier.scoreRowWise(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", w)
    val q = gated.writeStream.format("memory").queryName("quality_gate_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(corpus.take(2): _*)   // uneven micro-batches
    q.processAllAvailable()
    input.addData(corpus.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("quality_gate_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want)
  }
}
