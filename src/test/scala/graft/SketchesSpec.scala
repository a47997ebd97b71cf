package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches
import graft.registry.StatsQueries

/** Count-Min guarantees pinned: never underestimates, merge of partial
  * sketches equals the one-pass sketch, and the overestimate stays
  * within the classic e·N/width bound on the fixture.
  */
class SketchesSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("CMS never underestimates any key's true count") {
    val rows = Seq.tabulate(2000)(i => (i % 37).toLong).toDF("k")
    val sketch = Sketches.countMin(rows, "k", depth = 4, width = 256)
    val exact = (0L until 37L).map(k => k -> (2000 / 37 + (if (k < 2000 % 37) 1 else 0)).toLong)
    for ((k, n) <- exact)
      assert(Sketches.estimate(sketch, 4, 256, 42L, k) >= n, s"underestimated key $k")
  }

  test("merged partial sketches equal the single-pass sketch") {
    val all = Seq.tabulate(999)(i => (i % 13).toLong)
    val (a, b) = all.splitAt(421)
    val skAll = Sketches.countMin(all.toDF("k"), "k", depth = 3, width = 128)
    val skA = Sketches.countMin(a.toDF("k"), "k", depth = 3, width = 128)
    val skB = Sketches.countMin(b.toDF("k"), "k", depth = 3, width = 128)
    val merged = skA.zip(skB).map { case (x, y) => x + y }
    assert(merged.toSeq === skAll.toSeq) // mergeability — the 100 TB property
  }

  test("overestimate bounded by ~e*N/width on the fixture corpus") {
    val e = Tables.events(spark, sf0001).select(col("user_id"))
    val n = e.count()
    val width = 2048
    val out = Sketches.heavyHittersWithEstimates(e, "user_id", k = 50,
        width = width)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, exact, est) => est >= exact })
    val bound = (math.E * n / width).ceil.toLong * 3 // 3x slack over E[error]
    assert(out.forall { case (k, exact, est) => est - exact <= bound },
      s"error above bound: ${out.filter(r => r._3 - r._2 > bound).toSeq}")
  }

  test("streams compose: a CMS maintained per micro-batch equals the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val depth = 3; val width = 128
    // the monitoring-pipeline shape: each micro-batch contributes its own
    // grid; elementwise adds ARE the streaming state update — no rescan
    var global = new Array[Long](depth * width)
    val q = input.toDF().toDF("k")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val part = Sketches.countMin(b, "k", depth, width)
          global = global.zip(part).map { case (x, y) => x + y }
        }
        ()
      }.start()
    val data = Seq.tabulate(500)(i => (i % 11).toLong)
    input.addData(data.take(200)); q.processAllAvailable()
    input.addData(data.drop(200)); q.processAllAvailable()
    q.stop()
    val batch = Sketches.countMin(data.toDF("k"), "k", depth, width)
    assert(global.toSeq === batch.toSeq)
  }

  test("q100 output contract: top-20 by exact count, est alongside") {
    val df = StatsQueries.q100(spark, sf0001)
    assert(df.columns.toSeq === Seq("key", "exact", "est"))
    val rows = df.as[(Long, Long, Long)].collect()
    val nUsers = Tables.events(spark, sf0001)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.length === math.min(20L, nUsers))
    // descending exact order with the declared tie-break
    assert(rows.sliding(2).forall { case Array((k1, e1, _), (k2, e2, _)) =>
      e1 > e2 || (e1 == e2 && k1 < k2) })
  }

  test("ddQuantiles: relative-error guarantee holds across 6 decades; repartition-invariant") {
    // adversarial spread: log-uniform values over ~6 decades, where a
    // uniform-bin histogram sketch would be useless
    val rows = (1 to 4000).map { i =>
      ("g", math.exp((i % 601) / 100.0 * 2.3 - 3.0) * (1.0 + (i % 7) * 0.01))
    }
    val df = rows.toDF("grp", "v")
    val qs = Seq(1, 10, 25, 50, 75, 90, 99)
    val est = graft.operators.Sketches.ddQuantiles(df, "grp", "v", qs, gamma = 1.02)
      .as[(String, Long, Long, Double)].collect()
      .map { case (_, q, n, e) => q -> (n, e) }.toMap
    val sorted = rows.map(_._2).sorted
    val alpha = 0.02 / 2.02
    for (q <- qs) {
      val (n, e) = est(q.toLong)
      assert(n === 4000L)
      val exact = sorted(((n * q + 99) / 100).toInt - 1)
      assert(math.abs(e - exact) <= alpha * exact + 1e-9,
        s"p$q: est $e vs exact $exact breaks the ${alpha * 100}%% bound")
    }
    // bucket maps add order-independently: any partitioning, same bits
    val one = graft.operators.Sketches.ddQuantiles(
      df.repartition(1), "grp", "v", qs).collect().toSet
    val many = graft.operators.Sketches.ddQuantiles(
      df.repartition(16), "grp", "v", qs).collect().toSet
    assert(one === many)
  }

  test("streams compose: DD sketches maintained per micro-batch equal the batch estimate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gamma = 1.02
    val invLn = 1.0 / StrictMath.log(gamma)
    // per-batch bucket maps add into one global map — the mergeability
    // contract is literally the streaming state update
    var global = Map.empty[Int, Long]
    def bucketsOf(vs: Seq[Double]): Map[Int, Long] =
      vs.filter(_ > 0).groupBy(v => math.ceil(StrictMath.log(v) * invLn).toInt)
        .map { case (k, g) => k -> g.size.toLong }
    val input = MemoryStream[Double]
    val q = input.toDF().toDF("v")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val vs = b.collect().map(_.getDouble(0)).toSeq
          val part = bucketsOf(vs)
          global = (global.keySet ++ part.keySet).map(k =>
            k -> (global.getOrElse(k, 0L) + part.getOrElse(k, 0L))).toMap
        }
        ()
      }.start()
    val data = (1 to 300).map(i => math.exp((i % 50) / 10.0) * 0.37)
    input.addData(data.take(120)); q.processAllAvailable()
    input.addData(data.drop(120)); q.processAllAvailable()
    q.stop()
    // the streamed global map estimates every percentile identically to
    // the one-shot batch sketch
    val est = Sketches.ddQuantiles(data.map(("g", _)).toDF("grp", "v"),
        "grp", "v", Seq(10, 50, 90), gamma)
      .as[(String, Long, Long, Double)].collect()
      .map { case (_, qp, _, e) => qp -> e }.toMap
    for (qp <- Seq(10L, 50L, 90L)) {
      val r = (300 * qp + 99) / 100
      assert(Sketches.ddEstimate(global, r, gamma) === est(qp),
        s"p$qp streamed != batch")
    }
  }

  test("ddEstimate: hand-computed bucket walk; non-positive and NaN values excluded") {
    // values 1.0 (bucket 0), ~gamma^5 midpoints: hand-plant buckets
    val buckets = Map(0 -> 2L, 5 -> 3L)
    val g = 1.02
    // ranks 1-2 land in bucket 0; ranks 3-5 in bucket 5
    assert(graft.operators.Sketches.ddEstimate(buckets, 1, g) ===
      2.0 * 1.0 / (g + 1.0))
    assert(graft.operators.Sketches.ddEstimate(buckets, 5, g) ===
      2.0 * StrictMath.pow(g, 5) / (g + 1.0))
    val df = Seq(("g", 1.0), ("g", -5.0), ("g", 0.0), ("g", Double.NaN))
      .toDF("grp", "v")
    val out = graft.operators.Sketches.ddQuantiles(df, "grp", "v", Seq(50))
      .as[(String, Long, Long, Double)].collect()
    assert(out.length === 1 && out.head._3 === 1L) // only the positive row
  }

  test("ddQuantiles: native group-key type survives; +Inf excluded from n AND the sketch") {
    val df = Seq((7L, 1.0), (7L, 2.0), (7L, Double.PositiveInfinity), (8L, 5.0))
      .toDF("grp", "v")
    val out = graft.operators.Sketches.ddQuantiles(df, "grp", "v", Seq(100))
    assert(out.schema("grp").dataType ===
      org.apache.spark.sql.types.LongType,
      "group key must keep its native type, not stringify")
    val rows = out.as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val alpha = 0.02 / 2.02
    // +Inf is outside the sketch's domain: were it counted in n, the
    // p100 rank target (3) would exceed sketch mass and return the top
    // bucket; excluded consistently, p100 of group 7 is ~2.0
    assert(rows(7L)._3 === 2L)
    assert(math.abs(rows(7L)._4 - 2.0) <= alpha * 2.0 + 1e-9)
    assert(rows(8L)._3 === 1L)
    assert(math.abs(rows(8L)._4 - 5.0) <= alpha * 5.0 + 1e-9)
  }

  test("streams compose: a bloom OR-maintained per micro-batch equals the batch build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    // the streaming-decontamination shape: each trigger's new benchmark
    // keys OR into the standing filter; no rescan of earlier batches
    var global = new Array[Long](256)
    val q = input.toDF().toDF("k")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val part = Sketches.bloomOf(b, "k", numLongs = 256)
          global = global.zip(part).map { case (x, y) => x | y }
        }
        ()
      }.start()
    val keys = Seq.tabulate(400)(i => i.toLong * 7919L)
    input.addData(keys.take(150)); q.processAllAvailable()
    input.addData(keys.drop(150)); q.processAllAvailable()
    q.stop()
    val batch = Sketches.bloomOf(keys.toDF("k"), "k", numLongs = 256)
    assert(global.toSeq === batch.toSeq)
  }

  test("bloom: no false negatives, distributed build == sequential build") {
    import graft.functions.BloomBits
    val keys = Seq.tabulate(3000)(i => (i * 2654435761L) ^ (i << 7)).map(_.toLong)
    val distributed = Sketches.bloomOf(
      keys.toDF("k").repartition(8), "k", numLongs = 1024, numHashes = 5)
    val sequential = new Array[Long](1024)
    keys.foreach(BloomBits.add(sequential, 5, 42L, _))
    assert(distributed.toSeq === sequential.toSeq) // OR-mergeability
    assert(keys.forall(BloomBits.contains(distributed, 5, 42L, _)))
  }

  test("bloom: false-positive rate near the analytic bound") {
    import graft.functions.BloomBits
    val bits = new Array[Long](1024) // m = 65536 bits
    val n = 3000
    (0 until n).foreach(i => BloomBits.add(bits, 5, 42L, i.toLong * 7919L))
    // probe 20k keys disjoint from the inserted set
    val probes = (0 until 20000).map(i => 1000000007L + i * 104729L)
    val fp = probes.count(BloomBits.contains(bits, 5, 42L, _)).toDouble / probes.size
    // analytic fp = (1 - e^(-kn/m))^k ~= 0.00023 at k=5, n/m=0.0458
    assert(fp < 0.01, s"fp rate $fp way above the analytic bound")
  }

  test("cmsJoinSize: never under the exact join size, within the inner-product bound") {
    val (depth, width, seed) = (4, 8192, 42L)
    val o = Tables.orders(spark, sf0001).select(col("o_orderkey"))
    val l = Tables.lineitem(spark, sf0001).select(col("l_orderkey"))
    val so = Sketches.countMin(o, "o_orderkey", depth, width, seed)
    val sl = Sketches.countMin(l, "l_orderkey", depth, width, seed)
    val est = Sketches.cmsJoinSize(so, sl, depth, width)
    // exact Σ_k f_R(k)·f_S(k), computed from the true per-key counts
    val co = o.groupBy("o_orderkey").count()
      .withColumnRenamed("o_orderkey", "k").withColumnRenamed("count", "a")
    val cl = l.groupBy("l_orderkey").count()
      .withColumnRenamed("l_orderkey", "k").withColumnRenamed("count", "b")
    val exact = co.join(cl, "k").agg(sum(col("a") * col("b")))
      .head().getLong(0)
    assert(est >= exact, s"inner-product estimate $est under exact $exact")
    val na = o.count(); val nb = l.count()
    val bound = exact + (3.0 * na * nb / width).toLong
    assert(est <= bound, s"estimate $est above bound $bound (exact $exact)")
    // and it is the q140 surface
    val q = StatsQueries.q140(spark, sf0001).head().getLong(0)
    assert(q === est)
  }

  test("cmsJoinSize: disjoint key ranges estimate (near) zero, identical tables at least n") {
    val (depth, width, seed) = (4, 4096, 7L)
    val a = Seq.tabulate(500)(i => i.toLong).toDF("k")
    val b = Seq.tabulate(500)(i => 1000000L + i).toDF("k")
    val sa = Sketches.countMin(a, "k", depth, width, seed)
    val sb = Sketches.countMin(b, "k", depth, width, seed)
    val disjoint = Sketches.cmsJoinSize(sa, sb, depth, width)
    assert(disjoint <= (3.0 * 500 * 500 / width).toLong,
      s"disjoint estimate $disjoint above the collision bound")
    val self = Sketches.cmsJoinSize(sa, sa, depth, width)
    assert(self >= 500L, "self-join estimate must cover every key")
  }

  test("decontaminateBloom == decontaminate on the fixture, both join shapes") {
    import graft.operators.Corpus
    val dd = Tables.documents(spark, sf0001)
    val train = dd.filter(col("source") =!= "src0")
    val bench = dd.filter(col("source") === "src0")
    val exact = Corpus.decontaminate(train, bench, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    for (bcast <- Seq(true, false)) {
      val got = Corpus.decontaminateBloom(train, bench, "doc_id", "text",
          n = 3, bloomKB = 64, broadcastBench = bcast)
        .as[(Long, Long)].collect().toMap
      assert(got === exact, s"bloom path diverged (broadcastBench=$bcast)")
    }
  }
}
