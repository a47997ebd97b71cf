package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Similarity search specs: exact top-k against a driver-side brute
  * force; LSH ANN recall on planted clusters.
  */
class SimilaritySpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def bruteTopK(probeId: Long, k: Int): Seq[Long] = {
    val vecs = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val p = vecs.find(_._1 == probeId).get._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs.filter(_._1 != probeId)
      .map { case (id, v) => (id, cos(v.map(_.toDouble), p)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k).map(_._1).toSeq
  }

  test("topKCosine matches driver-side brute force") {
    val got = SparkEntry.q14(spark, sf0001)
      .orderBy("rk").select("vec_id").as[Long].collect().toSeq
    assert(got === bruteTopK(0L, 10))
  }

  test("probe-size contract: an oversized probe set fails fast, not as a broadcast OOM") {
    val emb = Tables.embeddings(spark, sf0001)
    val e1 = intercept[IllegalArgumentException](
      graft.operators.Similarity.topKCosine(emb, emb, "vec_id", "embedding",
        k = 3, maxProbes = 5))
    assert(e1.getMessage.contains("maxProbes"))
    val e2 = intercept[IllegalArgumentException](
      graft.operators.Similarity.annTopKCosine(emb, emb, "vec_id", "embedding",
        k = 3, maxProbes = 5))
    assert(e2.getMessage.contains("maxProbes"))
    // at-the-bound probe sets pass: the guard is > maxProbes, not >=
    val five = emb.limit(5)
    assert(graft.operators.Similarity.topKCosine(emb, five, "vec_id", "embedding",
      k = 1, maxProbes = 5).count() > 0)
  }

  test("annTopKCosine achieves high recall on planted clusters") {
    // 20 clusters of 10 near-identical vectors (cosine ~0.99 within cluster)
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      base = Array.fill(32)(rnd.nextGaussian().toFloat)
      m <- 0 until 10
    } yield ((c * 10 + m).toLong, base.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")

    val probes = df.filter(col("vec_id") % 10 === 0) // one probe per cluster
    val ann = Similarity.annTopKCosine(df, probes, "vec_id", "embedding",
        k = 9, bits = 12, tables = 8)
      .select("probe_id", "vec_id").as[(Long, Long)].collect()

    // a cluster-mate of probe p is any id in [p, p+9]
    val hits = ann.count { case (p, v) => v / 10 == p / 10 }
    val recall = hits.toDouble / (20 * 9)
    assert(recall >= 0.9, s"ANN recall $recall < 0.9 on planted clusters")
  }

  test("annTopKCosine portable ±1 planes: same recall contract as the Gaussian mode") {
    // the q26 oracle-replayable mode must remain a real LSH, not a
    // degraded stand-in: same planted clusters, same floor. Rademacher
    // projections preserve the angle geometry (Achlioptas 2003), so
    // the sign-agreement probability — and with it the recall — match
    // the Gaussian family's.
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      base = Array.fill(32)(rnd.nextGaussian().toFloat)
      m <- 0 until 10
    } yield ((c * 10 + m).toLong, base.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") % 10 === 0)
    val ann = Similarity.annTopKCosine(df, probes, "vec_id", "embedding",
        k = 9, bits = 12, tables = 8, portablePlanes = true)
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
    val hits = ann.count { case (p, v) => v / 10 == p / 10 }
    val recall = hits.toDouble / (20 * 9)
    assert(recall >= 0.9, s"portable-plane ANN recall $recall < 0.9")
  }

  test("cosineNearDupBanded respects the id window and threshold") {
    val out = SparkEntry.q23(spark, sf0001)
      .select("a_id", "b_id", "sim_r").as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, s) => b > a && b - a <= 100 && s >= 0.3 - 1e-9 })
  }

  test("labelCentroids: per-dimension means in long form") {
    val df = Seq(
      (0L, Array(1.0f, 2.0f), 0),
      (1L, Array(3.0f, 6.0f), 0),
      (2L, Array(10.0f, 20.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.labelCentroids(df, "label", "embedding")
      .as[(Int, Int, Double, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Seq((0, 0, 2.0, 2L), (0, 1, 4.0, 2L),
      (1, 0, 10.0, 1L), (1, 1, 20.0, 1L)))
  }

  test("hardNegatives: the nearest SAME-label vector is excluded, cross-label ranked") {
    // probe 0 (label 0) points along x; vec 1 is identical but shares
    // the label — a plain top-k would return it first, the miner must
    // skip it; among cross-label rows, 2 (30°) beats 3 (90°)
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.866f, 0.5f), 1),
      (3L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.hardNegatives(
        df, df.filter($"vec_id" === 0), "vec_id", "embedding", "label", k = 3)
      .select("probe_id", "vec_id", "neg_label", "rk")
      .as[(Long, Long, Int, Long)].collect().sortBy(_._4)
    assert(got.map(_._2).toSeq === Seq(2L, 3L), s"wrong ranking: ${got.toSeq}")
    assert(got.forall(_._3 === 1), "a same-label vector leaked into the negatives")
  }

  test("retrievalMetrics: hand-computed recall@k and MRR on planted geometry") {
    // probe 0 (label 0): nearest is same-label vec 1 (identical) → first
    // relevant at rank 1, rr = 1. probe 4 (label 2): no other label-2
    // vector exists → recall 0, rr 0. probe 2 (label 1): its only
    // same-label peer (3) is near-orthogonal, ranked below vecs 0, 1
    // (cos ≈ .994) AND vec 4 (cos ≈ .78) → first relevant at rank 4.
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(-0.1f, 0.9f), 1),
      (4L, Array(0.5f, 0.5f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.retrievalMetrics(
        df, df.filter($"vec_id".isin(0L, 2L, 4L)), "vec_id", "embedding",
        "label", k = 4)
      .select("label", "n_probes", "recall_at_k", "mrr")
      .as[(Int, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0) === ((1L, 1.0, 1.0)))
    assert(got(2) === ((1L, 0.0, 0.0)))
    val (n1, rec1, mrr1) = got(1)
    assert(n1 === 1L && rec1 === 1.0)
    assert(mrr1 === 0.25, s"mrr $mrr1")
  }

  test("marginMining: matches a driver-side reimplementation; stable under repartition") {
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // deterministic pseudo-random 3-d vectors, ids 0..11 split even/odd
    val vecs = (0L until 12L).map { i =>
      val f = Array.tabulate(3)(j => (((i * 37 + j * 101) % 17).toFloat - 8f) / 8f)
      (i, f)
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (j <- 0 until 3) {
        d += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val aSide = vecs.filter(_._1 % 2 == 0)
    val bSide = vecs.filter(_._1 % 2 == 1)
    def topk(from: Seq[(Long, Array[Float])], to: Seq[(Long, Array[Float])]) =
      from.map { case (id, v) =>
        id -> to.map { case (jid, w) => (jid, cos(v, w)) }
          .sortBy { case (jid, s) => (-s, jid) }.take(4)
          .map { case (jid, s) => (jid, r4(s)) }
      }.toMap
    val fwd = topk(aSide, bSide)
    val bwd = topk(bSide, aSide)
    def avg(m: Map[Long, Seq[(Long, Double)]]) =
      m.map { case (id, ns) =>
        id -> ns.map(n => BigDecimal(n._2)).sum.toDouble / ns.size
      }
    val (avgA, avgB) = (avg(fwd), avg(bwd))
    val want = fwd.map { case (aId, ns) =>
      val best = ns.map { case (bId, s) =>
        (bId, s, r6(s / ((avgA(aId) + avgB(bId)) / 2.0)))
      }.sortBy { case (bId, _, m) => (-m, bId) }.head
      (aId, best._1, best._2, best._3)
    }.toSet
    val df = vecs.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.marginMining(
          d.filter($"vec_id" % 2 === 0), d.filter($"vec_id" % 2 === 1),
          "vec_id", "embedding", k = 4)
        .as[(Long, Long, Double, Double)].collect().toSet
    assert(run(df) === want)
    assert(run(df.repartition(7)) === want)
  }

  test("multiprobe signatures: base equals single-signature expr, flips differ by one bit") {
    import org.apache.spark.sql.graft.ColumnBridge
    val df = Tables.embeddings(spark, sf0001).limit(50)
    val got = df.select(
        ColumnBridge.column(graft.functions.RandomHyperplaneSignature(
          ColumnBridge.expression(col("embedding")), 8, 7L)).as("sig"),
        ColumnBridge.column(graft.functions.RandomHyperplaneMultiprobe(
          ColumnBridge.expression(col("embedding")), 8, 7L, 3)).as("mp"))
      .as[(Long, Seq[Long])].collect()
    assert(got.nonEmpty)
    got.foreach { case (sig, mp) =>
      assert(mp.length === 4)
      assert(mp.head === sig) // same planes, same seed => same bucket
      mp.tail.foreach(v => assert(java.lang.Long.bitCount(v ^ sig) === 1))
      assert(mp.distinct.length === 4) // flips hit distinct bits
    }
  }

  test("multiprobe flip selection: exact |dot| ties resolve to ascending bit index") {
    import org.apache.spark.sql.graft.ColumnBridge
    val sp = spark
    import sp.implicits._
    // portable (Rademacher ±1) planes against a one-hot vector: every
    // bit's |dot| is exactly 1.0 — an all-way tie, so the documented
    // (|dot|, bit) order must flip bits 0, 1, 2 in that order. A
    // selection that permutes its scan on swaps picks a different set.
    val df = Seq((1L, Array.fill(8)(0.0f).updated(3, 1.0f))).toDF("id", "embedding")
    val got = df.select(
        ColumnBridge.column(graft.functions.RandomHyperplaneSignature(
          ColumnBridge.expression(col("embedding")), 8, 7L, portable = true)).as("sig"),
        ColumnBridge.column(graft.functions.RandomHyperplaneMultiprobe(
          ColumnBridge.expression(col("embedding")), 8, 7L, 3, portable = true)).as("mp"))
      .as[(Long, Seq[Long])].collect().head
    val (sig, mp) = got
    assert(mp === Seq(sig, sig ^ 1L, sig ^ 2L, sig ^ 4L),
      s"tie order must flip bits 0,1,2: sig=$sig mp=$mp")
  }

  test("marginMiningAnn: recovers planted cross-side mates the exact miner finds") {
    // 16 planted translation pairs: a-side 2i and b-side 2i+1 share a
    // deterministic direction (b lightly perturbed); background vectors
    // are unrelated directions from the same aperiodic sin family. The
    // exact miner must pair every mate; the LSH-candidate miner must
    // recover most.
    def dir(i: Long, d: Int): Array[Float] =
      Array.tabulate(d) { j =>
        var x = i * 1000003L + j // murmur3 finalizer: full avalanche
        x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
        x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
        x ^= x >>> 33
        ((((x % 2048L) + 2048L) % 2048L).toFloat / 1024f) - 1f
      }
    val mates = (0L until 16L).flatMap { i =>
      val v = dir(i, 16)
      Seq((2 * i, v.toSeq.toArray),
        (2 * i + 1, v.map(x => x + 0.01f * ((i + x).toInt % 3 - 1))))
    }
    val noise = (100L until 140L).map(i => (i * 2 + 1, dir(i * 977 + 5, 16)))
    val df = (mates ++ noise).toDF("vec_id", "embedding")
    val a = df.filter($"vec_id" % 2 === 0)
    val b = df.filter($"vec_id" % 2 === 1)
    val exact = graft.operators.Similarity.marginMining(
        a, b, "vec_id", "embedding", k = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toMap
    (0L until 16L).foreach(i =>
      assert(exact(2 * i) === 2 * i + 1, s"exact miner missed mate $i"))
    val ann = graft.operators.Similarity.marginMiningAnn(
        a, b, "vec_id", "embedding", k = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toMap
    assert(ann.forall { case (x, y) => x % 2 == 0 && y % 2 == 1 })
    val recovered = (0L until 16L).count(i => ann.get(2 * i).contains(2 * i + 1))
    // multiprobe (default probes = 2) lifts the floor from 13/16 at
    // probes = 0 — the trade is measured in BASELINE.md ann_mine_recall
    assert(recovered >= 15, s"ANN miner recovered only $recovered/16 mates")
    val zeroProbe = graft.operators.Similarity.marginMiningAnn(
        a, b, "vec_id", "embedding", k = 4, probes = 0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toMap
    val rec0 = (0L until 16L).count(i => zeroProbe.get(2 * i).contains(2 * i + 1))
    assert(rec0 <= recovered, s"probes must not lose mates: $rec0 vs $recovered")
    // portable (MD5 Rademacher) planes are the same Charikar family —
    // the mode q147 runs so its oracle can replay the buckets; recall
    // must hold there too, not just under the Gaussian default
    val portable = graft.operators.Similarity.marginMiningAnn(
        a, b, "vec_id", "embedding", k = 4, portablePlanes = true)
      .select("a_id", "b_id").as[(Long, Long)].collect().toMap
    val recP = (0L until 16L).count(i => portable.get(2 * i).contains(2 * i + 1))
    assert(recP >= 14, s"portable-plane miner recovered only $recP/16 mates")
  }

  test("centroidSpread: aligned class scores 1.0; its centroid broadcasts back") {
    // label 0 vectors are collinear → each has cosine exactly 1 to the
    // centroid; label 1's two orthogonal unit vectors → centroid at 45°,
    // cosine cos(45°) = √2/2 each
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(2.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 1), (3L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val sp2 = graft.operators.Similarity.centroidSpread(df, "label", "embedding")
    val got = sp2.as[(Int, Double, Long)].collect().sortBy(_._1)
    assert(got(0) === ((0, 1.0, 2L)))
    assert(got(1)._2 === BigDecimal(math.sqrt(2) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val p = sp2.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      s"centroids must broadcast back, not shuffle the corpus:\n$p")
  }

  test("rrfFuse: hand-computed reciprocal-rank sums, agreement beats single-list head") {
    // list A ranks (x, y, z); list B ranks (y, x, w).
    val a = Seq((1L, "x", 1L), (1L, "y", 2L), (1L, "z", 3L)).toDF("qid", "id", "rk")
    val b = Seq((1L, "y", 1L), (1L, "x", 2L), (1L, "w", 3L)).toDF("qid", "id", "rk")
    val got = Similarity.rrfFuse(Seq(a, b), "qid", "id", "rk", k = 10)
      .collect().map(r => r.getString(1) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    def dec9(v: Double) = BigDecimal(v)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def rrf(rks: Seq[Long]) =
      (rks.map(r => dec9(1.0 / (60L + r))).sum.toDouble * 1e6).round / 1e6
    // x: ranks 1+2, y: ranks 2+1 → identical score; both beat one-list w/z
    assert(got("x") === ((rrf(Seq(1L, 2L)), 2L, 1L)))
    assert(got("y") === ((rrf(Seq(2L, 1L)), 2L, 2L)))   // tie → id order
    assert(got("z") === ((rrf(Seq(3L)), 1L, 4L)))
    assert(got("w") === ((rrf(Seq(3L)), 1L, 3L)))
    assert(got("x")._1 > got("w")._1, "two-list agreement outranks single-list rank 3")
  }

  test("knnOutlierScores: planted isolate tops the ranking, witness agrees") {
    // 10 clustered vectors jittered around axis 0; one isolate on axis 3
    def v(axis: Int, jit: Double): Array[Double] = {
      val a = Array.fill(4)(0.05); a(axis) = 1.0; a(1) += jit; a
    }
    val pool = (1L to 10L).map(i => (i, v(0, 0.01 * i))) :+ (99L, v(3, 0.0))
    val poolDf = pool.toDF("vec_id", "embedding")
    val got = Similarity.knnOutlierScores(poolDf, poolDf,
        "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // driver witness: per point, 3rd-highest cosine to the others
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(x => x._1 * x._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    pool.foreach { case (id, vec) =>
      val kth = pool.filter(_._1 != id)
        .map { case (oid, ov) => (cos(vec, ov), oid) }
        .sortBy { case (s, oid) => (-s, oid) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))(2)
      assert(got(id)._3 === r4(kth._1), s"kth sim diverged for $id")
      assert(got(id)._4 === r4(1.0 - r4(kth._1)), s"score diverged for $id")
    }
    // the isolate is the clear top outlier
    val top = got.values.maxBy(_._4)
    assert(top._1 === 99L, s"planted isolate must top the ranking: $top")
    assert(got.values.filter(_._1 != 99L).forall(_._4 < top._4))
  }

  test("rbo: identical rankings score 1, disjoint 0, head agreement outweighs tail") {
    def ranking(q: String, items: Seq[Long]) =
      items.zipWithIndex.map { case (it, i) => (q, it, (i + 1).toLong) }
    val a = (ranking("q1", 1L to 10L) ++ ranking("q2", 1L to 10L) ++
      ranking("q3", 1L to 10L) ++ ranking("q4", 1L to 10L))
      .toDF("qid", "item", "rk")
    // q1: identical; q2: disjoint; q3: agrees at rank 1 only;
    // q4: agrees at rank 10 only (same overlap size as q3, deep)
    val b = (ranking("q1", 1L to 10L) ++ ranking("q2", 101L to 110L) ++
      ranking("q3", 1L +: (201L to 209L)) ++
      ranking("q4", (301L to 309L) :+ 10L))
      .toDF("qid", "item", "rk")
    val got = Similarity.rbo(a, b, "qid", "item", "rk", depth = 10)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("q1")._3 === 1.0, s"identical prefixes must score 1: $got")
    assert(got("q2") === ((0L, 0L, 0.0)), s"disjoint prefixes must score 0: $got")
    assert(got("q3")._1 === 1L && got("q4")._1 === 1L)
    assert(got("q3")._3 > got("q4")._3,
      s"rank-1 agreement must outweigh rank-10 agreement: $got")
    // exact closed form for q3: one item at m=1 contributes W(1) = sum
    // over i of (2520/i)*9^(i-1)*10^(10-i); norm = sum of 2520*9^(i-1)*10^(10-i)
    def pow(x: Long, e: Int) = (0 until e).foldLeft(1L)((r, _) => r * x)
    val w1 = (1 to 10).map(i => (2520L / i) * pow(9, i - 1) * pow(10, 10 - i)).sum
    val norm = (1 to 10).map(i => 2520L * pow(9, i - 1) * pow(10, 10 - i)).sum
    assert(got("q3")._2 === w1)
    assert(got("q3")._3 === BigDecimal(w1.toDouble / norm)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("silhouetteSimplified: separated clusters score 1; witness replay; contracts") {
    // two tight orthogonal clusters: every member sits ON its centroid
    // and orthogonal to the other → a = 0, b = 1, s = 1 exactly
    val tight = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val t = Similarity.silhouetteSimplified(tight, "label", "embedding")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(t(0) === ((2L, 1.0)) && t(1) === ((2L, 1.0)))

    // mixed cluster with a member AT the foreign centroid: replay the
    // whole chain (centroid round-6, cosine round-4, s round-6,
    // decimal mean) in plain Scala and compare bit-for-bit
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(0.0f, 1.0f), 1), (5L, Array(0.0f, 1.0f), 1))
    def r(x: Double, p: Int) = BigDecimal(x)
      .setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byLab = vecs.groupBy(_._3)
    val centroids = byLab.map { case (l, vs) =>
      l -> Array(0, 1).map(i => r(vs.map(_._2(i).toDouble).sum / vs.size, 6))
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = byLab.map { case (l, vs) =>
      val ss = vs.map { v =>
        val dists = centroids.map { case (cl, c) =>
          cl -> (1.0 - r(cos(v._2.map(_.toDouble), c), 4))
        }
        val a = dists(l)
        val b = dists.filter(_._1 != l).values.min
        if (math.max(a, b) == 0) 0.0 else r((b - a) / math.max(a, b), 6)
      }
      l -> r(ss.map(s => BigDecimal(s)).sum.toDouble / ss.size, 6)
    }
    val got = Similarity.silhouetteSimplified(vecs.toDF("vec_id", "embedding",
        "label"), "label", "embedding")
      .collect().map(r0 => r0.getInt(0) -> r0.getDouble(2)).toMap
    assert(got === expected, s"engine $got vs witness $expected")

    // contracts: a single cluster has no silhouette; bounded collect
    val one = Seq((1L, Array(1.0f), 0), (2L, Array(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(one, "label", "embedding")
    }
    intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(tight, "label", "embedding",
        maxClusters = 1)
    }
  }
}
