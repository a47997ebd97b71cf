package graft

import org.apache.spark.sql.functions._
import graft.operators.Joins
import graft.registry.EventQueries

/** Salted skew-join specs: result-equivalence with the plain join,
  * fact-preservation on left joins, rejection of dim-emitting types.
  */
class JoinsSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  // one hot key (1) holding most fact rows — the shape salting targets
  private def facts = (0 until 200)
    .map(i => (i.toLong, if (i < 150) 1L else (i % 7).toLong, i * 1.5))
    .toDF("fact_id", "k", "v")
  private def dim = Seq((1L, "hot"), (2L, "warm"), (3L, "cold"))
    .toDF("k", "label")

  test("salted inner join == plain inner join, row for row") {
    val plain = facts.join(dim, Seq("k")).select("fact_id", "k", "v", "label")
      .collect().map(_.toString).sorted.toSeq
    val salted = Joins.saltedJoin(facts, dim, Seq("k"), hash(col("fact_id")), 8)
      .select("fact_id", "k", "v", "label")
      .collect().map(_.toString).sorted.toSeq
    assert(salted === plain)
  }

  test("salted left join keeps unmatched fact rows exactly once") {
    val out = Joins.saltedJoin(facts, dim, Seq("k"), hash(col("fact_id")), 8, "left")
      .select("fact_id", "label").as[(Long, Option[String])].collect()
    assert(out.length === 200, "every fact row exactly once")
    // keys 0,4,5,6 have no dim row -> null label, never duplicated
    assert(out.count(_._2.isEmpty) === facts
      .join(dim, Seq("k"), "left_anti").count())
  }

  test("dim-emitting join types are rejected (replication would duplicate them)") {
    val e = intercept[IllegalArgumentException](
      Joins.saltedJoin(facts, dim, Seq("k"), hash(col("fact_id")), 8, "right"))
    assert(e.getMessage.contains("fact-preserving"))
    intercept[IllegalArgumentException](
      Joins.saltedJoin(facts, dim, Seq("k"), hash(col("fact_id")), 8, "full_outer"))
  }

  test("asofJoin: at-or-before semantics, exact-time inclusion, tie-break, no-prior nulls") {
    val quotes = Seq( // (k, qt, qid, px)
      (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), (1L, 20L, 102L, 3.0),
      (2L, 50L, 200L, 9.0))
      .toDF("k", "qt", "qid", "px")
    val trades = Seq( // (k, tt, trade)
      (1L, 5L, "before-any"), (1L, 10L, "exact-first"), (1L, 25L, "after-tie"),
      (2L, 49L, "just-before"), (3L, 99L, "no-quotes"))
      .toDF("k", "tt", "trade")

    val out = Joins.asofJoin(trades, quotes, Seq("k"), "tt", "qt", tieBreak = "qid")
      .select("trade", "qid", "px")
      .as[(String, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    assert(out("before-any") === ((None, None)))          // nothing precedes
    assert(out("exact-first") === ((Some(100L), Some(1.0)))) // at-or-BEFORE includes equal time
    assert(out("after-tie") === ((Some(102L), Some(3.0)))) // equal qt=20: greatest qid wins
    assert(out("just-before") === ((None, None)))          // 49 < 50, key 2's only quote
    assert(out("no-quotes") === ((None, None)))            // key never quoted
  }

  test("asofJoin: a null value column in the matched row is NOT backfilled from an older row") {
    // latest quote (qt=20) has px=NULL but a real qid; an independent
    // per-column fill would tear the row — qid from qt=20, px from qt=10.
    // The matched row must surface BOTH its values, nulls included.
    val quotes = Seq(
      (1L, 10L, Some(100L), Some(1.5)),
      (1L, 20L, Some(101L), Option.empty[Double]))
      .toDF("k", "qt", "qid", "px")
    val trades = Seq((1L, 30L, "after-null-px")).toDF("k", "tt", "trade")

    val out = Joins.asofJoin(trades, quotes, Seq("k"), "tt", "qt", tieBreak = "qid")
      .select("trade", "qid", "px")
      .as[(String, Option[Long], Option[Double])].collect()
    assert(out.toSeq === Seq(("after-null-px", Some(101L), None)),
      "values must all come from the single matched right row (qt=20)")
  }

  test("asofJoin forward: at-or-after semantics, exact-time inclusion, least tie-break, no-next nulls") {
    val quotes = Seq( // (k, qt, qid, px)
      (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), (1L, 20L, 102L, 3.0),
      (2L, 50L, 200L, 9.0))
      .toDF("k", "qt", "qid", "px")
    val trades = Seq( // (k, tt, trade)
      (1L, 5L, "before-any"), (1L, 20L, "exact-tie"), (1L, 25L, "after-all"),
      (2L, 51L, "just-after"), (3L, 99L, "no-quotes"))
      .toDF("k", "tt", "trade")

    val out = Joins.asofJoin(trades, quotes, Seq("k"), "tt", "qt",
        tieBreak = "qid", direction = "forward")
      .select("trade", "qid", "px")
      .as[(String, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    assert(out("before-any") === ((Some(100L), Some(1.0)))) // nearest following
    assert(out("exact-tie") === ((Some(101L), Some(2.0))))  // at-or-AFTER; equal qt=20: least qid
    assert(out("after-all") === ((None, None)))             // nothing follows 25 for key 1
    assert(out("just-after") === ((None, None)))            // 51 > 50, key 2's only quote
    assert(out("no-quotes") === ((None, None)))             // key never quoted

    intercept[IllegalArgumentException](
      Joins.asofJoin(trades, quotes, Seq("k"), "tt", "qt", "qid", direction = "sideways"))
  }

  test("asofJoin timeBucket: hot key (90% of rows) — bucketed == single-window, both directions") {
    // key 1 holds 90 % of both sides; times interleave so matches land
    // in-bucket, one bucket back, AND many buckets back (carry chains)
    val n = 400
    val rights = (0 until n).map { i =>
      val k = if (i < n * 9 / 10) 1L else 2L + (i % 3)
      (k, (i * 37 % 1000).toLong, i.toLong, i * 0.5)
    }.toDF("k", "qt", "qid", "px")
    val lefts = (0 until n).map { i =>
      val k = if (i < n * 9 / 10) 1L else 2L + (i % 3)
      // sprinkle null left times — they must yield nulls in BOTH paths
      val t = if (i % 97 == 0) None else Some((i * 53 % 1100).toLong - 50L)
      (k, t, i.toLong)
    }.toDF("k", "tt", "lid")

    for (dir <- Seq("backward", "forward"); width <- Seq(7L, 100L, 5000L)) {
      val single = Joins.asofJoin(lefts, rights, Seq("k"), "tt", "qt",
          tieBreak = "qid", direction = dir)
        .select("lid", "qid", "px").collect().map(_.toString).sorted.toSeq
      val bucketed = Joins.asofJoin(lefts, rights, Seq("k"), "tt", "qt",
          tieBreak = "qid", direction = dir, timeBucket = width)
        .select("lid", "qid", "px").collect().map(_.toString).sorted.toSeq
      assert(bucketed === single, s"divergence at direction=$dir width=$width")
    }
  }

  test("asofJoin timeBucket: no data-scale window partitions on the keys alone") {
    val rights = Seq((1L, 10L, 100L, 1.0)).toDF("k", "qt", "qid", "px")
    val lefts = Seq((1L, 15L, 7L)).toDF("k", "tt", "lid")
    val p = Joins.asofJoin(lefts, rights, Seq("k"), "tt", "qt",
      tieBreak = "qid", timeBucket = 100L).queryExecution.executedPlan.toString
    // the fill window must carry the bucket column; only the carry
    // window (over per-bucket summaries) partitions by the key alone
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    assert(windows.exists(_.contains("__bkt")), s"no bucket-partitioned fill window:\n$p")
    assert(windows.forall(w => "\\], \\[".r.findAllIn(w).size == 2),
      s"found a partition-less window:\n$p")
  }

  test("asofJoin rejects overlapping non-key columns and a bad tieBreak") {
    val l = Seq((1L, 1L, "x")).toDF("k", "t", "v")
    val r = Seq((1L, 1L, "y")).toDF("k", "rt", "v")
    assert(intercept[IllegalArgumentException](
      Joins.asofJoin(l, r, Seq("k"), "t", "rt", "v")).getMessage.contains("overlap"))
    val r2 = Seq((1L, 1L, "y")).toDF("k", "rt", "w")
    assert(intercept[IllegalArgumentException](
      Joins.asofJoin(l, r2, Seq("k"), "t", "rt", "rt")).getMessage.contains("tieBreak"))
  }

  test("rangeJoin == brute-force theta join, incl. overlaps, boundaries, degenerates") {
    val points = ((0 until 100).map(i => (i.toLong, i * 0.7 - 5.0)) :+
      (999L, Double.NaN)).toDF("pid", "v")
    val intervals = Seq( // overlapping + touching + inverted + null
      (10L, 0.0, 10.0), (11L, 5.0, 15.0), (12L, 10.0, 10.0), // point interval
      (13L, 40.0, 70.0), (14L, 70.0, 30.0),                  // inverted: matches nothing
      (15L, -10.0, -0.001))
      .toDF("iid", "lo", "hi")
      .unionByName(Seq((16L, Option.empty[Double], Option(5.0))).toDF("iid", "lo", "hi"))

    // try widths smaller, equal, larger than the interval spans — the
    // bucketing must be width-invariant
    val brute = points.crossJoin(intervals)
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iid").collect().map(_.toString).sorted.toSeq
    Seq(3.0, 10.0, 100.0).foreach { w =>
      val got = Joins.rangeJoin(points, intervals, "v", "lo", "hi", w)
        .select("pid", "iid").collect().map(_.toString).sorted.toSeq
      assert(got === brute, s"width $w diverged from the brute-force join")
    }
  }

  test("rangeJoin plans an equi-join on buckets, never a nested loop") {
    val p = EventQueries.q42(spark, sf0001).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
    assert(p.contains("__bucket"), s"expected the bucket equi-join key:\n$p")
  }

  test("salt spreads the hot key across factor distinct shuffle keys") {
    val factor = 8
    val spread = Joins.saltedJoin(
        facts.filter(col("k") === 1L), dim, Seq("k"), hash(col("fact_id")), factor)
      .select(pmod(hash(col("fact_id")), lit(factor)).as("salt"))
      .distinct().count()
    // 150 hot rows over 8 salts: every salt value occupied w.h.p.
    assert(spread === factor,
      s"hot key occupied $spread of $factor salt buckets")
  }
}
