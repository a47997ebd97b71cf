package graft

import org.apache.spark.sql.functions.col

import graft.operators.Linkage

/** [[graft.operators.Linkage.fellegiSunterScores]] — hand-computed
  * frequency-method u estimates, odds products, null-safe agreement,
  * Laplace clamps, and the blocking contract.
  */
class LinkageSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("single field: hand-computed u, agreement and disagreement odds, decision bands") {
    // one block of 4; field f: x, x, y, z → S = 2, N(N−1) = 12
    //   agree  factor = (0.9·12)/(1·2)   = 5.4
    //   disagree     = (0.1·12)/(1·10)   = 0.12
    val recs = Seq((1L, "B", "x"), (2L, "B", "x"), (3L, "B", "y"),
      (4L, "B", "z")).toDF("id", "bk", "f")
    val got = Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
        Seq(900000L), upper = 5.0, lower = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getBoolean(2), r.getDouble(3), r.getString(4)))).toMap
    assert(got.size === 6, "4 ids in one block → 6 ordered pairs")
    assert(got((1L, 2L)) === ((true, 5.4, "match")))
    assert(got((1L, 3L)) === ((false, 0.12, "nonmatch")))
    assert(got((3L, 4L)) === ((false, 0.12, "nonmatch")))
  }

  test("multi-field product folds in field order; null-safe agreement; middle band") {
    // field f as above (m = 0.9): agree 5.4, disagree 0.12
    // field g: null, null, q, q → S = 2 + 2 = 4:
    //   agree (m = 0.8): (0.8·12)/(1·4) = 2.4; disagree: (0.2·12)/(1·8) = 0.3
    val recs = Seq(
      (1L, "B", "x", null: String), (2L, "B", "x", null: String),
      (3L, "B", "y", "q"), (4L, "B", "z", "q"))
      .toDF("id", "bk", "f", "g")
    val got = Linkage.fellegiSunterScores(recs, "id", Seq("bk"),
        Seq("f", "g"), Seq(900000L, 800000L), upper = 10.0, lower = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getDouble(4),
          r.getString(5)))).toMap
    assert(got((1L, 2L)) === ((true, true, 12.96, "match")),
      "two nulls agree (null-safe equality)")
    assert(got((3L, 4L)) === ((false, true, 0.288, "possible")))
    assert(got((1L, 3L)) === ((false, false, 0.036, "nonmatch")))
  }

  test("Laplace clamps: all-distinct and constant fields keep factors finite and exact") {
    // h all-distinct → S = 0 → agreement impossible; disagreement
    // factor is exactly (1−m): (0.1·6)/(1·6) = 0.1
    val distinct = Seq((1L, "B", "a"), (2L, "B", "b"), (3L, "B", "c"))
      .toDF("id", "bk", "h")
    val d = Linkage.fellegiSunterScores(distinct, "id", Seq("bk"), Seq("h"),
        Seq(900000L), upper = 100.0, lower = 0.0)
      .collect().map(_.getDouble(3)).toSet
    assert(d === Set(0.1))
    // constant field → S = N(N−1) → agreement factor exactly m = 0.9
    val const = Seq((1L, "B", "k"), (2L, "B", "k"), (3L, "B", "k"))
      .toDF("id", "bk", "h")
    val c = Linkage.fellegiSunterScores(const, "id", Seq("bk"), Seq("h"),
        Seq(900000L), upper = 100.0, lower = 0.0)
      .collect().map(_.getDouble(3)).toSet
    assert(c === Set(0.9))
  }

  test("blocking: no cross-block pairs; id order is strict (no self or mirrored pairs)") {
    val recs = Seq((1L, "B1", "x"), (2L, "B1", "x"), (3L, "B2", "x"))
      .toDF("id", "bk", "f")
    val pairs = Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
        Seq(900000L), upper = 2.0, lower = 0.5)
      .select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)), "only the in-block ordered pair survives")
  }

  test("blockProfile: exact pair counts and shares, worst block first") {
    // blocks: B1 holds 4 records (6 pairs), B2 holds 2 (1 pair),
    // B3 holds 1 (0 pairs) → shares 6/7, 1/7, 0
    val recs = (1L to 4L).map(i => (i, "B1")) ++
      Seq((5L, "B2"), (6L, "B2"), (7L, "B3"))
    val got = Linkage.blockProfile(recs.toDF("id", "bk"), Seq("bk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    def sh(n: Long) = BigDecimal(n.toDouble / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq(("B1", 4L, 6L, sh(6)), ("B2", 2L, 1L, sh(1)),
      ("B3", 1L, 0L, 0.0)), "ordered by pair work descending")
    // null block keys never pair in the scorer's equi-join: visible in
    // the profile, but with zero pair work
    val dirty = Seq((1L, "B1"), (2L, "B1"), (3L, null: String),
      (4L, null: String)).toDF("id", "bk")
    val gd = Linkage.blockProfile(dirty, Seq("bk"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(gd(Some("B1")) === ((2L, 1L)))
    assert(gd(None) === ((2L, 0L)),
      "null-keyed records are visible but generate no pairs")
  }

  test("contracts: m arity, m range, block columns, threshold order") {
    val recs = Seq((1L, "B", "x")).toDF("id", "bk", "f")
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
        Seq(900000L, 1L), 1.0, 0.0)
    }
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
        Seq(1000000L), 1.0, 0.0)
    }
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScores(recs, "id", Seq.empty, Seq("f"),
        Seq(900000L), 1.0, 0.0)
    }
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
        Seq(900000L), upper = 0.5, lower = 1.0)
    }
  }

  test("pair-volume gate: an oversized block fails fast, named; the hatch runs it") {
    // one block of 6 → 15 candidate pairs; cap at 10 → rejected with
    // the block key and its pair count in the message
    val recs = (1L to 6L).map(i => (i, "HOT", s"v$i")).toDF("id", "bk", "f")
    val ex = intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
        Seq(900000L), 1.0, 0.0, maxPairsPerBlock = 10L)
    }
    assert(ex.getMessage.contains("HOT") && ex.getMessage.contains("15"),
      s"rejection must name the worst block and its pair count: ${ex.getMessage}")
    assert(ex.getMessage.contains("blockProfile"),
      "rejection must point at the pre-flight profiler")
    // escape hatch: Long.MaxValue accepts the priced cost explicitly
    val ran = Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
      Seq(900000L), 1.0, 0.0, maxPairsPerBlock = Long.MaxValue)
    assert(ran.count() === 15L)
    // a cap the worst block fits under runs untouched
    val ok = Linkage.fellegiSunterScores(recs, "id", Seq("bk"), Seq("f"),
      Seq(900000L), 1.0, 0.0, maxPairsPerBlock = 15L)
    assert(ok.count() === 15L)
    // null-keyed blocks generate no pairs — they must not trip the gate
    val withNull = recs.unionByName((7L to 40L)
      .map(i => (i, null: String, s"w$i")).toDF("id", "bk", "f"))
    val nullsOk = Linkage.fellegiSunterScores(withNull, "id", Seq("bk"),
      Seq("f"), Seq(900000L), 1.0, 0.0, maxPairsPerBlock = 15L)
    assert(nullsOk.count() === 15L,
      "null block keys never join, so they must not count toward the gate")
  }

  test("saturatingLong: a pair total past Long.MaxValue saturates instead of wrapping") {
    val maxDecimal38 = new java.math.BigDecimal("9" * 38)
    assert(maxDecimal38.longValue() !== Long.MaxValue, "longValue() alone wraps")
    assert(Linkage.saturatingLong(maxDecimal38) === Long.MaxValue)
    val justPast = java.math.BigDecimal.valueOf(Long.MaxValue).add(java.math.BigDecimal.ONE)
    assert(justPast.longValue() < 0)
    assert(Linkage.saturatingLong(justPast) === Long.MaxValue)
    assert(Linkage.saturatingLong(java.math.BigDecimal.valueOf(Long.MaxValue)) === Long.MaxValue)
    assert(Linkage.saturatingLong(java.math.BigDecimal.valueOf(123L)) === 123L)
  }

  test("q223 registry entry runs GATED (round-17 item 5): construction fires the pre-flight job") {
    // the gate is an EAGER job at plan-construction time (the .head()
    // over per-block counts); the Long.MaxValue hatch skips it and runs
    // zero jobs at construction. Asserting >= 1 job during construction
    // pins the registry entry to the gated path, so a future fixture
    // change cannot silently flip it to the hatch.
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.q223(spark, sf0001) // construction only — no action
      Thread.sleep(2000)             // listener bus drains asynchronously
      assert(jobs.get >= 1,
        "constructing q223 must run the eager pair-volume gate; zero " +
          "jobs means maxPairsPerBlock = Long.MaxValue bypassed it")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
