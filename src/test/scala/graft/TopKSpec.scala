package graft

/** [[graft.operators.TopK.modePerKey]]: the per-key mode by a struct
  * max over partial aggregates, with a deterministic tie-break.
  */
class TopKSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("modePerKey: highest count wins, ties break toward the greatest value") {
    val df = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"),             // clear winner a (2 vs 1)
      (2L, "x"), (2L, "y"),                        // tie 1-1 → y (greatest)
      (3L, "z")
    ).toDF("k", "v")
    val got = graft.operators.TopK.modePerKey(df, Seq("k"), "v")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, "a", 2L), (2L, "y", 1L), (3L, "z", 1L)))
  }

  test("modePerKey plans two partial aggregates and no Window") {
    val df = Seq((1L, "a")).toDF("k", "v")
    val p = graft.operators.TopK.modePerKey(df, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"mode must not rank via a window:\n$p")
    assert(p.contains("partial_max") || p.contains("partial"),
      s"struct max must partial-aggregate:\n$p")
  }
}
