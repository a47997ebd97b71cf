package graft

/** [[Memo]]: per-application entries and their end-of-application drop. */
class MemoSpec extends SparkSpec {

  test("an ended application's entries are dropped; another application's stay") {
    val live = spark.sparkContext.applicationId
    val kept = Memo.inApp(spark, "MemoSpec", 1)(new Object)
    assert(Memo.inApp(spark, "MemoSpec", 1)(new Object) eq kept)
    val ended = s"$live-ended"
    var hooks = 0
    Memo.entriesOf(ended, _ => hooks += 1).put(Seq("MemoSpec", 1), new Object)
    Memo.entriesOf(ended, _ => hooks += 1).put(Seq("MemoSpec", 2), new Object)
    assert(hooks === 1, "an application's hook runs once, on its first entry")
    assert(Memo.entries(ended) === 2)
    val liveEntries = Memo.entries(live)
    Memo.drop(ended)
    assert(Memo.entries(ended) === 0)
    assert(Memo.entries(live) === liveEntries)
    assert(Memo.inApp(spark, "MemoSpec", 1)(new Object) eq kept)
  }

  test("keys compare element by element: a separator inside a value cannot collide") {
    val a = Memo.inApp(spark, "MemoSpec", "a|b", "c")(new Object)
    val b = Memo.inApp(spark, "MemoSpec", "a", "b|c")(new Object)
    assert(!(a eq b))
    assert(Memo.hex("a|b", "c") !== Memo.hex("a", "b|c"))
    assert(Memo.hex(Seq("x, y")) !== Memo.hex(Seq("x", "y")))
    assert(Memo.hex("a|b", "c") === Memo.hex("a|b", "c"))
  }
}
