package graft

import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.operators.IvfIndex

/** Winnowing fingerprints pinned against a driver-side reimplementation;
  * IVF ANN recall on planted clusters.
  */
class WinnowIvfSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** Independent reimplementation of k-gram rolling hash + winnowing
    * (same B/seed), used to pin the expression's exact output.
    */
  private def bruteWinnow(text: String, k: Int, w: Int, seed: Long): Seq[Long] = {
    val bytes = text.getBytes("UTF-8")
    if (bytes.length < k) return Seq.empty
    val B = 257L
    val bPow = (1 until k).foldLeft(1L)((p, _) => p * B)
    val grams = new Array[Long](bytes.length - k + 1)
    var h = 0L
    for (i <- 0 until k) h = h * B + (bytes(i) & 0xFF)
    def mix(x: Long): Long = { // XXH64.hashLong equivalent via the Spark class
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(x, seed)
    }
    grams(0) = mix(h)
    for (i <- 1 until grams.length) {
      h = (h - (bytes(i - 1) & 0xFF) * bPow) * B + (bytes(i + k - 1) & 0xFF)
      grams(i) = mix(h)
    }
    val nw = math.max(1, grams.length - w + 1)
    val picks = (0 until nw).map { wi =>
      grams.slice(wi, math.min(wi + w, grams.length))
        .min(Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0))
    }
    picks.foldLeft(Vector.empty[Long])((acc, m) =>
      if (acc.nonEmpty && acc.last == m) acc else acc :+ m).distinct.sorted
  }

  test("winnowFingerprints matches the driver-side reimplementation") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaa",
      "short",
      "spark engines shuffle partitions into sorted runs of data")
    val got = texts.toDF("text")
      .select(HashFunctions.winnowFingerprints(col("text"), 8, 4).as("fps"))
      .as[Seq[Long]].collect()
    texts.zip(got).foreach { case (t, fps) =>
      assert(fps === bruteWinnow(t, 8, 4, 42L), s"mismatch for: $t")
    }
  }

  test("winnowing guarantee: shared substring of length >= k+w-1 shares a fingerprint") {
    val shared = "a very distinctive shared passage of text here"
    val a = s"prefix junk one $shared tail A"
    val b = s"other junk two zz $shared different tail B"
    val c = "completely unrelated content with no common passage at all"
    val fps = Seq(a, b, c).toDF("text")
      .select(HashFunctions.winnowFingerprints(col("text"), 8, 4).as("fps"))
      .as[Seq[Long]].collect()
    assert(fps(0).toSet.intersect(fps(1).toSet).nonEmpty)
    assert(fps(0).toSet.intersect(fps(2).toSet).isEmpty)
  }

  test("IVF ANN achieves high recall on planted clusters") {
    val rnd = new scala.util.Random(11)
    val rows = for {
      c <- 0 until 10
      base = Array.fill(32)(rnd.nextGaussian().toFloat)
      m <- 0 until 20
    } yield ((c * 20 + m).toLong, base.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") % 20 === 0)

    val ann = IvfIndex.annTopK(df, probes, "vec_id", "embedding",
        k = 10, nlist = 10, nProbe = 2, iters = 3)
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
    val hits = ann.count { case (p, v) => v / 20 == p / 20 }
    val recall = hits.toDouble / (10 * 10)
    assert(recall >= 0.8, s"IVF recall $recall < 0.8 on planted clusters")
  }

  test("IVF uncached fit() leaves no persistent RDDs behind (no cache leak)") {
    val df = (0 until 60).map(i => (i.toLong, Array.fill(8)((i % 7).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    // settle any async unpersist from earlier suites before baselining
    def persisted() = spark.sparkContext.getPersistentRDDs.size
    val before = persisted()
    IvfIndex.fit(df, "vec_id", "embedding", nlist = 4, iters = 2)
    IvfIndex.fit(df, "vec_id", "embedding", nlist = 4, iters = 2)
    // fit() unpersists with blocking=false: poll briefly for the async drop
    val deadline = System.nanoTime() + 10_000_000_000L
    while (persisted() > before && System.nanoTime() < deadline) Thread.sleep(100)
    assert(persisted() <= before,
      s"uncached fit() grew persistent RDDs: $before -> ${persisted()}")
  }

  test("IVF fitCached: one entry per key, reused across calls") {
    val app = spark.sparkContext.applicationId
    val df = (0 until 40).map(i => (i.toLong, Array.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val before = Memo.entries(app)
    val a = IvfIndex.fitCached("winnowivf-lifecycle", df, "vec_id", "embedding", nlist = 4, iters = 1)
    val b = IvfIndex.fitCached("winnowivf-lifecycle", df, "vec_id", "embedding", nlist = 4, iters = 1)
    assert(Memo.entries(app) === before + 1)
    assert(a._1 eq b._1, "second fitCached call must reuse the fitted index")
  }

  test("IVF fit/search tolerate ragged and null vectors") {
    val rows: Seq[(Long, Array[Float])] = Seq(
      1L -> Array.fill(8)(1f), 2L -> Array.fill(4)(2f), // ragged: dim 4 vs 8
      3L -> null, 4L -> Array.fill(8)(3f),              // null vector
      5L -> Array.fill(8)(4f), 6L -> Array.empty[Float],
      7L -> Array.fill(8)(5f), 8L -> Array.fill(8)(6f))
    val df = rows.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") === 1L)
    // must return (null/ragged rows contribute nothing) instead of
    // ArrayIndexOutOfBounds/NPE in the driver-side centroid update
    val out = IvfIndex.annTopK(df, probes, "vec_id", "embedding",
      k = 3, nlist = 3, nProbe = 3, iters = 2).collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getLong(1) === 3L), "null-vector row must not be a result")
  }

  test("bpeTokenCount counts letter/digit/punct runs") {
    val n = Seq("hello world 123 foo-bar, baz!!").toDF("t")
      .select(graft.functions.TextFunctions.bpeTokenCount(col("t"))).as[Long].head()
    // hello | world | 123 | foo | - | bar | , | baz | !!
    assert(n === 9)
  }
}
