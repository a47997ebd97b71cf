package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, VectorFunctions}
import graft.operators.{Quantize, Similarity}

/** Scalar quantization pinned against a driver-side reimplementation;
  * char-window hashing pinned to substring semantics (incl. non-ASCII);
  * repeatedWindows vs brute force; PQ ANN recall on the fixture corpus.
  */
class QuantizeSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("scalarQuantize matches the driver-side formula exactly") {
    val vecs = Seq(
      (0L, Seq(0.0f, 1.0f, -1.0f)),
      (1L, Seq(0.5f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 1.0f, 1.0f))) // dim 1 constant -> code 0
    val df = vecs.toDF("id", "vec")
    val got = Quantize.scalarQuantize(df, "id", "vec")
      .orderBy("id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    val cols = vecs.map(_._2)
    val mn = (0 until 3).map(p => cols.map(_(p)).min.toDouble)
    val mx = (0 until 3).map(p => cols.map(_(p)).max.toDouble)
    val want = for ((id, v) <- vecs; p <- 0 until 3) yield {
      val code = if (mx(p) == mn(p)) 0L
        else math.min(math.floor((v(p).toDouble - mn(p)) * 255.0 / (mx(p) - mn(p))).toLong, 255L)
      (id, p, code)
    }
    assert(got.toSeq === want)
    // the constant dimension coded 0 everywhere; extremes hit 0 and 255
    assert(got.filter(_._2 == 1).forall(_._3 == 0L))
    assert(got.collect { case (_, 0, c) => c }.min === 0L)
    assert(got.collect { case (_, 0, c) => c }.max === 255L)
  }

  test("charWindowHashes is positional: hash i == hash of substring(i+1, width)") {
    val texts = Seq("abcdefgh", "ababab", "hé🙂llo wörld more", "shrt")
    val width = 4
    val rows = texts.toDF("text")
      .select(col("text"),
        HashFunctions.charWindowHashes(col("text"), width).as("hs"))
      .as[(String, Seq[Long])].collect()
    for ((t, hs) <- rows) {
      val cps = t.codePointCount(0, t.length)
      assert(hs.length === math.max(0, cps - width + 1), s"length for: $t")
      // positions with equal windows must hash equal; the direct hash of
      // each extracted substring (as its own 1-window text) must agree
      if (hs.nonEmpty) {
        val windows = hs.indices.map { i =>
          val from = t.offsetByCodePoints(0, i)
          val until = t.offsetByCodePoints(0, i + width)
          t.substring(from, until)
        }
        val direct = windows.toDF("text")
          .select(HashFunctions.charWindowHashes(col("text"), width).as("h"))
          .as[Seq[Long]].collect().map(_.head)
        assert(hs === direct.toSeq, s"windows of: $t")
      }
    }
  }

  test("repeatedWindows matches brute force, and windows align to code points") {
    val docs = Seq(
      (1L, "the shared phrase here padding one"),
      (2L, "xx the shared phrase here padding"),
      (3L, "completely different content entirely"),
      (4L, "the shared phrase here again padded")).toDF("doc_id", "text")
    val width = 12
    val got = graft.operators.Dedup.repeatedWindows(docs, "doc_id", "text",
        width = width, minDocs = 2)
      .as[(String, Long)].collect().toMap

    val raw = docs.as[(Long, String)].collect()
    val brute = raw.flatMap { case (id, t) =>
        (0 to t.length - width).map(i => (t.substring(i, i + width), id))
      }.distinct.groupBy(_._1).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    assert(got === brute)
    assert(got.nonEmpty) // fixture sanity: the planted phrase repeats
  }

  test("PQ ANN with exact re-rank: recall@10 >= 0.8 at the q94 operating point") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val norm = e.select(col("vec_id").as("id"),
      VectorFunctions.l2Normalize(col("embedding")).as("nvec"))
    val books = Quantize.fitPq(norm, "id", "nvec", m = 8, ksub = 16, iters = 5)
    val probes = e.filter(col("vec_id") < 10)
    val got = Quantize.pqTopKRefined(e, probes, "vec_id", "embedding",
        books, k = 10, shortlist = 100)
      .select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val want = Similarity.topKCosine(e, probes, "vec_id", "embedding", k = 10)
      .select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.8, s"PQ recall@10 = $recall")
  }

  test("IVF-PQ composed ANN: recall@10 >= 0.8 with multiprobe cells + 100-row shortlist") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 10)
    val got = graft.operators.Quantize.ivfPqTopK(e, probes, "vec_id", "embedding",
        k = 10, nlist = 8, nProbe = 6, shortlist = 100)
      .select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val want = Similarity.topKCosine(e, probes, "vec_id", "embedding", k = 10)
      .select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.8, s"IVF-PQ recall@10 = $recall")
  }

  test("residual IVF-PQ: recall@10 >= 0.8; residual codes never lose to raw at the same budget") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 10)
    val want = Similarity.topKCosine(e, probes, "vec_id", "embedding", k = 10)
      .select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    def recallOf(residual: Boolean): Double = {
      val got = graft.operators.Quantize.ivfPqTopK(e, probes, "vec_id", "embedding",
          k = 10, nlist = 8, nProbe = 6, shortlist = 100, residual = residual)
        .select(col("probe_id"), col("vec_id"))
        .as[(Long, Long)].collect().toSet
      (got & want).size.toDouble / want.size
    }
    val res = recallOf(residual = true)
    assert(res >= 0.8, s"residual IVF-PQ recall@10 = $res")
    // small fixture noise allowed, but residual must not be WORSE by
    // more than a couple of list slots at the same (m, ksub) budget
    assert(res >= recallOf(residual = false) - 0.05)
  }

  test("fitPq is deterministic and fitPqCached reuses the trained books") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val a = Quantize.fitPq(e, "vec_id", "embedding", m = 4, ksub = 8, iters = 2)
    val b = Quantize.fitPq(e, "vec_id", "embedding", m = 4, ksub = 8, iters = 2)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq === b.map(_.map(_.toSeq).toSeq).toSeq)
    val c1 = Quantize.fitPqCached("spec-key", e, "vec_id", "embedding", 4, 8, 2)
    val c2 = Quantize.fitPqCached("spec-key", e, "vec_id", "embedding", 4, 8, 2)
    assert(c1 eq c2) // same cached instance, no retrain
  }

  test("fitPqCached keys on the vector column: same key, other column, other books") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("flipped", transform(col("embedding"), x => -x))
    val a = Quantize.fitPqCached("spec-veccol", e, "vec_id", "embedding", 4, 8, 2)
    val b = Quantize.fitPqCached("spec-veccol", e, "vec_id", "flipped", 4, 8, 2)
    assert(!(a eq b), "a different vecCol must train its own codebooks")
    assert(b.map(_.map(_.toSeq).toSeq).toSeq ===
      Quantize.fitPq(e, "vec_id", "flipped", 4, 8, 2).map(_.map(_.toSeq).toSeq).toSeq)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq !== b.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("pqTopK rejects an oversized probe set with a clear error") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val books = Quantize.fitPq(e, "vec_id", "embedding", m = 4, ksub = 8, iters = 1)
    val enc = Quantize.encodePq(e, "vec_id", "embedding", books)
    val ex = intercept[IllegalArgumentException] {
      Quantize.pqTopK(enc, e, "vec_id", "embedding", books, k = 5, maxProbes = 3)
    }
    assert(ex.getMessage.contains("maxProbes"))
  }

  test("L2Normalize: unit norm, zero vector stays zero, empty stays empty") {
    val df = Seq(Seq(3.0f, 4.0f), Seq(0.0f, 0.0f), Seq.empty[Float]).toDF("v")
    val out = df.select(VectorFunctions.l2Normalize(col("v")).as("n"))
      .as[Seq[Double]].collect()
    assert(math.abs(out(0).map(x => x * x).sum - 1.0) < 1e-12)
    assert(math.abs(out(0)(0) - 0.6) < 1e-12)
    assert(out(1) === Seq(0.0, 0.0))
    assert(out(2) === Seq.empty)
  }

  test("graft SQL surface: char_window_hashes and l2_normalize registered") {
    GraftExtensions.register(spark)
    val n = spark.sql(
      "SELECT size(char_window_hashes('abcdef', 3)) AS n").head().getInt(0)
    assert(n === 4)
    val u = spark.sql(
      "SELECT aggregate(l2_normalize(array(3.0D, 4.0D)), 0.0D, (s, x) -> s + x * x) AS u")
      .head().getDouble(0)
    assert(math.abs(u - 1.0) < 1e-12)
  }
}
