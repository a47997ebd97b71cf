package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, VectorFunctions, TextFunctions}

/** Custom Catalyst expression specs: exact values vs independently
  * computed references, null/edge handling, and sketch properties.
  */
class ExpressionsSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def vecDf = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (2L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),   // identical
    (3L, Array(1.0f, 1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),   // 45 degrees
    (4L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)))   // zero norm
    .toDF("id", "a", "b")

  test("cosine_similarity: exact values, zero-norm null") {
    val rows = vecDf
      .select(col("id"), VectorFunctions.cosineSimilarity(col("a"), col("b")).as("sim"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(1L) === 0.0)
    assert(math.abs(rows(2L).asInstanceOf[Double] - 1.0) < 1e-12)
    assert(math.abs(rows(3L).asInstanceOf[Double] - math.sqrt(0.5)) < 1e-12)
    assert(rows(4L) === null) // zero-norm -> null, not NaN
  }

  test("word_shingles: value-identical to the composed HOF chain, including edge cases") {
    val texts = Seq(
      "the quick brown fox jumps",
      "a a a a a",                       // duplicate shingles collapse
      "  leading   and\ttrailing \n ws ",
      "two words",                       // < n tokens -> empty
      "",                                // empty -> empty
      null.asInstanceOf[String],         // null -> empty (chain semantics)
      "xy z w",                    // \x0B is NOT whitespace (RE2 class)
      "Uniçode tökens here too ok")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = df.select(col("id"),
        HashFunctions.wordShingles(col("t"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = df.select(col("id"),
        TextFunctions.shingles(TextFunctions.tokens(col("t")), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got === want)
    // and a different n
    val got2 = df.select(col("id"),
        HashFunctions.wordShingles(col("t"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want2 = df.select(col("id"),
        TextFunctions.shingles(TextFunctions.tokens(col("t")), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got2 === want2)
  }

  test("cosine_similarity: length mismatch -> null") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosineSimilarity(col("a"), col("b"))).head().isNullAt(0))
  }

  test("dot: exact value and double-array input") {
    val f = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
      .select(VectorFunctions.dot(col("a"), col("b"))).as[Double].head()
    assert(f === 32.0)
    val d = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(VectorFunctions.dot(col("a"), col("b"))).as[Double].head()
    assert(d === 11.0)
  }

  test("minhash signature: deterministic, length k, estimates jaccard") {
    val df = Seq(
      ("a", Seq("x y z", "y z w", "z w v")),
      ("b", Seq("x y z", "y z w", "z w v")),             // identical set
      ("c", Seq("x y z", "y z w", "q q q", "r r r")))    // jaccard(a,c)=2/5
      .toDF("id", "sh")
    val sigs = df.select(col("id"), HashFunctions.minhashSignature(col("sh"), 256).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a").length === 256)
    assert(sigs("a") === sigs("b")) // identical input -> identical signature
    val est = sigs("a").zip(sigs("c")).count { case (x, y) => x == y } / 256.0
    assert(math.abs(est - 0.4) < 0.15, s"minhash estimate $est too far from true jaccard 0.4")
  }

  test("simhash64: identical tokens -> identical hash; disjoint -> distant") {
    val df = Seq(
      ("a", Seq("alpha", "beta", "gamma", "delta")),
      ("b", Seq("alpha", "beta", "gamma", "delta")),
      ("c", Seq("zeta", "eta", "theta", "iota")))
      .toDF("id", "toks")
    val hs = df.select(col("id"), HashFunctions.simhash64(col("toks")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hs("a") === hs("b"))
    assert(java.lang.Long.bitCount(hs("a") ^ hs("c")) > 10)
  }

  test("simhash64Md5: portable bits match a direct MD5 reference; empty array -> 0") {
    // reference: per token, first 8 md5 bytes big-endian vote on 64 bits
    def ref(toks: Seq[String]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      toks.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        val h = (0 until 8).foldLeft(0L)((a, b) => (a << 8) | (d(b) & 0xFFL))
        (0 until 64).foreach(j =>
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1)
      }
      (0 until 64).foldLeft(0L)((a, j) => if (counts(j) > 0) a | (1L << j) else a)
    }
    val samples = Seq(
      Seq("alpha", "beta", "gamma", "delta"),
      Seq("the", "the", "the", "cat"),          // multiplicity votes
      Seq("héllo", "wörld"),                    // non-ASCII UTF-8 bytes
      Seq.empty[String])
    val got = samples.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "toks")
      .select(col("id"), HashFunctions.simhash64Md5(col("toks")).as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    samples.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) === ref(t), s"sample $i diverged from the MD5 reference")
    }
    assert(got(3) === 0L)
  }

  test("shingles: n-gram set with short-document guard") {
    val df = Seq("one two three four", "just two").toDF("text")
    val out = df.select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("one two three", "two three four"))
    assert(out(1) === Seq.empty)
  }

  test("langId: marker-based routing incl. CJK") {
    val df = Seq(
      ("en doc", "the cat is on a mat of dreams and the end"),
      ("de doc", "der hund und die katze ist nicht hier"),
      ("zh doc", "你好世界"),
      ("fr doc", "le chat et les chiens est une belle chose"))
      .toDF("id", "text")
    val out = df.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("en doc") === "en")
    assert(out("de doc") === "de")
    assert(out("zh doc") === "zh")
    assert(out("fr doc") === "fr")
  }

  test("cosine survives codegen (wholestage on, many rows)") {
    // force the codegen path with a real scan + filter on the expression
    val e = Tables.embeddings(spark, sf0001)
    val p = e.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
    val n = e.crossJoin(broadcast(p))
      .select(VectorFunctions.cosineSimilarity(col("embedding"), col("pvec")).as("s"))
      .filter(col("s") > -2.0).count()
    assert(n === 500)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("vector kernels run inside whole-stage codegen, bit-identical to the interpreted run") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types._

    // ragged on purpose: a length-2 cell and a zero-norm cell
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0), Array(0.0, 0.0, 0.0),
      Array(0.3, -0.2, 0.9), Array(-1.0, 0.5, 0.25))
    val fv = ArrayType(FloatType); val dv = ArrayType(DoubleType)
    val schema = StructType(Seq("fa" -> fv, "fb" -> fv, "da" -> dv, "db" -> dv,
      "codes" -> ArrayType(IntegerType), "lut" -> dv, "own" -> IntegerType)
      .map { case (n, t) => StructField(n, t) })
    val lut = Seq(0.5, -0.25, 1.5, 2.0, -3.0, 0.125)  // 3 subspaces x ksub 2
    val rows = Seq(
      Row(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f), Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0),
        Seq(0, 1, 1), lut, 0),
      Row(Seq(0.1f, -0.7f, 0.3f), Seq(0.3f, 0.3f, 0.3f), Seq(-0.2, 0.9, 0.1),
        Seq(0.1, 0.2, 0.3), Seq(1, 0, 0), lut, 3),
      Row(Seq(0f, 0f, 0f), Seq(1f, 0f, 0f), Seq(0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0),
        Seq(0, null, 1), lut, 1),                               // zero norm; null code
      Row(Seq(1f, 2f), Seq(1f, 2f, 3f), Seq(0.5, 0.5), Seq(1.0, 2.0, 3.0),
        Seq(0, 2, 1), lut, 4),                                  // length mismatch; code >= ksub
      Row(Seq(3f, 4f), Seq(3f, 4f), Seq(2.0, -1.0), Seq(2.0, -1.0),
        Seq(-1, 0, 0), lut, 1),                                 // ragged vs the 3-wide cells; code < 0
      Row(Seq.empty[Float], Seq.empty[Float], Seq.empty[Double], Seq.empty[Double],
        Seq(1, 1, 1, 1), lut, 0),                               // empty; codes past the lut
      Row(null, Seq(1f, 2f, 3f), null, Seq(1.0, 2.0, 3.0), null, lut, null),   // null children
      Row(Seq(1f, 2f, 3f), null, Seq(1.0, 2.0, 3.0), null, Seq(0, 1, 1), null, 2))
    val small = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val e = Tables.embeddings(spark, sf0001)
    val probe = e.filter(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()

    val cases: Seq[(String, DataFrame, Column)] = Seq(
      ("dot float", small, VectorFunctions.dot(col("fa"), col("fb"))),
      ("dot double", small, VectorFunctions.dot(col("da"), col("db"))),
      ("cosine float-double", small, VectorFunctions.cosineSimilarity(col("fa"), col("db"))),
      ("cosine double-float", small, VectorFunctions.cosineSimilarity(col("da"), col("fb"))),
      ("cosine, 500 fixture rows", e,
        VectorFunctions.cosineSimilarity(col("embedding"), typedLit(probe))),
      ("nearest_centroid float", small, VectorFunctions.nearestCentroid(col("fa"), cents)),
      ("nearest_centroid double", small, VectorFunctions.nearestCentroid(col("da"), cents)),
      ("nearest_centroid_l2 float", small, VectorFunctions.nearestCentroidL2(col("fa"), cents)),
      ("nearest_centroid_l2 double", small, VectorFunctions.nearestCentroidL2(col("da"), cents)),
      ("pq_adc_score", small, VectorFunctions.pqAdcScore(col("codes"), col("lut"), 2)),
      ("cosine_own_max float", small, VectorFunctions.cosineOwnMax(col("fa"), col("own"), cents)),
      ("cosine_own_max double", small, VectorFunctions.cosineOwnMax(col("da"), col("own"), cents)))

    // doubles compared by their bits, so 0.0 vs -0.0 or one ulp shows
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case s: scala.collection.Seq[_] => s.map(bits)
      case other => other
    }
    def operatorsInStages(p: SparkPlan): Seq[SparkPlan] = {
      def stage(q: SparkPlan): Seq[SparkPlan] = q match {
        case _: InputAdapter => Seq.empty
        case _ => q +: q.children.flatMap(stage)
      }
      p.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    }
    cases.foreach { case (name, df, kernel) =>
      val kernelClass = ColumnBridge.expression(kernel).getClass
      // a fresh Dataset per run: each plans under the confs set around it
      val (generated, plan) =
        withConf("spark.sql.codegen.fallback" -> "false") {
          val run = df.select(kernel.as("r"))
          (run.collect().map(r => bits(r.get(0))).toSeq, run.queryExecution.executedPlan)
        }
      val holders = plan.collect {
        case op if op.expressions.exists(_.exists(_.getClass == kernelClass)) => op
      }
      assert(holders.nonEmpty, s"$name: no operator holds the kernel\n$plan")
      val staged = operatorsInStages(plan)
      assert(holders.forall(h => staged.exists(_ eq h)),
        s"$name: kernel outside whole-stage codegen\n$plan")
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        df.select(kernel.as("r")).collect().map(r => bits(r.get(0))).toSeq
      }
      assert(generated === interpreted, name)
      assert(generated.size === df.count(), name)
    }
  }

  test("nearest_centroid / _l2: ragged row no centroid matches -> null, not cell 0") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0)) // all length 2
    val df = Seq(
      (1L, Array(1.0f, 0.1f)),               // matches -> cell 0
      (2L, Array(1.0f, 0.1f, 0.0f)),         // length 3: NO centroid matches
      (3L, Array.empty[Float]))              // length 0: NO centroid matches
      .toDF("id", "v")
    for (f <- Seq(
        VectorFunctions.nearestCentroid(col("v"), cents),
        VectorFunctions.nearestCentroidL2(col("v"), cents))) {
      val rows = df.select(col("id"), f.as("c")).orderBy("id").collect()
      assert(rows(0).getInt(1) === 0)
      assert(rows(1).isNullAt(1), "ragged row must surface as null")
      assert(rows(2).isNullAt(1), "empty vector must surface as null")
    }
  }

  test("vector kernels: non-array input fails analysis, not execution") {
    val df = Seq((1L, "not a vector")).toDF("id", "s")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.l2Normalize(col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"),
      s"expected a type-check message naming array, got: ${e.getMessage}")
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.nearestCentroidL2(col("s"),
        Array(Array(1.0)))).collect()
    }
    assert(e2.getMessage.toLowerCase.contains("array"))
  }

  test("redactPii: emails, dotted IPv4, >=9-digit runs; idempotent") {
    val df = Seq(
      (1L, "mail bob.smith+x@foo.co.uk now"),
      (2L, "from 192.168.0.1 port"),
      (3L, "card 1234567890123 ok"),
      (4L, "short 12345678 stays"),
      (5L, "user9@a.io at 10.0.0.1 id 999999999"))
      .toDF("id", "t")
    val out = df.select(col("id"), TextFunctions.redactPii(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "mail <EMAIL> now")
    assert(out(2L) === "from <IP> port")
    assert(out(3L) === "card <ID> ok")
    assert(out(4L) === "short 12345678 stays", "8 digits is below the ID floor")
    assert(out(5L) === "<EMAIL> at <IP> id <ID>")
    // idempotent: the replacement tokens contain no digits or '@'
    val twice = df
      .select(TextFunctions.redactPii(TextFunctions.redactPii(col("t"))).as("c"))
      .collect().map(_.getString(0)).toSet
    assert(twice === out.values.toSet)
  }

  test("cdc_chunks: maxChars below the window width is rejected up front") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.ArrayFunctions.cdcChunks(col("t"), width = 8,
        maskBits = 6, minChars = 1, maxChars = 4)
    }
    assert(e.getMessage.contains("maxChars >= width"))
  }
}
