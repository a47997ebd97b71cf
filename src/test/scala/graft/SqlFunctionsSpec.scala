package graft

import graft.registry.MediaQueries

/** SQL-surface spec: custom expressions registered in the function
  * registry are callable from `spark.sql`.
  */
class SqlFunctionsSpec extends SparkSpec {

  test("registered graft functions work from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  sorted_long_intersect_size(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS i,
        |  size(hashed_word_ngrams('one two three four')) AS g,
        |  size(minhash_signature(hashed_word_ngrams('one two three four'), 64)) AS m,
        |  simhash64(array('a', 'b')) AS sh
        |""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) === 11.0)
    assert(r.getInt(2) === 2)
    assert(r.getInt(3) === 2) // "one two three", "two three four"
    assert(r.getInt(4) === 64)
    assert(!r.isNullAt(5))
  }

  test("cdc_chunks from SQL: partition invariant holds") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT aggregate(cdc_chunks(repeat('abcdefg ', 50)), 0,
        |  (acc, c) -> acc + c.len) AS covered
        |""".stripMargin).head().getInt(0)
    assert(r === 400) // chunks exactly cover the 400-char text
  }

  test("string_array_except_set from SQL: order and duplicates preserved") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT string_array_except_set(
        |  array('the', 'cat', 'the', 'mat', NULL), array('the')) AS kept
        |""".stripMargin).head().getSeq[String](0)
    assert(r === Seq("cat", "mat", null)) // unlike array_except: dup 'mat'-less, order kept
    // non-literal set is a clear error, not silent misbehavior
    val err = intercept[Exception] {
      spark.sql("SELECT string_array_except_set(array('a'), array(rand()::string))").head()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("string_array_except_set equals the filter/array_contains lambda on the fixture corpus") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.ColumnBridge
    val tk = Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("tk"))
    // the 30 most frequent tokens: dense enough that most documents lose some
    val stop = tk.select(explode(col("tk")).as("t")).groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(30).collect().map(_.getString(0))
    def kept(c: org.apache.spark.sql.Column) =
      tk.select(col("doc_id"), c.as("kept")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val hof = kept(filter(col("tk"), t => !array_contains(typedlit(stop), t)))
    val set = kept(ColumnBridge.column(graft.functions.StringArrayExceptSet(
      ColumnBridge.expression(col("tk")), stop)))
    assert(set === hof)
    assert(hof.values.map(_.size).sum < tk.select(sum(size(col("tk")))).head().getLong(0))
  }

  test("SQL function composes with tables (top-k cosine via spark.sql)") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb")
    val top = spark.sql(
      """SELECT e.vec_id,
        |       cosine_similarity(e.embedding, p.embedding) AS sim
        |FROM emb e, (SELECT embedding FROM emb WHERE vec_id = 0) p
        |WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 3
        |""".stripMargin).collect()
    assert(top.length === 3)
    assert(top.forall(r => !r.isNullAt(1)))
    // agrees with the DataFrame-API operator
    val apiTop = MediaQueries.q14(spark, sf0001)
      .orderBy("rk").select("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(top.map(_.getLong(0)).toSeq === apiTop)
  }
}
