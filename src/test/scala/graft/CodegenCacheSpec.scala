package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The JVM-global codegen cache holds the registry's working set: a
  * query run again after others reuses its compiled classes instead of
  * recompiling them with Janino (see [[GraftSession.codegenCacheEntries]]).
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()

  test("GraftSession.local sessions carry the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.codegenCacheEntries.toString)
  }

  test("queries run again after a rotation of 177 classes compile nothing") {
    val probes = Seq("q01_scan_project", "q02_filter_valid")
    // perfbench's seed-11 query sample: together its queries generate
    // 177 classes, more than Spark's default cache of 100 entries holds
    val rotation = Seq("q42_range_join", "q177_lang_entropy", "q239_boilerplate_topk",
      "q44_video_decode", "q223_fs_linkage", "q28_approx_distinct",
      "q216_mcnemar_gate", "q117_distinct_terms")
    probes.foreach(run)
    rotation.foreach(run)
    val before = compiles
    probes.foreach(run)
    assert(compiles === before, "probe queries recompiled: their classes were evicted")
  }
}
