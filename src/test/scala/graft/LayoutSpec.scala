package graft

import org.apache.spark.sql.functions._
import graft.sinks.Layout

/** [[graft.sinks.Layout]] — Z-order clustering + file-level min/max
  * skipping. The claims that matter at 100 TB are asserted directly:
  * a z-ordered lake prunes on EVERY clustered column, a linearly
  * sorted one only on its sort column, and pruning never changes
  * results.
  */
class LayoutSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  // two independent uniform dims in [0, 256) — deterministic LCG-ish mix
  private lazy val data = (0L until 20000L).map { i =>
    (i, (i * 2654435761L >>> 8) & 255L, (i * 40503L >>> 4) & 255L)
  }.toDF("id", "x", "y")

  private def prunedCount(dir: String, colName: String, lo: Long, hi: Long): (Long, Int, Int) = {
    val stats = Layout.fileStats(spark, dir, Seq("x", "y"))
    val (df, read, total) = Layout.readPruned(spark, dir, stats, colName, lo, hi)
    (df.count(), read, total)
  }

  test("zAddress: interleaves bits — locality on every dim, total order, overflow folds") {
    val z = data.select(Layout.zAddress(Seq(col("x"), col("y")), bits = 8).as("z"),
      col("x"), col("y")).collect()
    // spot-check the interleave arithmetic: x=3 (11), y=1 (01) → z = 0b0111 = 7
    val probe = Seq((3L, 1L)).toDF("x", "y")
      .select(Layout.zAddress(Seq(col("x"), col("y")), 8)).head().getLong(0)
    assert(probe === 7L)
    // address stays within 2*bits
    assert(z.forall(r => r.getLong(0) >= 0 && r.getLong(0) < (1L << 16)))
    // values ≥ 2^bits fold into the top bucket instead of corrupting neighbors
    val folded = Seq((300L, 0L)).toDF("x", "y")
      .select(Layout.zAddress(Seq(col("x"), col("y")), 8)).head().getLong(0)
    val top = Seq((255L, 0L)).toDF("x", "y")
      .select(Layout.zAddress(Seq(col("x"), col("y")), 8)).head().getLong(0)
    assert(folded === top)
    // negatives clamp to 0 — sign extension must not bleed into the interleave
    val neg = Seq((-5L, 1L)).toDF("x", "y")
      .select(Layout.zAddress(Seq(col("x"), col("y")), 8)).head().getLong(0)
    val zero = Seq((0L, 1L)).toDF("x", "y")
      .select(Layout.zAddress(Seq(col("x"), col("y")), 8)).head().getLong(0)
    assert(neg === zero && neg === 2L)
  }

  test("z-ordered layout skips files on BOTH dims; linear sort only on its sort column") {
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString + "/lake"
    val linDir = java.nio.file.Files.createTempDirectory("linear").toString + "/lake"
    Layout.writeZOrdered(data, Seq(col("x"), col("y")), zDir, nFiles = 16, bits = 8)
    // linear baseline: same file count, sorted by x only
    data.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(linDir)

    val expect = data.filter(col("x") >= 96 && col("x") <= 111).count()
    val (zx, zxRead, zxTotal) = prunedCount(zDir, "x", 96, 111)
    val (zy, zyRead, _) = prunedCount(zDir, "y", 96, 111)
    val (lx, lxRead, lxTotal) = prunedCount(linDir, "x", 96, 111)
    val (_, lyRead, _) = prunedCount(linDir, "y", 96, 111)

    assert(zx === expect, "pruned read must equal the full filter")
    assert(zy === data.filter(col("y") >= 96 && col("y") <= 111).count())
    assert(lx === expect)
    // z-order: a 1/16-wide band on EITHER dim touches a strict subset.
    // Ceilings leave headroom for range-partitioner SAMPLING noise:
    // boundary placement varies run to run (the sampling seed derives
    // from runtime RDD ids, which shift under concurrent suites), and
    // a boundary landing inside a z-run adds a file or two without
    // changing the structural claim
    assert(zxRead <= zxTotal * 5 / 8, s"z-order should skip on x: $zxRead/$zxTotal")
    assert(zyRead <= zxTotal * 5 / 8, s"z-order should skip on y: $zyRead/$zxTotal")
    // linear: near-perfect on x, useless on y — the asymmetry z-order
    // removes (the band is one file's worth of rows; noisy boundaries
    // can split it across at most a couple more)
    assert(lxRead <= 3, s"linear sort should nearly isolate x: $lxRead/$lxTotal")
    assert(lyRead === lxTotal, s"linear sort cannot skip on y: $lyRead/$lxTotal")
  }

  test("scaleToBits: mismatched-domain dims still skip on the NARROW dim") {
    // u spans 4 bits, e spans 12 — raw interleave at a common bit count
    // would order files purely by e; normalization restores u-skipping
    val skew = (0L until 20000L).map(i => (i, i % 16, (i * 48271L) % 4096L))
      .toDF("id", "u", "e")
    val dir = java.nio.file.Files.createTempDirectory("zskew").toString + "/lake"
    // 32 files: the matching band is two contiguous z-runs, so range-
    // sampling noise at run edges costs a bounded handful of boundary
    // files — at finer granularity that noise cannot flip the majority
    Layout.writeZOrdered(skew,
      Seq(Layout.scaleToBits(col("u"), 15, 8), Layout.scaleToBits(col("e"), 4095, 8)),
      dir, nFiles = 32, bits = 8)
    val stats = Layout.fileStats(spark, dir, Seq("u", "e"))
    val (df, read, total) = Layout.readPruned(spark, dir, stats, "u", 4, 7)
    assert(df.count() === skew.filter(col("u") >= 4 && col("u") <= 7).count())
    assert(read < total / 2, s"normalized z-order should skip on u: $read/$total")
  }

  test("q75: the registry scan reads a strict minority of the manifest's files") {
    // sf0.01: the band is ~3 % of the user domain — at sf0.001 the
    // 15-user domain is too coarse for quadrant-aligned skipping
    val sf001 = "/root/testdata/sf0.01"
    val (df, read, total) = SparkEntry.q75Pruned(spark, sf001)
    val expect = graft.Tables.events(spark, sf001)
      .filter(col("user_id") >= 4 && col("user_id") <= 7).count()
    assert(df.count() === expect, "pruned scan must equal the full filter")
    assert(read < total / 2, s"expected file skipping on the user_id band: $read/$total")
  }

  test("zOrderedWithStats: empty input yields a readable empty layout") {
    val empty = data.filter(col("id") < 0)
    val (dir, stats) = Layout.zOrderedWithStats(empty, "spec-empty", Seq("x", "y"), nFiles = 4)
    val (df, read, total) = Layout.readPruned(spark, dir, stats, "x", 0, 100)
    assert(df.count() === 0 && read === 0 && total >= 0)
  }

  test("zOrderedWithStats: cache key includes the layout parameters") {
    val (d1, _) = Layout.zOrderedWithStats(data, "spec-params", Seq("x", "y"), nFiles = 4)
    val (d2, _) = Layout.zOrderedWithStats(data, "spec-params", Seq("y", "x"), nFiles = 4)
    assert(d1 !== d2, "different zCols must not share a cached copy")
  }

  test("zOrderedWithStats: the manifest is persisted again after clearCache") {
    val (d1, s1) = Layout.zOrderedWithStats(data, "spec-clear", Seq("x", "y"), nFiles = 4)
    spark.catalog.clearCache()
    val (d2, s2) = Layout.zOrderedWithStats(data, "spec-clear", Seq("x", "y"), nFiles = 4)
    assert(d2 === d1 && (s2 eq s1), "a hit must serve the built copy and manifest")
    assert(s2.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "a hit after clearCache must persist the manifest again")
  }

  test("spark.graft.scratchDir relocates every memoized copy root") {
    // all four scratch consumers must land under the configured root —
    // and a relocated root must REBUILD, never serve the old root's copy
    val newRoot = java.nio.file.Files.createTempDirectory("graft-scratch").toString
    val old = spark.conf.getOption("spark.graft.scratchDir")
    spark.conf.set("spark.graft.scratchDir", newRoot)
    try {
      val (zDir, zStats) = Layout.zOrderedWithStats(data, "spec-scratch",
        Seq("x", "y"), nFiles = 4)
      assert(zDir.startsWith(newRoot), s"z-order copy outside scratch: $zDir")
      val (df, _, _) = Layout.readPruned(spark, zDir, zStats, "x", 0, 7)
      assert(df.count() === data.filter(col("x").between(0, 7)).count())
      val pDir = Layout.partitionedCopy(data.withColumn("p", col("x") % 2),
        "spec-scratch", "p")
      assert(pDir.startsWith(newRoot), s"hive copy outside scratch: $pDir")
      val sp2 = spark; import sp2.implicits._
      val bt = Layout.bucketedTable((0L to 9L).map(i => (i, i)).toDF("k", "v"),
        "spec-scratch-bkt", "k", 2)
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $bt")
        .filter(col("col_name") === "Location").select("data_type")
        .as[String].head()
      assert(loc.contains(newRoot.stripPrefix("/")),
        s"bucketed table outside scratch: $loc")
      val idx = graft.operators.Dedup.prepareNearDupIndexStored(
        Seq(1L -> "alpha beta gamma delta epsilon").toDF("doc_id", "text"),
        "doc_id", "text", "spec-scratch-idx")
      assert(idx.count() === 1)
      assert(idx.inputFiles.forall(_.contains(newRoot.stripPrefix("/"))),
        s"prepared index outside scratch: ${idx.inputFiles.toSeq}")
      // relocating again rebuilds under the new root (memo key carries it)
      val newRoot2 = java.nio.file.Files.createTempDirectory("graft-scratch2").toString
      spark.conf.set("spark.graft.scratchDir", newRoot2)
      val (zDir2, _) = Layout.zOrderedWithStats(data, "spec-scratch",
        Seq("x", "y"), nFiles = 4)
      assert(zDir2.startsWith(newRoot2), s"stale copy served: $zDir2")
    } finally old match {
      case Some(v) => spark.conf.set("spark.graft.scratchDir", v)
      case None    => spark.conf.unset("spark.graft.scratchDir")
    }
  }

  test("similarityOrdered: identical rows back, fewer bytes on the dup-heavy shape") {
    // dup40 shape in miniature: 40 % of docs are light edits of n/20
    // templates with scattered ids, 60 % unique — the corpus the
    // ordering exists for
    val n = 4000L
    def body(seedExpr: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(1), lit(60)),
        i => concat(lit("w"), pmod(hash(seedExpr * 60 + i), lit(30000)))))
    val dup = spark.range(n).select(col("id").as("doc_id"))
      .withColumn("__tpl",
        when(pmod(col("doc_id"), lit(5)) < 2, pmod(col("doc_id"), lit(n / 20)))
          .otherwise(col("doc_id") + n))
      .withColumn("text", concat(body(col("__tpl")),
        lit(" tail"), col("doc_id") % 7))
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("simord").toString
    def bytesOf(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(dir))
    }
    dup.coalesce(1).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/arrival")
    Layout.similarityOrdered(dup, "text", s"$base/sim", nFiles = 1)
    // read-back equality: same rows, nothing dropped or altered
    val sp2 = spark; import sp2.implicits._
    val back = spark.read.parquet(s"$base/sim")
      .as[(Long, String)].collect().toSet
    assert(back === dup.as[(Long, String)].collect().toSet)
    assert(spark.read.parquet(s"$base/sim").columns.toSeq ===
      Seq("doc_id", "text"))
    // the layout is the only variable; the dup mass must compress
    val (a, s) = (bytesOf(s"$base/arrival"), bytesOf(s"$base/sim"))
    assert(s < (a * 85) / 100,
      s"similarity order won <15% on the dup-heavy shape: $s vs $a bytes")
    // multi-file path: range exchange keeps key segments contiguous,
    // rows still identical
    Layout.similarityOrdered(dup, "text", s"$base/sim4", nFiles = 4)
    assert(spark.read.parquet(s"$base/sim4")
      .as[(Long, String)].collect().toSet === back)
  }

  test("readPruned: empty band reads zero files and returns an empty frame") {
    val dir = java.nio.file.Files.createTempDirectory("zempty").toString + "/lake"
    Layout.writeZOrdered(data, Seq(col("x"), col("y")), dir, nFiles = 4, bits = 8)
    val stats = Layout.fileStats(spark, dir, Seq("x", "y"))
    val (df, read, total) = Layout.readPruned(spark, dir, stats, "x", 1000, 2000)
    assert(read === 0 && total === 4 && df.count() === 0)
  }

  test("bucketedTable: co-located join result equals plain join; table is reused") {
    val sp2 = spark
    import sp2.implicits._
    val left = (0L until 200L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (0L until 400L).map(i => (i % 200L, i)).toDF("k2", "rv")
    val lt = Layout.bucketedTable(left, "spec-bkt-left", "k", 4)
    val rt = Layout.bucketedTable(right, "spec-bkt-right", "k2", 4)
    val got = spark.table(lt).hint("merge")
      .join(spark.table(rt), col("k") === col("k2"))
      .groupBy(col("k")).count().as[(Long, Long)].collect().toMap
    val want = left.join(right, col("k") === col("k2"))
      .groupBy(col("k")).count().as[(Long, Long)].collect().toMap
    assert(got === want)
    // second call with the same key must reuse, not rewrite
    assert(Layout.bucketedTable(left, "spec-bkt-left", "k", 4) === lt)
    // different bucket count is a different layout identity
    assert(Layout.bucketedTable(left, "spec-bkt-left", "k", 8) !== lt)
    // the join itself planned no exchange below the aggregation
    val p = spark.table(lt).hint("merge")
      .join(spark.table(rt), col("k") === col("k2"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$p")
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
  }
}
