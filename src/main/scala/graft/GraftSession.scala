package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Session configuration for the graft engine.
  *
  * Centralizes the runtime SQL confs every entry point (Verify, Bench,
  * tests, user apps) needs. Notably `spark.sql.legacy.parquet.nanosAsLong`:
  * the fixture `events` table stores `ts` as parquet TIMESTAMP(NANOS),
  * which Spark's TimestampType (microsecond) cannot represent natively —
  * we read it as an epoch-nanos Long and truncate to micros in
  * [[Tables.events]], matching DuckDB's ns→µs truncation.
  *
  * Sessions are built through [[builder]], which applies the engine's
  * build-time confs ([[staticConfs]]: the codegen cache size, no
  * session artifact isolation, and local file systems that do not start
  * a process per file); runtime confs go through [[configure]].
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every session the engine
    * builds. Spark keeps compiled whole-stage and expression classes in
    * an LRU cache that is JVM-GLOBAL: `CodeGenerator` builds it once per
    * JVM, sized from the conf of whichever session generates code first,
    * and a static conf cannot change after that. At the default of 100
    * entries the registry thrashes it — nine perfbench queries need 177
    * classes, so each timed round recompiled all of them with Janino.
    * The size comes from a measurement of the engine's working set: one
    * in-JVM pass of all 244 registry queries at sf0.01 on 4 cores
    * compiled 3.5–3.7k distinct classes, and 8,192 leaves headroom over
    * that for about 30 MB more metaspace (BASELINE.md `codegen_cache`
    * has the compile counts, wall times and metaspace at both sizes).
    * It is not a bench setting; [[staticConfs]] applies it.
    */
  val codegenCacheEntries: Int = 8192

  /** The confs every session the engine builds carries, each with the
    * engine's value. Spark reads each once (the cache size when the JVM
    * first generates code, the isolation flag when a session first asks
    * its artifact manager, the `spark.hadoop.*` keys when the
    * SparkContext builds its Hadoop conf), so they go on the builder, not
    * into [[configure]]:
    *
    *  - `spark.sql.codegen.cache.maxEntries`: [[codegenCacheEntries]].
    *  - `spark.sql.artifact.isolation.enabled`: `false`. With isolation
    *    on (Spark 4's default), every session UUID gets its own executor
    *    class loader, and every streaming query runs on a cloned session
    *    with a new UUID. `CodeGenerator`'s cache is keyed by class loader
    *    and code, so each query missed it: Janino recompiled every
    *    executor-side class of the ingest path (35 per later `drain` query,
    *    BASELINE.md `streaming_classloader`), the JIT started them cold,
    *    and the cache kept each dead loader's entries until LRU eviction.
    *    Isolation separates the jars and classes that clients add to a
    *    session (`addArtifact`); the engine adds none, so it buys
    *    nothing here. Spark itself turns it off for Hive-enabled sessions.
    *  - `spark.hadoop.fs.file.impl` and
    *    `spark.hadoop.fs.AbstractFileSystem.file.impl`:
    *    [[graft.sinks.InProcessLocalFileSystem]] and
    *    [[graft.sinks.InProcessLocalFs]], Hadoop's checksummed local file
    *    systems with permissions set and links looked up in-process.
    *    Without Hadoop's native library the stock ones start a `chmod`
    *    process for every file and directory a write creates and a
    *    `readlink` process for every checkpoint log commit, about 150
    *    per 30k-message drain query (BASELINE.md `local_fs_forks`). The
    *    first key serves `FileSystem` (the data files, their `.crc`
    *    files, the job commit); the second serves `FileContext`, which
    *    the streaming checkpoint commits through. Hadoop caches one
    *    `FileSystem` per scheme, authority and user, whatever the conf,
    *    so a `file:` file system obtained before the session exists
    *    would keep the stock class: build the session first.
    */
  private val engineConfs: Map[String, String] = Map(
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> codegenCacheEntries.toString,
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[graft.sinks.InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sinks.InProcessLocalFs].getName)

  /** The engine's build-time confs as [[builder]] applies them, given the
    * launcher's `conf`: a key the launcher already set (spark-submit
    * `--conf`, a `-Dspark.…` property) keeps the launcher's value; every
    * other key gets the engine's.
    */
  def staticConfs(conf: SparkConf): Map[String, String] =
    engineConfs.map { case (k, v) => k -> conf.get(k, v) }

  /** `SparkSession.builder()` carrying [[staticConfs]] of the launcher's
    * conf. Every main and [[local]] builds its session through this.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder().config(staticConfs(new SparkConf()))

  /** Apply graft runtime confs to an existing session (idempotent). */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // AQE skew-join splitting is the first line of defense against hot
    // keys (Joins.saltedJoin is the deterministic plan-time second);
    // explicit because a cluster-side conf override would silently
    // change join behavior at scale
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // runtime bloom-filter semi-join pruning: a selective dimension
    // filter is pushed into the fact scan as a bloom probe, cutting
    // shuffle input before the join — a 100 TB lever with no code
    // changes; on by default since 3.5, pinned for the same reason
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark
  }

  /** Small-file scan tuning for the local fixture corpus: the fixtures
    * are single parquet files (0.3–10 MB), so the 128 MB default split
    * gives every scan exactly one task. 4 MB splits spread row groups
    * across cores. Production-scale data should keep splits near the
    * default — this is a harness knob, which is why it is not part of
    * [[configure]].
    */
  def tuneForSmallFiles(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    // NOTE (round 19): a global small advisoryPartitionSizeInBytes was
    // measured and REJECTED twice (1 MB, interleaved A/B): it lifted a
    // few scan-bound text queries but regressed others unpredictably
    // (q106 1.34->2.70 s, q240 3.0->4.3 s in the two trials);
    // per-operator spreading is the targeted fix instead.
    spark
  }

  /** Root directory for the engine's memoized materialized copies —
    * the [[Memo.scratchDir]] copies (prepared near-dup indexes, the
    * z-order and Hive-partitioned layouts) and the
    * [[graft.sinks.Layout.bucketedTable]] tables: the
    * `spark.graft.scratchDir` conf when set, else the JVM tmpdir. At
    * cluster scale the default is WRONG — a driver-local tmpdir is
    * invisible to executors reading back the copy — so production
    * sessions must point the conf at a shared filesystem root
    * (`hdfs://…`, `s3a://…`); the tmpdir default keeps local/test
    * behavior unchanged. Joined via hadoop [[org.apache.hadoop.fs
    * .Path]] so scheme-qualified roots survive (the [[graft.sinks
    * .BatchCommit]] discipline).
    */
  def scratchRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.scratchDir",
      System.getProperty("java.io.tmpdir"))

  def scratchPath(spark: SparkSession, name: String): String =
    new org.apache.hadoop.fs.Path(scratchRoot(spark), name).toString

  /** Local session for tests / ad-hoc runs. `cores` should track the
    * machine; shuffle partitions are sized to cores, not the 200 default
    * (local mode has no cluster to fan out to).
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    tuneForSmallFiles(configure(
      builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    ))
}
