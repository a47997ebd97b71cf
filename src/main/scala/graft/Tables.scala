package graft

import java.io.{File, RandomAccessFile}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the fixture tables (`TESTDATA.md`): one parquet per table
  * under `/root/testdata/sf&#42;`. All loaders return the canonical engine
  * schema; the only non-trivial normalization is `events.ts`
  * (parquet TIMESTAMP(NANOS) → µs `TimestampType`, see [[GraftSession]]).
  *
  * Each table's file schema is inferred once per JVM and then handed to
  * the reader (see [[table]]), so a query that reads a table again
  * starts no schema-inference job.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet confs that change what schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private final case class Resolved(identity: String, confs: Seq[Option[String]],
                                    schema: StructType)

  /** A metastore stand-in: the inferred file schema of each local table
    * path, with the [[fileIdentity]] and inference-conf values it was
    * inferred under. A stale entry (the files or the confs changed) is
    * inferred again and replaced, so the map holds at most one entry per
    * path. It is keyed on files, never on query results, and is not a
    * bench setting: a cluster deployment would keep these schemas in its
    * catalog.
    */
  private val schemas = new ConcurrentHashMap[String, Resolved]()

  /** Read `dir/name.parquet` with its cached schema (events normalized).
    * A path that is not a local file (a scheme-qualified or missing one)
    * is read with inference every time, as a plain parquet read would.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.configure(spark)
    val path = s"$dir/$name.parquet"
    val file = new File(path)
    val df =
      if (!file.exists()) spark.read.parquet(path)
      else spark.read.schema(schemaOf(spark, path, file)).parquet(path)
    if (name == "events") normalizeEvents(df) else df
  }

  private def schemaOf(spark: SparkSession, path: String, file: File): StructType = {
    val identity = fileIdentity(file)
    val confs = inferenceConfs.map(spark.conf.getOption)
    val hit = schemas.get(path)
    if (hit != null && hit.identity == identity && hit.confs == confs) hit.schema
    else {
      val schema = spark.read.parquet(path).schema
      schemas.put(path, Resolved(identity, confs, schema))
      schema
    }
  }

  /** Content fingerprint of a local file or directory tree: each file's
    * name, byte length, mtime and LAST 64 BYTES (the parquet footer
    * tail: metadata length and stats offsets), in name order. A dataset
    * regenerated at the same path changes it even when names and sizes
    * repeat inside one mtime tick, and it costs one tail read per file,
    * no data scan.
    */
  private[graft] def fileIdentity(root: File): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.sortBy(_.getName).toSeq).getOrElse(Seq.empty)
          .flatMap(walk)
      else Seq(f)
    def tail64(p: File): String = {
      val raf = new RandomAccessFile(p, "r")
      try {
        val n = math.min(64L, raf.length).toInt
        raf.seek(raf.length - n)
        val buf = new Array[Byte](n)
        raf.readFully(buf)
        java.util.Base64.getEncoder.encodeToString(buf)
      } finally raf.close()
    }
    walk(root)
      .map(p => s"${p.getName}|${p.length}|${p.lastModified}|${tail64(p)}")
      .mkString(",")
  }

  /** Canonicalize `ts` to µs `TimestampType` whatever the fixture wrote:
    *  - parquet TIMESTAMP(NANOS) arrives as epoch-nanos Long
    *    (nanosAsLong); `x div 1000` floor-divides to micros — correct for
    *    the (all-positive) fixture epochs and identical to DuckDB's
    *    TIMESTAMP_NS → TIMESTAMP cast;
    *  - parquet µs with isAdjustedToUTC=false arrives as TIMESTAMP_NTZ
    *    (Spark 4 infers NTZ by default); the cast reads the wall-clock
    *    in the session zone — pinned to UTC by [[GraftSession]] — which
    *    is exactly DuckDB's treatment of its (naive) TIMESTAMP.
    */
  private def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already µs TimestampType
    }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
