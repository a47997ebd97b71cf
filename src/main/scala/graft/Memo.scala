package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's build-once state: trained models, fitted indexes,
  * cluster tables and on-disk layout copies, each built once and
  * reused by every later call with the same key.
  *
  * A key is the operator's name followed by every parameter of the
  * build, compared as a `Seq` (never joined into one string, so no two
  * keys can collide through a separator inside a value).
  *
  *  - [[inApp]] and [[frame]] values belong to the application that
  *    built them: one `onApplicationEnd` listener per application drops
  *    all of its entries, so a JVM hosting many short sessions (a
  *    notebook server, a multi-tenant driver) holds no dead session's
  *    models or DataFrames.
  *  - [[scratchDir]] copies live under [[GraftSession.scratchRoot]] and
  *    are written once per JVM: a directory on disk outlives the
  *    session that wrote it, and the scratch root is part of its key, so
  *    a session that relocates `spark.graft.scratchDir` rebuilds.
  *
  * A build runs inside the map's `computeIfAbsent`, so it must not
  * call the memo itself.
  */
private[graft] object Memo {

  private val apps = new ConcurrentHashMap[String, ConcurrentHashMap[Seq[Any], AnyRef]]()
  private val dirs = new ConcurrentHashMap[Seq[Any], String]()

  /** The value built for `key` in `spark`'s application. */
  def inApp[T <: AnyRef](spark: SparkSession, key: Any*)(build: => T): T = {
    val sc = spark.sparkContext
    entriesOf(sc.applicationId, app => sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = drop(app)
    })).computeIfAbsent(key, _ => build).asInstanceOf[T]
  }

  /** [[inApp]] for a DataFrame, returned [[persisted]]. */
  def frame(spark: SparkSession, key: Any*)(build: => DataFrame): DataFrame =
    persisted(inApp(spark, key: _*)(build))

  /** `df`, persisted (`MEMORY_AND_DISK`) unless it already is. Every hit
    * on a memoized frame goes through this: `spark.catalog.clearCache()`
    * unpersists the frame, and the next hit persists it again, so it
    * refills on its next use and its build never reruns.
    */
  def persisted(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** The directory `<scratch root>/<prefix>-<hex of root, prefix and
    * key>`, filled by `write` once per JVM. The name is a pure function
    * of the key, so repeated JVM runs reuse one path instead of
    * accumulating copies; `write` must overwrite what a prior run left.
    */
  def scratchDir(spark: SparkSession, prefix: String, key: Any*)(write: String => Unit): String =
    dirs.computeIfAbsent(GraftSession.scratchRoot(spark) +: prefix +: key, full => {
      val dir = GraftSession.scratchPath(spark, s"$prefix-${hex(full: _*)}")
      write(dir)
      dir
    })

  /** Lowercase md5 hex of `key`, stable across JVMs. Each value is
    * length-prefixed (a nested `Seq` element by element), so distinct
    * keys hash distinct inputs.
    */
  def hex(key: Any*): String = {
    def enc(v: Any): String = v match {
      case s: Seq[_] => s.map(enc).mkString(s"[${s.size}:", "", "]")
      case x => val t = String.valueOf(x); s"${t.length}:$t"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(enc(key).getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** `app`'s entries, made on its first use, when `onFirst(app)` runs. */
  private[graft] def entriesOf(app: String, onFirst: String => Unit)
      : ConcurrentHashMap[Seq[Any], AnyRef] =
    apps.computeIfAbsent(app, a => { onFirst(a); new ConcurrentHashMap[Seq[Any], AnyRef]() })

  /** Drops every entry of `app`: its `onApplicationEnd` listener. */
  private[graft] def drop(app: String): Unit = apps.remove(app)

  /** The number of entries held for `app`. */
  private[graft] def entries(app: String): Int =
    Option(apps.get(app)).fold(0)(_.size)
}
