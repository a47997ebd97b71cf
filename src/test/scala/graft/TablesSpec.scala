package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.TimestampType

/** `Tables` infers each fixture table's schema once and infers again
  * when the table's files change.
  */
class TablesSpec extends SparkSpec {

  /** `body`'s value and the Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.settle(sc)
    sc.addSparkListener(listener)
    val value =
      try { val v = body; ListenerBusAccess.settle(sc); v }
      finally sc.removeSparkListener(listener)
    (value, jobs.get)
  }

  private def copyOf(table: String): String = {
    val dir = Files.createTempDirectory("graft_tables_")
    Files.copy(Paths.get(sf0001, s"$table.parquet"), dir.resolve(s"$table.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    dir.toString
  }

  test("a second read of the same table starts no Spark job") {
    val dir = copyOf("nation")
    assert(jobsDuring(Tables.nation(spark, dir))._2 >= 1, "the first read should infer the schema")
    val (second, jobs) = jobsDuring(Tables.nation(spark, dir))
    assert(jobs === 0)
    assert(second.schema === spark.read.parquet(s"$dir/nation.parquet").schema)
    assert(second.count() === spark.read.parquet(s"$sf0001/nation.parquet").count())
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = copyOf("region")
    val old = Tables.region(spark, dir)
    assert(!old.columns.contains("extra"))
    spark.read.parquet(s"$sf0001/region.parquet").withColumn("extra", lit(7))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val fresh = Tables.region(spark, dir)
    assert(fresh.columns.toSeq === old.columns.toSeq :+ "extra")
    assert(fresh.select("extra").distinct().collect().map(_.getInt(0)).toSeq === Seq(7))
  }

  test("events.ts is TimestampType on every read") {
    Seq.fill(2)(Tables.events(spark, sf0001)).foreach { ev =>
      assert(ev.schema("ts").dataType === TimestampType)
    }
  }
}
