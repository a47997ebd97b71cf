package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out when the run ends. Disabled, `span` only runs its
  * body. Each span also tags the Spark jobs its body starts (a local
  * property the listener reads), so jobs are counted per span.
  */
final class Trace(spark: SparkSession, val runId: String, val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String)]
  private val sc = spark.sparkContext

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size + open.size
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      sc.setLocalProperty(Trace.SpanProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(Trace.SpanProperty, open.headOption.map(_._2).orNull)
      }
    }

  /** Total milliseconds spent in spans called `name`. */
  def ms(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum

  def toJson: String = spans.sortBy(_.id).map { s =>
    s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Trace {
  val SpanProperty = "perfbench.span"

  def settle(spark: SparkSession): Unit = PerfBenchBus.settle(spark.sparkContext)

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
}

/** Totals of the task metrics Spark reports, plus jobs per span. */
final class SparkCounters extends SparkListener {
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                            cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                            peakExecMem: Long)

  private var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, spill, peak = 0L
  private val jobsBySpan = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    jobsBySpan(span.getOrElse("")) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory)
    }
  }

  def snapshot: Snapshot = synchronized {
    Snapshot(jobs, stages, tasks, runMs, cpuNs, shuffleWrite, spill, peak)
  }

  def jobsIn(span: String): Long = synchronized(jobsBySpan(span))
}

/** Progress of every micro-batch, as Structured Streaming reports it. */
final class Progress extends StreamingQueryListener {
  final case class Batch(runId: String, rows: Long, durationMs: Map[String, Long])

  private val batches = mutable.ArrayBuffer[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      batches += Batch(p.runId.toString, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  /** Batches of one query run that read input. */
  def of(runId: String): Seq[Batch] = synchronized {
    batches.filter(b => b.runId == runId && b.rows > 0).toSeq
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
