package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the library. A span records
  * name, start, end and parent; all spans of a run share the run id.
  * Spans stay in memory and are written out when the run ends. While a
  * span is open its id rides on the calling thread as a Spark local
  * property, so the listeners below can charge every job, stage and task
  * to the innermost span that launched it (streaming query threads
  * inherit the property from the thread that starts the query). */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end: Long = 0L
    def ms: Double = (end - start) / 1e6
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Innermost open span, or -1; read by the log appender. */
  @volatile var current: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      open = s :: open
      current = s.id
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        current = open.headOption.fold(-1)(_.id)
        sc.setLocalProperty(SpanKey, outer)
      }
    }

  /** Duration minus the time covered by direct children. Children run on
    * the same thread, so they never overlap one another. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "ms" -> s.ms, "self_ms" -> selfMs(s))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark work charged to a span. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var codegenFallbacks = 0L

  def +=(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; busyMs += o.busyMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    bytesWritten += o.bytesWritten; codegenFallbacks += o.codegenFallbacks
    this
  }
}

/** Charges jobs, completed stages, tasks, task run time, shuffle-write,
  * spill and output bytes to the span id found in each job's properties.
  * Work outside any span lands under id -1. All callbacks run on the
  * listener bus thread; drain the bus ([[org.apache.spark.PerfbenchBus]])
  * before reading. */
final class WorkListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def work(span: Int): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(-1)
    work(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.busyMs += m.executorRunTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def codegenFallback(span: Int): Unit = synchronized { work(span).codegenFallbacks += 1 }

  def of(span: Int): Work = synchronized(bySpan.get(span).fold(new Work)(w => new Work += w))
}

/** Counts "Failed to compile the generated Java code" log events — each
  * one is a plan that fell back from whole-stage codegen — and charges
  * them to the span open at the time. */
final class CodegenFallbacks(tracer: Tracer, listener: WorkListener)
    extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen-fallbacks", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getMessage != null &&
        e.getMessage.getFormattedMessage.contains("Failed to compile the generated Java code"))
      listener.codegenFallback(tracer.current)

  def attach(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    start()
    ctx.getConfiguration.addAppender(this)
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }
}

/** One finished micro-batch, from `StreamingQueryProgress`. */
final case class Batch(id: Long, rows: Long, durations: Map[String, Long])

/** Collects micro-batch progress of every streaming query. Always on:
  * `batch_ms` is an end-to-end metric. */
final class BatchListener extends StreamingQueryListener {
  private val done = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    // AvailableNow ends with a no-data progress that ran no batch
    if (p.numInputRows > 0)
      done += Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def drainBatches(): Seq[Batch] = synchronized { val b = done.toList; done.clear(); b }
}

/** JVM-wide counters for the host-noise guard and the `jvm` layer. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap in use after a full collection. The pause between two
    * collections lets Spark's context cleaner drop the blocks of
    * datasets the first one found unreachable. */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of every thread of the JVM so far. Time the hypervisor
    * steals from the machine does not count. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Milliseconds since the JVM started. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
}

object Floor {
  /** Median wall time of a fixed tiny shuffle job: Spark's fixed cost
    * per job on this host at this moment. */
  def jobMs(spark: SparkSession, cores: Int, reps: Int = 3): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime()
      spark.range(0, 4096, 1, cores).groupBy((col("id") % 16).as("b")).count().collect()
      (System.nanoTime() - t) / 1e6
    })
}
