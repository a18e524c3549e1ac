package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State shared by a run and its workload: the session, the tracer, the
  * timed-phase latency samples and the output-check tallies. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dir: File, val cores: Int) {
  /** True during the timed phase only: set-up and warm-up are not sampled. */
  var measuring = false
  /** Wall milliseconds of each timed op, by op. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU milliseconds the whole JVM spent during each timed op, by op. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  /** Wrong outputs that no documented known defect explains. */
  val unexpected = mutable.ArrayBuffer.empty[String]
  /** Failed ops explained by a documented known defect, by defect. */
  val known = mutable.LinkedHashMap.empty[String, Long]

  /** Run one op inside a span; in the timed phase, sample its latency
    * and its CPU time. */
  def timed[T](op: String)(body: => T): T = {
    val (t, cpu) = (System.nanoTime(), Jvm.cpuNs)
    val r = tracer.span(op)(body)
    if (measuring) {
      samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e6
      cpuSamples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (Jvm.cpuNs - cpu) / 1e6
    }
    r
  }

  def ms(ops: String*): Seq[Double] = ops.flatMap(o => samples.getOrElse(o, Nil))
  def cpuMs(ops: String*): Seq[Double] = ops.flatMap(o => cpuSamples.getOrElse(o, Nil))

  /** Tally `n` checked outputs of which `bad` were wrong. */
  def tally(n: Long, bad: Long): Unit =
    if (measuring) { attempted += n; failed += bad }

  def wrong(what: String): Unit = if (unexpected.length < 20) unexpected += what

  def knownDefect(name: String, n: Long): Unit =
    if (measuring && n > 0) known(name) = known.getOrElse(name, 0L) + n

  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/** A closed-loop workload with one client: each call returns only when
  * the ops it issued have completed. */
trait Workload {
  /** Generate inputs from the run's seed and repetition `rep` and build
    * the initial state the timed phase starts from. */
  def setUp(rep: Int): Unit
  /** Untimed ops after the last set-up, so the timed phase starts warm. */
  def warmUp(): Unit
  /** The next op(s) of the timed phase. */
  def step(): Unit
  /** Most steps the timed phase runs, however long `--seconds` is. */
  def maxSteps: Int = Int.MaxValue
  /** Checks and measurements after the timed phase, outside it. */
  def finish(): Unit = ()
  /** Generic end-to-end values: op_cpu_ms, read_cpu_ms, and the wall
    * time twins op_ms, read_ms, items_per_s. */
  def endToEnd(wallS: Double): Map[String, Double]
  /** The workload's own metrics under their descriptive names: (value, unit). */
  def named(wallS: Double): Map[String, (Double, String)]
  /** Percentile each tail metric reports, with its sample count. */
  def tails: Map[String, Map[String, Double]]
  /** Per-layer metrics from the traced run. */
  def layers(l: Layers): Map[String, Double]
}

/** Per-span Spark work, summed over a span and its descendants. */
final class Layers(val tracer: Tracer, val listener: WorkListener, val timedFrom: Int) {
  private lazy val children: Map[Int, Seq[Int]] =
    tracer.spans.toSeq.filter(_.parent >= 0).groupBy(_.parent).map { case (p, s) => p -> s.map(_.id) }

  def work(spanIds: Iterable[Int]): Work = {
    val total = new Work
    def add(id: Int): Unit = { total += listener.of(id); children.getOrElse(id, Nil).foreach(add) }
    spanIds.foreach(add)
    total
  }

  /** Spans of this name opened during the timed phase. */
  def timed(name: String): Seq[Tracer#Span] = tracer.named(name).filter(_.id >= timedFrom)

  def medianMs(name: String): Double = Stats.median(timed(name).map(_.ms))

  def jobsPer(name: String): Double = {
    val s = timed(name)
    if (s.isEmpty) 0.0 else work(s.map(_.id)).jobs.toDouble / s.length
  }

  /** Top-level spans of the timed phase: one per op the client issued. */
  def ops: Seq[Tracer#Span] = tracer.spans.toSeq.filter(s => s.id >= timedFrom && s.parent < 0)
}

object Main {
  private val setUps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = new File(a("work")).getAbsoluteFile
    val cores = a("cores").toInt
    val recordFile = new File(a("record"))
    dir.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // the library's deployment configuration, as graft.Bench and graft.Verify set it
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val runId = f"$workload-$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}%x"
    val tracer = new Tracer(spark, trace, runId)
    val listener = new WorkListener
    val batches = new BatchListener
    spark.streams.addListener(batches)
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      new CodegenFallbacks(tracer, listener).attach()
    }
    val ctx = new Ctx(spark, tracer, seed, dir, cores)
    val w: Workload = workload match {
      case "sip_ingest" => new SipIngest(ctx)
      case "governed_mixed" => new GovernedMixed(ctx, batches)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, repeated: the first repetition counts from process start,
    // so it carries session start; later ones rebuild inputs and state on
    // a warm JVM. setup_s is the median of their CPU times (the process's
    // CPU time counts from its start too); the warm-up op follows once.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupCpuS = mutable.ArrayBuffer.empty[Double]
    val processStart = System.nanoTime() - Jvm.uptimeMs * 1000000L
    var (t0, cpu0) = (processStart, 0L)
    for (rep <- 0 until setUps) {
      w.setUp(rep)
      val (t1, cpu1) = (System.nanoTime(), Jvm.cpuNs)
      setupS += (t1 - t0) / 1e9
      setupCpuS += (cpu1 - cpu0) / 1e9
      t0 = t1
      cpu0 = cpu1
    }
    w.warmUp()

    val floorStart = Floor.jobMs(spark, cores)
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    val timedFrom = tracer.spans.length
    ctx.measuring = true
    val start = System.nanoTime()
    val cpuStart = Jvm.cpuNs
    val coldS = (start - processStart) / 1e9
    val deadline = start + (seconds * 1e9).toLong
    var aborted: Option[String] = None
    var steps = 0
    while (aborted.isEmpty && steps < w.maxSteps && System.nanoTime() < deadline)
      try { w.step(); steps += 1 }
      catch {
        case e: Exception =>
          ctx.failed += 1
          ctx.attempted += 1
          aborted = Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
          e.printStackTrace()
      }
    val wallS = (System.nanoTime() - start) / 1e9
    // CPU time of the timed phase per unit of work: every op of a cycle,
    // maintenance included
    val unitCpuMs = (Jvm.cpuNs - cpuStart) / 1e6 / math.max(steps, 1)
    ctx.measuring = false
    val (gcMs, jitMs) = (Jvm.gcMs - gc0, Jvm.jitMs - jit0)
    val floorEnd = Floor.jobMs(spark, cores)
    if (aborted.isEmpty) w.finish()
    val heapMb = Jvm.liveHeapMb
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val e2e = w.endToEnd(wallS) ++ Map("setup_s" -> Stats.median(setupCpuS.toSeq),
      "setup_wall_s" -> Stats.median(setupS.toSeq), "heap_live_mb" -> heapMb,
      "unit_cpu_ms" -> unitCpuMs)
    val layers: Map[String, Double] =
      if (!trace || aborted.nonEmpty) Map.empty
      else {
        val l = new Layers(tracer, listener, timedFrom)
        val ops = l.ops
        val wk = l.work(ops.map(_.id))
        val n = math.max(ops.length, 1).toDouble
        w.layers(l) ++ Map(
          "spark.jobs" -> wk.jobs / n,
          "spark.stages" -> wk.stages / n,
          "spark.tasks" -> wk.tasks / n,
          "spark.task_busy_frac" -> wk.busyMs / (cores * wallS * 1000),
          "spark.shuffle_bytes" -> wk.shuffleBytes / n,
          "spark.spill_bytes" -> wk.spillBytes / n,
          "spark.codegen_fallbacks" -> wk.codegenFallbacks / n,
          "spark.job_floor_ms" -> (floorStart + floorEnd) / 2,
          "jvm.gc_ms" -> gcMs.toDouble,
          "jvm.jit_ms" -> jitMs.toDouble,
          "jvm.heap_live_mb" -> heapMb)
      }

    val record = Map(
      "run_id" -> runId, "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "correct" -> (aborted.isEmpty && ctx.unexpected.isEmpty && ctx.attempted > 0),
      "attempted" -> math.max(ctx.attempted, 1L), "failed" -> ctx.failed,
      "aborted" -> aborted, "unexpected" -> ctx.unexpected.toSeq,
      "known_defects" -> ctx.known,
      "timed_wall_s" -> wallS,
      "samples" -> ctx.samples.map { case (k, v) => k -> v.length },
      "setup_s_each" -> setupS.toSeq,
      "setup_cpu_s_each" -> setupCpuS.toSeq,
      "setup_cold_s" -> coldS,
      "tails" -> w.tails,
      "end_to_end" -> e2e,
      "named" -> (w.named(wallS) ++ Map(
        "setup_s" -> (e2e("setup_s"), "s"),
        "heap_live_mb" -> (heapMb, "MB"),
        "failed_frac" -> (ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio")))
        .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers,
      "noise" -> Map("job_floor_start_ms" -> floorStart, "job_floor_end_ms" -> floorEnd,
        "gc_ms" -> gcMs, "jit_ms" -> jitMs))
    Files.write(recordFile.toPath, Stats.json(record).getBytes(UTF_8))
    if (trace) {
      val spans = tracer.records.map(Stats.json).mkString("", "\n", "\n")
      Files.write(new File(recordFile.getPath.stripSuffix(".json") + ".spans.jsonl").toPath,
        spans.getBytes(UTF_8))
    }
    spark.stop()
  }
}
