package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import graft.ops.{IncrementalAgg, Ivm}
import graft.sources.{Bucketed, FileStats}

/** Writes beside reads on a governed bucketed table with an IVM view,
  * plus background maintenance on fixed cadences. The client keeps a
  * key → row model of every generation it committed, so each read is
  * checked: point reads against the head, time-travel reads against the
  * generation they name, and view serves against the source as of the
  * view's last refresh. The near-duplicate gate ([[StreamGate]]) is the
  * second writer: each cycle streams a few tiny micro-batch commits into
  * its own bucketed index. */
final class GovernedMixed(c: Ctx, progress: BatchListener) extends Workload {
  type Row = (Int, Long, String)

  private val table = "gm_src"
  private val view = "gm_view"
  private val buckets = 8
  private val groups = GovernedMixed.groups
  private val initialRows = 100000L
  private val appendRows = 2000
  private val mergeRows = 1000
  private val hotKeys = 2000L
  private val pointReads = 6
  /** Retained generations: covers the view's lag (one cycle: two
    * commits and a compaction) and the time-travel window. */
  private val retention = 8
  private val timeTravelWindow = 4
  private val bloom = Map("parquet.bloom.filter.enabled#k" -> "true")
  private val gate = new StreamGate(c, progress)
  /** Micro-batches per cycle: one stream run reaching one compaction pass. */
  private val gateFiles = gate.compactEvery

  // the model
  private var seed = 0L
  private var rnd: Random = _
  private val versions = mutable.HashMap.empty[Long, List[(Long, Option[Row])]]
  private val count = new Array[Long](groups)
  private val sum = new Array[Long](groups)
  private var served: Map[Int, (Long, Long)] = Map.empty
  private val gens = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 0L
  private var refreshedAt = 0L

  // counts for the traced run
  private var rowsAppended = 0L
  private var rowsMerged = 0L
  private val pairsFolded = mutable.ArrayBuffer.empty[Double]
  private val filesRead = mutable.ArrayBuffer.empty[Double]
  private var liveFiles = 1
  private var end: Bucketed.TableState = _
  private var storedRatio = 0.0

  private def rowAt(k: Long, gen: Long): Option[Row] =
    versions.get(k).flatMap(_.find(_._1 <= gen)).map(_._2)
      .getOrElse(if (k < initialRows) Some(GovernedMixed.initial(seed, k)) else None)

  private def head(k: Long): Option[Row] = rowAt(k, Long.MaxValue)

  private def put(k: Long, gen: Long, r: Option[Row]): Unit = {
    head(k).foreach { case (g, v, _) => count(g) -= 1; sum(g) -= v }
    r.foreach { case (g, v, _) => count(g) += 1; sum(g) += v }
    versions(k) = (gen, r) :: versions.getOrElse(k, Nil)
  }

  private def randomRow(): Row =
    (rnd.nextInt(groups), rnd.nextInt(1000).toLong, f"p${rnd.nextLong()}%016x")

  def setUp(rep: Int): Unit = {
    seed = c.seed * 1000003L + rep
    rnd = new Random(seed)
    versions.clear(); gens.clear()
    java.util.Arrays.fill(count, 0L); java.util.Arrays.fill(sum, 0L)
    nextKey = initialRows
    val s = seed
    (0L until initialRows).foreach { k => val (g, v, _) = GovernedMixed.initial(s, k); count(g) += 1; sum(g) += v }
    import c.spark.implicits._
    val init = c.spark.range(initialRows).map { k => val (g, v, p) = GovernedMixed.initial(s, k); (k, g, v, p) }
      .toDF("k", "g", "v", "pad")
    c.tracer.span("bucketed.create")(Bucketed.save(init, table, Seq("k"), buckets, writeOptions = bloom))
    Bucketed.setRetention(c.spark, table, retention)
    gens += Bucketed.currentGeneration(c.spark, table)
    refreshedAt = c.tracer.span("ivm.create")(Ivm.create(c.spark, table, view, buckets, "g", "v"))
    served = snapshot()
    gate.setUp(seed)
  }

  private def snapshot(): Map[Int, (Long, Long)] =
    (0 until groups).filter(count(_) > 0).map(g => g -> (count(g), sum(g))).toMap

  /** One cycle, so the timed one starts warm. */
  def warmUp(): Unit = step()

  /** One cycle: an append and a skewed merge, each followed by reads,
    * then the maintenance cadence: compaction (the library rewrites only
    * buckets over its file limit), an IVM refresh folding the cycle's
    * generations, and a vacuum to the retention. Last, one stream run of
    * the near-duplicate gate. */
  def step(): Unit = {
    append()
    (1 to pointReads).foreach(_ => pointRead())
    timeTravel()
    merge()
    (1 to pointReads).foreach(_ => pointRead())
    serve()
    compact()
    refresh()
    vacuum()
    gate.run(gateFiles)
  }

  /** Record the head generation after a commit that created one. */
  private def committed(): Long = {
    val g = Bucketed.currentGeneration(c.spark, table)
    if (gens.lastOption.forall(_ != g)) gens += g
    if (c.tracer.enabled) liveFiles = Bucketed.describe(c.spark, table).liveFiles
    g
  }

  private def append(): Unit = {
    val rows = (0 until appendRows).map(i => (nextKey + i, randomRow()))
    nextKey += appendRows
    import c.spark.implicits._
    val df = rows.map { case (k, (g, v, p)) => (k, g, v, p) }.toDF("k", "g", "v", "pad")
    c.timed("bucketed.append")(
      Bucketed.save(df, table, Seq("k"), buckets, mode = SaveMode.Append, writeOptions = bloom))
    val gen = committed()
    rows.foreach { case (k, r) => put(k, gen, Some(r)) }
    if (c.measuring) rowsAppended += appendRows
  }

  /** Skewed keys: most updates hit a small hot set. */
  private def someKey(): Long =
    if (rnd.nextDouble() < 0.7) (rnd.nextDouble() * rnd.nextDouble() * hotKeys).toLong
    else (rnd.nextDouble() * nextKey).toLong

  private def merge(): Unit = {
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < mergeRows) keys += someKey()
    val upd = keys.toSeq.map(k => (k, randomRow(), rnd.nextDouble() < 0.2))
    import c.spark.implicits._
    val df = upd.map { case (k, (g, v, p), del) => (k, g, v, p, del) }.toDF("k", "g", "v", "pad", "del")
    c.timed("bucketed.merge")(Bucketed.mergeByKey(c.spark, table, df, deleteCol = Some("del")))
    val gen = committed()
    upd.foreach { case (k, r, del) => put(k, gen, if (del) None else Some(r)) }
    if (c.measuring) rowsMerged += mergeRows
  }

  private def checkRows(what: String, got: Seq[org.apache.spark.sql.Row], want: Option[Row]): Unit = {
    val g = got.map(r => (r.getAs[Int]("g"), r.getAs[Long]("v"), r.getAs[String]("pad")))
    val ok = g == want.toSeq
    c.tally(1, if (ok) 0 else 1)
    if (!ok) c.wrong(s"$what: got $g, model has $want")
  }

  private def pointRead(): Unit = {
    val k = someKey()
    val (rows, files) = c.timed("filestats.lookup") {
      val df = FileStats.loadEquals(c.spark, table, "k", k)
      (df.collect().toSeq, if (c.tracer.enabled) df.inputFiles.length else 0)
    }
    if (c.tracer.enabled && c.measuring) filesRead += files.toDouble / math.max(liveFiles, 1)
    checkRows(s"point read k=$k", rows, head(k))
  }

  private def timeTravel(): Unit = {
    val gen = gens(gens.length - 1 - rnd.nextInt(math.min(gens.length, timeTravelWindow)))
    val k = someKey()
    val rows = c.timed("bucketed.load_as_of")(
      Bucketed.loadAsOf(c.spark, table, gen).filter(col("k") === k).collect().toSeq)
    checkRows(s"time-travel read k=$k gen=$gen", rows, rowAt(k, gen))
  }

  private def serve(): Unit = {
    val got = c.timed("ivm.serve")(Ivm.serve(c.spark, view).collect())
      .map(r => r.getAs[Int]("g") -> (r.getAs[Long]("n"), r.getAs[Long]("sum_q"))).toMap
    c.tally(1, if (got == served) 0 else 1)
    if (got != served) c.wrong(s"view serve differs from the source at generation $refreshedAt")
  }

  private def refresh(): Unit = {
    val headGen = gens.last
    c.timed("ivm.refresh")(Ivm.refresh(c.spark, table, view, buckets, "g", "v"))
    if (c.measuring) pairsFolded += gens.count(g => g > refreshedAt && g <= headGen).toDouble
    refreshedAt = headGen
    served = snapshot()
  }

  private def compact(): Unit = {
    c.timed("bucketed.compact") {
      Bucketed.compactBuckets(c.spark, table)
      c.tracer.span("ivm.consolidate")(IncrementalAgg.consolidate(c.spark, view))
    }
    committed()
  }

  private def vacuum(): Unit = c.timed("bucketed.vacuum")(Bucketed.vacuum(c.spark, table, retention))

  override def finish(): Unit = {
    end = Bucketed.describe(c.spark, table)
    val loc = new File(new java.net.URI(c.spark.sessionState.catalog.getTableMetadata(
      c.spark.sessionState.sqlParser.parseTableIdentifier(table)).location.toString))
    def size(f: File): Long = if (f.isFile) f.length else Option(f.listFiles()).fold(0L)(_.map(size).sum)
    storedRatio = size(loc).toDouble / math.max(end.liveBytes, 1L)
    gate.finish()
  }

  private def commitOps = Seq("bucketed.append", "bucketed.merge")
  private def readOps = Seq("filestats.lookup", "ivm.serve", "bucketed.load_as_of")
  private def stallOps = commitOps ++ Seq("bucketed.compact", "bucketed.vacuum")
  private def opCount = c.samples.values.map(_.length).sum

  /** Every commit of the timed phase: appends, merges and micro-batches. */
  private def commitMs = c.ms(commitOps: _*) ++ gate.batchMs

  // each cycle commits the same mix (an append, a merge, a stream run's
  // micro-batches); their mean is the commit cost of that mix (a median
  // would fall between its modes). A stream run is one call, so its CPU
  // time is shared by its micro-batches.
  def endToEnd(wallS: Double): Map[String, Double] = Map(
    "op_cpu_ms" -> c.cpuMs(commitOps :+ "dedup.stream_novel": _*).sum / math.max(commitMs.length, 1),
    // a mean: one read's CPU time swings with the GC and JIT work of the
    // JVM's other threads, and over a cycle's reads those even out
    "read_cpu_ms" -> Stats.mean(c.cpuMs(readOps: _*)),
    "op_ms" -> Stats.mean(commitMs),
    "read_ms" -> Stats.median(c.ms(readOps: _*)),
    "items_per_s" -> opCount / wallS)

  def named(wallS: Double): Map[String, (Double, String)] = Map(
    "append_ms" -> (Stats.median(c.ms("bucketed.append")), "ms"),
    "merge_ms" -> (Stats.median(c.ms("bucketed.merge")), "ms"),
    "commit_ms.tail" -> (Stats.tail(c.ms(stallOps: _*))._1, "ms"),
    "refresh_ms" -> (Stats.median(c.ms("ivm.refresh")), "ms"),
    "read_ms" -> (Stats.median(c.ms(readOps: _*)), "ms"),
    "read_ms.tail" -> (Stats.tail(c.ms(readOps: _*))._1, "ms"),
    "ops_per_s" -> (opCount / wallS, "1/s"),
    "stored_bytes_ratio" -> (storedRatio, "ratio")) ++ gate.named

  def tails: Map[String, Map[String, Double]] = Map(
    "commit_ms.tail" -> Map("percentile" -> Stats.tail(c.ms(stallOps: _*))._2,
      "samples" -> c.ms(stallOps: _*).length.toDouble),
    "read_ms.tail" -> Map("percentile" -> Stats.tail(c.ms(readOps: _*))._2,
      "samples" -> c.ms(readOps: _*).length.toDouble)) ++ gate.tails

  def layers(l: Layers): Map[String, Double] = {
    val commitSpans = commitOps.flatMap(l.timed)
    val appendWork = l.work(l.timed("bucketed.append").map(_.id))
    val writeSpans = (commitOps :+ "bucketed.compact").flatMap(l.timed).map(_.id)
    val userBytes = appendWork.bytesWritten.toDouble / math.max(rowsAppended, 1L) * (rowsAppended + rowsMerged)
    val refreshJobs = l.jobsPer("ivm.refresh")
    val pairs = Stats.mean(pairsFolded.toSeq)
    Map(
      "bucketed.append_ms" -> l.medianMs("bucketed.append"),
      "bucketed.merge_ms" -> l.medianMs("bucketed.merge"),
      "bucketed.jobs_per_commit" ->
        (if (commitSpans.isEmpty) 0.0 else l.work(commitSpans.map(_.id)).jobs.toDouble / commitSpans.length),
      "bucketed.compact_ms" -> l.medianMs("bucketed.compact"),
      "bucketed.vacuum_ms" -> l.medianMs("bucketed.vacuum"),
      "bucketed.load_as_of_ms" -> l.medianMs("bucketed.load_as_of"),
      "bucketed.live_files" -> end.liveFiles.toDouble,
      "bucketed.unreferenced_files" -> end.unreferencedFiles.toDouble,
      "bucketed.generations" -> end.generations.length.toDouble,
      "bucketed.write_amp" -> (if (userBytes > 0) l.work(writeSpans).bytesWritten / userBytes else 0.0),
      "bucketed.stored_bytes_ratio" -> storedRatio,
      "filestats.lookup_ms" -> l.medianMs("filestats.lookup"),
      "filestats.files_read_ratio" -> Stats.mean(filesRead.toSeq),
      "ivm.refresh_ms" -> l.medianMs("ivm.refresh"),
      "ivm.pairs_per_refresh" -> pairs,
      "ivm.jobs_per_refresh" -> refreshJobs,
      "ivm.jobs_per_pair" -> (if (pairs > 0) refreshJobs / pairs else 0.0),
      "ivm.serve_ms" -> l.medianMs("ivm.serve")) ++ gate.layers(l)
  }
}

object GovernedMixed {
  val groups = 64

  /** Row of initial key `k`: a pure function of (seed, key), so the
    * executors generate the table and the client's model agrees. */
  def initial(s: Long, k: Long): (Int, Long, String) = {
    var h = (s ^ (k * 0x9E3779B97F4A7C15L)) * 0xBF58476D1CE4E5B9L
    h ^= h >>> 31
    h *= 0x94D049BB133111EBL
    h ^= h >>> 29
    ((h & (groups - 1)).toInt, (h >>> 8) % 1000, f"p${h}%016x")
  }
}
