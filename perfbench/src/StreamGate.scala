package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.functions.{col, concat_ws}
import graft.sources.Bucketed
import graft.streaming.Streaming
import graft.text.{Dedup, IncrementalDedup}

/** The continuous near-duplicate gate, run as one writer of
  * `governed_mixed`: a band index over an initial corpus slice, then
  * stream runs of a few micro-batches, one staged parquet file each,
  * through `IncrementalDedup.streamNovel`. Every staged file holds fresh
  * documents, exact copies of indexed documents and exact copies of an
  * earlier document of the same file. Those placements make the right
  * verdict independent of the order the stream picks files in: every
  * fresh document is kept and every copy is dropped, except a fresh
  * document that shares a band key with an earlier one. The gate drops
  * those by design (banded MinHash over hashes modulo about 1e9 has
  * false positives); they count as failed, under their own name, and
  * any other wrong verdict makes the run incorrect. */
final class StreamGate(c: Ctx, progress: BatchListener) {
  private val table = "sg_idx"
  private val buckets = 8
  private val indexDocs = 3000
  private val docsPerFile = 200
  /** `streamNovel`'s compaction cadence: one pass per stream run. */
  val compactEvery = 3
  private val indexDupShare = 0.15
  private val batchDupShare = 0.15
  // LSH parameters, given explicitly so the check bands documents alike
  private val shingle = 3
  private val hashes = 16
  private val bands = 4

  private var rnd: Random = _
  private var words: IndexedSeq[String] = _
  private var indexed: IndexedSeq[String] = _
  private var nextId = 0L
  private var runs = 0
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var docsIn = 0L
  private var docsKept = 0L
  private var streamS = 0.0
  private var indexRows = 0L

  private def doc(): String = Seq.fill(20 + rnd.nextInt(21))(words(rnd.nextInt(words.length))).mkString(" ")

  def setUp(seed: Long): Unit = {
    rnd = new Random(seed)
    words = (0 until 5000).map(i => s"w${Integer.toString(i * 7919 + rnd.nextInt(7919), 36)}")
    indexed = IndexedSeq.fill(indexDocs)(doc())
    nextId = 0L
    import c.spark.implicits._
    val corpus = indexed.map { t => nextId += 1; (nextId, t) }.toDF("doc_id", "text")
    c.tracer.span("dedup.index_build")(
      IncrementalDedup.buildIndex(corpus, table, buckets, k = shingle, numHashes = hashes, bands = bands))
  }

  /** Stage `n` files of fresh documents and copies; returns the ids the
    * gate must keep and every staged document. */
  private def stage(dir: String, n: Int): (Set[Long], Seq[(Long, String)]) = {
    val keep = mutable.Set.empty[Long]
    val staged = mutable.ArrayBuffer.empty[(Long, String)]
    import c.spark.implicits._
    (0 until n).foreach { f =>
      val rows = mutable.ArrayBuffer.empty[(Long, String)]
      (0 until docsPerFile).foreach { _ =>
        nextId += 1
        val r = rnd.nextDouble()
        val text =
          if (r < indexDupShare) indexed(rnd.nextInt(indexed.length))
          else if (r < indexDupShare + batchDupShare && rows.nonEmpty) rows(rnd.nextInt(rows.length))._2
          else { keep += nextId; doc() }
        rows += ((nextId, text))
      }
      // one flat parquet file per micro-batch: the stream lists `dir`
      val tmp = new File(f"$dir.tmp/$f%03d")
      staged ++= rows
      rows.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles().find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
      new File(dir).mkdirs()
      java.nio.file.Files.move(part.toPath, new File(dir, f"file-$f%03d.parquet").toPath)
    }
    (keep.toSet, staged.toSeq)
  }

  /** Of the `dropped` fresh documents, those sharing a band key with an
    * indexed or staged document of smaller id: the gate's own rule drops
    * them. */
  private def bandCollisions(dropped: Set[Long], staged: Seq[(Long, String)]): Set[Long] =
    if (dropped.isEmpty) Set.empty
    else {
      import c.spark.implicits._
      val keyed = Dedup.lshBands(staged.toDF("doc_id", "text"), "text", "doc_id", shingle, hashes, bands)
        .select(concat_ws("_", col("band"), col("band_key")).as("bkey"), col("doc"))
      val others = keyed.unionByName(Bucketed.load(c.spark, table).select("bkey", "doc"))
      keyed.filter(col("doc").isin(dropped.toSeq: _*)).as("d")
        .join(others.as("o"), col("d.bkey") === col("o.bkey") && col("o.doc") < col("d.doc"))
        .select(col("d.doc")).distinct().collect().map(_.getLong(0)).toSet
    }

  /** One stream run over `n` staged files: `n` micro-batches. */
  def run(n: Int): Unit = {
    runs += 1
    val base = c.path(s"stream-$runs")
    val (want, staged) = stage(s"$base/in", n)
    progress.drainBatches()
    val t = System.nanoTime()
    val kept = c.timed("dedup.stream_novel")(IncrementalDedup.streamNovel(
      Streaming.fileStream(c.spark, s"$base/in", maxFilesPerTrigger = Some(1)),
      table, buckets, s"$base/out", k = shingle, numHashes = hashes, bands = bands,
      compactEvery = compactEvery,
      checkpointDir = Some(s"$base/checkpoint")))
    val s = (System.nanoTime() - t) / 1e9
    val got = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    org.apache.spark.PerfbenchBus.drain(c.spark.sparkContext)
    val done = progress.drainBatches()
    val gotSet = got.toSet
    val collided = bandCollisions(want -- gotSet, staged)
    val dropped = want -- gotSet -- collided
    val bad = dropped.size + (gotSet -- want).size + (got.length - gotSet.size)
    c.tally(n.toLong * docsPerFile, bad + collided.size)
    c.knownDefect("LSH false positive: a fresh document shares a band key with an earlier one", collided.size)
    if (bad > 0) c.wrong(s"stream run $runs: ${dropped.size} fresh docs dropped, " +
      s"${(gotSet -- want).size} copies kept, ${got.length - gotSet.size} kept twice")
    if (done.length != n) c.wrong(s"stream run $runs ran ${done.length} micro-batches, not $n")
    if (c.measuring) {
      batches ++= done
      docsIn += n.toLong * docsPerFile
      docsKept += got.length
      streamS += s
    }
  }

  def finish(): Unit =
    if (c.tracer.enabled) indexRows = Bucketed.load(c.spark, table).count()

  private def trigger(bs: Seq[Batch]): Seq[Double] = bs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
  private def duration(key: String): Double = Stats.median(batches.toSeq.map(_.durations.getOrElse(key, 0L).toDouble))

  /** `triggerExecution` of every timed micro-batch. */
  def batchMs: Seq[Double] = trigger(batches.toSeq)

  def named: Map[String, (Double, String)] = Map(
    "batch_ms" -> (Stats.median(batchMs), "ms"),
    "batch_ms.tail" -> (Stats.tail(batchMs)._1, "ms"),
    "docs_per_s" -> (docsIn / math.max(streamS, 1e-9), "1/s"))

  def tails: Map[String, Map[String, Double]] = Map("batch_ms.tail" -> Map(
    "percentile" -> Stats.tail(batchMs)._2, "samples" -> batches.length.toDouble))

  def layers(l: Layers): Map[String, Double] = {
    // streamNovel compacts inside the batch whose id + 1 is a multiple of
    // compactEvery; that batch's excess over a plain batch is the pass
    val (compacting, plain) = batches.toSeq.partition(b => (b.id + 1) % compactEvery == 0)
    val streamJobs = l.work(l.timed("dedup.stream_novel").map(_.id)).jobs
    Map(
      "maint.compact_postings_ms" -> (Stats.median(trigger(compacting)) - Stats.median(trigger(plain))),
      "maint.runs" -> compacting.length.toDouble,
      "dedup.index_build_ms" -> Stats.median(c.tracer.named("dedup.index_build").map(_.ms)),
      "dedup.kept_ratio" -> docsKept.toDouble / math.max(docsIn, 1L),
      "dedup.index_rows" -> indexRows.toDouble,
      "stream.batches" -> batches.length.toDouble,
      "stream.rows_per_batch" -> Stats.mean(batches.toSeq.map(_.rows.toDouble)),
      "stream.jobs_per_batch" -> streamJobs.toDouble / math.max(batches.length, 1),
      "stream.add_batch_ms" -> duration("addBatch"),
      "stream.query_planning_ms" -> duration("queryPlanning"),
      "stream.get_batch_ms" -> duration("getBatch"),
      "stream.wal_commit_ms" -> duration("walCommit"))
  }
}
