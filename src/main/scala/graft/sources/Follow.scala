package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** ONE copy of the durable-bookmark generation walk every FOLLOWER of
  * a governed [[Bucketed]] table runs — the view families
  * ([[graft.ops.Ivm]]'s join/agg views) and the index families
  * ([[IndexMaintenance.refreshFromSource]]): read the follower's
  * bookmark off a marker beside the HOST table's manifests, validate
  * head / rebuild / retention, then apply each CONSECUTIVE retained
  * generation pair and advance the bookmark after each pair.
  * Consecutive pairs, not one net diff, is what makes retry safe: a
  * (from, head) span RESHAPES if the source commits between a crash
  * and the retry, while per-pair spans are immutable — a replayed
  * pair re-derives bit-identical deltas. Generalized out of
  * graft.ops.Ivm (round 14) so a walk-contract fix lands once for
  * every follower family.
  *
  * The bookmark advances LAST (after the pair's apply), so a stale
  * bookmark can only cause a replayed pair, never a missed delta —
  * each family supplies its own replay argument (idempotent re-apply,
  * exactly-once tags, or the intent-scrub protocol). The source must
  * retain generations back to the bookmark ([[Bucketed.setRetention]])
  * — behind the window the walk fails loudly (recreate the follower)
  * rather than applying a partial delta. */
object Follow {

  private def hostDir(spark: SparkSession,
                      host: String): (FileSystem, Path) = {
    val dir = Bucketed.spec(spark, host).location
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** The follower's bookmark under marker `name` on `host`'s dir —
    * absent when never written or torn. */
  def readBookmark(spark: SparkSession, host: String, name: String,
                   magic: String): Option[Long] = {
    val (fs, dir) = hostDir(spark, host)
    Bucketed.readMarker(fs, dir, name, magic).flatMap(_.toLongOption)
  }

  def writeBookmark(spark: SparkSession, host: String, name: String,
                    magic: String, gen: Long): Unit = {
    val (fs, dir) = hostDir(spark, host)
    Bucketed.writeMarker(fs, dir, name, magic, gen.toString)
  }

  /** Free-form durable marker (the intent tags of the scrub
    * protocol) — same torn-write-parses-as-absent contract. */
  def readTag(spark: SparkSession, host: String, name: String,
              magic: String): Option[String] = {
    val (fs, dir) = hostDir(spark, host)
    Bucketed.readMarker(fs, dir, name, magic)
  }

  def writeTag(spark: SparkSession, host: String, name: String,
               magic: String, value: String): Unit = {
    val (fs, dir) = hostDir(spark, host)
    Bucketed.writeMarker(fs, dir, name, magic, value)
  }

  def clearTag(spark: SparkSession, host: String, name: String): Unit = {
    val (fs, dir) = hostDir(spark, host)
    fs.delete(new Path(dir, name), false)
    ()
  }

  /** Walk `src`'s retained generations from the bookmark to its head
    * (or `cap`, when a caller needs two walks in lockstep — see
    * [[graft.ops.Ivm.refreshJoinFull]]), applying each consecutive
    * pair via `applyPair(x, y)` and advancing the bookmark after each
    * pair. `what`/`createHint` only shape the error messages. Returns
    * the fold head — the generation the follower actually holds,
    * NEVER a re-read live head (a commit racing the walk must fold on
    * the NEXT refresh; ADVICE, round 13). */
  def walkPairs(spark: SparkSession, src: String, host: String,
                name: String, magic: String, what: String,
                createHint: String, cap: Option[Long] = None)(
                applyPair: (Long, Long) => Unit): Long = {
    val from = readBookmark(spark, host, name, magic).getOrElse(
      throw new IllegalStateException(
        s"$what has no bookmark ($name on $host) — $createHint it first"))
    val head = cap.fold(Bucketed.currentGeneration(spark, src))(c =>
      math.min(Bucketed.currentGeneration(spark, src), c))
    if (head == from) return head
    require(head > from,
      s"$what's bookmark $from is ahead of $src's head $head — " +
        "the source was rebuilt; recreate it")
    val retained = Bucketed.generations(spark, src)
    if (!retained.contains(from))
      throw new IllegalStateException(
        s"$src no longer retains generation $from — $what's bookmark " +
          "fell behind the retention window; recreate it")
    retained.dropWhile(_ < from).takeWhile(_ <= head)
      .sliding(2).foreach {
        case Seq(x, y) =>
          applyPair(x, y)
          writeBookmark(spark, host, name, magic, y)
        case _ => ()
      }
    head
  }
}
