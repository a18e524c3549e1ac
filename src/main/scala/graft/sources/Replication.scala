package graft.sources

import org.apache.spark.sql.SparkSession

/** RESUMABLE incremental table replication on the bucketed contract —
  * the deployment loop around [[Bucketed.diffGenerations]] +
  * [[Bucketed.applyChanges]]: a replica that can be brought up to the
  * source's head at any time, across process restarts, shipping only
  * the O(changed files) delta since the last sync instead of the
  * table.
  *
  * The replica carries a durable BOOKMARK (`_graft_sync`, a small
  * marker file beside its manifests, same shape as the retention
  * marker): the last source generation it has fully applied. Each
  * [[sync]] walks the retained generations from the bookmark one
  * CONSECUTIVE pair at a time — each pair's diff reads only the files
  * its two manifests disagree on, applies as one atomic merge
  * generation on the replica, and the bookmark advances per pair.
  * Crash anywhere is safe WITHOUT a two-phase commit: a crash before
  * a pair's merge commits leaves bookmark and replica at that pair's
  * start; a crash between the merge and the bookmark write leaves the
  * bookmark stale, and the retried sync re-applies the SAME immutable
  * pair — idempotent by [[Bucketed.mergeByKey]]'s delete-then-insert
  * contract. (A net bookmark→head diff would NOT be retry-exact: the
  * span reshapes if the source commits between crash and retry, and a
  * change-then-revert key diffs as no-change over the reshaped span,
  * freezing the replica's mid value.) Exactly-once EFFECT from
  * at-least-once application.
  *
  * The source must RETAIN generations back to the bookmark
  * ([[Bucketed.setRetention]]): a bookmark that has fallen behind the
  * retained window fails loudly (re-bootstrap with [[bootstrap]])
  * rather than silently shipping a partial delta. The replica's
  * bucket key must identify rows uniquely — [[Bucketed.applyChanges]]'
  * row-level-CDC contract. */
object Replication {

  private val SyncName = "_graft_sync"
  private val SyncMagic = "graft-sync-v1"

  /** Create `replica` as a copy of `source`'s current head snapshot
    * (explicit manifest-resolved file list — stable under concurrent
    * commits when the source retains history) and bookmark that
    * generation. Returns the bookmarked source generation. */
  def bootstrap(spark: SparkSession, source: String, replica: String,
                buckets: Int): Long = {
    val gen = Bucketed.currentGeneration(spark, source)
    val keys = Bucketed.spec(spark, source)
      .bucketSpec.map(_.bucketColumnNames).getOrElse(
        throw new IllegalArgumentException(s"$source is not bucketed"))
    Bucketed.save(Bucketed.loadAsOf(spark, source, gen), replica,
      keys, buckets)
    writeBookmark(spark, replica, gen)
    gen
  }

  /** The replica's last fully-applied source generation, if it was
    * ever bootstrapped/synced (a torn marker reads as absent — the
    * caller must re-bootstrap, never silently re-sync from 0). */
  def bookmark(spark: SparkSession, replica: String): Option[Long] = {
    val dir = Bucketed.spec(spark, replica).location
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Bucketed.readMarker(fs, dir, SyncName, SyncMagic)
      .flatMap(_.toLongOption)
  }

  /** Bring `replica` up to `source`'s current head, one CONSECUTIVE
    * generation pair at a time, the bookmark advancing after each
    * pair. Per-pair spans — not one net bookmark→head diff — are what
    * makes a crash retry exact: a net span RESHAPES if the source
    * commits between the crash and the retry, and a key changed
    * before the crash but REVERTED after it diffs as no-change over
    * the reshaped span, leaving the replica's mid value in place
    * forever. Pair spans are immutable, and re-applying an
    * already-applied pair changes nothing (the merge is idempotent).
    * Returns the new bookmark; a no-op when already caught up. */
  def sync(spark: SparkSession, source: String, replica: String): Long = {
    val from = bookmark(spark, replica).getOrElse(
      throw new IllegalStateException(
        s"$replica has no sync bookmark — bootstrap it from $source first"))
    val head = Bucketed.currentGeneration(spark, source)
    if (head == from) return from
    require(head > from,
      s"$replica's bookmark $from is ahead of $source's head $head — " +
        "the source was rebuilt; re-bootstrap the replica")
    val retained = Bucketed.generations(spark, source)
    if (!retained.contains(from))
      throw new IllegalStateException(
        s"$source no longer retains generation $from (oldest retained: " +
          s"${retained.headOption.getOrElse(-1L)}) — the bookmark fell " +
          "behind the retention window; re-bootstrap the replica")
    retained.dropWhile(_ < from).takeWhile(_ <= head)
      .sliding(2).foreach {
        case Seq(a, b) =>
          Bucketed.applyChanges(spark, replica,
            Bucketed.diffGenerations(spark, source, a, b))
          writeBookmark(spark, replica, b)
        case _ => ()
      }
    head
  }

  /** Stamp `replica`'s sync bookmark (also used by derived-table
    * followers, e.g. [[graft.ops.Ivm]]'s materialized views — any
    * table that tracks a source generation can carry one). */
  private[graft] def writeBookmark(spark: SparkSession, replica: String,
                                   gen: Long): Unit = {
    val dir = Bucketed.spec(spark, replica).location
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Bucketed.writeMarker(fs, dir, SyncName, SyncMagic, gen.toString)
  }
}
