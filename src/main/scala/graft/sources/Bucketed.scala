package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogStorageFormat,
  CatalogTable, CatalogTableType}

/** Bucketed-table helpers — the zero-shuffle co-located join path the
  * scale notes promise (e.g. Relational.reconcile: "pre-bucket both
  * manifests by key to make this a zero-shuffle sort-merge join").
  *
  * Writing both sides of a recurring join bucketed+sorted on the join
  * key lets Catalyst plan a sort-merge join with NO Exchange and NO
  * per-query Sort on either side: at 100 TB this converts every
  * manifest-vs-manifest reconcile, listing anti-join, or triple-store
  * self-join from a full shuffle of both inputs into a partition-local
  * merge. The write pays one shuffle ONCE; every subsequent join is
  * shuffle-free (asserted in BucketedSpec against the physical plan).
  *
  * GENERATION MANIFEST (one-file commit on every filesystem): each
  * table dir carries a `_graft_manifest.&lt;gen&gt;` file listing the
  * CURRENT data files; [[load]] resolves through the highest valid
  * generation and treats unlisted `part-` files as invisible (deleting
  * them when it is safe to — see below). Every mutation commits by
  * atomically CREATING the next generation file — a single small
  * object PUT, atomic on HDFS, local disk, and S3-style stores alike —
  * so the maintenance swap no longer leans on multi-file rename
  * atomicity: staged files land in the dir INVISIBLE (unlisted), and
  * one manifest write flips readers from the old generation to the
  * new. The flip governs crash windows, cold loads, AND in-flight
  * scans: [[load]] is SNAPSHOT-RESOLVED by default (round 12) — it
  * returns an explicit manifest-pinned file list (bucket spec
  * preserved), so an already-planned lazy DataFrame that evaluates
  * DURING a racing maintenance commit still reads exactly the
  * generation it resolved. Superseded files are never moved: with
  * retention enabled ([[setRetention]]) they stay IN PLACE, unlisted,
  * until they fall out of the retention window — a pinned snapshot
  * inside the window can never observe a mixed generation OR a
  * FileNotFound. (At default retention 1 superseded files delete at
  * commit, so a frame held across a commit can hit the deleted file —
  * retention is the concurrency dial.)
  * Crash windows serve the OLD generation intact — no duplicate-rows
  * window, no lost-rows window:
  *
  *   - crash before the manifest commit → new files are unlisted
  *     orphans; readers serve the old generation; the next [[load]] or
  *     maintenance op reconciles (deletes) the orphans;
  *   - crash after the commit, before the old files are deleted → old
  *     files are unlisted; same reconciliation;
  *   - a torn manifest write (crash mid-PUT) fails validation (magic
  *     header + `END &lt;count&gt;` trailer) and readers fall back to the
  *     previous generation.
  *
  * ONE WRITE PATH: every [[save]] — create, Overwrite, Append — writes
  * its rows hash-clustered by the bucket function into a staging
  * subdir, renames each file into the table dir under Spark's bucketed
  * name (unlisted, so invisible), and commits the exact names as one
  * manifest generation; maintenance rewrites ([[stageSwapCommit]])
  * share the same clustered write. A create or Overwrite first drops
  * the catalog entry and clears the location, commits generation 1 of
  * the fresh table, and only then registers the entry — no reader ever
  * resolves a half-written table. Appends stay safe during
  * maintenance: an append's files join the manifest via its own commit
  * (set-union under the in-process manifest lock), and reconciliation
  * never deletes files while a write is in flight in this process.
  * Where a table's location, schema, bucket spec and writer options
  * come from is decided in one place, [[spec]].
  *
  * CONCURRENCY CONTRACT (single maintenance writer, ENFORCED): the
  * rewrite-based maintenance ops — [[compactBuckets]],
  * [[rewriteBuckets]], [[rewriteAll]], [[replaceAll]] and their
  * callers (index deletion, codebook reassignment, PQ refresh) — are
  * individually crash-safe but NOT safe to run concurrently with each
  * other on one table: two overlapping rewrites each read the pre-op
  * manifest, so the second commit would re-list rows the first
  * removed. IN-PROCESS, a per-table lock makes the mistake loud: a
  * second concurrent maintenance op in the same driver fails fast.
  * The lock is deliberately NOT a lock FILE: a file survives a
  * crashed writer, and a stale lock would brick the gates' documented
  * self-healing replay (streamNovel re-runs its inline compaction
  * after a crash — with a leftover file it would fail forever instead
  * of healing); the in-process lock dies with the JVM that held it,
  * exactly when its op does. CROSS-PROCESS, the generation manifest's
  * own atomic create IS the enforcement (optimistic CAS): a
  * maintenance commit targets exactly generation
  * `&lt;read-set generation&gt; + 1` — the parent read at op start plus
  * this process's own interleaved commits, every one of which passes
  * through [[writeNextManifest]] under the manifest lock. Any on-disk
  * generation this process did not write (checked at commit, plus
  * `fs.create(overwrite = false)` as the listing-lag backstop, plus a
  * foreign-generation observation counter covering commits between op
  * start and commit) means another maintenance writer raced this op:
  * the commit ABORTS loudly, the old generation stays served, and the
  * staged files reconcile as orphans — a stale read-modify-write can
  * no longer commit silently. Plain appends stay exempt: their
  * commits are commutative set-unions into whatever generation is
  * current, so they proceed over a foreign commit (and flag it for
  * any in-flight maintenance op to see).
  */
object Bucketed {

  /** Commit-path phase timing to stderr, gated by GRAFT_PROF=1 — the
    * measurement hook behind the per-governed-commit cost numbers in
    * the optimization notes. Zero work when the env var is unset. */
  private val profEnabled = sys.env.get("GRAFT_PROF").contains("1")
  private[graft] def profPhase[A](tag: String)(body: => A): A =
    if (!profEnabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(
        f"[prof] $tag ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    }

  /** Where a governed table lives and how it is laid out: its location,
    * schema, bucket spec and the parquet writer options every write
    * re-applies (persisted as the catalog entry's storage properties,
    * so maintenance rewrites keep e.g. bloom filters). */
  private[graft] final case class TableSpec(
      location: Path, schema: org.apache.spark.sql.types.StructType,
      bucketSpec: Option[BucketSpec],
      writeOptions: Map[String, String])

  /** Resolve `table`'s [[TableSpec]] — the ONE place a table name turns
    * into storage. Today the session catalog is the registry. */
  private[graft] def spec(spark: SparkSession, table: String): TableSpec = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    TableSpec(new Path(meta.location), meta.schema, meta.bucketSpec,
      meta.storage.properties)
  }

  /** Save `df` as a bucketed, sorted managed table: `Overwrite` (the
    * default) replaces the table, `Append` adds to it (creating it when
    * it does not exist yet). `buckets` should be sized so a bucket of
    * the LARGER recurring join side fits an executor core's working set.
    *
    * Every mode takes the same path (see the object scaladoc): a create
    * or Overwrite drops any existing catalog entry and clears the
    * table's default location — also an orphaned location a previous
    * session left behind — and every per-location cache (generation
    * numbering restarts at 1); an Append into an existing table checks
    * the request against its bucket spec and columns. Then the rows are
    * written clustered by the bucket function, renamed into the table
    * dir under Spark's bucketed names, and committed as ONE manifest
    * generation with their exact names; a created table is registered
    * in the catalog (provider parquet, `writeOptions` as storage
    * properties) only after that commit.
    *
    * WRITE-PARALLELISM CONTRACT (the hash-clustered write): every
    * commit clusters its rows by the bucket function, so one commit's
    * write runs in AT MOST `buckets` tasks and each task sorts
    * ~batch/buckets rows (the sort spills gracefully, but spill is
    * slow). `buckets` is sized to the TABLE's recurring-join working
    * set, so a commit whose batch is a small fraction of the table is
    * automatically fine; a BULK append far larger than table/buckets
    * per bucket should pass `appendSubSplits` =
    * ceil(batchBytes / (buckets × targetTaskBytes)): the batch then
    * writes as that many clustered sub-waves — per-task input bounded
    * at batch/(buckets × subSplits) — committed as ONE atomic
    * generation with subSplits files per touched bucket (the next
    * compaction restores one file per bucket). */
  def save(df: DataFrame, table: String, keys: Seq[String],
           buckets: Int, mode: SaveMode = SaveMode.Overwrite,
           sortCols: Seq[String] = Nil,
           writeOptions: Map[String, String] = Map.empty,
           appendSubSplits: Int = 1): Unit = {
    require(mode == SaveMode.Overwrite || mode == SaveMode.Append,
      s"save supports SaveMode.Overwrite and SaveMode.Append, got $mode")
    require(appendSubSplits >= 1, "appendSubSplits must be >= 1")
    // malformed names fail loudly BEFORE any catalog/path work: one
    // backtick pair around `db.tbl` would read as a single identifier
    val parts = table.split('.')
    require(parts.length <= 2 && parts.forall(p => p.nonEmpty && !p.contains("`")),
      s"expected an unqualified or db-qualified table name, got: $table")
    val spark = df.sparkSession
    val catalog = spark.sessionState.catalog
    val ident = {
      val i = spark.sessionState.sqlParser.parseTableIdentifier(table)
      i.copy(database = Some(i.database.getOrElse(catalog.getCurrentDatabase)))
    }
    val sort = if (sortCols.nonEmpty) sortCols else keys
    val exists = catalog.tableExists(ident)
    val create = mode == SaveMode.Overwrite || !exists
    val target =
      if (create) profPhase(s"save($table,$mode) preclear") {
        if (exists) {
          catalog.refreshTable(ident)
          catalog.dropTable(ident, ignoreIfNotExists = true, purge = false)
        }
        val loc = new Path(catalog.defaultTablePath(ident))
        fileSystemOf(spark, loc).delete(loc, true)
        verifiedGenerations.remove(loc.toString)
        lastSeenGen.remove(loc.toString)
        invalidateSnapshots(loc.toString)
        FileStats.invalidate(loc.toString)
        TableSpec(loc, df.schema.toNullable,
          Some(BucketSpec(buckets, keys, sort)), writeOptions)
      } else {
        val t = spec(spark, table)
        val bs = t.bucketSpec.getOrElse(
          throw new IllegalArgumentException(s"$table is not bucketed"))
        require(bs.numBuckets == buckets && bs.bucketColumnNames == keys,
          s"append bucket spec (${keys.mkString(",")} x $buckets) does not " +
            s"match $table's (${bs.bucketColumnNames.mkString(",")} x " +
            s"${bs.numBuckets})")
        // by-name append against the table's schema
        require(df.columns.toSet == t.schema.fieldNames.toSet,
          s"append columns [${df.columns.sorted.mkString(",")}] do not match " +
            s"$table's schema [${t.schema.fieldNames.sorted.mkString(",")}]")
        t
      }
    val loc = target.location
    val fs = fileSystemOf(spark, loc)
    // an append commits (manifest ∪ its files); the pre-write listing is
    // the base of a pre-manifest table and tells orphans from history
    val beforeNames =
      if (create) Set.empty[String]
      else profPhase(s"save($table,$mode) prelist") { dataFileNames(fs, loc) }
    verifiedGenerations.remove(loc.toString)
    appendBegin(loc.toString)
    try {
      val stage = new Path(loc,
        s"_graft_append_stage-${java.util.UUID.randomUUID()}")
      try {
        // appendSubSplits > 1 = the oversized-append split (see the
        // write-parallelism contract): the batch is sliced by a
        // deterministic hash of the bucket keys into subSplits clustered
        // sub-writes — each wave's tasks sort 1/subSplits of the batch —
        // all committed below as ONE atomic generation
        val newNames =
          (0 until appendSubSplits).flatMap { i =>
            val slice =
              if (appendSubSplits == 1) df
              else {
                import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
                df.filter(pmod(xxhash64(keys.map(col): _*),
                  lit(appendSubSplits.toLong)) === i.toLong)
              }
            val waveStage =
              if (appendSubSplits == 1) stage else new Path(stage, s"wave$i")
            writeClustered(slice, target.schema, keys, buckets, sort,
              writeOptions, fs, waveStage, renameInto = Some(loc))
          }.map(_._1).toSet
        profPhase(s"save($table,$mode) commit") {
          withManifestLock(loc.toString) {
            val base =
              if (create) Set.empty[String]
              else readManifest(fs, loc).map(_._2).getOrElse(beforeNames)
            val gen = writeNextManifest(fs, loc, base ++ newNames,
              op = if (create) "create" else "append", prevNames = Some(base))
            // verified only if the PRE-append dir carried no unlisted
            // orphans (an append into a crashed-and-never-reloaded table
            // must not mark the orphans clean — the next load's recovery
            // pass reconciles them). Files an older RETAINED generation
            // lists are in-place-retired history, not orphans.
            val unexplained = beforeNames -- base
            if (unexplained.isEmpty ||
                (retentionOf(fs, loc) > 1 &&
                  (unexplained -- retainedElsewhere(fs, loc, gen)).isEmpty))
              verifiedGenerations.put(loc.toString, gen)
          }
        }
        if (create)
          catalog.createTable(
            CatalogTable(
              identifier = ident,
              tableType = CatalogTableType.MANAGED,
              storage = CatalogStorageFormat.empty
                .copy(locationUri = Some(loc.toUri), properties = writeOptions),
              schema = target.schema,
              provider = Some("parquet"),
              bucketSpec = target.bucketSpec),
            ignoreIfExists = false, validateLocation = false)
        // the catalog relation cache (and any cached data) must not keep
        // the previous file listing or the replaced table's relation
        spark.catalog.refreshTable(table)
        profPhase(s"save($table,$mode) stamp") {
          FileStats.stampIfEnabled(spark, table, loc)
        }
      } finally { fs.delete(stage, true); () }
    } finally appendEnd(loc.toString)
  }

  /** Staged plain-parquet file name → the same name under Spark's
    * BUCKETED naming convention (`part-<task>-<uuid>_<bucket>.c000.*`,
    * the `_<bucket>` suffix `BucketingUtils.getBucketId` and
    * [[bucketIdOfName]] both parse). Valid ONLY for a write that was
    * `repartition(buckets, bucketKeys)`-clustered first: that uses the
    * exact bucket-id function (`pmod(murmur3, n)` —
    * `HashPartitioning.partitionIdExpression`), so the task/partition
    * index in the staged name IS the file's bucket id. */
  private val StagedPartName = """^part-(\d+)-(.*?)-(c\d+)(\..*)?$""".r
  private[sources] def bucketedName(staged: String): String =
    staged match {
      case StagedPartName(idx, uid, c, ext) =>
        s"part-$idx-${uid}_$idx.$c${Option(ext).getOrElse("")}"
      case _ => throw new IllegalStateException(
        s"unexpected staged data file name: $staged")
    }

  /** Write `df` bucket-clustered and sorted as plain parquet into a
    * staging subdir of `dir`, then rename each committed file to its
    * bucketed name — the shared write half of [[save]] and
    * [[stageSwapCommit]]. With `renameInto = Some(dir)` the files move
    * straight into the table dir ([[save]] — unlisted, so invisible
    * until the manifest commit); with None they stay in the staging
    * dir under their bucketed names (rewrite path — the CAS-checked
    * commit renames them under the manifest lock). Returns the
    * bucketed names with their current paths. The caller owns deleting
    * `stage`. */
  private def writeClustered(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
                             keys: Seq[String], buckets: Int,
                             sort: Seq[String],
                             writeOptions: Map[String, String],
                             fs: FileSystem, stage: Path,
                             renameInto: Option[Path]): Seq[(String, Path)] = {
    import org.apache.spark.sql.functions.col
    val aligned = df.select(
      schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    val clustered = aligned.repartition(buckets, keys.map(col): _*)
      .sortWithinPartitions(sort.map(col): _*)
    profPhase(s"writeClustered(${stage.getName}) write") {
      clustered.write.mode("overwrite").options(writeOptions)
        .parquet(stage.toString)
    }
    fs.listStatus(stage).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map { f =>
        val name = bucketedName(f.getPath.getName)
        val to = new Path(renameInto.getOrElse(stage), name)
        require(fs.rename(f.getPath, to), s"rename to $to failed")
        name -> to
      }
  }

  /** The table as a DataFrame, SNAPSHOT-resolved through its
    * generation manifest: the returned frame reads an EXPLICIT file
    * list (the head generation's, pinned at load time) carried
    * through a relation that KEEPS the table's bucket spec — so
    * co-located zero-shuffle joins still plan, and a lazy frame that
    * evaluates DURING a later maintenance commit still reads exactly
    * the generation it resolved: never a mix of two generations, and
    * (when the table retains history — [[setRetention]]) never a
    * FileNotFound either, because superseded files stay IN PLACE
    * until they fall out of the retention window. With the default
    * retention (1) superseded files are deleted at the next commit,
    * so a frame held across a commit can fail on the deleted file —
    * enable retention on tables with concurrent readers. This closes
    * the round-11 gap where `spark.table`'s directory scan could
    * observe a racing commit's rename→commit→delete window.
    *
    * Unlisted `part-` files (uncommitted staging from a crashed
    * maintenance op) are still reconciled — deleted — on the cold
    * path, which also verifies manifest↔disk agreement.
    *
    * Hot-path cost: ZERO filesystem calls — a [[verifiedGenerations]]
    * lookup plus a per-(session, location, generation) snapshot-frame
    * cache hit. The verify+reconcile pass runs once per table per
    * process; each commit advances the generation, so the next load
    * builds (and caches) the new snapshot with one dir listing under
    * the manifest lock. With an append in flight (no verified head)
    * the read still resolves through the manifest's last committed
    * generation; only a table with NO manifest at all (pre-manifest
    * layout) is served as the directory scan. */
  def load(spark: SparkSession, table: String): DataFrame = {
    val t = spec(spark, table)
    val loc = t.location
    verifyOnce(spark, table, loc)
    val gen = verifiedGenerations.getOrDefault(loc.toString, -1L)
    if (gen >= 0L) snapshotFrame(spark, table, t, gen)
    else {
      // no verified head — an append is in flight (its files are
      // legitimately unlisted until its commit) or the table was never
      // verified this round. Still resolve through the MANIFEST when
      // one exists: on a retention>1 table the dir holds superseded
      // in-place-retained generations, and a dir scan would read them
      // as live rows. Only a truly pre-manifest table gets the dir
      // scan. Cost inside an append window: one manifest read per
      // load (the frame itself is memo-cached per generation) — paid
      // only while the append runs, the price of never serving its
      // uncommitted files.
      val fs = fileSystemOf(spark, loc)
      withManifestLock(loc.toString) { readManifest(fs, loc) } match {
        case Some((g, _)) => snapshotFrame(spark, table, t, g)
        case None => spark.table(table)
      }
    }
  }

  /** [[load]]'s cold path: verify manifest↔disk agreement, reconcile
    * crash orphans, and mark the location verified — once per table
    * per process (a crash empties the cache with the process). Runs
    * entirely under the manifest lock, so it can never observe a
    * commit's intermediate state or delete a live op's staged files.
    * Skipped marking while an append is in flight in this process. */
  private def verifyOnce(spark: SparkSession, table: String,
                         loc: Path): Unit =
    if (!verifiedGenerations.containsKey(loc.toString)) {
      val fs = fileSystemOf(spark, loc)
      withManifestLock(loc.toString) {
        if (!appendInFlight(loc.toString)) sweepStageDirs(fs, loc)
        for ((gen, listed) <- readManifest(fs, loc)) {
          val onDisk = dataFileNames(fs, loc)
          val missing = listed -- onDisk
          if (missing.nonEmpty) throw new IllegalStateException(
            s"$table is corrupt: manifest lists ${missing.size} data file(s) " +
              s"not on disk (e.g. ${missing.head}) — files were removed " +
              "outside the maintenance ops")
          val extra = onDisk -- listed
          if (extra.nonEmpty && !appendInFlight(loc.toString)) {
            reconcileExtras(fs, loc, gen, extra.toSeq.sorted)
            spark.catalog.refreshTable(table)
          }
          if (!appendInFlight(loc.toString))
            verifiedGenerations.put(loc.toString, gen)
        }
      }
    }

  /** A FileIndex over an EXPLICIT, immutable file list — what pins a
    * snapshot read to one generation. No partitions (the bucketed
    * contract's tables are unpartitioned; bucket pruning and parquet
    * pushdown still apply through the scan exec), no refresh (the
    * list IS the snapshot). */
  private final class ExplicitFileIndex(files: Seq[FileStatus])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
    override val rootPaths: Seq[Path] = files.map(_.getPath).toSeq
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] =
      files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override val sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      new org.apache.spark.sql.types.StructType()
  }

  // (session, location, generation) -> the snapshot frame. Session in
  // the key: DataFrames are session-bound (stopped sessions evicted
  // lazily, the Tables-cache pattern). Superseded generations evicted
  // on build, so growth is one frame per live table per session.
  // Memo holders, not frames: the build lists the directory under the
  // manifest lock — I/O that must never run inside computeIfAbsent
  // (see [[graft.sources.Memo]]).
  private val snapshotFrames = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long), Memo[DataFrame]]()

  /** Drop cached snapshot frames for `location` — the hook for
    * schema-changing ops that do NOT advance the generation
    * ([[addColumn]]): the cached frame carries the old schema. */
  private def invalidateSnapshots(location: String): Unit =
    snapshotFrames.keySet.removeIf(_._2 == location)

  /** Build (or serve cached) the explicit-file-list, bucket-spec-
    * preserving frame of generation `gen`. One dir listing under the
    * manifest lock per (table, generation); hot calls are a map
    * lookup. The build is PINNED to `gen` even when a commit races it
    * (the raced branch resolves that generation's own manifest), and
    * a listed file missing from the dir fails LOUDLY — silently
    * serving fewer files than the manifest lists would be a
    * lost-rows read. */
  private def snapshotFrame(spark: SparkSession, table: String,
                            t: TableSpec, gen: Long): DataFrame = {
    val loc = t.location
    // hot path = ONE map get; the sweep (superseded generations of
    // this location, stopped sessions' frames) runs only on a miss —
    // i.e. once per commit per table, not per load
    val key = (spark, loc.toString, gen)
    val hit = snapshotFrames.get(key)
    if (hit != null) return hit.value
    val it = snapshotFrames.keySet.iterator
    while (it.hasNext) {
      val k = it.next()
      if (k._1.sparkContext.isStopped ||
          (k._2 == loc.toString && k._3 != gen)) it.remove()
    }
    snapshotFrames.computeIfAbsent(key,
      _ => new Memo(() => {
        val fs = fileSystemOf(spark, loc)
        val files = withManifestLock(loc.toString) {
          val names = readManifest(fs, loc) match {
            case Some((g, ns)) if g == gen => ns
            case _ => listedOf(fs, loc, table, gen) // raced: pin to gen
          }
          val found = listDataFiles(fs, loc)
            .filter(f => names(f.getPath.getName))
          if (found.size != names.size) {
            val missing = names -- found.map(_.getPath.getName)
            throw new IllegalStateException(
              s"$table generation $gen lists ${missing.size} file(s) " +
                s"no longer in the directory (e.g. ${missing.head}) — " +
                "vacuumed or deleted while resolving; retry, or enable " +
                "retention for reads concurrent with maintenance")
          }
          found
        }
        val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          new ExplicitFileIndex(files),
          partitionSchema = new org.apache.spark.sql.types.StructType(),
          dataSchema = t.schema,
          bucketSpec = t.bucketSpec,
          fileFormat =
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
          options = t.writeOptions)(spark)
        spark.baseRelationToDataFrame(rel)
      })).value
  }

  /** Rewrite every bucket whose file count exceeds `maxFilesPerBucket`
    * into ONE sorted file, preserving the table's bucket spec — the
    * maintenance half of the append-per-batch contract. Each
    * [[save]](Append) adds ≥1 file per touched bucket, so an index a
    * gate runs FOREVER against grows O(batches) files per bucket:
    * listing cost, parquet footer reads, and row-group min/max
    * skipping all degrade linearly with batch count even when the scan
    * bucket-prunes. Compaction restores one-file-per-bucket, which
    * also makes the whole bucket one contiguous sorted run again (the
    * "sorted on the key" skip property holds per FILE, so it weakens
    * as files accumulate and is fully restored here).
    *
    * Mechanics: bucket membership is carried in the FILE NAME
    * (`..._<bucketId>.ext` — how Spark's bucketed scan groups files),
    * so each oversized bucket is rewritten by reading just its files,
    * deduplicating if requested, sorting by the table's sort columns,
    * and committing a single correctly-named file per bucket through
    * the generation manifest (see the object scaladoc): staged files
    * land unlisted, ONE atomically-created manifest file flips
    * readers, and every crash window serves a complete generation —
    * the old one before the commit, the new one after. `dedupRows`
    * defaults true because both index layouts are SETS of posting
    * rows — (bkey, doc) bands and (centroid, id, vn) inverted lists —
    * where duplicates from at-least-once batch REPLAY (an append run
    * twice lands its rows twice) are semantically idle for the dedup
    * gate but would double-count a neighbor in the ANN probe's top-k
    * window.
    *
    * Runs as ONE job over only the oversized buckets' files: their
    * rows are re-bucketed through a staging table written with the
    * SAME bucket spec (the writer computes each row's bucket id from
    * the bucket columns, so file↔bucket assignment is Spark's own, not
    * re-derived here), pre-partitioned on the bucket key so each
    * bucket lands in exactly one task and therefore one file. A
    * 4096-bucket index where only the 30 buckets touched since the
    * last pass are oversized reads and rewrites 30 buckets' files in
    * one 30-task wave — per-bucket selectivity AND full cluster
    * parallelism, no per-bucket driver-looped jobs. Returns the number
    * of buckets rewritten. */
  def compactBuckets(spark: SparkSession, table: String,
                     maxFilesPerBucket: Int = 4,
                     dedupRows: Boolean = true): Int =
    rewriteCore(spark, table,
      select = _.length > maxFilesPerBucket, bucketIds = None,
      transform = df => if (dedupRows) df.dropDuplicates() else df,
      op = "compact")

  /** [[compactBuckets]] with a caller-supplied row transform instead
    * of dropDuplicates — the merge-on-compact hook (LSM-style) for
    * tables whose rows consolidate by MERGING rather than
    * deduplicating (e.g. [[graft.ops.IncrementalAgg]]'s partial rows,
    * which sum per group). Same oversized-bucket trigger, one-job
    * staging, and manifest commit; `transform` MUST be idempotent and
    * duplicate-tolerant (the replay contract). Returns the number of
    * buckets rewritten. */
  def compactBucketsWith(spark: SparkSession, table: String,
                         maxFilesPerBucket: Int,
                         transform: DataFrame => DataFrame): Int =
    rewriteCore(spark, table,
      select = _.length > maxFilesPerBucket, bucketIds = None,
      transform = transform, op = "compact")

  /** Rewrite EXACTLY the given buckets' rows through `transform`
    * (rows of other buckets are never read or touched), preserving the
    * bucket spec and sort — the primitive behind bounded-cost DELETEs
    * on a bucketed index: a caller that knows which buckets hold the
    * affected keys (the bucket function is `pmod(hash(key), n)` —
    * Spark's own `HashPartitioning.partitionIdExpression`) pays
    * O(those buckets), not O(table). Same one-job staging +
    * manifest commit as [[compactBuckets]]; `transform` MUST be
    * idempotent and duplicate-tolerant (compose with dropDuplicates
    * for posting sets) because at-least-once replay can run the same
    * op — and the same upstream append — twice. Returns the number of
    * buckets rewritten. */
  def rewriteBuckets(spark: SparkSession, table: String,
                     bucketIds: Set[Int],
                     transform: DataFrame => DataFrame): Int =
    if (bucketIds.isEmpty) 0
    else rewriteCore(spark, table, select = _ => true,
      bucketIds = Some(bucketIds), transform = transform, op = "rewrite")

  /** Rewrite the WHOLE table's rows through `transform` in one job,
    * preserving the bucket spec — the full-table maintenance primitive
    * (e.g. re-keying every posting after an ANN codebook refresh,
    * where the bucket-key VALUES change and rows migrate buckets). The
    * transform may rewrite the bucket column itself: the staging write
    * re-derives each row's bucket from the transformed values, so the
    * commit lands every row in its correct new bucket file. Same
    * one-job staging + manifest commit + maintenance lock as
    * [[compactBuckets]]; `transform` MUST be idempotent and
    * duplicate-tolerant. Returns the number of buckets read. */
  def rewriteAll(spark: SparkSession, table: String,
                 transform: DataFrame => DataFrame): Int =
    rewriteCore(spark, table, select = _ => true, bucketIds = None,
      transform = transform, op = "rewrite")

  /** Replace the table's ENTIRE contents with `rows` in one staged,
    * manifest-committed generation — the maintenance primitive for
    * indexes whose new generation derives from somewhere OTHER than
    * their own files (the PQ-refresh shape: codes are lossy, so the
    * refreshed code postings re-encode from the companion full-vector
    * index, not from the code table). Unlike [[save]](Overwrite) there
    * is no window where the table is empty or partially written:
    * staged files land unlisted, one manifest write flips readers from
    * the complete old generation to the complete new one, and a crash
    * anywhere leaves one of the two fully served. Files committed by
    * appends that land DURING the replace survive it (their manifest
    * entries are preserved); ordering an append's rows against the
    * replacement is the caller's pipeline contract. Returns the number
    * of data files in the new generation. */
  def replaceAll(spark: SparkSession, table: String,
                 rows: DataFrame): Int =
    withMaintenanceLock(spark, table) { (meta, dir, fs) =>
      reconcileOrphans(spark, table, dir, fs)
      val readSet = snapshotReadSet(fs, dir)
      val all = listDataFiles(fs, dir)
      val oldFiles = readSet.listed match {
        case Some(names) => all.filter(f => names(f.getPath.getName))
        case None => all
      }
      stageSwapCommit(spark, table, meta, dir, fs, rows, oldFiles,
        legacyBase = oldFiles.map(_.getPath.getName).toSet, readSet,
        op = "replace")
    }

  /** Keyed MERGE — delete-then-insert upsert in ONE atomic generation,
    * touching only the buckets the update keys hash to. The merge key
    * IS the table's bucket key (that is what makes the cost
    * bucket-bounded: the affected buckets are computable from the
    * update side alone — `pmod(hash(keys…), n)`, Spark's own
    * `HashPartitioning.partitionIdExpression` — without scanning the
    * table). Semantics per update key: every existing row with that
    * key is deleted, then the update's rows for it (those whose
    * optional `deleteCol` flag is false) are inserted — so a key with
    * only flagged rows is a pure DELETE, a new key is a pure INSERT
    * (including into a bucket that has no files yet — unlike
    * [[rewriteBuckets]], file-less touched buckets still receive
    * their staged rows), and a key with both old rows and unflagged
    * update rows is a group-wise UPSERT. Multi-row-per-key tables
    * merge group-wise (the whole group is replaced), which is exactly
    * the shape [[applyChanges]] needs for row-level CDC apply.
    *
    * Atomicity and crash behavior are [[stageSwapCommit]]'s: updates
    * land as unlisted staged files, one manifest CREATE flips readers
    * from the complete old generation to the complete new one, and a
    * replay of the SAME merge is idempotent (the anti-join removes
    * the previously merged rows before re-inserting them). `updates`
    * must be deterministic — it is evaluated once behind a lazy
    * localCheckpoint feeding both the bucket-id collect (bounded by
    * the bucket count) and the staged write. Merge keys must be
    * non-null (the bucket-key contract everywhere here): a null key
    * never equi-joins, so the anti-join could not replace a
    * previously merged null-key row and replays would accumulate. At
    * 100 TB the cost is O(touched buckets) read + one staged write of
    * those buckets — never O(table). Returns the number of staged
    * data files. */
  def mergeByKey(spark: SparkSession, table: String, updates: DataFrame,
                 deleteCol: Option[String] = None): Int =
    withMaintenanceLock(spark, table) { (meta, dir, fs) =>
      import org.apache.spark.sql.functions.{col, hash, lit, not, pmod}
      val bucketSpec = meta.bucketSpec.getOrElse(
        throw new IllegalArgumentException(s"$table is not bucketed"))
      val keys = bucketSpec.bucketColumnNames
      val n = bucketSpec.numBuckets
      val dataCols = meta.schema.fieldNames.toSeq
      val upd = updates.localCheckpoint(eager = false)
      reconcileOrphans(spark, table, dir, fs)
      val readSet = snapshotReadSet(fs, dir)
      val all = listDataFiles(fs, dir)
      val dataFiles = readSet.listed match {
        case Some(names) => all.filter(f => names(f.getPath.getName))
        case None => all
      }
      // bounded collect: ≤ n distinct bucket ids, however large `upd` is
      val touched = upd
        .select(pmod(hash(keys.map(col): _*), lit(n)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val oldFiles = dataFiles.filter(f =>
        bucketIdOfName(f.getPath.getName).exists(touched))
      val existing =
        if (oldFiles.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
        else spark.read.schema(meta.schema)
          .parquet(oldFiles.map(_.getPath.toString): _*)
      val delKeys = upd.select(keys.map(col): _*).distinct()
      val inserts = deleteCol
        .map(c => upd.filter(not(col(c))))
        .getOrElse(upd)
        .select(dataCols.map(col): _*)
      // no broadcast hint: a merge batch can be arbitrarily large
      // (unlike the index families' bounded delete batches) — AQE
      // picks the broadcast side when the keys fit, and the shuffle
      // alternative is over the touched buckets only, never the table
      val rows = existing
        .join(delKeys, keys, "left_anti")
        .unionByName(inserts)
      stageSwapCommit(spark, table, meta, dir, fs, rows, oldFiles,
        legacyBase = dataFiles.map(_.getPath.getName).toSet, readSet,
        op = "merge")
    }

  /** SCHEMA EVOLUTION — append a nullable column to a bucketed table
    * without touching a single data file: the catalog schema gains the
    * column, files written before the change simply lack it and every
    * read path null-fills (parquet reads resolve columns by name —
    * `spark.table`, [[load]], [[loadAsOf]] across the change,
    * [[diffGenerations]], and [[mergeByKey]]'s touched-bucket read all
    * use the CURRENT catalog schema). Subsequent appends and merges
    * carry the new column; old rows keep null until a merge or rewrite
    * backfills them — at 100 TB an O(table) backfill is a choice, not
    * a prerequisite. The bucket spec is untouched (the new column is
    * never a bucket key). [[FileStats]] pruning on the new column
    * stays conservative: pre-evolution files have no stats for it and
    * are always kept. `ddlType` is a DDL type string (e.g. "STRING",
    * "BIGINT", "DECIMAL(18,2)"). */
  def addColumn(spark: SparkSession, table: String, column: String,
                ddlType: String): Unit = {
    require(!column.contains("`"), s"bad column name: $column")
    val quoted = table.split('.').map(p => s"`$p`").mkString(".")
    spark.sql(s"ALTER TABLE $quoted ADD COLUMNS (`$column` $ddlType)")
    spark.catalog.refreshTable(table)
    // schema changed but the generation did not: cached snapshot
    // frames carry the OLD schema and must rebuild on next load
    invalidateSnapshots(spec(spark, table).location.toString)
  }

  /** Row-level CDC APPLY — replays a [[diffGenerations]] delta onto a
    * replica table in one atomic [[mergeByKey]] generation, the
    * consumer half of incremental table replication: ship the O(changed
    * files) diff, not the table. `diff` carries the replica's columns
    * plus the `change` column (`insert` / `delete`); the replica's
    * bucket key must identify rows uniquely (row-level CDC needs a row
    * key — for multiset tables, replicate by snapshot instead). A key
    * appearing as both `delete` (its old row) and `insert` (its new
    * row) — an UPDATE — lands correctly because [[mergeByKey]] deletes
    * every update key before re-inserting the unflagged rows. Applying
    * the same diff twice is idempotent. Returns staged file count. */
  def applyChanges(spark: SparkSession, table: String,
                   diff: DataFrame): Int = {
    import org.apache.spark.sql.functions.col
    mergeByKey(spark, table,
      diff.withColumn("_graft_delete", col("change") === "delete")
        .drop("change"),
      deleteCol = Some("_graft_delete"))
  }

  private def rewriteCore(spark: SparkSession, table: String,
                          select: Seq[FileStatus] => Boolean,
                          bucketIds: Option[Set[Int]],
                          transform: DataFrame => DataFrame,
                          op: String): Int =
    withMaintenanceLock(spark, table) { (meta, dir, fs) =>
      rewriteLocked(spark, table, meta, dir, fs, select, bucketIds,
        transform, op)
    }

  private def withMaintenanceLock[A](spark: SparkSession, table: String)(
      body: (TableSpec, Path, FileSystem) => A): A = {
    val meta = spec(spark, table)
    require(meta.bucketSpec.isDefined, s"$table is not bucketed")
    val dir = meta.location
    val fs = fileSystemOf(spark, dir)
    // single-maintenance-writer guard (see the object scaladoc):
    // acquired before the file listing — the listing is part of the
    // read-modify-write a concurrent rewrite would corrupt. Keyed on
    // the resolved location, not the name, so db-qualified aliases of
    // one table contend on one lock.
    val lock = maintenanceLockFor(dir.toString)
    if (!lock.tryLock()) throw new IllegalStateException(
      s"maintenance already in flight on $table — compaction, deletion, " +
        "reassignment and replacement are single-writer ops; retry " +
        "after the running op finishes")
    // a failed/crashed op leaves the table needing re-verification;
    // clean completions re-mark it themselves
    verifiedGenerations.remove(dir.toString)
    try body(meta, dir, fs)
    finally lock.unlock()
  }

  /** Per-table-location maintenance locks (see the object scaladoc:
    * in-process by design — a crashed holder's lock must die with it).
    * Entries are never removed: safe removal would race computeIfAbsent
    * (a waiter on the removed instance vs a fresh instance for the next
    * caller = two holders on one table), and the growth is one
    * ~48-byte ReentrantLock per DISTINCT table location ever
    * maintained in this driver — bounded by the session's table count,
    * not by op count. */
  private val maintenanceLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]()

  /** Test hook: the lock a maintenance op on `location` would take. */
  private[sources] def maintenanceLockFor(location: String)
      : java.util.concurrent.locks.ReentrantLock =
    maintenanceLocks.computeIfAbsent(new Path(location).toString,
      _ => new java.util.concurrent.locks.ReentrantLock())

  private def rewriteLocked(spark: SparkSession, table: String,
                            meta: TableSpec,
                            dir: Path, fs: FileSystem,
                            select: Seq[FileStatus] => Boolean,
                            bucketIds: Option[Set[Int]],
                            transform: DataFrame => DataFrame,
                            op: String): Int = {
    // reconcile BEFORE choosing inputs: a crashed maintenance op's
    // uncommitted staging files are on disk but unlisted, and folding
    // them into this op's read (e.g. a compaction after a crashed
    // reassign) would commit a mix of two generations
    reconcileOrphans(spark, table, dir, fs)
    val readSet = snapshotReadSet(fs, dir)
    val all = listDataFiles(fs, dir)
    val listed = readSet.listed
    val dataFiles = listed match {
      case Some(names) => all.filter(f => names(f.getPath.getName))
      case None => all
    }
    // group the data files by the writer's bucket-id convention
    // ([[bucketIdOfName]]); anything unparseable is left untouched
    val byBucket = dataFiles.groupBy(f => bucketIdOfName(f.getPath.getName))
      .collect { case (Some(b), fsOfB) => b -> fsOfB }
    // EXPLICIT bucket targets transform even when the bucket has no
    // files yet: an additive rewrite (repairGroups/rebuildGroups
    // unioning fresh rows in) must stage its rows for a file-less
    // bucket too — silently skipping it would drop the healed group
    // while reporting success. Count-triggered selection (compaction)
    // keeps its files-only view.
    val chosen: Map[Int, Seq[FileStatus]] = bucketIds match {
      case Some(ids) => ids.map(b => b -> byBucket.getOrElse(b, Seq.empty))
        .toMap
      case None => byBucket.filter { case (_, fsOfB) => select(fsOfB) }
    }
    if (chosen.isEmpty) {
      // nothing to rewrite: the table is clean after the reconcile
      // above — re-mark it so the frequent no-op compaction (every
      // compactEvery-th gate batch) doesn't leave the next probe's
      // load() re-listing the dir
      if (!appendInFlight(dir.toString))
        readManifest(fs, dir).foreach { case (gen, _) =>
          verifiedGenerations.put(dir.toString, gen)
        }
      return 0
    }
    val oldFiles = chosen.values.flatten.toSeq
    val base =
      if (oldFiles.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
      else spark.read.schema(meta.schema)
        .parquet(oldFiles.map(_.getPath.toString): _*)
    val rows = transform(base)
    stageSwapCommit(spark, table, meta, dir, fs, rows, oldFiles,
      legacyBase = dataFiles.map(_.getPath.getName).toSet, readSet, op)
    chosen.size
  }

  /** What a maintenance op's read is based on, captured at op start
    * (under the maintenance lock, post-reconcile): the parent
    * generation and the foreign-commit counter at that instant — the
    * optimistic-CAS token [[stageSwapCommit]] validates at commit.
    * Capturing also SYNCS [[lastSeenGen]] to the parent: a foreign
    * generation committed BEFORE this op started is the op's
    * legitimate base, not a conflict. */
  private final case class ReadSet(parentGen: Long,
                                   listed: Option[Set[String]],
                                   foreignSeen: Long)

  private def snapshotReadSet(fs: FileSystem, dir: Path): ReadSet =
    withManifestLock(dir.toString) {
      val m = readManifest(fs, dir)
      // sync to the RAW highest manifest file (torn ones included —
      // commit targets must never collide with an existing file name)
      val rawMax = manifestEntries(fs, dir).map(_._1).maxOption.getOrElse(0L)
      lastSeenGen.put(dir.toString, rawMax)
      ReadSet(m.map(_._1).getOrElse(0L), m.map(_._2),
        foreignCommitCount(dir.toString))
    }

  /** Stage `rows` through a same-bucket-spec staging table, rename the
    * staged files into `dir` (still INVISIBLE — unlisted), commit by
    * writing the next generation manifest (old file names out, new in,
    * entries appended concurrently preserved), then delete the old
    * files. A crash before the manifest write leaves the old
    * generation served and the staged files as reconcilable orphans;
    * after it, the new generation is served and the old files are the
    * orphans. Returns the number of staged data files. */
  private def stageSwapCommit(spark: SparkSession, table: String,
                              meta: TableSpec,
                              dir: Path, fs: FileSystem, rows: DataFrame,
                              oldFiles: Seq[FileStatus],
                              legacyBase: Set[String],
                              readSet: ReadSet, op: String): Int = {
    val bucketSpec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed"))
    // carry the table's parquet writer options (bloom filters etc.)
    // into the staging write: a maintenance rewrite must not silently
    // strip the file features reads prune on
    val parquetOpts = meta.writeOptions
      .filter { case (k, _) => k.startsWith("parquet.") }
    // the new generation's rows are clustered and written as plain
    // parquet into a staging SUBDIR of the table dir, under Spark's
    // bucketed naming (partition index == bucket id): staged files stay
    // invisible until the rename+commit below.
    val stage = new Path(dir,
      s"_graft_rewrite_stage-${java.util.UUID.randomUUID()}")
    val nNew =
      try profPhase(s"swap($table) rename+commit") {
        val newFiles = writeClustered(rows, meta.schema,
          bucketSpec.bucketColumnNames, bucketSpec.numBuckets,
          bucketSpec.sortColumnNames, parquetOpts, fs, stage,
          renameInto = None)
        // renames, commit, AND old-file deletes all inside the manifest
        // lock: staged files are therefore never visible-but-unlisted
        // to another lock-holder (a cold-cache load's reconcile pass
        // could otherwise delete a LIVE op's staged files), and no
        // reader under the lock can observe the between-steps state
        withManifestLock(dir.toString) {
          // optimistic CAS (see the object scaladoc): this op's read
          // set is `readSet.parentGen` plus this process's own
          // interleaved commits (each of which advanced lastSeenGen
          // under this same lock). A raw on-disk generation beyond
          // that — or a foreign generation any in-process append
          // observed since op start — means another maintenance
          // writer raced this op's read-modify-write: abort with the
          // old generation intact (staged files reconcile as orphans)
          // BEFORE any rename makes the swap ambiguous.
          val diskGen = manifestEntries(fs, dir).map(_._1).maxOption
            .getOrElse(0L)
          val expected = Option(lastSeenGen.get(dir.toString))
            .map(_.longValue).getOrElse(readSet.parentGen)
          if (diskGen != expected ||
              foreignCommitCount(dir.toString) != readSet.foreignSeen)
            throw new ConcurrentMaintenanceException(
              s"maintenance commit on $table aborted: generation " +
                s"$diskGen on disk was not written by this process " +
                s"(read set was generation ${readSet.parentGen}) — a " +
                "concurrent maintenance writer committed first; the " +
                "table still serves the winner's generation (this " +
                "op's staging is dropped — nothing was renamed in)")
          newFiles.foreach { case (name, from) =>
            val target = new Path(dir, name)
            require(fs.rename(from, target), s"rename to $target failed")
          }
          val oldNames = oldFiles.map(_.getPath.getName).toSet
          val newNames = newFiles.map(_._1).toSet
          val base = readManifest(fs, dir).map(_._2).getOrElse(legacyBase)
          // superseded files retire (move) instead of dying when the
          // table retains history; generations that fell out of the
          // window are pruned here so history stays bounded at the
          // retention setting without an explicit vacuum
          val retention = retentionOf(fs, dir)
          val gen = writeNextManifest(fs, dir, base -- oldNames ++ newNames,
            pinnedGen = Some(diskGen + 1), retention = Some(retention),
            op = op, prevNames = Some(base))
          retireFiles(fs, dir, oldNames.toSeq.sorted, retention)
          if (retention > 1) vacuumLocked(fs, dir, retention)
          verifiedGenerations.put(dir.toString, gen)
        }
        newFiles.size
      } finally { fs.delete(stage, true); () }
    // drop the cached file listing so the next scan sees the new layout
    profPhase(s"swap($table) refresh+stamp") {
      spark.catalog.refreshTable(table)
      FileStats.stampIfEnabled(spark, table, dir)
    }
    nNew
  }

  /** Delete on-disk `part-` files the manifest does not list — crash
    * leftovers of an interrupted maintenance op (either its
    * uncommitted staging or the superseded generation it didn't get to
    * delete). Everything — the append-in-flight check, the manifest
    * read, the dir listing, the deletes — happens INSIDE the manifest
    * lock on fresh reads, mirroring load()'s slow path: a stale
    * caller-side snapshot could otherwise race a concurrent append
    * (append writes files, this op snapshots, append commits and
    * appendEnd runs, then a stale-snapshot reconcile would delete the
    * append's now-COMMITTED files and corrupt the table). Skipped
    * while an append is in flight in this process: an append's files
    * are legitimately unlisted until its commit. */
  private def reconcileOrphans(spark: SparkSession, table: String,
                               dir: Path, fs: FileSystem): Unit =
    withManifestLock(dir.toString) {
      if (!appendInFlight(dir.toString)) {
        sweepStageDirs(fs, dir)
        for ((gen, names) <- readManifest(fs, dir)) {
          val extra = listDataFiles(fs, dir)
            .filterNot(f => names(f.getPath.getName))
          if (extra.nonEmpty) {
            reconcileExtras(fs, dir, gen, extra.map(_.getPath.getName))
            spark.catalog.refreshTable(table)
          }
        }
      }
    }

  /** Delete staging SUBDIRS a crashed direct write left behind — the
    * subdir analogue of the unlisted-part-file orphans (staged files
    * live in `_graft_*_stage-<uuid>` dirs until their commit renames
    * them into place, so a crash strands the whole dir). Swept only
    * where orphan files are swept: under the manifest lock with no
    * in-process append in flight; cross-process the single-writer /
    * single-maintenance-writer contracts apply, exactly as for file
    * orphans. */
  private def sweepStageDirs(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory &&
          (s.getPath.getName.startsWith("_graft_rewrite_stage-") ||
            s.getPath.getName.startsWith("_graft_append_stage-")))
        .foreach(s => fs.delete(s.getPath, true))

  // ---- commit history --------------------------------------------------

  private val HistoryDirName = "_graft_history"
  private val HistoryMagic = "graft-history-v1"

  private def historyDir(dir: Path): Path = new Path(dir, HistoryDirName)

  /** Best-effort per-commit audit record — the DESCRIBE HISTORY
    * primitive: one tiny file per generation
    * (`_graft_history/<gen>`: op kind, UTC timestamp, files
    * added/removed vs the previous generation), written at each
    * manifest commit. DERIVED metadata like the stats sidecar, never
    * part of the commit protocol: a failed write is swallowed (the
    * commit already succeeded), a torn record parses as absent, and
    * nothing reads history on any hot path. The records live in a
    * SUBDIRECTORY so the per-commit file never joins the table dir's
    * hot listings (manifest resolution and data-file scans filter on
    * `isFile`, so the dir costs one entry however long the history
    * grows). History is NEVER pruned — vacuum drops generations'
    * manifests and files, but what happened remains auditable (row
    * deltas of a retained span stay derivable via
    * [[diffGenerations]]); [[foldHistory]] keeps the record COUNT
    * bounded by folding the per-commit files into one, losslessly. */
  private def writeHistory(fs: FileSystem, dir: Path, gen: Long,
                           op: String, added: Int, removed: Int): Unit =
    try {
      val hd = historyDir(dir)
      if (!fs.exists(hd)) fs.mkdirs(hd)
      val ts = java.time.Instant.now().toString
      val out = fs.create(new Path(hd, gen.toString), true)
      try out.write(s"$HistoryMagic\n$gen $op $ts $added $removed\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  /** One parsed history record: (generation, op, committed_at ISO-8601
    * UTC, files added, files removed). Torn or garbage records read as
    * absent. */
  private def parseHistory(fs: FileSystem,
                           p: Path): Option[(Long, String, String, Int, Int)] =
    try {
      val in = fs.open(p)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq match {
        case HistoryMagic +: v +: _ =>
          v.trim.split(" ") match {
            case Array(g, op, ts, a, r) =>
              for {
                gl <- g.toLongOption
                ai <- a.toIntOption
                ri <- r.toIntOption
              } yield (gl, op, ts, ai, ri)
            case _ => None
          }
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The table's commit history, oldest first: (generation, op,
    * committed_at, files_added, files_removed) — what each generation
    * WAS, the first thing an operator reaches for when a table looks
    * wrong and the natural input for retention policy. Reads the
    * history sidecar directory (O(commits) tiny files — the audit
    * path, not a hot one); commits that predate the history layer, or
    * whose best-effort record failed, are simply absent. The
    * `committed_at` column is wall-clock and therefore NOT
    * deterministic across replays — exclude it from any
    * determinism-checked output. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    historyRecords(spark, table)
      .toDF("generation", "op", "committed_at", "files_added",
        "files_removed")
  }

  private[sources] def historyRecords(spark: SparkSession, table: String)
      : Seq[(Long, String, String, Int, Int)] = {
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    val hd = historyDir(loc)
    if (!fs.exists(hd)) Seq.empty
    else {
      val all = fs.listStatus(hd).toSeq.filter(_.isFile)
      val folded = all
        .filter(_.getPath.getName.startsWith(FoldedHistoryPrefix))
        .flatMap(f => parseFoldedHistory(fs, f.getPath))
      val loose = all
        .filter(_.getPath.getName.toLongOption.isDefined)
        .flatMap(f => parseHistory(fs, f.getPath))
      // per-generation dedup (a crash between a fold's write and its
      // deletes leaves both copies); LOOSE wins — on a replaced table
      // generations restart and the loose record is the newer truth
      (folded ++ loose).map(r => r._1 -> r).toMap.values.toSeq
        .sortBy(_._1)
    }
  }

  private val FoldedHistoryPrefix = "folded-"

  /** One folded file's records: magic line + one record line per
    * generation ([[parseHistory]]'s line format). A torn trailing
    * line parses as absent; a file without the magic reads empty —
    * either way the fold that wrote it deletes its inputs only after
    * a successful close, so the records survive somewhere. */
  private def parseFoldedHistory(fs: FileSystem, p: Path)
      : Seq[(Long, String, String, Int, Int)] =
    try {
      val in = fs.open(p)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq match {
        case HistoryMagic +: lines =>
          lines.flatMap(_.trim.split(" ") match {
            case Array(g, op, ts, a, r) =>
              for {
                gl <- g.toLongOption
                ai <- a.toIntOption
                ri <- r.toIntOption
              } yield (gl, op, ts, ai, ri)
            case _ => None
          })
        case _ => Seq.empty
      }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Fold the loose per-commit history records into ONE folded file
    * so the audit dir's file count stays bounded on run-forever
    * tables (without folding it grows one tiny file per commit,
    * forever): all loose records EXCEPT the newest — [[describe]]'s
    * head-record read stays a single named-file open — merge with any
    * existing folded file into a FRESH `folded-<maxGen>[.n]` file (an
    * existing folded name is never truncated: after a crash
    * mid-delete it can hold the ONLY copy of early records), then the
    * folded inputs delete. No-op (one dir listing) while at most
    * `ifMoreThan` loose files exist. Crash-safe the audit way: a
    * crash between the folded write and the input deletes leaves
    * duplicates that [[history]] dedups by generation; a torn folded
    * write leaves the inputs in place (they delete only after a
    * successful close). Lossless — [[history]] serves folded + loose
    * identically. Returns the number of records folded (0 = no-op). */
  def foldHistory(spark: SparkSession, table: String,
                  ifMoreThan: Int = 0): Int = {
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    val hd = historyDir(loc)
    if (!fs.exists(hd)) return 0
    val all = fs.listStatus(hd).toSeq.filter(_.isFile)
    val loose = all
      .filter(_.getPath.getName.toLongOption.isDefined)
      .sortBy(_.getPath.getName.toLong)
    if (loose.size <= math.max(ifMoreThan, 1)) return 0
    val foldable = loose.dropRight(1) // the head record stays loose
    val oldFolded = all
      .filter(_.getPath.getName.startsWith(FoldedHistoryPrefix))
    val recs = (oldFolded.flatMap(f => parseFoldedHistory(fs, f.getPath))
      ++ foldable.flatMap(f => parseHistory(fs, f.getPath)))
      .map(r => r._1 -> r).toMap.values.toSeq.sortBy(_._1)
    if (recs.isEmpty) return 0
    // NEVER reuse an existing folded file's name: after a crash
    // mid-delete the old folded file can hold the ONLY copy of early
    // records, and create(overwrite) would truncate it before the new
    // content lands — a torn rewrite then loses them forever. A fresh
    // name keeps every existing copy intact until the new file closed.
    val base = s"$FoldedHistoryPrefix${recs.map(_._1).max}"
    val target = (Iterator(base) ++ Iterator.from(1).map(i => s"$base.$i"))
      .map(n => new Path(hd, n)).find(p => !fs.exists(p)).get
    val out = fs.create(target, false)
    try out.write((HistoryMagic +: recs.map { case (g, op, ts, a, r) =>
      s"$g $op $ts $a $r" }).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // only what this fold READ is deleted — a record committed after
    // the listing stays loose for the next fold
    (oldFolded.map(_.getPath).filterNot(_ == target) ++
      foldable.map(_.getPath)).foreach(p => fs.delete(p, false))
    recs.size
  }

  // ---- retention / time travel / vacuum ------------------------------

  private val RetentionName = "_graft_retention"
  private val RetentionMagic = "graft-retention-v1"
  private val RetiredDirName = "_graft_retired"

  private def retiredDir(dir: Path): Path = new Path(dir, RetiredDirName)

  /** Keep the last `n` generations readable via [[loadAsOf]]: from
    * the next maintenance commit on, superseded data files stay IN
    * PLACE (unlisted by newer manifests — invisible to every
    * manifest-resolved read, which is the default [[load]] path), and
    * generations that fall out of the window are pruned automatically
    * at each maintenance commit. In-place retention is also what
    * makes pinned snapshot frames stable across racing commits — see
    * [[retireFiles]]. n = 1 restores the default delete-at-commit
    * behavior (files already retired stay until [[vacuum]]). The
    * setting is a small marker file beside the manifests — per-table,
    * crash-safe (rewritten atomically enough for a single small PUT;
    * a torn write falls back to the default), and read at each commit
    * rather than cached so cross-process writers converge on the next
    * op. */
  def setRetention(spark: SparkSession, table: String, n: Int): Unit = {
    require(n >= 1, "retention must be >= 1 generation")
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    withManifestLock(loc.toString) {
      writeMarker(fs, loc, RetentionName, RetentionMagic, n.toString)
    }
  }

  /** ONE write shape for the small magic-headed marker files beside
    * the manifests (retention setting, replication sync bookmark,
    * stream-ingest owner): magic line + value line, single small PUT. */
  private[graft] def writeMarker(fs: FileSystem, dir: Path, name: String,
                                 magic: String, value: String): Unit = {
    val out = fs.create(new Path(dir, name), true)
    try out.write(s"$magic\n$value\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** ONE parse for the marker files: magic-checked, a torn or garbage
    * read falls back to None — a fix to marker semantics lands here
    * for every marker at once. */
  private[graft] def readMarker(fs: FileSystem, dir: Path, name: String,
                                magic: String): Option[String] =
    try {
      val p = new Path(dir, name)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes =
          try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
          finally in.close()
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq match {
          case `magic` +: v +: _ => Some(v.trim)
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The table's retention setting (default 1 — delete at commit). */
  private def retentionOf(fs: FileSystem, dir: Path): Int =
    readMarker(fs, dir, RetentionName, RetentionMagic)
      .flatMap(_.toLongOption).map(_.toInt).filter(_ >= 1).getOrElse(1)

  /** RAISE retention to at least `n` — never lower it: protocols that
    * need a floor (the pair pointer's lagging-reader window) must not
    * clobber a HIGHER retention the operator configured for time
    * travel or downstream followers. No-op (one marker read) when the
    * setting already satisfies the floor. */
  def ensureRetentionAtLeast(spark: SparkSession, table: String,
                             n: Int): Unit = {
    require(n >= 1, "retention must be >= 1 generation")
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    withManifestLock(loc.toString) {
      if (retentionOf(fs, loc) < n)
        writeMarker(fs, loc, RetentionName, RetentionMagic, n.toString)
    }
  }

  /** Retire superseded HOT files: with history retained they stay IN
    * PLACE — data files are immutable at immutable paths from creation
    * until they fall out of every retained generation ([[vacuumLocked]]
    * collects them then). Leaving them put (rather than moving them
    * into a retired dir, the pre-round-12 design) is what makes a
    * pinned snapshot frame ([[load]]/[[loadAsOf]]) stable across
    * racing commits: a move would break the explicit paths an
    * in-flight scan resolved. The directory therefore holds MULTIPLE
    * generations when retention > 1 — fine for every manifest-resolved
    * read; a plain directory scan is only correct at default
    * retention. With retention 1, superseded files delete at commit
    * (the single-generation-dir invariant holds). */
  private def retireFiles(fs: FileSystem, dir: Path, names: Seq[String],
                          retention: Int): Unit =
    if (names.nonEmpty && retention <= 1)
      names.foreach(n => fs.delete(new Path(dir, n), false))

  /** File names listed by any VALID manifest OTHER than generation
    * `headGen` — the set reconciliation must retire rather than delete
    * when the table retains history (e.g. the superseded generation a
    * crashed commit did not get to retire). */
  private def retainedElsewhere(fs: FileSystem, dir: Path,
                                headGen: Long): Set[String] =
    manifestEntries(fs, dir).filter(_._1 != headGen)
      .flatMap { case (_, p) => parseManifest(fs, p) }
      .flatten.toSet

  /** Keep (in place) each `extra` hot file that an older retained
    * generation still lists; DELETE the rest (uncommitted staging
    * orphans). With the default retention the elsewhere set is empty —
    * every extra is an orphan. */
  private def reconcileExtras(fs: FileSystem, dir: Path, headGen: Long,
                              extra: Seq[String]): Unit =
    if (extra.nonEmpty) {
      val keep =
        if (retentionOf(fs, dir) <= 1) Set.empty[String]
        else retainedElsewhere(fs, dir, headGen)
      extra.filterNot(keep)
        .foreach(n => fs.delete(new Path(dir, n), false))
    }

  /** One operator-facing snapshot of a governed table's state: the
    * head generation, every retained generation, the retention
    * setting, live file count/bytes (the head's manifest-listed
    * files), files on disk NO retained generation lists (crash
    * orphans awaiting reconcile, or another process's in-flight
    * staging), the pair pointer if the table governs one, the head
    * commit's op kind + UTC timestamp (from the history sidecar —
    * absent for pre-history commits), and `pairLag` = head generation
    * − pointer owner generation: the monitoring hook for a writer
    * that died inside a pair commit's window (a pointer lagging by
    * more than the write protocol's commits-per-batch — 2 for every
    * family here — means no [[graft.sim.IncrementalPq.commitPair]]
    * closed the last batch; at 3+ the next probe fails the
    * retention-3 read, so alert at 2). */
  final case class TableState(generation: Long, generations: Seq[Long],
                              retention: Int, liveFiles: Int,
                              liveBytes: Long, unreferencedFiles: Int,
                              pairPointer: Option[(Long, Long)],
                              lastOp: Option[String] = None,
                              lastCommitAt: Option[String] = None,
                              pairLag: Option[Long] = None)

  /** [[TableState]] of `table` — METADATA ONLY (one dir listing +
    * the retained manifests' parses under the manifest lock; no data
    * file is opened), so it is safe to poll from monitoring at any
    * frequency. The `unreferencedFiles` count is the crash-debris
    * signal: persistently nonzero without in-flight work means a
    * crashed op's staging awaits the next load()/maintenance
    * reconcile. */
  def describe(spark: SparkSession, table: String): TableState = {
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    withManifestLock(loc.toString) {
      val entries = manifestEntries(fs, loc)
      val valid = entries.flatMap { case (g, p) =>
        parseManifest(fs, p).map(g -> _)
      }
      val head = valid.lastOption
      val all = listDataFiles(fs, loc)
      val headNames = head.map(_._2).getOrElse(all.map(_.getPath.getName).toSet)
      val referenced = valid.flatMap(_._2).toSet
      val headGen = head.map(_._1).getOrElse(0L)
      val pair = readMarker(fs, loc, PairName, PairMagic)
        .flatMap(parsePairValue)
      val headRecord = head.flatMap { case (g, _) =>
        parseHistory(fs, new Path(historyDir(loc), g.toString))
      }
      TableState(
        generation = headGen,
        generations = valid.map(_._1),
        retention = retentionOf(fs, loc),
        liveFiles = all.count(f => headNames(f.getPath.getName)),
        liveBytes = all.filter(f => headNames(f.getPath.getName))
          .map(_.getLen).sum,
        unreferencedFiles =
          if (valid.isEmpty) 0
          else all.count(f => !referenced(f.getPath.getName)),
        pairPointer = pair,
        lastOp = headRecord.map(_._2),
        lastCommitAt = headRecord.map(_._3),
        pairLag = pair.map { case (go, _) => headGen - go })
    }
  }

  /** The table's readable generations, oldest first — every manifest
    * still on disk that parses as valid. */
  def generations(spark: SparkSession, table: String): Seq[Long] = {
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    withManifestLock(loc.toString) {
      manifestEntries(fs, loc)
        .filter { case (_, p) => parseManifest(fs, p).isDefined }
        .map(_._1)
    }
  }

  /** TIME-TRAVEL read: the table EXACTLY as generation `gen` committed
    * it, as long as that generation is still retained ([[setRetention]]
    * / [[vacuum]]). Resolution goes through the generation's manifest
    * to an EXPLICIT file list — data files are immutable and stay in
    * place for as long as any retained generation lists them (see
    * [[retireFiles]]), so the snapshot is fully stable under further
    * appends and maintenance commits inside the retention window; only
    * a vacuum that drops the generation can invalidate it. The
    * returned frame carries the table's schema but NOT its bucket
    * metadata (audit, diff, and recovery reads — the time-travel
    * consumers — do not need co-located joins; the head-generation
    * [[load]] keeps the bucket spec). */
  def loadAsOf(spark: SparkSession, table: String, gen: Long): DataFrame = {
    val meta = spec(spark, table)
    val dir = meta.location
    val fs = fileSystemOf(spark, dir)
    val paths = withManifestLock(dir.toString) {
      resolvePaths(fs, dir, table, gen,
        listedOf(fs, dir, table, gen).toSeq.sorted)
    }
    readExplicit(spark, meta.schema, paths)
  }

  /** Generation `gen`'s listed file names, or a loud error naming what
    * IS retained. Callers hold the manifest lock. */
  private def listedOf(fs: FileSystem, dir: Path, table: String,
                       gen: Long): Set[String] =
    manifestEntries(fs, dir).collectFirst {
      case (g, p) if g == gen => parseManifest(fs, p)
    }.flatten.getOrElse {
      val have = manifestEntries(fs, dir)
        .filter { case (_, p) => parseManifest(fs, p).isDefined }
        .map(_._1)
      throw new IllegalArgumentException(
        s"$table has no readable generation $gen — retained: " +
          s"[${have.mkString(", ")}] (vacuumed, never committed, or " +
          "retention was never enabled; see Bucketed.setRetention)")
    }

  /** Resolve listed names to concrete paths (hot dir for files the
    * current generation still shares, retired dir for superseded
    * ones). Callers hold the manifest lock. */
  private def resolvePaths(fs: FileSystem, dir: Path, table: String,
                           gen: Long, names: Seq[String]): Seq[String] = {
    val hot = dataFileNames(fs, dir)
    val retired =
      if (fs.exists(retiredDir(dir)))
        fs.listStatus(retiredDir(dir)).toSeq.filter(_.isFile)
          .map(_.getPath.getName).toSet
      else Set.empty[String]
    names.map { n =>
      if (hot(n)) new Path(dir, n).toString
      else if (retired(n)) new Path(retiredDir(dir), n).toString
      else if (retentionOf(fs, dir) <= 1) throw new IllegalStateException(
        s"$table generation $gen is no longer readable: default " +
          "retention deletes superseded files at each commit (its " +
          "manifest survives only as torn-write fallback) — " +
          "setRetention(n > 1) BEFORE the commits whose history you " +
          "want to read")
      else throw new IllegalStateException(
        s"$table generation $gen lists $n but the file is neither " +
          "hot nor retired — vacuumed while this generation's " +
          "manifest survived, or removed outside the maintenance ops")
    }
  }

  private def readExplicit(spark: SparkSession,
                           schema: org.apache.spark.sql.types.StructType,
                           paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)

  /** The current generation pinned as an explicit-file-list read.
    * Since round 12 this is [[loadAt]] of the head: the common case
    * serves the bucket-spec-preserving cached snapshot frame (plans
    * identical to [[load]] — which is itself snapshot-resolved now),
    * and a commit racing the head lookup degrades to the explicit
    * [[loadAsOf]] list, still pinned to the looked-up generation. */
  def loadSnapshot(spark: SparkSession, table: String): DataFrame =
    loadAt(spark, table, currentGeneration(spark, table))

  /** Generation `gen` as a read, planning the BEST available shape:
    * when `gen` is the current head (the steady-state case for
    * pair-pointer readers) this is the bucket-spec-preserving
    * snapshot frame — plans identical to every head read; otherwise
    * [[loadAsOf]]'s explicit file list (a pointer lagging its table
    * inside a crash window — correctness over plan shape, and only
    * until the next pair commit). NO re-resolution after the head
    * check: the frame served is pinned to `gen` by construction
    * ([[snapshotFrame]] resolves gen's own manifest even when a
    * commit races the check), so a reader can never be handed a
    * NEWER generation than it asked for — the mixed-pair window the
    * pair pointer exists to close. */
  def loadAt(spark: SparkSession, table: String, gen: Long): DataFrame = {
    val meta = spec(spark, table)
    val loc = meta.location
    verifyOnce(spark, table, loc)
    if (verifiedGenerations.getOrDefault(loc.toString, -1L) == gen)
      snapshotFrame(spark, table, meta, gen)
    else if (gen == 0L &&
        withManifestLock(loc.toString) {
          readManifest(fileSystemOf(spark, loc), loc)
        }.isEmpty)
      // generation 0 of a PRE-MANIFEST table: there is no manifest to
      // resolve — serve the dir scan load() documents for this layout
      // (loadAsOf would throw 'no readable generation 0')
      spark.table(table)
    else loadAsOf(spark, table, gen)
  }

  // ---- two-table pair pointer -----------------------------------------

  private val PairName = "_graft_pair"
  private val PairMagic = "graft-pair-v1"

  /** TWO-TABLE atomic commit: one marker (a single small PUT in the
    * OWNER table's dir) names the generation PAIR readers should
    * serve — `(owner's generation, companion's generation)`. The two
    * tables keep committing their own atomic generations; the pointer
    * is what makes the PAIR flip atomically: a reader that resolves
    * both tables through it can never observe one table's new
    * generation with the other's old one, whatever crash interleaving
    * the writer died in — the window the IVF-PQ codes⊆vn ordering
    * contract and the BM25 stats generation-binding heal used to
    * compensate for. Writers commit table A, commit table B, then
    * write the pointer LAST; retention ≥ the write protocol's commit
    * count per batch keeps a lagging pointer readable
    * ([[setRetention]]; appends never delete files, so only
    * rewrite-based maintenance needs the window). A torn pointer
    * write parses as absent — callers fall back to head reads. */
  private[graft] def writePairPointer(spark: SparkSession, owner: String,
                                      ownerGen: Long,
                                      companionGen: Long): Unit = {
    val dir = spec(spark, owner).location
    val fs = fileSystemOf(spark, dir)
    withManifestLock(dir.toString) {
      writeMarker(fs, dir, PairName, PairMagic, s"$ownerGen $companionGen")
    }
  }

  private def parsePairValue(v: String): Option[(Long, Long)] =
    v.split(" ").toSeq match {
      case Seq(a, b) =>
        for (x <- a.toLongOption; y <- b.toLongOption) yield (x, y)
      case _ => None
    }

  /** The owner's pair pointer: (owner generation, companion
    * generation), absent when never written or torn. */
  private[graft] def readPairPointer(spark: SparkSession,
                                     owner: String): Option[(Long, Long)] = {
    val dir = spec(spark, owner).location
    val fs = fileSystemOf(spark, dir)
    readMarker(fs, dir, PairName, PairMagic).flatMap(parsePairValue)
  }

  /** CHANGE-DATA read: the row-level delta between two retained
    * generations, computed from ONLY the files the two manifests
    * disagree on — rows in files both generations share are provably
    * unchanged and never read, so a small append/compact/delete diffs
    * at O(changed files), not O(table). Multiset semantics via
    * exceptAll (duplicate rows carry their multiplicity): `insert`
    * rows are in `toGen` but not `fromGen`, `delete` rows the
    * reverse — a pure rewrite (compaction) diffs empty. Output: the
    * table's columns plus a `change` column. The shuffle is over the
    * changed files' rows only. */
  def diffGenerations(spark: SparkSession, table: String,
                      fromGen: Long, toGen: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val meta = spec(spark, table)
    val dir = meta.location
    val fs = fileSystemOf(spark, dir)
    val (fromPaths, toPaths) = withManifestLock(dir.toString) {
      val from = listedOf(fs, dir, table, fromGen)
      val to = listedOf(fs, dir, table, toGen)
      (resolvePaths(fs, dir, table, fromGen, (from -- to).toSeq.sorted),
        resolvePaths(fs, dir, table, toGen, (to -- from).toSeq.sorted))
    }
    val fromOnly = readExplicit(spark, meta.schema, fromPaths)
    val toOnly = readExplicit(spark, meta.schema, toPaths)
    toOnly.exceptAll(fromOnly).withColumn("change", lit("insert"))
      .unionByName(
        fromOnly.exceptAll(toOnly).withColumn("change", lit("delete")))
  }

  /** Drop history beyond the newest `retain` VALID generations:
    * delete their manifests and every data file (hot in-place-retired
    * or legacy retired-dir) no kept generation lists. Kept
    * generations' files — the head always among them — are never
    * touched, and a table with no parseable manifest is a loud no-op
    * for file deletion (nothing is provably dead). Runs under the
    * maintenance lock — vacuum IS a maintenance writer, and the
    * single-maintenance-writer contract (object scaladoc) applies
    * CROSS-PROCESS too: a vacuum racing another process's in-flight
    * maintenance op can delete that op's staged-but-uncommitted
    * files, like any reconcile (the in-flight manifest itself is
    * never touched, but its data files are only protected by the
    * contract, not by a lock file — deliberately). Returns
    * (manifests dropped, files deleted). */
  def vacuum(spark: SparkSession, table: String,
             retain: Int = 1): (Int, Int) = {
    require(retain >= 1, "vacuum must retain at least the head generation")
    withMaintenanceLock(spark, table) { (_, dir, fs) =>
      withManifestLock(dir.toString) {
        vacuumLocked(fs, dir, retain)
      }
    }
  }

  /** [[vacuum]]'s core, callers hold both locks. Bounded work: one
    * dir listing + O(manifests on disk) parses. The retain window
    * counts VALID manifests only (a torn one must not consume a slot
    * the retention contract promised to a readable generation), and
    * file deletion runs ONLY when at least one valid manifest is kept
    * — with nothing parseable there is no way to prove any file dead,
    * and deleting on an empty keep-set would wipe the live table (the
    * torn-head / pre-manifest cases). Deletes (a) manifests — valid
    * or torn — OLDER than the oldest kept valid generation (a torn
    * manifest NEWER than it may be another process's in-flight
    * commit: never touched), (b) legacy retired-dir files no kept
    * generation lists, and (c) HOT files no kept generation lists —
    * the in-place-retired files of dropped generations (retire
    * leaves files put; this is their collector). Kept generations'
    * files are never touched. Hot deletion is skipped while an
    * append is in flight in this process: an append's files are
    * legitimately unlisted until its commit. */
  private def vacuumLocked(fs: FileSystem, dir: Path, retain: Int): (Int, Int) = {
    val parsed = manifestEntries(fs, dir).map { case (g, p) =>
      (g, p, parseManifest(fs, p))
    }
    val keep = parsed.filter(_._3.isDefined).takeRight(retain)
    if (keep.isEmpty) return (0, 0) // nothing provable — touch nothing
    val kept = keep.flatMap(_._3).flatten.toSet
    val minKeptGen = keep.head._1
    val drop = parsed.filter(_._1 < minKeptGen)
    drop.foreach { case (_, p, _) => fs.delete(p, false) }
    var deleted = 0
    // A torn manifest NEWER than the kept head may be another
    // process's commit in flight (its staged files are already
    // renamed into the dir, its manifest content still streaming) —
    // the same reason the manifest itself is spared above. Sparing
    // the manifest while sweeping its data files would turn that
    // racing commit into a POISONED table the moment it completes
    // (verifyOnce: "manifest lists files not on disk") instead of a
    // clean winner; and a torn manifest cannot be parsed for the
    // file names to exclude. Parse failure already means "possibly
    // in-flight": skip BOTH file sweeps this pass — the torn
    // manifest falls below the kept WINDOW as valid commits land
    // and the following vacuum collects normally (or it completes
    // and its files become referenced). Deleting nothing is always
    // safe; the debris window is bounded by the retention depth.
    //
    // ">= minKeptGen", NOT "> headKept": writeNextManifest numbers
    // the next generation from ALL manifest names (torn included),
    // so a LATER writer can commit gen torn+1 while the torn
    // manifest is still streaming — the kept head then EXCEEDS the
    // torn gen and a head-only check would sweep the in-flight
    // commit's already-renamed data files (ADVICE, round 13). Any
    // unparseable manifest the drop pass above did not delete is
    // possibly in flight.
    val tornPossiblyInFlight =
      parsed.exists(e => e._1 >= minKeptGen && e._3.isEmpty)
    if (tornPossiblyInFlight) return (drop.size, 0)
    val rd = retiredDir(dir)
    if (fs.exists(rd))
      fs.listStatus(rd).toSeq.filter(_.isFile).foreach { f =>
        if (!kept(f.getPath.getName)) {
          fs.delete(f.getPath, false); deleted += 1
        }
      }
    if (!appendInFlight(dir.toString))
      listDataFiles(fs, dir).foreach { f =>
        if (!kept(f.getPath.getName)) {
          fs.delete(f.getPath, false); deleted += 1
        }
      }
    (drop.size, deleted)
  }

  // ---- generation manifest ------------------------------------------

  private val ManifestName = """^_graft_manifest\.(\d+)$""".r
  private val ManifestMagic = "graft-manifest-v1"

  private def fileSystemOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bucket id from a data file's name (the trailing `_<digits>`
    * before the extension — how Spark's bucketed scan groups files).
    * ONE copy: compaction selection, merge targeting, and the
    * auto-maintenance file profile must all parse the convention the
    * bucketed writer owns. */
  private[sources] def bucketIdOfName(name: String): Option[Int] =
    """.*_(\d+)(?:\..*)?$""".r.findFirstMatchIn(name).map(_.group(1).toInt)

  private def listDataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))

  private def dataFileNames(fs: FileSystem, dir: Path): Set[String] =
    listDataFiles(fs, dir).map(_.getPath.getName).toSet

  private def manifestEntries(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .flatMap(p => p.getName match {
        case ManifestName(g) => Some(g.toLong -> p)
        case _ => None
      })
      .sortBy(_._1)

  /** The highest VALID generation: (gen, listed file names). A torn
    * manifest (crash mid-write — bad magic, bad trailer, short read)
    * is skipped, falling back to the previous generation. */
  private[sources] def readManifest(fs: FileSystem,
                                    dir: Path): Option[(Long, Set[String])] =
    manifestEntries(fs, dir).reverseIterator.flatMap { case (gen, p) =>
      parseManifest(fs, p).map(gen -> _)
    }.nextOption()

  private def parseManifest(fs: FileSystem, p: Path): Option[Set[String]] =
    try {
      val in = fs.open(p)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n", -1).toSeq
      val End = """^END (\d+)$""".r
      lines match {
        case ManifestMagic +: rest if rest.nonEmpty =>
          rest.last match {
            case End(n) if rest.length - 1 == n.toInt =>
              Some(rest.dropRight(1).toSet)
            case _ => None
          }
        case _ => None
      }
    // NonFatal, not just IOException: a torn/garbage manifest must
    // fall back to the previous generation whatever the parse throws
    // (e.g. an END trailer whose digits overflow Int would otherwise
    // escape load() as NumberFormatException)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A maintenance commit lost the optimistic CAS to a concurrent
    * maintenance writer (see the object scaladoc): the table still
    * serves the winner's generation; the loser's staged files
    * reconcile as orphans. Retry the op against the new generation if
    * it is still wanted. */
  final class ConcurrentMaintenanceException(msg: String)
    extends IllegalStateException(msg)

  /** Create the next generation listing `names`; returns the
    * generation written. Callers hold the manifest lock. Without
    * `pinnedGen` (append commits — commutative set-unions) the target
    * is highest-seen + 1 and a foreign generation in the listing is
    * tolerated but COUNTED (see [[foreignCommitCount]]); with it
    * (maintenance commits) the target is exact and the
    * `overwrite = false` create doubles as the listing-lag CAS
    * backstop: two processes racing the same generation → one create
    * fails → that op aborts. `op` labels the commit in the table's
    * history sidecar ([[history]]); `prevNames` is the previous
    * generation's listing when the caller already holds it (every
    * commit path does — passing it avoids a second manifest
    * read+parse per commit purely for the history file deltas). */
  private[sources] def writeNextManifest(fs: FileSystem, dir: Path,
                                         names: Set[String],
                                         pinnedGen: Option[Long] = None,
                                         retention: Option[Int] = None,
                                         op: String = "append",
                                         prevNames: Option[Set[String]] = None): Long = {
    val prev = manifestEntries(fs, dir)
    val prevMax = prev.map(_._1).maxOption.getOrElse(0L)
    Option(lastSeenGen.get(dir.toString)).map(_.longValue).foreach { known =>
      if (prevMax != known && pinnedGen.isEmpty)
        // an append is committing over a generation this process did
        // not write — fine for the append (set-union), but any
        // maintenance op in flight must see the foreign writer
        foreignCommits.computeIfAbsent(dir.toString,
          _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    }
    val gen = pinnedGen.getOrElse(prevMax + 1)
    // the previous generation's listing feeds the history record's
    // file deltas — callers pass what they already read; only a
    // caller without it pays the extra manifest parse
    val prevSet = prevNames.getOrElse(
      readManifest(fs, dir).map(_._2).getOrElse(Set.empty))
    val p = new Path(dir, s"_graft_manifest.$gen")
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException if pinnedGen.isDefined =>
        throw new ConcurrentMaintenanceException(
          s"maintenance commit lost the generation-$gen create race " +
            s"($p already exists): a concurrent maintenance writer " +
            s"committed first — ${e.getMessage}")
      }
    try out.write(
      ((ManifestMagic +: names.toSeq.sorted) :+ s"END ${names.size}")
        .mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    writeHistory(fs, dir, gen, op,
      added = (names -- prevSet).size,
      removed = (prevSet -- names).size)
    lastSeenGen.put(dir.toString, gen)
    // delete superseded manifests beyond the retention window (and
    // ALWAYS keep the immediately-previous generation — a
    // cross-process reader that listed the dir just before this
    // commit can still open what it listed instead of falling back
    // to an unresolved raw scan; in-process readers are serialized
    // by the manifest lock and never race this). A crash mid-delete
    // leaves lower generations the reader's highest-wins resolution
    // ignores. With retention n, the last n manifests survive so
    // [[loadAsOf]] can resolve them.
    // callers that already read the retention marker this commit pass
    // it in — one small-file read per commit, not two (material on
    // object stores)
    val keepPrev =
      math.max(retention.getOrElse(retentionOf(fs, dir)), 2) - 1
    prev.filter(_._1 < gen).dropRight(keepPrev)
      .foreach { case (_, op) => fs.delete(op, false) }
    gen
  }

  /** Highest manifest generation this process has WRITTEN or based a
    * maintenance read on — the optimistic-CAS expectation. Updated
    * only under the manifest lock; bounded like the lock maps. */
  private val lastSeenGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Count of foreign generations observed by this process's APPEND
    * commits (per location) — appends proceed over them, maintenance
    * commits abort on them (see the object scaladoc). */
  private val foreignCommits =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()

  private def foreignCommitCount(location: String): Long =
    foreignCommits.get(location) match {
      case null => 0L
      case c => c.get()
    }

  /** The table's current committed generation (0 for a pre-manifest
    * table): a map lookup when this process has verified the table,
    * one manifest read under the lock otherwise. */
  def currentGeneration(spark: SparkSession, table: String): Long = {
    val loc = spec(spark, table).location
    val key = loc.toString
    // one getOrDefault, not containsKey-then-get: a concurrent
    // maintenance/append start removes the entry between the two
    // calls and the second get would unbox null to 0 (plain get has
    // the same unboxing trap — the map's value type is primitive, so
    // absent must be encoded as a sentinel, and committed generations
    // are always >= 1)
    val cached = verifiedGenerations.getOrDefault(key, -1L)
    if (cached >= 0L) cached
    else {
      val fs = fileSystemOf(spark, loc)
      withManifestLock(key) {
        readManifest(fs, loc).map(_._1).getOrElse(0L)
      }
    }
  }

  /** The head generation and its data files, resolved through the
    * manifest under the lock — the explicit file list stat-based
    * pruning ([[FileStats]]) reads through. Pre-manifest tables list
    * the dir (generation 0). */
  private[sources] def currentDataFiles(
      spark: SparkSession, table: String): (Long, Seq[FileStatus]) = {
    val meta = spec(spark, table)
    val dir = meta.location
    val fs = fileSystemOf(spark, dir)
    withManifestLock(dir.toString) {
      readManifest(fs, dir) match {
        case Some((gen, names)) =>
          (gen, listDataFiles(fs, dir).filter(f => names(f.getPath.getName)))
        case None => (0L, listDataFiles(fs, dir))
      }
    }
  }

  /** Test hook: commit a no-op FOREIGN generation (same file set, next
    * raw generation) WITHOUT updating this process's CAS expectation —
    * simulates a second maintenance process committing concurrently.
    * Returns the generation planted. */
  private[graft] def plantForeignCommit(spark: SparkSession,
                                        table: String): Long = {
    val loc = spec(spark, table).location
    val fs = fileSystemOf(spark, loc)
    val names = readManifest(fs, loc).map(_._2)
      .getOrElse(dataFileNames(fs, loc))
    val gen = manifestEntries(fs, loc).map(_._1).maxOption.getOrElse(0L) + 1
    val p = new Path(loc, s"_graft_manifest.$gen")
    val out = fs.create(p, false)
    try out.write(
      ((ManifestMagic +: names.toSeq.sorted) :+ s"END ${names.size}")
        .mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    gen
  }

  /** Short-critical-section lock serializing manifest read-modify-
    * writes (append commits vs maintenance commits vs load
    * reconciliation) — distinct from the maintenance lock, which is
    * held for a whole op and must NOT block appends. Same in-process
    * design and growth bound as [[maintenanceLocks]]. */
  private val manifestLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]()

  private def withManifestLock[A](location: String)(body: => A): A = {
    val lock = manifestLocks.computeIfAbsent(location,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try body finally lock.unlock()
  }

  /** Per-location generation verified clean (manifest == disk) by this
    * process — the load() hot path's zero-filesystem-call ticket.
    * Valid under the single-WRITER-process contract: every mutation
    * goes through this process's save/maintenance ops, which remove
    * the entry before touching the table and re-put it on clean
    * completion, so a present entry means no crash recovery is
    * pending. A process crash empties the cache with the process —
    * exactly when re-verification is needed. Bounded like the lock
    * maps (one entry per table location). */
  private val verifiedGenerations =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Test hook: simulate a process restart (cold caches) so specs can
    * exercise the crash-recovery reconcile path in-process. */
  private[graft] def forgetVerified(): Unit = verifiedGenerations.clear()

  /** In-flight append counters per table location: while >0, unlisted
    * files may belong to a running append and reconciliation must not
    * delete them. */
  private val appendsInFlight =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()

  private def appendBegin(location: String): Unit =
    appendsInFlight.computeIfAbsent(location,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()

  private def appendEnd(location: String): Unit =
    appendsInFlight.get(location) match {
      case null => ()
      case c => c.decrementAndGet()
    }

  private def appendInFlight(location: String): Boolean =
    appendsInFlight.get(location) match {
      case null => false
      case c => c.get() > 0
    }
}
