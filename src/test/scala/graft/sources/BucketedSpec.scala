package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSuite

/** Proves the bucketed-join claim: joining two tables bucketed+sorted on
  * the join key plans WITHOUT any Exchange (and reconcile over bucketed
  * manifests inherits it). */
class BucketedSpec extends SparkSuite {
  import spark.implicits._

  test("join of co-bucketed tables has no shuffle Exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 5000).map(i => (s"path/$i", s"hash_a_$i")).toDF("path", "md5hash")
      val b = (1 to 5000).map(i => (s"path/$i", s"hash_b_$i")).toDF("path", "md5hash")
      Bucketed.save(a, "graft_bucketed_a", Seq("path"), buckets = 4)
      Bucketed.save(b, "graft_bucketed_b", Seq("path"), buckets = 4)
      val la = Bucketed.load(spark, "graft_bucketed_a")
      val lb = Bucketed.load(spark, "graft_bucketed_b")
        .select(col("path"), col("md5hash").as("hash_b"))
      val joined = la.join(lb, Seq("path"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 5000)
      // the documented reconcile path (full outer on the bucket key)
      // rides the same shape: no Exchange either
      val rec = graft.ops.Relational.reconcile(
        la.select(col("path"), col("md5hash").as("ha")),
        lb.select(col("path"), col("hash_b").as("hb")),
        "path", col("ha"), col("hb"))
      val recPlan = rec.queryExecution.executedPlan.toString
      assert(!recPlan.contains("Exchange"),
        s"bucketed reconcile must not shuffle:\n$recPlan")
      assert(rec.filter(col("status") === "mismatch").count() == 5000)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_b")
    }
  }

  test("Overwrite pre-clear handles db-qualified names and orphan locations") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bdb")
    try {
      val df = (1 to 100).map(i => (s"k$i", i)).toDF("k", "n")
      // plant an orphaned location under the DATABASE's directory (the
      // round-6 advisory scenario: catalog entry gone, files survive)
      val dbLoc = new org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase("graft_bdb").locationUri)
      val orphan = new org.apache.hadoop.fs.Path(dbLoc, "qt")
      val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(orphan)
      val out = fs.create(new org.apache.hadoop.fs.Path(orphan, "junk"))
      out.write(1); out.close()
      Bucketed.save(df, "graft_bdb.qt", Seq("k"), buckets = 2)
      assert(Bucketed.load(spark, "graft_bdb.qt").count() == 100)
      // overwrite of the live qualified table also round-trips
      Bucketed.save(df.limit(10), "graft_bdb.qt", Seq("k"), buckets = 2)
      assert(Bucketed.load(spark, "graft_bdb.qt").count() == 10)
      // malformed names fail loudly instead of mis-deriving a path
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "a.b.c", Seq("k"), buckets = 2)
      }
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "bad`tick", Seq("k"), buckets = 2)
      }
      // the name check runs for every mode, and only Overwrite and
      // Append are accepted
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "a.b.c", Seq("k"), buckets = 2, mode = SaveMode.Append)
      }
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "bad`tick", Seq("k"), buckets = 2, mode = SaveMode.Ignore)
      }
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "graft_bdb.qt", Seq("k"), buckets = 2, mode = SaveMode.Ignore)
      }
      assert(Bucketed.load(spark, "graft_bdb.qt").count() == 10)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_bdb CASCADE")
    }
  }

  /** Bucket count the frame's file relation carries, as planned. */
  private def plannedBuckets(df: DataFrame): Option[Int] =
    df.queryExecution.optimizedPlan.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.bucketSpec.map(_.numBuckets) }.flatten

  /** Per live data file: does its footer carry a bloom filter on `column`? */
  private def bloomPerFile(table: String, column: String): Seq[Boolean] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Bucketed.currentDataFiles(spark, table)._2.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == column)
        .exists(c => r.readBloomFilter(c) != null)
      finally r.close()
    }
  }

  test("Overwrite replaces a table whose bucket count, column type or writer options differ") {
    val table = "graft_bucketed_replace"
    val bloom = Map("parquet.bloom.filter.enabled#u" -> "true",
      "parquet.bloom.filter.expected.ndv#u" -> "1000")
    val longRows = (0 until 60).map(i => (i.toLong, s"u$i")).toDF("k", "u")
    val intRows = (100 until 130).map(i => (i, s"u$i")).toDF("k", "u")
    // after each Overwrite: exactly the new rows and types, the new bucket
    // spec in the plan and in the catalog relation, generation 1, and a
    // compaction that keeps or drops the bloom as the Overwrite asked
    def replacedBy(rows: DataFrame, buckets: Int, opts: Map[String, String]): Unit = {
      Bucketed.save(rows, table, Seq("k"), buckets, writeOptions = opts)
      assert(Bucketed.currentGeneration(spark, table) == 1L)
      val loaded = Bucketed.load(spark, table)
      assert(loaded.schema.map(f => f.name -> f.dataType) ==
        rows.schema.map(f => f.name -> f.dataType))
      assert(loaded.exceptAll(rows).isEmpty && rows.exceptAll(loaded).isEmpty)
      assert(plannedBuckets(loaded).contains(buckets))
      assert(plannedBuckets(spark.table(table)).contains(buckets))
      assert(Bucketed.compactBuckets(spark, table, maxFilesPerBucket = 0) > 0)
      val blooms = bloomPerFile(table, "u")
      assert(blooms.nonEmpty && blooms.forall(_ == opts.nonEmpty),
        s"bloom per compacted file $blooms, requested ${opts.nonEmpty}")
    }
    try {
      Bucketed.save(longRows, table, Seq("k"), 4, writeOptions = bloom)
      replacedBy(longRows.filter(col("k") < 30), 8, bloom) // bucket count
      replacedBy(intRows, 8, bloom)                         // column type
      replacedBy(intRows, 8, Map.empty)                     // bloom off
      replacedBy(intRows, 8, bloom)                         // bloom on again
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("create, Overwrite and Append run no CTAS command and no DROP TABLE") {
    val table = "graft_bucketed_one_path"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.analyzed.treeString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        plans.add(qe.analyzed.treeString)
    }
    val df = (1 to 50).map(i => (s"k$i", i)).toDF("k", "n")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.listenerManager.register(listener)
    try {
      Bucketed.save(df, table, Seq("k"), 4)                 // create
      Bucketed.save(df, table, Seq("k"), 4)                 // Overwrite, same spec
      Bucketed.save(df, table, Seq("k"), 2)                 // Overwrite, new spec
      Bucketed.save(df, table, Seq("k"), 2, mode = SaveMode.Append)
      assert(Bucketed.load(spark, table).count() == 100)
      // listener events arrive in order: once this query's plan is seen,
      // every command the saves ran has been seen too
      spark.range(1).select(lit("graft_sentinel").as("s")).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.contains("graft_sentinel")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(plans.asScala.exists(_.contains("graft_sentinel")))
      val ddl = plans.asScala.filter(p =>
        p.contains("CreateDataSourceTableAsSelectCommand") ||
          p.contains("DropTableCommand"))
      assert(ddl.isEmpty, ddl.mkString("\n"))
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
