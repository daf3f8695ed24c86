package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical-store layout utilities (SURVEY.md §4.3: partition pruning is a
  * storage-layout decision, not an optimizer rule).
  *
  * The reference's "store" is unpartitioned Postgres tables plus a VACUUM
  * task (`Data Collection/Airflow.py:85-90`). At 100 TB the layout IS the
  * index: partition by the columns every dashboard query filters on
  * (platform, day), bucket the big fact tables on their join keys so repeated
  * joins are exchange-free, and compact small files on a cadence.
  */
object Storage {

  /** Write the canonical comment store partitioned by (platform, day):
    * every dashboard query (§2.2 q07–q10) filters on one or both, so scans
    * prune to the matching directories before reading a byte.
    *
    * Rows are first hash-clustered by their output directory into
    * `spark.sql.shuffle.partitions` tasks. Every (platform, day) directory
    * then gets exactly ONE file per write, whatever the input's partitioning
    * (unclustered, each task writes a file into every directory it touches:
    * tasks × directories). A repartition with an explicit count is never
    * coalesced by AQE, so the parquet encode and commit run on that many
    * tasks even when the upstream plan has collapsed to one. One very large
    * directory still lands on a single task. */
  def writePartitionedByDay(df: DataFrame, tsCol: String, path: String,
                            mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("platform"), col("day"))
      .write.mode(mode)
      .partitionBy("platform", "day")
      .parquet(path)

  /** Register a bucketed table: both sides of a repeated equi-join bucketed
    * on the key with the same bucket count ⇒ SortMergeJoin with NO exchange
    * (co-located join). Worth it for fact⋈fact joins re-run every cadence;
    * broadcast still wins for dims. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    sorted: Boolean = true): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a crashed previous run can leave an orphan managed-table dir behind
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet").bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** JDBC sink — parity with the reference's Postgres inserts
    * (`Data Collection/Reddit.py:86-93` executemany loop). Spark-first: the
    * built-in JDBC provider writes one connection per partition with
    * configurable `batchsize`, so the insert loop the reference hand-rolls is
    * a distributed batched write here. Tested against embedded Derby (bundled
    * with Spark); production targets Postgres by URL + driver property. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: SaveMode = SaveMode.Append,
                properties: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode(mode).jdbc(url, table, properties)

  /** JDBC scan twin: predicates/column pruning push into the remote query. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               properties: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, properties)

  /** Streaming JDBC append: checkpointed foreachBatch, each micro-batch one
    * batched `.jdbc` write — the durable streaming twin of the reference's
    * poll→insert loop. Delivery is at-least-once under crash replay; make the
    * table idempotent (key/constraint) or dedup downstream. */
  def jdbcStreamSink(stream: DataFrame, url: String, table: String,
                     checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.stream.Streaming.foreachBatchSink(stream, checkpointDir) { (batch, _) =>
      writeJdbc(batch, url, table)
    }

  /** Small-file compaction — the Parquet analogue of the reference's VACUUM
    * task. Rewrites a prefix into ~`targetFileMB` files; run per partition
    * directory on a cadence after streaming appends. */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = 256): Unit = {
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(tmp)
    swapInto(spark, tmp, path)
  }

  /** Replace `path` with the directory at `tmp`. The delete→rename window is
    * not atomic — a crash between the two leaves only the tmp dir, which is
    * recoverable by hand but invisible to readers; a production store does
    * this under a txn-log commit instead. Shared by both compaction paths
    * so that hardening lands in one place. */
  private def swapInto(spark: SparkSession, tmp: String, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Partition-preserving small-file compaction: rewrite a hive-layout table
    * to ONE file per partition directory. `repartition(partCol)` hashes every
    * partition value to exactly one task, and `partitionBy` on the write
    * re-derives the same directories — so each `day=…/` dir collapses from a
    * streaming run's many per-trigger files to a single scan-friendly file
    * while the layout (and its pruning) survives. The lakehouse OPTIMIZE
    * primitive, minus the txn log. StorageSpec asserts the file-count
    * collapse and row fidelity. For very large single partitions add a salt
    * column to the repartition to split them across several tasks/files.
    */
  def compactPartitioned(spark: SparkSession, path: String, partCol: String): Unit = {
    val df = spark.read.parquet(path)
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    df.repartition(col(partCol))
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp)
    swapInto(spark, tmp, path)
  }

  /** File-level min/max statistics manifest — the data-skipping index the
    * lakehouse txn logs (public Delta/Iceberg docs) persist per file: one
    * row per parquet file with the min/max of the skipping column. Built
    * with ONE distributed pass over the hidden `_metadata.file_path` column;
    * the result is file-count-sized (KBs for a 100 TB table), which is what
    * makes driver-side pruning on it legitimate.
    *
    * In production the manifest is written once per ingest batch and
    * incrementally appended — the build cost amortizes to the files just
    * written, exactly like a txn-log commit. */
  def statsManifest(spark: SparkSession, path: String, statCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"),
        count(lit(1)).as("rows"))

  /** Manifest-pruned range scan: consult the (tiny) manifest on the driver,
    * pass ONLY the overlapping files to the reader, then re-apply the exact
    * predicate. The `collect()` is file-level metadata — the same planning
    * read every lakehouse engine does — never data. Result ≡ full scan +
    * filter; the win is that non-overlapping files are never opened (on a
    * time-clustered layout that is most of them). Returns the pruned frame
    * plus (selected, total) file counts for observability/assertions. */
  def manifestPrunedRange(spark: SparkSession, path: String, statCol: String,
                          lo: Any, hi: Any): (DataFrame, Int, Int) = {
    // one action: every file with its overlap verdict ([min,max] ∩ [lo,hi)),
    // the comparison done by Catalyst so every orderable type works
    val rows = statsManifest(spark, path, statCol)
      .select(col("file"),
        (col("max_v") >= lit(lo) && col("min_v") < lit(hi)).as("keep"))
      .collect()
    // a file whose stat column is entirely NULL has NULL min/max → NULL
    // keep; skipping it is exact (the re-applied predicate drops NULL rows)
    val keepFiles = rows.filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(_.getString(0))
    // zero overlap: an empty path list is a reader error — keep the table's
    // schema via a scan that the always-false filter prunes entirely.
    // basePath pins partition discovery to the table root, so on a
    // hive-partitioned layout the survivors keep their partition columns
    // (a bare file-list read would silently drop them and the pruned
    // frame's schema would diverge from the full-table scan)
    val base =
      if (keepFiles.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.option("basePath", path).parquet(keepFiles.toIndexedSeq: _*)
    val pruned = base.filter(col(statCol) >= lit(lo) && col(statCol) < lit(hi))
    (pruned, keepFiles.length, rows.length)
  }

  /** Commit the table's CURRENT file set to the snapshot log as `version` —
    * the manifest-list shape of the public lakehouse txn logs (each version
    * row set is the FULL snapshot, not a delta, so a read never replays
    * history). One distributed pass over file-path metadata; the log grows
    * by file-count rows per commit — KBs for a 100 TB table.
    *
    * `reset = true` truncates the log first (the create-table commit);
    * subsequent commits append. */
  def commitSnapshot(spark: SparkSession, tablePath: String, logPath: String,
                     version: Long, reset: Boolean = false): Unit =
    spark.read.parquet(tablePath)
      .select(col("_metadata.file_path").as("file")).distinct()
      .withColumn("version", lit(version))
      .write.mode(if (reset) SaveMode.Overwrite else SaveMode.Append)
      .parquet(logPath)

  /** Time-travel read: exactly the files committed at `version`. Files
    * appended to the directory AFTER that commit are invisible — snapshot
    * isolation from the log alone, no data copied. The log read is
    * file-count-sized driver metadata (the same planning read as
    * `manifestPrunedRange`); `basePath` keeps hive partition columns on the
    * survivors. An unknown version reads as empty WITH the table schema. */
  def readSnapshot(spark: SparkSession, tablePath: String, logPath: String,
                   version: Long): DataFrame = {
    val files = spark.read.parquet(logPath)
      .filter(col("version") === version)
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty) spark.read.parquet(tablePath).filter(lit(false))
    else spark.read.option("basePath", tablePath).parquet(files.toIndexedSeq: _*)
  }

  /** Commit a REWRITE: version `version` = the table's current on-disk
    * file set MINUS everything versions ≤ `replacing` referenced — the
    * OPTIMIZE/compaction commit shape of the public lakehouse formats
    * (writers only ADD files; the replaced generation stays on disk, still
    * readable by time travel, until [[vacuum]] reclaims it). Log-metadata
    * arithmetic only. */
  def commitRewrite(spark: SparkSession, tablePath: String, logPath: String,
                    version: Long, replacing: Long): Unit = {
    val current = spark.read.parquet(tablePath)
      .select(col("_metadata.file_path").as("file")).distinct()
    val old = spark.read.parquet(logPath)
      .filter(col("version") <= replacing).select("file").distinct()
    current.join(old, Seq("file"), "left_anti")
      .withColumn("version", lit(version))
      .write.mode(SaveMode.Append).parquet(logPath)
  }

  /** Files reclaimable under a retention horizon: everything the snapshot
    * log has EVER referenced that no version ≥ `retainMinVersion` still
    * references. The lakehouse VACUUM planning step — the reference runs a
    * Postgres VACUUM on a cadence (Data Collection/Airflow.py:85-90); the
    * 100 TB analogue is physical file reclaim, whose correctness contract
    * is "never delete a file a retained snapshot can still read", which is
    * exactly the anti join below (a file listed by BOTH an expired and a
    * retained version survives). Log metadata only — KBs per commit. */
  def vacuumPlan(spark: SparkSession, logPath: String,
                 retainMinVersion: Long): DataFrame = {
    val log = spark.read.parquet(logPath)
    log.filter(col("version") < retainMinVersion).select("file").distinct()
      .join(log.filter(col("version") >= retainMinVersion).select("file").distinct(),
        Seq("file"), "left_anti")
  }

  /** Execute [[vacuumPlan]]: delete the expired files. The driver loop is
    * over FILE PATHS (log metadata, the same scale as every commit/read
    * planning step here — not data); deletes are idempotent (a missing
    * file counts as already reclaimed). Returns the number of files
    * removed. */
  def vacuum(spark: SparkSession, logPath: String,
             retainMinVersion: Long): Long = {
    val files = vacuumPlan(spark, logPath, retainMinVersion)
      .collect().map(_.getString(0))
    val conf = spark.sparkContext.hadoopConfiguration
    var n = 0L
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f).getPath)
      if (p.getFileSystem(conf).delete(p, false)) n += 1
    }
    n
  }

  /** Incremental snapshot diff: ONLY the files added between `fromV` and
    * `toV` — the change-feed consumption shape for append-mostly tables (a
    * downstream job processes what landed since its last run without ever
    * re-reading the base). File-granularity complement of the row-level CDC
    * diff: no old data is opened at all, so the cost tracks the increment,
    * not the table. The file-set difference is driver-side log metadata. */
  def readSnapshotDiff(spark: SparkSession, tablePath: String, logPath: String,
                       fromV: Long, toV: Long): DataFrame = {
    val log = spark.read.parquet(logPath)
    val files = log.filter(col("version") === toV).select("file")
      .except(log.filter(col("version") === fromV).select("file"))
      .collect().map(_.getString(0))
    if (files.isEmpty) spark.read.parquet(tablePath).filter(lit(false))
    else spark.read.option("basePath", tablePath).parquet(files.toIndexedSeq: _*)
  }
}
