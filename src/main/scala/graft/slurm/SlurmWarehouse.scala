package graft.slurm

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}

/** The reference's output artifact is a SQLite file with indexes on
  * (JobIDnostep, Start, User+Start, Time, User+Time)
  * (slurm2sql.py:867-874) plus a `meta_slurm_lastupdate` bookmark
  * (slurm2sql.py:1104-1120). The Spark-native equivalent is a LAYOUT,
  * not an index: parquet partitioned by day-of-Time (partition pruning
  * replaces the Time index), sorted within partitions by (User, Start)
  * (min/max page stats replace the composite indexes), with the
  * bookmark as a one-row parquet.
  *
  * At 100 TB this is the difference between a full scan and pruning to
  * the queried days; writes stay append-only per day so incremental
  * (history-resume) loads never rewrite old partitions.
  */
object SlurmWarehouse {

  /** Write the slurm table to the warehouse layout.
    *
    * Range-partitioned on (time_day, User, Start) rather than
    * hash-partitioned on the day alone: a bare
    * `repartition(col("time_day"))` caps each day at ONE writer task —
    * at 100 TB a single day is ~hundreds of GB and that one task is
    * the whole load's wall — while ranging lets a big day span many
    * tasks (parallel write, several files with NON-overlapping
    * (User, Start) spans → tighter min/max pruning) and lets many
    * tiny days share one task. The writer still splits each task's
    * rows into per-day files via partitionBy. */
  def write(slurm: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    layout(slurm).mode(mode).parquet(s"$path/slurm")

  private def layout(slurm: DataFrame): DataFrameWriter[Row] =
    slurm
      .withColumn("time_day", date_format(
        timestamp_seconds(coalesce(col("Time"), col("Submit"))), "yyyy-MM-dd"))
      .repartitionByRange(col("time_day"), col("User"), col("Start"))
      .sortWithinPartitions(col("time_day"), col("User"), col("Start"))
      .write
      .partitionBy("time_day")

  /** Blind APPEND load: the cheap daily-ingest path for batches known
    * to be disjoint from stored data (a fresh day's jobs, a backfill
    * of a never-loaded range). No stale-day scan, no partition
    * rewrite — each batch just adds its files, which is why it pairs
    * with [[compact]]: appends accrete one file set per batch per
    * touched day, and the off-peak compactor bin-packs them back to
    * target-size sorted files. For batches that may RE-REPORT stored
    * jobs use [[resumeAppend]] (replace semantics) instead. */
  def append(slurm: DataFrame, path: String): Unit =
    write(slurm, path, SaveMode.Append)

  /** The stored table, read with [[schema]] instead of one inferred
    * from the files: building the frame starts no Spark job (no
    * parquet-footer job; the day directories are listed on the driver,
    * see [[graft.Tables.session]]), which on an interactive report call
    * used to cost more than the query itself. Rows and schema equal
    * those of an inferred `spark.read.parquet`; a missing warehouse
    * still fails with PATH_NOT_FOUND, and corrupt files fail when a
    * query reads them. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark)).parquet(s"$path/slurm")

  @volatile private var derived: StructType = _

  /** The warehouse schema: [[SlurmTable.build]]'s output with every
    * field nullable (as parquet reads it back), plus the `time_day`
    * partition column as the date partition inference gives it.
    * Derived once from the build itself, over an empty frame of the
    * sacct string fields, so it cannot drift from what [[write]]
    * stores. */
  private def schema(spark: SparkSession): StructType = {
    if (derived == null) {
      val raw = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(SacctSource.SACCT_FIELDS.map(StructField(_, StringType))))
      derived = StructType(SlurmTable.build(raw).schema.map(_.copy(nullable = true)) :+
        StructField("time_day", DateType))
    }
    derived
  }

  /** Bucketed variant: pre-shuffle by JobIDnostep into fixed buckets at
    * write time, so every job-key operation afterwards — the eff
    * rollup's groupBy, allocation⋈steps joins, update-dedup — reads
    * co-located data and plans WITHOUT an exchange (the Spark
    * equivalent of the reference's JobIDnostep index, paid once at
    * ingest instead of per query). Bucketing metadata lives in the
    * session catalog, hence saveAsTable rather than a bare path; at
    * cluster scale the catalog is the metastore and the bucket count
    * should match the expected parallelism (buckets are the max
    * exchange-free parallelism for downstream consumers). */
  def writeBucketed(slurm: DataFrame, table: String,
                    nBuckets: Int = 32): Unit =
    slurm.write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, "JobIDnostep")
      .sortBy("JobIDnostep")
      .format("parquet")
      .saveAsTable(table)

  /** Persist the resume bookmark (meta_slurm_lastupdate). */
  def updateLastTimestamp(spark: SparkSession, path: String, ts: Long): Unit = {
    import spark.implicits._
    Seq(ts).toDF("update_time").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/meta_lastupdate")
  }

  /** Read the resume bookmark; None if never written. */
  def lastTimestamp(spark: SparkSession, path: String): Option[Long] =
    try Some(spark.read.parquet(s"$path/meta_lastupdate")
      .agg(max(col("update_time"))).collect()(0).getLong(0))
    catch { case _: Exception => None }

  /** Bin-pack the day partitions that daily [[resumeAppend]] /
    * [[HistoryCollector]] loads have fragmented (every batch writes ≥1
    * file per touched day), restoring the (User, Start) within-file
    * sort the layout scaladoc promises — see
    * [[graft.sources.Compaction]] for the mechanics and the 100 TB
    * rationale. Results of every query over [[read]] are unchanged
    * (WarehouseSpec pins rows + eff rollup); the bookmark is
    * untouched. Run off-peak; each day rewrites independently. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              minFiles: Int = 4): Seq[graft.sources.Compaction.Stats] =
    graft.sources.Compaction.compact(spark, s"$path/slurm", "time_day",
      Seq("User", "Start"), targetBytes, minFiles)

  /** Incremental load with the reference's `INSERT OR REPLACE` resume
    * semantics (slurm2sql.py:1023-1027 unique-JobID replace;
    * slurm_timestamp x-5 slack): re-read an inclusive overlap window
    * `>= bookmark - slack`, and REPLACE any prior version of a
    * re-reported JobID instead of appending a stale duplicate.
    *
    * Scale shape: replacement is a partition-level compaction, not a
    * table rewrite — only day partitions that either receive fresh rows
    * or hold a prior version of a fresh JobID are rewritten (dynamic
    * partition overwrite). Stale-candidate days are pruned to
    * `>= day(min Submit of the batch)` (a job's stored row never
    * predates its Submit), so the compaction scan is bounded by the
    * batch's time horizon, never the whole table. */
  def resumeAppend(spark: SparkSession, newRows: DataFrame, path: String,
                   slackS: Long = 5L): Long = {
    val since = lastTimestamp(spark, path)
    val fresh = since.map(s =>
      newRows.filter(coalesce(col("Time"), col("Submit")) >= s - slackS))
      .getOrElse(newRows)
    mergeInto(spark, fresh, path) match {
      case None => since.getOrElse(Long.MinValue)  // empty batch: no-op
      case Some(maxTs) =>
        val newTs = math.max(maxTs, since.getOrElse(Long.MinValue))
        updateLastTimestamp(spark, path, newTs)
        newTs
    }
  }

  /** REPLACE-merge a batch into the warehouse (no bookmark handling):
    * the compaction core shared by [[resumeAppend]] and
    * [[HistoryCollector]]. Returns the batch's max Time, or None for an
    * empty batch. */
  def mergeInto(spark: SparkSession, fresh: DataFrame, path: String): Option[Long] = {
    val ts = coalesce(col("Time"), col("Submit"))
    val slurmDir = new org.apache.hadoop.fs.Path(s"$path/slurm")
    val fs = slurmDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only a missing directory means "no warehouse yet": a warehouse
    // that exists but cannot be read must fail the merge, never be
    // overwritten whole
    val existing = if (fs.exists(slurmDir)) Some(read(spark, path)) else None

    val bounds = fresh
      .agg(min(coalesce(col("Submit"), col("Time"))), max(ts),
        max(col("Submit").isNull.cast("int"))).collect()(0)
    if (bounds.isNullAt(1)) return None

    existing match {
      case None => write(fresh, path, SaveMode.Overwrite)
      case Some(old) =>
        // the stale-day prune assumes a stored row never predates its
        // Submit; a fresh row with NULL Submit contributes its (new,
        // large) Time to the min, which could let its OLD row in an
        // earlier day partition escape the prune and survive as a
        // duplicate JobID — fall back to an unpruned stale-day scan
        // (no filter at all: a sentinel such as '0000-00-00' casts to a
        // NULL date and would prune every day instead of none)
        val candidates =
          if (bounds.getInt(2) > 0) old
          else old.filter(col("time_day") >= java.time.Instant.ofEpochSecond(
            bounds.getLong(0)).toString.substring(0, 10)) // yyyy-MM-dd, UTC like write()
        // days to rewrite: those receiving fresh rows + those holding a
        // prior version of a fresh JobID (its Time may have moved days)
        val freshDayed = fresh.withColumn("time_day",
          date_format(timestamp_seconds(ts), "yyyy-MM-dd"))
        val staleDays = candidates
          .join(fresh.select("JobID").distinct(), Seq("JobID"), "left_semi")
          .select("time_day")
        val outDays = staleDays.union(freshDayed.select("time_day"))
          .distinct().collect().map(_.getString(0))
        val slice = old.filter(col("time_day").isin(outDays.toSeq: _*))
          .drop("time_day")
        val merged = IncrementalLoad.upsert(Seq(slice, fresh)).persist()
        // dynamic overwrite only rewrites days PRESENT in merged; a day
        // whose every row was replaced-and-moved to another day would
        // keep its stale files — drop those partitions explicitly
        val mergedDays = merged.select(
          date_format(timestamp_seconds(ts), "yyyy-MM-dd")).distinct()
          .collect().map(_.getString(0)).toSet
        // dynamic overwrite as a write option: the caller's session
        // conf is neither read nor changed
        try layout(merged).mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic").parquet(s"$path/slurm")
        finally merged.unpersist()
        (outDays.toSet -- mergedDays).foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(slurmDir, s"time_day=$d"), true)
        }
    }
    Some(bounds.getLong(1))
  }
}

/** Day-batched history collection (get_history, slurm2sql.py:791-851):
  * the reference queries sacct one day at a time "so as to avoid
  * overloading sacct and causing a failure", committing each batch and
  * advancing the bookmark to the batch BOUNDARY before moving on — a
  * crash resumes from the last committed day, never from scratch.
  *
  * `fetch(s, e)` stands for `sacct -S s -E e`; in tests it is a filter
  * over a DataFrame. Each batch REPLACE-merges (a job spanning midnight
  * is returned by both adjacent day queries; the newer report wins), so
  * re-running a partially-collected range is idempotent. */
object HistoryCollector {

  /** Resume start: bookmark - 5s slack (slurm2sql.py:805-821), or the
    * fallback when no bookmark exists (--history-resume-or-start). */
  def resumeStart(spark: SparkSession, path: String, fallback: Long): Long =
    SlurmWarehouse.lastTimestamp(spark, path).map(_ - 5L).getOrElse(fallback)

  /** Collect [start, stop) in day batches into the warehouse at `path`.
    * Returns the number of failed batches (reference counts errors and
    * keeps going). `now` caps the bookmark so a future-dated batch end
    * never skips data that hasn't happened yet. */
  def collect(spark: SparkSession, path: String,
              fetch: (Long, Long) => DataFrame,
              start: Long, stop: Long, now: Long,
              batchS: Long = 86400L): Int = {
    var s = start
    var errors = 0
    while (s <= stop) {
      // end = start + interval, truncated to the batch boundary
      // (end.replace(hour=0,...), slurm2sql.py:836-838)
      val e = ((s + batchS) / batchS) * batchS
      try {
        SlurmWarehouse.mergeInto(spark, fetch(s, e), path)
        SlurmWarehouse.updateLastTimestamp(spark, path, math.min(e, now))
      } catch {
        case ex: Exception =>
          errors += 1
          System.err.println(s"[history] batch [$s,$e) failed: ${ex.getMessage}")
      }
      s = e
    }
    errors
  }
}
