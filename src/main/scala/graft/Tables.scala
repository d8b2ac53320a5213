package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load a test table. `spread=true` redistributes right after the
    * (pushdown-preserving) scan: the driver test files are single-row-
    * group parquet, so a scan can never split below one task — callers
    * with CPU-heavy map stages (string parsing, shingling, vector math)
    * opt in to model the multi-file splits a cluster input has
    * naturally. Cheap scan→agg paths skip the extra exchange. */
  def load(spark: SparkSession, dir: String, name: String,
           spread: Boolean = false): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val df =
      if (spread) raw.repartition(spark.sparkContext.defaultParallelism)
      else raw
    // events.ts has shipped as both parquet TIMESTAMP(NANOS) (scans as
    // a long under nanosAsLong — truncate to micros, exactly what
    // DuckDB's reader does) and TIMESTAMP(MICROS) (scans as a native
    // timestamp type). Dispatch on the scanned dtype so either parquet
    // encoding yields the same session-TZ TimestampType column.
    if (name == "events") {
      import org.apache.spark.sql.functions.{expr, timestamp_micros}
      import org.apache.spark.sql.types.LongType
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _        => df.withColumn("ts", df("ts").cast("timestamp"))
      }
    } else df
  }

  /** Common session defaults used by Verify/Bench/the CLIs/tests — the
    * only session builder the product has, so the suite and the CLIs
    * run one configuration.
    *
    * ANSI off: the reference engine (slurm2sql) treats malformed values
    * as NULL (e.g. slurm2sql.py:53-65); permissive mode mirrors that and
    * matches SQLite/DuckDB behavior for the oracle compare.
    *
    * Three settings keep per-call overhead off the report and ingest
    * paths without changing any result:
    *  - `file://` goes through [[NioLocalFileSystem]]: no forked
    *    `chmod` per written file, checksum sidecar and directory;
    *  - partition directories are always listed on the driver. The
    *    master is `local[cpus]`, so Spark's parallel listing job (one
    *    task per directory once a table has more than 32) only spreads
    *    the listing over the same cores and adds its scheduling cost;
    *  - the generated-class cache holds 1,000 entries instead of 100: a
    *    corpus curation pass alone generates ~113 distinct classes, so
    *    the default least-recently-used cache recompiled ~89 of them
    *    (and re-warmed them in the JIT) on every warm pass.
    */
  def session(appName: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // full-width slurm materialization (~60 cols of CASE/format_string
      // parse exprs) fused into ONE wholestage method exceeds Janino's
      // 64 KB limit — the compile fails and falls back anyway, paying a
      // doomed multi-second compile first. Skipping fusion for stages
      // wider than 50 fields goes straight to per-operator codegen
      // (which splits methods properly); hot analytical paths are
      // column-pruned far below 50 and stay fused.
      .config("spark.sql.codegen.maxFields", "50")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      .config("spark.ui.enabled", "false")
      // keep the catalog warehouse out of the working directory: a
      // default session drops a `spark-warehouse/` dir wherever it
      // starts (repo root under sbt test, any cwd under the CLIs).
      // Per-JVM suffix: managed tables are written and read within
      // one session (saveAsTable/writeBucketed gates), and two
      // concurrent JVMs (bench alongside sbt test) must not collide
      // on the same managed-table directories.
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_spark_warehouse_" +
          java.lang.ProcessHandle.current().pid())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
