package graft.slurm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Readers for sacct output — dumps AND the live subprocess (the
  * reference shells out to sacct and iterates rows one-by-one,
  * slurm2sql.py:854-914; graft spawns the same command on the driver,
  * spills stdout, and reads those bytes as a splittable file source so
  * a 100 TB accounting dump scans in parallel with the schema applied
  * at the scan).
  *
  * Two malformed-row strategies:
  *  - default: PERMISSIVE mode + a corrupt-record column — a quarantine,
  *    splittable at any size;
  *  - [[readReassembled]]: the reference's line-continuation semantics
  *    (slurm2sql.py:888-905) — JobName can contain embedded newlines(!),
  *    so under-length lines are glued to their successors until the
  *    field count is reached. Record membership is a prefix-sum of
  *    separator counts, so gluing is a window + group, not a sequential
  *    driver loop.
  */
object SacctSource {

  /** `sacct -P --delimiter=';|;'` output (multi-char separator). */
  def readSacct(spark: SparkSession, path: String): DataFrame =
    readDelimited(spark, path, ";|;")

  /** The `sacct -o` field list the reference requests: COLUMNS keys +
    * COLUMNS_EXTRA minus the `_`-computed ones (slurm2sql.py:992),
    * in the reference's order — DEDUPED: the reference's literal list
    * repeats TRESUsageOutTot (it appears in both COLUMNS and
    * COLUMNS_EXTRA); sacct tolerates the duplicate and the
    * reference's `dict(zip(header, line))` silently collapses it, but
    * a duplicated header is ambiguous for a schema'd reader, so graft
    * requests each field exactly once. */
  val SACCT_FIELDS: Seq[String] = Seq(
    "JobName", "User", "Group", "Account", "SubmitLine", "State",
    "Timelimit", "Elapsed", "Submit", "Start", "End", "Partition",
    "ExitCode", "NodeList", "Priority", "ReqNodes", "NNodes",
    "AllocNodes", "ReqTRES", "NTasks", "AllocTRES", "TRESUsageInTot",
    "TRESUsageOutTot", "NCPUS", "ReqCPUS", "AllocCPUS", "CPUTime",
    "TotalCPU", "UserCPU", "SystemCPU", "MinCPU", "MinCPUNode",
    "MinCPUTask", "ReqMem", "AveRSS", "MaxRSS", "MaxRSSNode",
    "MaxRSSTask", "MaxPages", "MaxVMSize", "AveDiskRead",
    "AveDiskWrite", "MaxDiskRead", "MaxDiskWrite", "Comment",
    "JobID", "JobIDRaw", "ConsumedEnergyRaw", "TRESUsageInAve")

  /** The exact command the reference spawns (slurm2sql.py:854-858):
    * `sacct -o <fields> -P --delimiter=';|;' <filter>`. */
  def sacctCommand(bin: String, filter: Seq[String]): Seq[String] =
    Seq(bin, "-o", SACCT_FIELDS.mkString(","), "-P",
      "--delimiter=;|;") ++ filter

  /** Live-sacct ingestion, the reference's PRIMARY mode
    * (slurm2sql.py:854-866): spawn sacct on the DRIVER (sacct talks
    * to slurmdbd from a login node — there is nothing distributed
    * about the fetch), stream its stdout to a spill file, and hand
    * that to [[readReassembled]] for the reference's line-continuation
    * semantics and a distributed parse. A `--sacct-input` dump does
    * NOT take that path: it goes through [[readSacct]] →
    * [[readDelimited]], which quarantines a multi-line JobName record
    * instead of gluing it. Returns Left on spawn failure or a non-zero
    * exit (the reference surfaces these as batch errors,
    * slurm2sql.py:845-850).
    * `bin` overrides the executable — the test seam; the reference's
    * own tests stub the subprocess the same way
    * (tests/ run against canned sacct output, never a live daemon). */
  def spawnSacct(bin: String, filter: Seq[String]): Either[String, java.nio.file.Path] = {
    val tmp = java.nio.file.Files.createTempFile("graft_sacct_", ".txt")
    try {
      val pb = new ProcessBuilder(sacctCommand(bin, filter): _*)
      // -S/-E are rendered in UTC (Cli.slurmTs) but sacct parses bare
      // timestamps in the LOCAL zone of ITS process; pinning TZ here
      // pins the interpretation, not just the rendering — without it a
      // west-of-UTC driver shifts every history window by the offset
      // while the bookmark still advances, permanently skipping the
      // first |offset| hours of a backfill.
      pb.environment().put("TZ", "UTC")
      pb.redirectOutput(tmp.toFile)
      val p = pb.start()
      p.getOutputStream.close()
      val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
      val rc = p.waitFor()
      if (rc != 0) {
        java.nio.file.Files.deleteIfExists(tmp)
        Left(s"sacct exited $rc${if (err.nonEmpty) ": " + err.take(500) else ""}")
      } else Right(tmp)
    } catch {
      case e: java.io.IOException =>
        java.nio.file.Files.deleteIfExists(tmp)
        Left(s"cannot spawn $bin: ${e.getMessage}")
    }
  }

  /** Live fetch → typed slurm table (spawn + reassembled parse +
    * [[SlurmTable.build]] with `now` as a still-running job's Time). An output with no rows at all (not even a
    * header) maps to Left rather than a reader crash.
    *
    * `spillDir`: where the spawned stdout lands for the distributed
    * read. The subprocess always writes a DRIVER-LOCAL temp first
    * (sacct runs on the driver); with `spillDir` set the bytes are
    * then copied to that Hadoop-FS path (hdfs://, s3a://, file:/ —
    * resolved by the session's hadoopConfiguration) and the local
    * temp is deleted, so EXECUTORS on a real cluster can read the
    * scan splits. Without it the plan reads the driver-local file —
    * correct only under a local master; callers that ingest (Cli)
    * must pass a shared path and delete it after the ingest
    * materializes ([[deleteSpillDir]]). */
  def liveSlurmTable(spark: SparkSession, filter: Seq[String],
                     bin: String = "sacct",
                     spillDir: Option[String] = None,
                     now: Column = lit(0L)): Either[String, DataFrame] =
    spawnSacct(bin, filter).flatMap { p =>
      val hasHeader = java.nio.file.Files.size(p) > 0
      if (!hasHeader) {
        java.nio.file.Files.deleteIfExists(p)
        Left("sacct produced no output (not even a header)")
      } else {
        val readPath = spillDir match {
          case None => p.toString
          case Some(dir) =>
            val dst = new org.apache.hadoop.fs.Path(dir,
              s"sacct_${java.util.UUID.randomUUID().toString.take(12)}.txt")
            val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
            fs.mkdirs(dst.getParent)
            // delSrc=true: the local temp is gone once the copy lands
            fs.copyFromLocalFile(true, true,
              new org.apache.hadoop.fs.Path(p.toUri), dst)
            dst.toString
        }
        Right(SlurmTable.build(readReassembled(spark, readPath), now))
      }
    }

  /** Removes a spill directory written by [[liveSlurmTable]] — called
    * by the ingest driver AFTER the plan that reads it has
    * materialized (the read is lazy; deleting earlier would race the
    * scan). Missing dir is a no-op. */
  def deleteSpillDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** CSV input (`--csv-input`), e.g. the reference's tests/test-data3.csv.
    * The reference reads this with "Python's default csv reader (excel
    * format)" (slurm2sql.py:1181) — quoting IS honored here, with the
    * excel double-quote escape, unlike the sacct dump path where sacct
    * never quotes (readDelimited's \u0000 quote). A TRES field like
    * "billing=8,cpu=8" survives only under this reader. */
  def readCsv(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)

  def readDelimited(spark: SparkSession, path: String, sep: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("quote", "\u0000")          // sacct does not quote
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)

  /** Reference line-continuation semantics: a record whose JobName
    * embeds newlines spans several physical lines; every complete
    * record carries exactly (ncols − 1) separators, so the record index
    * of a physical line is
    * `floor(separators-on-earlier-lines / (ncols − 1))` — a running sum,
    * then group-and-glue. Runs per input file (records never span
    * files; a 100 TB dump is many day-batch files, each file's line
    * chain is one window partition — same sequential contract as the
    * reference, parallel across files). */
  def readReassembled(spark: SparkSession, path: String,
                      sep: String = ";|;"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = spark.read.text(path)
      .select(col("value"), input_file_name().as("_file"),
        monotonically_increasing_id().as("_lid"))
    // header: first line of each file (monotonic id follows file order)
    val firstLid = lines.groupBy(col("_file")).agg(min(col("_lid")).as("_hlid"))
    val colNames = lines.join(firstLid, Seq("_file"))
      .filter(col("_lid") === col("_hlid"))
      .select(col("value")).head().getString(0).split(sepRe, -1).toSeq
    val nSep = colNames.length - 1
    val body = lines.join(firstLid, Seq("_file"))
      .filter(col("_lid") > col("_hlid"))
      .withColumn("_nsep", (size(split(col("value"), sepRe, -1)) - 1).cast("long"))
    val wCum = Window.partitionBy(col("_file")).orderBy(col("_lid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = body
      .withColumn("_rec", coalesce(floor(sum(col("_nsep")).over(wCum) / nSep), lit(0L)))
      .groupBy(col("_file"), col("_rec"))
      .agg(
        array_join(transform(sort_array(collect_list(
          struct(col("_lid"), col("value")))), x => x("value")), "\n").as("_glued"),
        sum(col("_nsep")).as("_totsep"))
    // quarantine records that never reached the field count (trailing
    // fragment) or overflowed it (the reference logs + skips those too,
    // slurm2sql.py:906-911)
    val complete = grouped.filter(col("_totsep") === nSep)
    val fields = split(col("_glued"), sepRe, -1)
    // empty field → NULL, matching the CSV reader's unquoted-empty rule
    complete.select(colNames.zipWithIndex.map { case (n, i) =>
      nullif(fields.getItem(i), lit("")).as(n)
    }: _*)
  }

  /** Full pipeline: raw sacct/CSV file → typed slurm table. A comma
    * separator means real CSV (excel quoting, the reference's
    * csv_input path); any other separator is a raw sacct dump where
    * quoting never happens. `now` is the Time a still-running job gets
    * ([[SlurmTable.build]]). */
  def loadSlurmTable(spark: SparkSession, path: String, sep: String = ",",
                     now: Column = lit(0L)): DataFrame =
    SlurmTable.build(
      if (sep == ",") readCsv(spark, path) else readDelimited(spark, path, sep),
      now)
}
