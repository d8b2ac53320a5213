package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.slurm.{SlurmSim, SlurmTable, SlurmWarehouse}
import graft.tools.IngestCli

/** graft-ingest (the reference's PRIMARY `slurm2sql db` command,
  * slurm2sql.py:694-788) — each flag combination must land the same
  * warehouse the API calls produce: the CLI is a parser + orchestration
  * layer over SlurmWarehouse/HistoryCollector, never new ingest
  * logic. */
class IngestCliSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  val sfDir = "/root/testdata/sf0.001"

  /** The sim's raw sacct strings as a CSV file (--csv-input). */
  lazy val csvDir: String = {
    val d = SparkTestSession.tmpDir("graft_ingest_csv").toString + "/raw"
    SlurmSim.raw(spark, sfDir)
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(d)
    d
  }
  lazy val nowPin: Long = SlurmTable.build(SlurmSim.raw(spark, sfDir))
    .agg(max(coalesce(col("Time"), col("Submit")))).head.getLong(0) + 10L
  /** The table an ingest at `--now nowPin` derives: a job that has
    * started but not ended gets Time = now. */
  lazy val direct = SlurmTable.build(SlurmSim.raw(spark, sfDir), lit(nowPin))

  private def freshDir(): String =
    SparkTestSession.tmpDir("graft_ingest_wh").toString + "/wh"

  private def run(args: String*): (String, Int) = {
    val wh = freshDir()
    val a = IngestCli.parse(wh +: args.toSeq).toOption.get
    val errors = IngestCli.ingest(spark, a).toOption.get
    (wh, errors)
  }

  /** Row count of a warehouse, 0 when nothing was ever written (an
    * all-filtered ingest is a mergeInto no-op). */
  private def whCount(wh: String): Long =
    try SlurmWarehouse.read(spark, wh).count()
    catch { case _: Exception => 0L }

  test("graft-deidentify round-trips a warehouse in place (deidentify.py surface)") {
    import graft.tools.DeidentifyCli
    // parse: positional warehouse, --columns forms, error paths
    assert(DeidentifyCli.parse(Seq.empty).isLeft)
    assert(DeidentifyCli.parse(Seq("--columns", "User")).isLeft)
    assert(DeidentifyCli.parse(Seq("/tmp/wh", "--columns=")).isLeft)
    assert(DeidentifyCli.parse(Seq("/tmp/wh", "--bogus")).isLeft)
    assert(DeidentifyCli.parse(Seq("/tmp/wh")).toOption.get.columns ==
      graft.slurm.Deidentify.DEFAULT_COLUMNS)
    assert(DeidentifyCli.parse(Seq("/tmp/wh", "--columns", "User,JobName"))
      .toOption.get.columns == Seq("User", "JobName"))
    // a warehouse built by the ingest CLI, then deidentified in place
    val (wh, errs) = run("--csv-input", csvDir, "--now", nowPin.toString)
    assert(errs == 0)
    val before = SlurmWarehouse.read(spark, wh)
    val nRows = before.count()
    val users = before.select("User").where(col("User").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted
    val jobCountByUser = before.groupBy("User").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // explicitly naming a column the schema lacks is an error; a
    // missing warehouse is an error
    assert(DeidentifyCli.run(spark,
      DeidentifyCli.parse(Seq(wh, "--columns", "NoSuchCol")).toOption.get).isLeft)
    assert(DeidentifyCli.run(spark,
      DeidentifyCli.parse(Seq(freshDir())).toOption.get).isLeft)
    // labels are strings; a numeric column keeps its stored type
    assert(DeidentifyCli.run(spark,
      DeidentifyCli.parse(Seq(wh, "--columns", "NCPUS")).toOption.get).isLeft)
    val counts = DeidentifyCli.run(spark,
      DeidentifyCli.parse(Seq(wh)).toOption.get).toOption.get
    // mapped counts reported for the present identifier columns
    assert(counts.toMap.get("User").contains(users.length.toLong))
    val after = SlurmWarehouse.read(spark, wh)
    assert(after.count() == nRows)
    // every User value relabelled User_<sort rank>; group sizes
    // preserved under the relabel (the mapping is a bijection)
    val gotUsers = after.select("User").where(col("User").isNotNull)
      .distinct().collect().map(_.getString(0)).toSet
    assert(gotUsers == users.indices.map(i => s"User_$i").toSet)
    val afterCounts = after.groupBy("User").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    users.zipWithIndex.foreach { case (u, i) =>
      assert(afterCounts(s"User_$i") == jobCountByUser(u), u) }
    // staging + aside dirs cleaned up
    assert(!new java.io.File(wh + "_deidentifying").exists)
    assert(!new java.io.File(wh + "/slurm_predeid").exists)
    // the warehouse stays readable by the report CLIs after the swap
    val a = graft.tools.Cli.parse(Seq("--db", wh)).toOption.get
    assert(graft.tools.Cli.sacctFrame(spark, a).toOption.get.count() == nRows)
  }

  test("parse: warehouse and an input source are required; bad values rejected") {
    assert(IngestCli.parse(Seq("--csv-input", csvDir)).isLeft) // no warehouse
    // a bare warehouse is LIVE mode (spawn sacct), the reference's
    // primary invocation — valid since r14, defaulting to `sacct`
    assert(IngestCli.parse(Seq("/tmp/wh")).toOption.exists(_.sacctBin == "sacct"))
    assert(IngestCli.parse(Seq("/tmp/wh", "--sacct-bin", "/opt/sacct"))
      .toOption.exists(_.sacctBin == "/opt/sacct"))
    assert(IngestCli.parse(Seq("/tmp/wh", "--csv-input", csvDir, "--bogus")).isLeft)
    assert(IngestCli.parse(
      Seq("/tmp/wh", "--csv-input", csvDir, "--history-days", "x")).isLeft)
    assert(IngestCli.parse(
      Seq("/tmp/wh", "--csv-input", csvDir, "--history-days=7")).isRight)
  }

  test("plain ingest builds the direct table; bookmark lands at max Time") {
    val (wh, errors) = run("--csv-input", csvDir, "--now", nowPin.toString)
    assert(errors == 0)
    val got = SlurmWarehouse.read(spark, wh)
    assert(got.count() == direct.count() && got.count() > 0)
    assert(SlurmWarehouse.lastTimestamp(spark, wh).contains(
      direct.agg(max(coalesce(col("Time"), col("Submit")))).head.getLong(0)))
  }

  test("--now is a running job's Time through plain, --history-days and --update ingests") {
    val now = 1709380800L // 2024-03-02T12:00:00Z
    def csv(row: String): String = {
      val d = SparkTestSession.tmpDir("graft_ingest_now")
      Files.write(d.resolve("jobs.csv"),
        s"JobID,User,State,Submit,Start,End\n$row\n".getBytes("UTF-8"))
      d.toString
    }
    def rows(wh: String): Seq[(String, String, Long, String)] =
      SlurmWarehouse.read(spark, wh).select("JobID", "State", "Time", "time_day")
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
          r.get(3).toString)).toSeq
    val running = csv("777,alice,RUNNING,2024-03-01T10:00:00,2024-03-01T10:05:00,Unknown")
    val (wh, _) = run("--csv-input", running, "--now", now.toString)
    assert(rows(wh) == Seq(("777", "RUNNING", now, "2024-03-02")))
    // a history window covering `now` keeps it (Time = 0 fell outside)
    val (whH, _) = run("--csv-input", running, "--history-days", "1",
      "--now", now.toString)
    assert(rows(whH) == Seq(("777", "RUNNING", now, "2024-03-02")))
    // its COMPLETED version replaces it: no stale row left behind
    val done = csv("777,alice,COMPLETED,2024-03-01T10:00:00,2024-03-01T10:05:00," +
      "2024-03-02T13:00:00")
    val a = IngestCli.parse(Seq(wh, "--csv-input", done, "--update",
      "--now", (now + 7200L).toString)).toOption.get
    assert(IngestCli.ingest(spark, a).toOption.get == 0)
    assert(rows(wh) == Seq(("777", "COMPLETED", now + 3600L, "2024-03-02")))
  }

  test("re-ingest without --update recreates; --update merges without duplicates") {
    val (wh, _) = run("--csv-input", csvDir)
    val n = SlurmWarehouse.read(spark, wh).count()
    // recreate: same data, same count, no accretion
    val a2 = IngestCli.parse(Seq(wh, "--csv-input", csvDir)).toOption.get
    assert(IngestCli.ingest(spark, a2).toOption.get == 0)
    assert(SlurmWarehouse.read(spark, wh).count() == n)
    // update: REPLACE-merge is idempotent on identical input
    val a3 = IngestCli.parse(Seq(wh, "--csv-input", csvDir, "--update")).toOption.get
    assert(IngestCli.ingest(spark, a3).toOption.get == 0)
    val merged = SlurmWarehouse.read(spark, wh)
    assert(merged.count() == n)
    assert(merged.groupBy("JobID").count().filter(col("count") > 1).count() == 0)
  }

  /** A header-plus-rows CSV dump in its own directory. */
  private def jobsCsv(rows: String*): String = {
    val d = SparkTestSession.tmpDir("graft_ingest_jobs")
    Files.write(d.resolve("jobs.csv"),
      ("JobID,User,State,Submit,Start,End\n" + rows.mkString("\n") + "\n")
        .getBytes("UTF-8"))
    d.toString
  }
  /** Three completed jobs, one per day 2024-03-01..03. */
  private lazy val threeDays: String = jobsCsv(
    "101,alice,COMPLETED,2024-03-01T10:00:00,2024-03-01T10:05:00,2024-03-01T11:00:00",
    "102,bob,COMPLETED,2024-03-02T10:00:00,2024-03-02T10:05:00,2024-03-02T11:00:00",
    "103,carol,COMPLETED,2024-03-03T10:00:00,2024-03-03T10:05:00,2024-03-03T11:00:00")

  /** Every file under the warehouse's `slurm` directory with its bytes. */
  private def slurmFiles(wh: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(wh, "slurm")
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
  }

  test("--update rewrites only the touched day under a static-overwrite session and leaves its conf alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val (wh, _) = run("--csv-input", threeDays)
      val before = slurmFiles(wh)
      // job 102 re-reported and a new job 104, both on 2024-03-02
      val update = jobsCsv(
        "102,bob,FAILED,2024-03-02T10:00:00,2024-03-02T10:05:00,2024-03-02T10:30:00",
        "104,dave,COMPLETED,2024-03-02T12:00:00,2024-03-02T12:05:00,2024-03-02T13:00:00")
      val a = IngestCli.parse(Seq(wh, "--csv-input", update, "--update")).toOption.get
      assert(IngestCli.ingest(spark, a).toOption.get == 0)
      val after = slurmFiles(wh)
      def day(m: Map[String, Seq[Byte]], d: String) =
        m.filter(_._1.startsWith(s"time_day=$d/"))
      for (d <- Seq("2024-03-01", "2024-03-03"))
        assert(day(after, d).nonEmpty && day(after, d) == day(before, d), d)
      assert(day(after, "2024-03-02").keySet != day(before, "2024-03-02").keySet)
      assert(SlurmWarehouse.read(spark, wh).select("JobID", "State").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
        Seq(("101", "COMPLETED"), ("102", "FAILED"), ("103", "COMPLETED"),
          ("104", "COMPLETED")))
      assert(spark.conf.get(key) == "static")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("--update over an unreadable warehouse fails loudly and leaves its files in place") {
    val (wh, _) = run("--csv-input", threeDays)
    // every day file becomes garbage; its checksum sidecar goes, so a
    // reader meets the garbage itself rather than a checksum mismatch
    slurmFiles(wh).keys.map(java.nio.file.Paths.get(wh, "slurm", _)).foreach { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".crc")) Files.delete(f)
      else if (name.endsWith(".parquet")) Files.write(f, "not parquet".getBytes("UTF-8"))
    }
    val before = slurmFiles(wh)
    assert(before.keys.count(_.endsWith(".parquet")) == 3)
    // the merge must read the stored days to find re-reported jobs
    val a = IngestCli.parse(Seq(wh, "--csv-input", threeDays, "--update")).toOption.get
    intercept[Exception](IngestCli.ingest(spark, a))
    assert(slurmFiles(wh) == before)
  }

  // the sim's Time axis rides TPC-H order dates (~7 years); history
  // tests use a NARROW trailing window — each day is one merge batch,
  // exactly the per-day sacct querying the reference does, so a
  // years-deep test would grind through thousands of batches for no
  // extra coverage
  private def ts = coalesce(col("Time"), col("Submit"))

  test("--history-days ingests the trailing day batches; bookmark = now") {
    val days = 4L
    val start = (nowPin / 86400L) * 86400L - days * 86400L
    val (wh, errors) = run("--csv-input", csvDir,
      "--history-days", days.toString, "--now", nowPin.toString)
    assert(errors == 0)
    val want = direct.filter(ts >= start && ts < nowPin + 86400L).count()
    assert(want > 0 && SlurmWarehouse.read(spark, wh).count() == want)
    assert(SlurmWarehouse.lastTimestamp(spark, wh).contains(nowPin))
  }

  test("--history-resume continues from the bookmark and stays idempotent") {
    val (wh, _) = run("--csv-input", csvDir,
      "--history-days", "4", "--now", nowPin.toString)
    val n = SlurmWarehouse.read(spark, wh).count()
    // resume from bookmark (= nowPin): re-merges only the tail slack
    val a = IngestCli.parse(Seq(wh, "--csv-input", csvDir,
      "--history-resume", "--now", (nowPin + 3600L).toString)).toOption.get
    assert(IngestCli.ingest(spark, a).toOption.get == 0)
    val after = SlurmWarehouse.read(spark, wh)
    assert(after.count() == n)
    assert(after.groupBy("JobID").count().filter(col("count") > 1).count() == 0)
    // --history-resume-or-start on a FRESH warehouse takes the fallback
    // (a 3-day slurmtime duration)
    val wh2 = freshDir()
    val b = IngestCli.parse(Seq(wh2, "--csv-input", csvDir,
      "--history-resume-or-start", "3-00:00:00",
      "--now", nowPin.toString)).toOption.get
    assert(IngestCli.ingest(spark, b).toOption.get == 0)
    val want2 = direct.filter(ts >= nowPin - 3L * 86400L).count()
    assert(SlurmWarehouse.read(spark, wh2).count() == want2 && want2 > 0)
    // a century-wide range is rejected up front, not ground through
    val c = IngestCli.parse(Seq(freshDir(), "--csv-input", csvDir,
      "--history-start", "1800-01-01", "--now", nowPin.toString))
    assert(c.isLeft || IngestCli.ingest(spark, c.toOption.get).isLeft)
  }

  test("--jobs-only ingests allocations only (sacct -X)") {
    val (wh, _) = run("--csv-input", csvDir, "--jobs-only")
    val got = SlurmWarehouse.read(spark, wh)
    assert(got.count() == direct.filter(col("JobStep").isNull).count())
    assert(got.filter(col("JobStep").isNotNull).count() == 0)
  }

  test("parse: state selectors are mutually exclusive; passthrough tokens collected") {
    assert(IngestCli.parse(Seq("/tmp/wh", "--csv-input", csvDir,
      "--completed", "--failed")).isLeft)
    assert(IngestCli.parse(Seq("/tmp/wh", "--csv-input", csvDir,
      "--ended", "--running-at-time", "1000")).isLeft)
    // --completed + account= positional + --jobs= + bare-jobID shorthand
    // + the sacct -S/-E shorts
    val a = IngestCli.parse(Seq("/tmp/wh", "--csv-input", csvDir,
      "--completed", "account=cs", "--jobs=123", "456",
      "-S", "2024-01-01", "-E", "2024-02-01")).toOption.get
    assert(a.states.contains(graft.slurm.SlurmStates.COMPLETED))
    assert(a.sacctFilter ==
      Seq("account" -> "cs", "jobs" -> "123", "jobs" -> "456",
        "starttime" -> "2024-01-01", "endtime" -> "2024-02-01"))
    // unknown keys stay an error — a dropped filter would silently
    // return rows as if they matched
    assert(IngestCli.parse(Seq("/tmp/wh", "--csv-input", csvDir,
      "--nodelist=n1")).isLeft)
    // empty values and non-numeric job ids error at APPLY time, never
    // crash or silently match nothing
    import graft.slurm.SacctFilter
    assert(SacctFilter.predicate(Seq("jobs" -> "")).isLeft)
    assert(SacctFilter.predicate(Seq("state" -> ",")).isLeft)
    assert(SacctFilter.predicate(Seq("jobs" -> "abc")).isLeft)
    // a digit-led but malformed id must be rejected too, not let
    // through to silently match nothing (first-char checks miss it)
    assert(SacctFilter.predicate(Seq("jobs" -> "1abc")).isLeft)
    assert(SacctFilter.predicate(Seq("jobs" -> "123,9xy")).isLeft)
    assert(SacctFilter.predicate(Seq("state" -> "NOT_A_STATE")).isLeft)
    assert(SacctFilter.predicate(Seq("jobs" -> "123,456.batch")).isRight)
  }

  test("--completed builds a completed-only warehouse at ingest (slurm2sql.py:726-732)") {
    import graft.slurm.{Reports, SlurmStates}
    val (wh, errors) = run("--csv-input", csvDir, "--completed",
      "--now", nowPin.toString)
    assert(errors == 0)
    val got = SlurmWarehouse.read(spark, wh)
    val want = Reports.sacct(direct, states = Some(SlurmStates.COMPLETED))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.filter(!col("State").startsWith("COMPLETED")).count() == 0)
    // --failed selects a disjoint, smaller warehouse from the same input
    val (whF, _) = run("--csv-input", csvDir, "--failed",
      "--now", nowPin.toString)
    assert(whCount(whF) ==
      Reports.sacct(direct, states = Some(SlurmStates.FAILED)).count())
  }

  test("state selector composes with --history day batches") {
    import graft.slurm.{Reports, SlurmStates}
    val days = 4L
    val start = (nowPin / 86400L) * 86400L - days * 86400L
    val (wh, errors) = run("--csv-input", csvDir, "--completed",
      "--history-days", days.toString, "--now", nowPin.toString)
    assert(errors == 0)
    val want = Reports.sacct(direct, states = Some(SlurmStates.COMPLETED))
      .filter(ts >= start && ts < nowPin + 86400L).count()
    assert(want > 0 && SlurmWarehouse.read(spark, wh).count() == want)
    assert(SlurmWarehouse.lastTimestamp(spark, wh).contains(nowPin))
  }

  /** The reference's pipe-separated fixture rewritten as the raw
    * `sacct -P --delimiter=';|;'` dump --sacct-input reads (the
    * fixture's own separator is the bare '|' its Python tests feed
    * through csv.reader; no field in it contains '|'). */
  lazy val fixtureSacct: String = {
    val src = scala.io.Source.fromFile("/root/reference/tests/test-data1.csv")
    val txt = try src.getLines().map(_.replace("|", ";|;")).mkString("\n")
              finally src.close()
    val out = SparkTestSession.tmpDir("graft_fixture").resolve("data1.sacct")
    Files.write(out, txt.getBytes("UTF-8"))
    out.toString
  }

  test("sacct_filter passthrough filters the reference fixture rows (account=, --jobs=)") {
    val fixture = fixtureSacct
    // account=cs matches every fixture row; account=other matches none
    val (whA, _) = run("--sacct-input", fixture, "--account=cs")
    assert(SlurmWarehouse.read(spark, whA).count() == 5)
    val (whN, errN) = run("--sacct-input", fixture, "account=other")
    // an all-filtered ingest succeeds and lands zero rows (an
    // empty batch is a mergeInto no-op, so the dir may not exist)
    assert(errN == 0 && whCount(whN) == 0)
    // --jobs=43974388 keeps the job and both its steps, not 43977780
    val (whJ, _) = run("--sacct-input", fixture, "--jobs=43974388")
    val gotJ = SlurmWarehouse.read(spark, whJ)
    assert(gotJ.count() == 3)
    assert(gotJ.filter(col("JobIDonly") =!= 43974388L).count() == 0)
    // a step-qualified id selects that STEP's rows only — sacct's
    // step-level selection, not the whole job the step belongs to
    val (whS, _) = run("--sacct-input", fixture, "--jobs=43974388.batch")
    val gotS = SlurmWarehouse.read(spark, whS)
    assert(gotS.count() == 1)
    assert(gotS.filter(col("JobID") === "43974388.batch").count() == 1)
    // bare-jobID positional shorthand = the same filter
    val (whP, _) = run("--sacct-input", fixture, "43977780")
    assert(SlurmWarehouse.read(spark, whP).count() == 2)
    // --user composes with state categories: user1 + CANCELLED set
    val (whU, _) = run("--sacct-input", fixture, "--user=user1", "--cancelled")
    assert(SlurmWarehouse.read(spark, whU).count() == 2)
  }

  // ---- live sacct subprocess mode (slurm2sql.py:854-866) -------------

  /** The sim rows as a `;|;` sacct dump with the exact header the
    * live command requests (`-o SACCT_FIELDS`). */
  private lazy val liveDumpFile: String = {
    import graft.slurm.SacctSource
    val raw = SlurmSim.raw(spark, sfDir)
    val cols = SacctSource.SACCT_FIELDS.map(f =>
      if (raw.columns.contains(f)) coalesce(col(f).cast("string"), lit(""))
      else lit(""))
    val lines = raw.select(concat_ws(";|;", cols: _*).as("l"))
      .collect().map(_.getString(0))
    val out = SparkTestSession.tmpFile("graft_live_dump", ".txt")
    Files.write(out, (SacctSource.SACCT_FIELDS.mkString(";|;") + "\n" +
      lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.toString
  }

  /** A stub `sacct` on disk — the reference's own test strategy
    * (tests run against canned output, never a live daemon): logs its
    * argv (one line per spawn) and cats the canned dump; exits 3
    * instead when the marker file exists. */
  private def stubSacct(): (String, java.nio.file.Path) = {
    val dir = SparkTestSession.tmpDir("graft_stub_sacct")
    val log = dir.resolve("argv.log")
    val fail = dir.resolve("fail.marker")
    val script = dir.resolve("sacct")
    Files.write(script,
      (s"""#!/bin/bash
          |echo "$$@" >> $log
          |[ -e $fail ] && exit 3
          |cat $liveDumpFile
          |""").stripMargin.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    (script.toString, dir)
  }

  test("live mode spawns sacct with the reference's exact command shape") {
    import graft.slurm.SacctSource
    val cmd = SacctSource.sacctCommand("sacct", Seq("--user=u1"))
    assert(cmd.take(2) == Seq("sacct", "-o"))
    assert(cmd(2).startsWith("JobName,User,Group,Account,SubmitLine,State"))
    assert(cmd.drop(3).take(2) == Seq("-P", "--delimiter=;|;"))
    assert(cmd.last == "--user=u1")
    // the requested field list is deduped but otherwise the
    // reference's (49 distinct of its 50-with-dup list)
    assert(SacctSource.SACCT_FIELDS.length == 49)
    assert(SacctSource.SACCT_FIELDS.distinct.length == 49)
    // a missing binary is a clean error, not a crash
    assert(SacctSource.spawnSacct("/nonexistent/sacct", Nil).isLeft)
  }

  test("live plain ingest: one spawn, warehouse equals the dump ingest") {
    val (bin, dir) = stubSacct()
    val wh = freshDir()
    val a = IngestCli.parse(Seq(wh, "--sacct-bin", bin,
      "--now", nowPin.toString)).toOption.get
    assert(IngestCli.ingest(spark, a).toOption.get == 0)
    val got = SlurmWarehouse.read(spark, wh)
    assert(got.count() == direct.count() && direct.count() > 0)
    // exactly one subprocess, no -S/-E on a plain ingest
    val argv = new String(Files.readAllBytes(dir.resolve("argv.log")), "UTF-8")
      .trim.linesIterator.toSeq
    assert(argv.length == 1)
    assert(!argv.head.contains("-S") && argv.head.contains("--delimiter=;|;"))
  }

  test("live history ingest: one spawn per day batch, -S/-E per window, resume works") {
    val days = 3L
    val (bin, dir) = stubSacct()
    val wh = freshDir()
    val a = IngestCli.parse(Seq(wh, "--sacct-bin", bin,
      "--history-days", days.toString, "--now", nowPin.toString)).toOption.get
    assert(IngestCli.ingest(spark, a).toOption.get == 0)
    // the stub ignores -S/-E (returns everything each batch), so the
    // REPLACE-merge must keep the result identical to one full dump —
    // batch idempotency under overlapping fetches, the reference's
    // midnight-spanning-job property
    val got = SlurmWarehouse.read(spark, wh)
    assert(got.count() == direct.count())
    assert(got.groupBy("JobID").count().filter(col("count") > 1).count() == 0)
    val argv = new String(Files.readAllBytes(dir.resolve("argv.log")), "UTF-8")
      .trim.linesIterator.toSeq
    // batches: UTC midnight N days back, day steps to now+6h inclusive
    val start = (nowPin / 86400L) * 86400L - days * 86400L
    val stop = nowPin + 6L * 3600L
    val wantBatches = ((stop - start) / 86400L + 1).toInt
    assert(argv.length == wantBatches, s"argv:\n${argv.mkString("\n")}")
    // every spawn windows with -S/-E slurm timestamps
    assert(argv.forall(l =>
      l.matches(""".*-S \d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2} -E \d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}.*""")))
    // the first window starts at the computed start
    assert(argv.head.contains("-S " + java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(start))))
    // resume: bookmark - 5 s → a short tail, no duplicates
    Files.write(dir.resolve("argv.log"), Array.emptyByteArray)
    val b = IngestCli.parse(Seq(wh, "--sacct-bin", bin, "--history-resume",
      "--now", (nowPin + 3600L).toString)).toOption.get
    assert(IngestCli.ingest(spark, b).toOption.get == 0)
    assert(SlurmWarehouse.read(spark, wh).count() == direct.count())
  }

  test("live spill lands on the shared FS under the warehouse and is removed") {
    import graft.slurm.SacctSource
    val t0 = System.currentTimeMillis()
    val (bin, _) = stubSacct()
    // unit level: liveSlurmTable with an explicit spillDir writes the
    // subprocess stdout THERE (the path executors can read), not a
    // driver-local temp, and the plan scans those bytes
    val spillDir = SparkTestSession.tmpDir("graft_spill_probe").toString + "/sp"
    val df = SacctSource.liveSlurmTable(spark, Nil, bin, Some(spillDir))
      .toOption.get
    val spilled = new java.io.File(spillDir).listFiles()
    assert(spilled != null && spilled.exists(_.getName.startsWith("sacct_")),
      s"expected a sacct_* spill under $spillDir")
    assert(df.count() == direct.count())
    SacctSource.deleteSpillDir(spark, spillDir)
    assert(!new java.io.File(spillDir).exists())
    // ingest level: default spill dir is <warehouse>/_sacct_spill and
    // is gone once ingest returns, while the tables it fed remain
    val wh = freshDir()
    val a = IngestCli.parse(Seq(wh, "--sacct-bin", bin,
      "--now", nowPin.toString)).toOption.get
    assert(IngestCli.ingest(spark, a).toOption.get == 0)
    assert(!new java.io.File(wh + "/_sacct_spill").exists(),
      "spill dir must be deleted after the ingest materializes")
    assert(SlurmWarehouse.read(spark, wh).count() == direct.count())
    // and no graft_sacct_* temp litter FROM THIS TEST remains in
    // java.io.tmpdir: copyFromLocalFile(delSrc=true) moved the
    // driver-local temp (older runs' litter is out of scope here)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles()
    assert(tmp == null || !tmp.exists(f =>
      f.getName.startsWith("graft_sacct_") && f.lastModified() >= t0),
      "driver-local sacct temp files must not outlive the ingest")
  }

  test("user-supplied --spill-dir: pre-existing contents survive the ingest") {
    val (bin, _) = stubSacct()
    val scratch = SparkTestSession.tmpDir("graft_shared_scratch")
    // the documented use case: an EXISTING shared scratch location
    // with other tenants' files in it
    val keeper = scratch.resolve("someone_elses_checkpoint.bin")
    Files.write(keeper, Array[Byte](1, 2, 3))
    val wh = freshDir()
    val a = IngestCli.parse(Seq(wh, "--sacct-bin", bin,
      "--spill-dir", scratch.toString,
      "--now", nowPin.toString)).toOption.get
    assert(IngestCli.ingest(spark, a).toOption.get == 0)
    assert(Files.exists(keeper),
      "pre-existing scratch contents must survive the ingest cleanup")
    // while this run's own spill subdirectory is gone
    val leftover = scratch.toFile.listFiles()
    assert(leftover == null ||
      !leftover.exists(_.getName.startsWith("graft_run_")),
      "the per-run spill subdirectory must be deleted")
    assert(SlurmWarehouse.read(spark, wh).count() == direct.count())
  }

  test("sacct subprocess runs with TZ=UTC (window interpretation is pinned)") {
    import graft.slurm.SacctSource
    // a stub that echoes its TZ: the -S/-E rendering (slurmTs, UTC)
    // only means what it says if sacct PARSES in UTC too
    val dir = SparkTestSession.tmpDir("graft_stub_tz")
    val script = dir.resolve("sacct")
    Files.write(script,
      """#!/bin/bash
        |echo "TZ=$TZ"
        |""".stripMargin.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val out = SacctSource.spawnSacct(script.toString, Nil).toOption.get
    assert(new String(Files.readAllBytes(out), "UTF-8").trim == "TZ=UTC")
    Files.deleteIfExists(out)
  }

  test("live batch failures are counted per batch, not fatal (reference :845-850)") {
    val (bin, dir) = stubSacct()
    Files.createFile(dir.resolve("fail.marker"))
    val wh = freshDir()
    val a = IngestCli.parse(Seq(wh, "--sacct-bin", bin,
      "--history-days", "1", "--now", nowPin.toString)).toOption.get
    val errors = IngestCli.ingest(spark, a).toOption.get
    assert(errors > 0, "every batch should have failed")
    assert(whCount(wh) == 0)
    // state selectors ride to the subprocess as sacct args
    Files.delete(dir.resolve("fail.marker"))
    Files.write(dir.resolve("argv.log"), Array.emptyByteArray)
    val wh2 = freshDir()
    val c = IngestCli.parse(Seq(wh2, "--sacct-bin", bin, "--completed",
      "--user=user1", "--now", nowPin.toString)).toOption.get
    assert(IngestCli.ingest(spark, c).isRight)
    val argv2 = new String(Files.readAllBytes(dir.resolve("argv.log")), "UTF-8")
    assert(argv2.contains("--state=") && argv2.contains("--user=user1"))
  }
}
