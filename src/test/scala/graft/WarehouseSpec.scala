package graft

import java.nio.file.Files
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.slurm.{SlurmSim, SlurmTable, SlurmViews, SlurmWarehouse}

/** Warehouse layout: day-partitioned parquet + resume bookmark — the
  * reference's sqlite file + indexes + meta_slurm_lastupdate. */
class WarehouseSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("write/read round-trip with day partitioning and pruning") {
    val dir = SparkTestSession.tmpDir("graft_wh").toString
    val slurm = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L))
    SlurmWarehouse.write(slurm, dir)
    val back = SlurmWarehouse.read(spark, dir)
    assert(back.count() == slurm.count())
    // partition dirs exist per day
    val days = new java.io.File(s"$dir/slurm").listFiles()
      .filter(_.getName.startsWith("time_day=")).map(_.getName)
    assert(days.length > 1)
    // a day filter prunes to that partition's files (scan reads subset)
    val oneDay = days.head.stripPrefix("time_day=")
    val pruned = back.filter(col("time_day") === oneDay)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(planStr.contains("PartitionFilters") || pruned.count() < back.count())
  }

  /** A 40-day warehouse: more day directories than the 32 at which
    * Spark would list them with a parallel job. */
  private lazy val manyDays: String = {
    val dir = SparkTestSession.tmpDir("graft_wh_days").toString
    def at(offsetS: Column) = date_format(timestamp_seconds(
      lit(1709251200L) + col("id") * 8640L + offsetS), "yyyy-MM-dd'T'HH:mm:ss")
    SlurmWarehouse.write(SlurmTable.build(spark.range(400).select(
      col("id").cast("string").as("JobID"),
      concat(lit("user_"), (col("id") % 20).cast("string")).as("User"),
      lit("COMPLETED").as("State"), at(lit(0L)).as("Submit"),
      at(lit(60L)).as("Start"), at(lit(3600L)).as("End"))), dir)
    dir
  }

  /** Spark jobs started while `body` runs. */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)   // no earlier job reaches `l`
    sc.addSparkListener(l)
    try { body; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("a warehouse read and the report frames start no Spark job") {
    import graft.tools.Cli
    val dir = manyDays
    assert(new java.io.File(s"$dir/slurm").listFiles()
      .count(_.getName.startsWith("time_day=")) > 32)
    assert(jobsStarted(SlurmWarehouse.read(spark, dir).schema) == 0)
    def args(a: String*) = Cli.parse(Seq("--db", dir) ++ a).toOption.get
    for (a <- Seq(args("123"), args("-r", "gpu", "-u", "user_7", "--order", "Start desc")))
      assert(jobsStarted(Cli.sacctFrame(spark, a).toOption.get) == 0, a)
    for (a <- Seq(args("-u", "user_7"), args("--aggregate-user")))
      assert(jobsStarted(Cli.seffFrame(spark, a).toOption.get) == 0, a)
  }

  test("the schema'd read equals an inferred read; a missing warehouse still errors") {
    val dir = manyDays
    val back = SlurmWarehouse.read(spark, dir)
    val inferred = spark.read.parquet(s"$dir/slurm")
    assert(back.schema == inferred.schema)
    assert(back.count() == inferred.count() && back.count() > 0)
    assert(back.exceptAll(inferred).isEmpty && inferred.exceptAll(back).isEmpty)
    val missing = SparkTestSession.tmpDir("graft_wh_none").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      SlurmWarehouse.read(spark, missing))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("resume bookkeeping: second load appends only newer rows") {
    val dir = SparkTestSession.tmpDir("graft_wh2").toString
    val slurm = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L)).cache()
    val cutoff = slurm.agg(expr("percentile_approx(Time, 0.5)")).collect()(0)
      .getLong(0)
    val first = slurm.filter(col("Time") <= cutoff)
    SlurmWarehouse.write(first, dir)
    SlurmWarehouse.updateLastTimestamp(spark, dir, cutoff)
    val appended = SlurmWarehouse.resumeAppend(spark, slurm, dir)
    val total = SlurmWarehouse.read(spark, dir).count()
    assert(total == first.count() + slurm.filter(col("Time") > cutoff).count())
    assert(appended >= cutoff)
    assert(SlurmWarehouse.lastTimestamp(spark, dir).contains(appended))
  }

  test("resumeAppend replaces re-reported jobs instead of duplicating") {
    val dir = SparkTestSession.tmpDir("graft_wh3").toString
    val slurm = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L)).cache()
    val cutoff = slurm.agg(expr("percentile_approx(Time, 0.5)")).collect()(0)
      .getLong(0)
    val first = slurm.filter(col("Time") <= cutoff)
    SlurmWarehouse.write(first, dir)
    SlurmWarehouse.updateLastTimestamp(spark, dir, cutoff)
    // a state change re-reports existing jobs with Time past the
    // bookmark (that's what makes them show up in the resume window);
    // their stale rows sit in DIFFERENT day partitions and must go
    val rereported = first.filter(pmod(hash(col("JobID")), lit(10)) === 0)
      .withColumn("Time", lit(cutoff + 3600L))
      .withColumn("State", lit("COMPLETED"))
    assert(rereported.count() > 0)
    SlurmWarehouse.resumeAppend(spark, rereported, dir)
    val back = SlurmWarehouse.read(spark, dir)
    assert(back.count() == first.count(),
      "replace, not append: total row count unchanged")
    assert(back.count() == back.select("JobID").distinct().count(),
      "no duplicate JobIDs after re-report")
    assert(back.join(rereported.select("JobID"), Seq("JobID"), "left_semi")
      .filter(col("State") =!= "COMPLETED").count() == 0,
      "re-reported rows carry the NEW state")
  }

  test("resumeAppend keeps late rows at exactly the bookmark instant") {
    val dir = SparkTestSession.tmpDir("graft_wh4").toString
    val slurm = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L)).cache()
    val cutoff = slurm.agg(expr("percentile_approx(Time, 0.5)")).collect()(0)
      .getLong(0)
    val first = slurm.filter(col("Time") <= cutoff)
    SlurmWarehouse.write(first, dir)
    SlurmWarehouse.updateLastTimestamp(spark, dir, cutoff)
    // a job the first load missed, reported with Time == bookmark: the
    // strict `> since` filter used to drop it; the reference's x-5 slack
    // (slurm2sql.py:1023-1027) keeps it
    val late = slurm.filter(col("Time") > cutoff).limit(1)
      .withColumn("Time", lit(cutoff))
      .withColumn("JobID", lit("999999_late"))
      .withColumn("JobIDnostep", lit("999999_late"))
    SlurmWarehouse.resumeAppend(spark, late, dir)
    val back = SlurmWarehouse.read(spark, dir)
    assert(back.count() == first.count() + 1)
    assert(back.filter(col("JobID") === "999999_late").count() == 1)
  }

  test("mergeInto replaces a job re-reported with no Submit, whatever day its old row sits in") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft_wh_nosubmit").toString
    def job(state: String, submit: String, end: String) =
      SlurmTable.build(Seq(("201", "alice", state, submit, "2024-03-01T10:05:00", end))
        .toDF("JobID", "User", "State", "Submit", "Start", "End"),
        lit(1709294400L))                         // now = 2024-03-01T12:00:00Z
    SlurmWarehouse.write(job("RUNNING", "2024-03-01T10:00:00", ""), dir)
    // no Submit: the stale-day prune cannot bound the old row's day
    SlurmWarehouse.mergeInto(spark, job("COMPLETED", "", "2024-03-05T11:00:00"), dir)
    assert(SlurmWarehouse.read(spark, dir).select("JobID", "State", "time_day")
      .collect().map(r => (r.getString(0), r.getString(1), r.get(2).toString)).toSeq ==
      Seq(("201", "COMPLETED", "2024-03-05")))
  }

  test("compact: accreted day files bin-pack, results and bookmark unchanged") {
    val dir = SparkTestSession.tmpDir("graft_wh5").toString
    val slurm = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L)).cache()
    // fragment the warehouse the way cheap append-mode daily loads do:
    // an initial write plus several disjoint append batches hitting
    // the same days (each batch adds its own file set per day)
    val cutoff = slurm.agg(expr("percentile_approx(Time, 0.3)")).collect()(0)
      .getLong(0)
    SlurmWarehouse.write(slurm.filter(col("Time") <= cutoff), dir)
    SlurmWarehouse.updateLastTimestamp(spark, dir, cutoff)
    val rest = slurm.filter(col("Time") > cutoff)
    for (m <- 0 to 4)
      SlurmWarehouse.append(
        rest.filter(pmod(col("JobIDonly"), lit(5)) === m), dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dayFiles(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/slurm"))
        .filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("time_day="))
        .map(p => p.getName -> fs.listStatus(p)
          .count(s => s.isFile && !s.getPath.getName.startsWith("_"))).toMap
    val before = dayFiles()
    assert(before.values.exists(_ > 2), s"fixture failed to fragment: $before")
    val preRows = SlurmWarehouse.read(spark, dir).count()
    val preEff = SlurmViews.eff(SlurmWarehouse.read(spark, dir))
      .agg(sum(col("Elapsed")), sum(col("NCPUS")), count(lit(1))).collect()(0)
    val preBookmark = SlurmWarehouse.lastTimestamp(spark, dir)

    val stats = SlurmWarehouse.compact(spark, dir, minFiles = 2)
    assert(stats.nonEmpty, "at least one day should compact")
    val after = dayFiles()
    // every compacted day reached its target count; untouched days kept
    // their files; nothing vanished
    stats.foreach { st =>
      assert(after(st.partition) == st.filesAfter, st.toString)
      assert(st.filesAfter < st.filesBefore, st.toString)
      assert(st.filesAfter == 1, s"tiny partitions pack to one file: $st")
    }
    assert(after.keySet == before.keySet)
    // results byte-identical: rows, rollup aggregates, bookmark
    assert(SlurmWarehouse.read(spark, dir).count() == preRows)
    val postEff = SlurmViews.eff(SlurmWarehouse.read(spark, dir))
      .agg(sum(col("Elapsed")), sum(col("NCPUS")), count(lit(1))).collect()(0)
    assert(postEff == preEff)
    assert(SlurmWarehouse.lastTimestamp(spark, dir) == preBookmark)
    // within-file sort restored: each compacted file is (User, Start)
    // nondecreasing — the min/max pruning contract
    val perFile = SlurmWarehouse.read(spark, dir)
      .withColumn("_f", input_file_name())
      .select(col("_f"), col("User"), col("Start"))
      .collect().groupBy(_.getString(0))
    perFile.values.foreach { rows =>
      val keys = rows.map(r => (Option(r.getString(1)).getOrElse(""),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2)))
      // rows within a parquet file come back in row order
      assert(keys.sameElements(keys.sorted), "file not (User,Start)-sorted")
    }
    // idempotent: a second pass finds nothing over minFiles
    assert(SlurmWarehouse.compact(spark, dir, minFiles = 2).isEmpty)
  }

  test("compact: multi-file partitions keep DISJOINT (User,Start) spans — pruning control") {
    val dir = SparkTestSession.tmpDir("graft_wh6").toString
    import spark.implicits._
    // a partition large enough to rewrite as SEVERAL files — the
    // layout the within-file sort test above (filesAfter == 1) cannot
    // exercise. 6 append batches × row-sliced → every batch's file
    // spans the full (User, Start) range, the worst case compaction
    // must repair.
    val rows = (0 until 6000).map { i =>
      (f"user_${i % 200}%03d", 880000000L + (i * 7919L) % 500000L, i.toLong)
    }.toDF("User", "Start", "payload")
    for (m <- 0 to 5)
      rows.filter(pmod(col("payload"), lit(6)) === m)
        .write.mode("append").parquet(s"$dir/d=1")
    val preRows = spark.read.parquet(s"$dir/d=1").count()
    val stats = graft.sources.Compaction.compact(spark, dir, "d",
      Seq("User", "Start"), targetBytes = 16L << 10, minFiles = 2)
    assert(stats.nonEmpty)
    val multi = stats.filter(_.filesAfter >= 3)
    assert(multi.nonEmpty,
      s"fixture failed to force multi-file partitions: $stats")
    assert(spark.read.parquet(s"$dir/d=1").count() == preRows)
    // per compacted multi-file partition: each file's (User, Start)
    // min/max span must be DISJOINT from every other file's — the
    // min/max footer-stats pruning contract the write layout
    // (SlurmWarehouse.write repartitionByRange) establishes and a
    // round-robin compactor would destroy (every file would span the
    // full key range)
    implicit val ord: Ordering[(String, Long)] =
      Ordering.Tuple2(Ordering.String, Ordering.Long)
    multi.foreach { st =>
      val fileRows = spark.read.parquet(s"$dir/${st.partition}")
        .withColumn("_f", input_file_name())
        .select(col("_f"), col("User"), col("Start"))
        .collect()
      val spans = fileRows.groupBy(_.getString(0)).map { case (_, rs) =>
        val keys = rs.map(r => (r.getString(1), r.getLong(2)))
        (keys.min, keys.max)
      }.toSeq.sortBy(_._1)
      assert(spans.length == st.filesAfter, st.toString)
      spans.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) =>
          assert(ord.lteq(hi1, lo2),
            s"${st.partition}: file spans overlap: $spans")
        case _ =>
      }
      // pruning control (zBlocks-style): a `User = u` point scan only
      // has to open files whose User span covers u. With disjoint
      // spans most users live in exactly one of the n files — the scan
      // skips ~n−1. A round-robin layout fails this: every file covers
      // every user.
      val userSpans = spans.map { case ((lo, _), (hi, _)) => (lo, hi) }
      val users = fileRows.map(_.getString(1)).distinct
      val coverCounts = users.map(u =>
        userSpans.count { case (lo, hi) => lo <= u && u <= hi })
      // bound DERIVED from the layout, not hardcoded: a user's rows are
      // one contiguous run of the (User, Start) sort, so a run of r
      // rows can straddle at most 2 boundary files plus any file fully
      // inside the run — each of which holds ≥ minFileRows rows:
      //   k ≤ 2 + floor((r − 2) / minFileRows)
      val rowsPerFile = fileRows.groupBy(_.getString(0)).map(_._2.length)
      val minFileRows = rowsPerFile.min.max(1)
      val rowsPerUser = fileRows.groupBy(_.getString(1)).map { case (u, rs) =>
        u -> rs.length
      }
      users.zip(coverCounts).foreach { case (u, k) =>
        val r = rowsPerUser(u)
        val bound = if (r <= 1) 1 else 2 + (r - 2) / minFileRows
        assert(k <= bound,
          s"${st.partition}: user $u ($r rows) covered by $k of " +
            s"${st.filesAfter} files, layout bound $bound (minFileRows $minFileRows)")
      }
      assert(coverCounts.count(_ == 1) * 2 >= users.length,
        s"${st.partition}: fewer than half the users prune to one file")
    }
  }

  test("bucketed warehouse: job-key rollup and join plan with NO exchange") {
    val slurm = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L))
    SlurmWarehouse.writeBucketed(slurm, "slurm_bucketed_spec", nBuckets = 8)
    try {
      val t = spark.table("slurm_bucketed_spec")
      // the eff-style rollup: groupBy on the bucket key needs no shuffle
      val rollup = t.groupBy("JobIDnostep")
        .agg(max("NCPUS").as("cpus"), sum("Elapsed").as("el"))
      val rp = rollup.queryExecution.executedPlan.toString
      assert(!rp.contains("Exchange hashpartitioning"), rp.linesIterator
        .filter(_.contains("Exchange")).mkString("\n"))
      assert(rollup.count() > 0)
      // enrich join (per-job aggregates back onto every row) on the
      // bucket key: both sides share the bucket distribution → no
      // exchange on either side
      val enriched = t.select(col("JobIDnostep"), col("JobID"))
        .join(rollup, "JobIDnostep")
      val jp = enriched.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange hashpartitioning"), jp.linesIterator
        .filter(_.contains("Exchange")).mkString("\n"))
      assert(enriched.count() == t.count())
    } finally spark.sql("DROP TABLE IF EXISTS slurm_bucketed_spec")
  }

  test("corpus store: doc-key joins run exchange-free, language filters prune partitions") {
    import graft.sources.CorpusStore
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    CorpusStore.writeBucketed(docs, "corpus_bucketed_spec", nBuckets = 8)
    try {
      val t = spark.table("corpus_bucketed_spec")
      // joining doc-keyed derivatives (scores, verdicts, shard ids)
      // back onto the corpus: both sides share the bucket distribution
      val scored = t.select(col("doc_id"), col("n_chars"))
      val joined = t.join(scored.withColumnRenamed("n_chars", "s"), "doc_id")
      val jp = joined.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange hashpartitioning"), jp.linesIterator
        .filter(_.contains("Exchange")).mkString("\n"))
      assert(joined.count() == t.count())
      // a per-language slice reads only its partition directories
      val en = t.filter(col("lang") === "en")
      val ep = en.queryExecution.executedPlan.toString
      assert(ep.contains("PartitionFilters") && ep.contains("lang"),
        ep.linesIterator.filter(_.contains("Partition")).mkString("\n"))
      assert(en.count() > 0 && en.count() < t.count())
    } finally spark.sql("DROP TABLE IF EXISTS corpus_bucketed_spec")
  }

  test("bucket-preserving compaction: appends fragment, compaction packs, joins stay exchange-free") {
    import graft.sources.CorpusStore
    import org.apache.spark.sql.functions.{col, input_file_name}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tbl = "corpus_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // initial load + 3 incremental batches: each append adds ≥1 file
    // per touched bucket — the fragmentation compaction must repair
    CorpusStore.writeBucketed(docs.filter(col("doc_id") % 4 === 0), tbl, nBuckets = 8)
    for (m <- 1 to 3)
      CorpusStore.appendBucketed(docs.filter(col("doc_id") % 4 === m), tbl, nBuckets = 8)
    try {
      val preRows = spark.table(tbl).count()
      val preAgg = spark.table(tbl)
        .agg(org.apache.spark.sql.functions.sum(col("n_chars")),
          org.apache.spark.sql.functions.sum(col("doc_id"))).collect()(0)
      val (before, after) = CorpusStore.compactBucketed(spark, tbl)
      // fragmentation really happened, and compaction collapsed it to
      // ≤ one file per (lang partition, bucket)
      assert(before > after, s"no compaction: $before -> $after")
      val t = spark.table(tbl)
      val langs = docs.select("lang").distinct().count()
      assert(after <= langs * 8, s"$after files for $langs langs x 8 buckets")
      // nothing lost, nothing duplicated
      assert(t.count() == preRows)
      assert(t.agg(org.apache.spark.sql.functions.sum(col("n_chars")),
        org.apache.spark.sql.functions.sum(col("doc_id"))).collect()(0) == preAgg)
      // the layout contract survived the rewrite: doc-keyed join plans
      // with NO exchange on the corpus side (bucket metadata intact)
      val scored = t.select(col("doc_id"), col("n_chars"))
      val joined = t.join(scored.withColumnRenamed("n_chars", "s"), "doc_id")
      val jp = joined.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange hashpartitioning"), jp.linesIterator
        .filter(_.contains("Exchange")).mkString("\n"))
      assert(joined.count() == t.count())
      // a second pass is ~idempotent (already ≤1 file per (lang,bucket))
      val (b2, a2) = CorpusStore.compactBucketed(spark, tbl)
      assert(b2 == after && a2 <= b2)
      // the rename-aside swap cleaned up both staging names — neither
      // the staged table nor the renamed-aside original survives
      assert(!spark.catalog.tableExists(s"${tbl}_compacting"))
      assert(!spark.catalog.tableExists(s"${tbl}_precompact"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_precompact")
    }
  }

  test("z-clustered write: files cover disjoint z-runs and bounded key rectangles") {
    import graft.sources.CorpusStore
    import graft.operators.Layout
    import org.apache.spark.sql.functions._
    // full 64x64 key grid — any unclustered layout would give every
    // file the full span of at least one key
    val grid = spark.range(4096).select(col("id"),
      (col("id") / 64).cast("long").as("x"),
      pmod(col("id"), lit(64L)).as("y"))
    val dir = SparkTestSession.tmpDir("graft_zw").toString + "/zgrid"
    CorpusStore.writeZClustered(grid, dir, col("x"), col("y"),
      bits = 6, files = 8)
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("x"), col("y"),
        Layout.zValue(col("x"), col("y"), 6).as("z"))
    val files = back.groupBy("f")
      .agg(min(col("z")).as("zlo"), max(col("z")).as("zhi"),
        (max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .collect()
    assert(files.length == 8, s"expected 8 files, got ${files.length}")
    // disjoint z-runs: parquet min/max on a z column would prune
    val runs = files.map(r => (r.getAs[Long]("zlo"), r.getAs[Long]("zhi")))
      .sortBy(_._1)
    runs.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file z-runs must be disjoint: ${runs.toSeq}")
      case _ =>
    }
    // z-curve locality: every file's bounding box covers at most ~4x
    // its row count (a run crossing a high-bit seam legitimately
    // spans one key wide, but the AREA stays bounded — the constant
    // behind O(perimeter) query cost)
    val counts = back.groupBy("f").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    files.foreach { r =>
      val area = (r.getAs[Long]("sx") + 1) * (r.getAs[Long]("sy") + 1)
      assert(area <= 4 * counts(r.getString(0)),
        s"file bounding box must stay near its row count: $r area=$area")
    }
    // BOTH axes prune simultaneously: an 8-wide range box on x skips
    // files, and so does one on y — a single-key sort can never do
    // both (every file spans the full non-sorted axis, so that axis'
    // query hits all files; checked against the y-sorted layout)
    def hits(fs: Array[org.apache.spark.sql.Row], k: String, lo: Long, hi: Long) =
      fs.count(r => !(r.getAs[Long](s"max_$k") < lo || r.getAs[Long](s"min_$k") > hi))
    val fx = back.groupBy("f").agg(
      min(col("x")).as("min_x"), max(col("x")).as("max_x"),
      min(col("y")).as("min_y"), max(col("y")).as("max_y")).collect()
    assert(hits(fx, "x", 24, 31) < 8 && hits(fx, "y", 24, 31) < 8,
      s"both-axis pruning must hold: x=${hits(fx, "x", 24, 31)} y=${hits(fx, "y", 24, 31)}")
    val yDir = SparkTestSession.tmpDir("graft_yw").toString + "/ygrid"
    grid.repartitionByRange(8, col("y")).sortWithinPartitions(col("y"))
      .write.parquet(yDir)
    val fy = spark.read.parquet(yDir)
      .select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy("f").agg(
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y")).collect()
    assert(hits(fy, "x", 24, 31) == 8,
      "the y-sorted layout must fail to prune x — that is what z-order buys")
  }

  test("history collection commits per batch and resumes after a crash") {
    import graft.slurm.HistoryCollector
    val dir = SparkTestSession.tmpDir("graft_wh5").toString
    val day = 86400L
    // completed jobs only: running rows carry the far-future Time default
    val src = SlurmTable.build(SlurmSim.raw(spark, "/root/testdata/sf0.001"),
      lit(1750000000L)).filter(col("Time") < 1700000000L).cache()
    val lo = src.agg(min("Time")).collect()(0).getLong(0)
    val start0 = (lo / day) * day           // midnight-align like the reference
    val stop = start0 + 5 * day
    val now = start0 + 100 * day
    def fetch(okUntil: Long)(s: Long, e: Long) = {
      if (s >= okUntil) sys.error("sacct timeout")
      src.filter(col("Time") >= s && col("Time") < e)
    }
    // sacct dies from day 3 on: days 1-2 commit, bookmark sticks at day-2 end
    val errs = HistoryCollector.collect(spark, dir,
      fetch(start0 + 2 * day), start0, stop, now)
    assert(errs == 4)
    assert(SlurmWarehouse.lastTimestamp(spark, dir).contains(start0 + 2 * day))
    // restart resumes from bookmark - 5s, re-merges the overlap, finishes
    val s2 = HistoryCollector.resumeStart(spark, dir, start0)
    assert(s2 == start0 + 2 * day - 5)
    assert(HistoryCollector.collect(spark, dir,
      fetch(Long.MaxValue), s2, stop, now) == 0)
    val back = SlurmWarehouse.read(spark, dir).drop("time_day")
    val expected = src.filter(col("Time") >= start0 && col("Time") < start0 + 6 * day)
    assert(back.count() == expected.count())
    assert(back.count() == back.select("JobID").distinct().count())
    assert(SlurmWarehouse.lastTimestamp(spark, dir).contains(start0 + 6 * day))
  }
}
