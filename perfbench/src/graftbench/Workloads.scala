package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}
import graft.slurm.{SacctSource, SlurmTable, SlurmViews, SlurmWarehouse}
import graft.sources.JsonlSource
import graft.tools.{Cli, IngestCli}

import Main.{deleteTree, diskUsage, median, noop, Probe, Scans, Tracer}

/** Figures gathered per traced call, reduced to medians at the end. */
final class PerCall {
  private val m = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, ArrayBuffer()) += v
  def addAll(d: Map[String, Double]): Unit = d.foreach { case (k, v) => add(k, v) }
  def medians: Map[String, Double] = m.map { case (k, v) => k -> median(v.toSeq) }.toMap
}

/** Engine counts every workload reports under the same names. */
object Engine {
  def plan(d: Map[String, Double]): Map[String, Double] = Map(
    "plan.analysis_ms" -> d("analysis_ms"), "plan.optimization_ms" -> d("optimization_ms"),
    "plan.planning_ms" -> d("planning_ms"), "codegen.compile_ms" -> d("compile_ms"))
  def counts(prefix: String, d: Map[String, Double]): Map[String, Double] = Map(
    s"$prefix.stages" -> d("stages"), s"$prefix.tasks" -> d("tasks"),
    s"$prefix.executor_cpu_s" -> d("executor_cpu_s"), s"$prefix.gc_s" -> d("gc_s"),
    s"$prefix.shuffle_write_bytes" -> d("shuffle_write_bytes"),
    s"$prefix.spill_bytes" -> d("spill_bytes"))
}

/** `graft-sacct` / `graft-seff` calls as a user makes them: parse the
  * argument list, build the frame, collect and render it (tsv, so that
  * the checker can split the columns). */
object ReportCalls {
  val KINDS: Seq[String] = Seq("sacct_job", "seff_user", "seff_agg", "sacct_gpu")

  def argv(db: String, kind: String, arg: String): Seq[String] =
    Seq("--db", db, "-f", "tsv") ++ (kind match {
      case "sacct_job" => Seq(arg)
      case "seff_user" => Seq("-u", arg)
      case "seff_agg" => Seq("--aggregate-user")
      case "sacct_gpu" => Seq("-r", "gpu", "-u", arg, "--order", "Start desc")
    })

  def frame(spark: SparkSession, kind: String, a: Cli.Args): Either[String, DataFrame] =
    if (kind.startsWith("sacct")) Cli.sacctFrame(spark, a) else Cli.seffFrame(spark, a)

  def run(spark: SparkSession, db: String, kind: String, arg: String): Option[String] =
    Cli.parse(argv(db, kind, arg))
      .flatMap(a => frame(spark, kind, a).map(df => Cli.render(df, a.format, a.limit))).toOption

  def read(path: String): IndexedSeq[(String, String)] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
      .filter(_.nonEmpty).map(_.split("\t", -1)).map(a => (a(0), a(1)))
}

/** `graft-ingest --sacct-input DUMP --now NOW WAREHOUSE` into an empty
  * warehouse, once per call. */
final class IngestWorkload(spark: SparkSession, work: Path, kv: Map[String, String]) extends Workload {
  private val dump = kv("input")
  private val now = kv("now")
  private val dumpBytes = Files.size(Paths.get(dump)).toDouble
  private var failed = 0
  private val written = ArrayBuffer[Path]()
  private val per = new PerCall

  private def ingest(wh: Path): Unit =
    IngestCli.parse(Seq(wh.toString, "--sacct-input", dump, "--now", now)) match {
      case Right(a) => IngestCli.ingest(spark, a) match {
        case Right(0) => ()
        case _ => failed += 1
      }
      case Left(_) => failed += 1
    }

  /** One ingest JIT-compiles and code-generates the path; most of its
    * cost is fixed (a dump a quarter the size costs as much). */
  def setup(): Unit = {
    val warm = work.resolve("wh_warm")
    ingest(warm)
    deleteTree(warm)
  }

  def call(i: Int): Unit = {
    val wh = work.resolve(s"wh_$i")
    ingest(wh)
    written += wh
  }

  def traced(i: Int, t: Tracer, p: Probe): Unit = {
    val wh = work.resolve(s"wh_t$i")
    val (_, d) = p.delta { t("cli.ingest") { ingest(wh) } }
    val (files, bytes) = diskUsage(wh.resolve("slurm"))
    per.addAll(Engine.counts("ingest", d) ++ Engine.plan(d))
    per.add("ingest.dump_scans", d("input_bytes") / dumpBytes)
    per.add("warehouse.files_written", files.toDouble)
    per.add("warehouse.bytes_written", bytes.toDouble)
    deleteTree(wh)
    if (i == 0) layerByLayer(t)
  }

  /** The same path, one layer call at a time. */
  private def layerByLayer(t: Tracer): Unit = {
    val layered = work.resolve("wh_layers")
    val raw = t("sacct_source.read") { val r = SacctSource.readSacct(spark, dump); noop(r); r }
    val built = t("slurm_table.build") { val b = SlurmTable.build(raw); noop(b); b }
    t("warehouse.write") { SlurmWarehouse.write(built, layered.toString) }
    t("warehouse.bookmark") { SlurmWarehouse.updateLastTimestamp(spark, layered.toString, now.toLong) }
    deleteTree(layered)
  }

  def finish(): Int = {
    written.dropRight(1).foreach(deleteTree)
    Files.write(work.resolve("warehouse.txt"), written.last.toString.getBytes(UTF_8))
    0
  }

  def kinds(n: Int): Seq[String] = Seq.fill(n)("ingest")
  def itemsPerCall: Double = kv("rows").toDouble
  def storedRatio: Double = written.lastOption.map(diskUsage(_)._2 / dumpBytes).getOrElse(0.0)
  def failedCalls: Int = failed

  def layers(t: Tracer): Map[String, Double] = per.medians ++ Map(
    "sacct_source.read_s" -> t.selfS("sacct_source.read"),
    "slurm_table.build_s" -> t.selfS("slurm_table.build", "sacct_source.read"),
    "warehouse.write_s" -> t.selfS("warehouse.write", "slurm_table.build"),
    "warehouse.bookmark_s" -> t.selfS("warehouse.bookmark"))
  def userMs(t: Tracer, op: Int): Double = t.ms(op, "cli.ingest")
}

/** A seeded sequence of `graft-sacct` / `graft-seff` calls against a
  * warehouse the set-up ingests. */
final class ReportWorkload(spark: SparkSession, work: Path, kv: Map[String, String]) extends Workload {
  private val db = work.resolve("wh").toString
  private val calls = ReportCalls.read(kv("calls"))
  /** Indices into `calls` in call order: the seeded order, or for a
    * traced run one kind after another, so that its few iterations still
    * trace every kind of call. */
  private val order: IndexedSeq[Int] =
    if (kv("trace") != "1") calls.indices
    else {
      val byKind = calls.indices.groupBy(calls(_)._1)
      val lists = ReportCalls.KINDS.flatMap(byKind.get)
      (0 until lists.map(_.size).max).flatMap(i => lists.flatMap(_.lift(i)))
    }
  private val outputs = scala.collection.mutable.Map[Int, String]()
  private var failed = 0
  private var mismatched = 0
  private val per = new PerCall
  private var dumpBytes = 0.0

  private def report(kind: String, arg: String): Option[String] = ReportCalls.run(spark, db, kind, arg)

  def setup(): Unit = {
    IngestCli.parse(Seq(db, "--sacct-input", kv("input"), "--now", kv("now")))
      .flatMap(IngestCli.ingest(spark, _)) match {
      case Right(0) => ()
      case other => throw new IllegalStateException(s"warehouse build failed: $other")
    }
    dumpBytes = Files.size(Paths.get(kv("input"))).toDouble
    // the memory peak counts report calls only, not the build
    Main.LiveHeap.reset()
    // warm-up: every call kind three times (a kind's calls keep getting
    // faster over its first few runs)
    for (_ <- 0 until 3; k <- ReportCalls.KINDS) {
      val arg = calls.find(_._1 == k).map(_._2).getOrElse("")
      report(k, arg)
    }
  }

  def call(i: Int): Unit = {
    val j = order(i % order.size)
    val (k, a) = calls(j)
    report(k, a) match {
      case None => failed += 1
      case Some(text) => outputs.get(j) match {
        case None => outputs(j) = text
        case Some(prev) => if (prev != text) mismatched += 1
      }
    }
  }

  def traced(i: Int, t: Tracer, p: Probe): Unit = {
    val (k, arg) = calls(order(i % order.size))
    val a = Cli.parse(ReportCalls.argv(db, k, arg)).toOption.get
    val ((df, rows), d) = p.delta {
      val df = t(s"cli.frame_plan.$k") { ReportCalls.frame(spark, k, a).toOption.get }
      val rows = t(s"cli.exec.$k") { df.collect() }
      t(s"cli.render.$k") {
        Cli.render(spark.createDataFrame(rows.toSeq.asJava, df.schema), a.format, a.limit)
      }
      (df, rows)
    }
    val (files, bytes, scanRows) = Scans.of(df.queryExecution.executedPlan)
    per.add("report.files_read", files)
    per.add("report.bytes_scanned", bytes)
    per.addAll(Engine.plan(d))
    if (k.startsWith("seff")) {
      per.add("report.rows_aggregated_per_row_returned", scanRows / math.max(1, rows.length))
      t("slurm_views.eff") { noop(SlurmViews.eff(SlurmWarehouse.read(spark, db))) }
    }
  }

  def finish(): Int = {
    val dir = work.resolve("calls_out")
    Files.createDirectories(dir)
    outputs.foreach { case (i, text) => Files.write(dir.resolve(s"$i.tsv"), text.getBytes(UTF_8)) }
    mismatched
  }

  def kinds(n: Int): Seq[String] = (0 until n).map(i => calls(order(i % order.size))._1)
  override def minTracedCalls: Int = ReportCalls.KINDS.size
  def itemsPerCall: Double = 1.0
  def storedRatio: Double = diskUsage(Paths.get(db))._2 / dumpBytes
  def failedCalls: Int = failed

  def layers(t: Tracer): Map[String, Double] = {
    val byName = t.spans.groupBy(_.name).map { case (n, s) => n -> median(s.map(_.ms).toSeq) }
    val cli = for (k <- ReportCalls.KINDS;
                   part <- Seq("frame_plan", "exec", "render"))
      yield s"cli.${part}_ms.$k" -> byName.getOrElse(s"cli.$part.$k", 0.0)
    per.medians ++ cli ++ Map("views.eff_s" -> byName.getOrElse("slurm_views.eff", 0.0) / 1e3)
  }
  def userMs(t: Tracer, op: Int): Double =
    t.spans.filter(s => s.op == op && s.name.startsWith("cli.")).map(_.ms).sum
}

/** JSONL shards → cleaned lines → exact keepers → near-duplicate pairs
  * → token-balanced shards written as parquet, once per call. */
final class CurateWorkload(spark: SparkSession, work: Path, kv: Map[String, String]) extends Workload {
  private val input = kv("input")
  private val must = kv("must").split(",").toSeq
  private val banned = kv("banned").split(",").toSeq
  private val minTokens = kv("min_tokens").toInt
  private val shardTokens = kv("shard_tokens").toLong
  private val inBytes = diskUsage(Paths.get(input))._2.toDouble
  private var failed = 0
  private val written = ArrayBuffer[Path]()
  private val per = new PerCall

  private def cleaned(docs: DataFrame): DataFrame =
    TextOps.cleanLines(docs, col("text"), minTokens, must, banned)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"),
        size(TextOps.tokens(col("clean_text"))).cast("long").as("n_tokens"))

  private def keepers(clean: DataFrame): DataFrame =
    Dedup.exactKeeperRows(clean, col("clean_text"), col("doc_id"), Seq("clean_text", "n_tokens"))
      .withColumnRenamed("keeper_id", "doc_id")

  private def candidates(keep: DataFrame): DataFrame =
    Dedup.polyMinhashPairs(keep, col("clean_text"), col("doc_id"), maxBucket = Dedup.MAX_FULL_BUCKET)

  private def verified(keep: DataFrame, cands: DataFrame): DataFrame =
    Dedup.jaccardVerify(cands, keep, col("clean_text"), col("doc_id"), 0.5)

  private def sharded(keep: DataFrame, pairsPath: Path): DataFrame = {
    val dropped = spark.read.parquet(pairsPath.toString).select(col("doc_b").as("doc_id")).distinct()
    val kept = keep.join(dropped, Seq("doc_id"), "left_anti")
    TextOps.assignShards(kept, col("doc_id"), col("n_tokens"), shardTokens)
      .join(kept.select("doc_id", "clean_text"), "doc_id")
  }

  private def writeShards(df: DataFrame, out: Path): Unit =
    df.write.mode("overwrite").partitionBy("shard_id").parquet(out.resolve("shards").toString)

  /** The pipeline as a user runs it; keepers feed two outputs, so they
    * are cached for the duration of the call. */
  private def curate(out: Path): Unit =
    try {
      val keep = keepers(cleaned(JsonlSource.readDocuments(spark, input))).persist()
      try {
        verified(keep, candidates(keep)).write.mode("overwrite").parquet(out.resolve("pairs").toString)
        writeShards(sharded(keep, out.resolve("pairs")), out)
      } finally keep.unpersist()
    } catch { case e: Exception => failed += 1; System.err.println(s"[curate] failed: $e") }

  /** Two passes: after one, the next pass still runs ~15% faster, and
    * whether a 6 s window then holds one call or two would move the
    * median. */
  def setup(): Unit = for (n <- 0 until 2) {
    val warm = work.resolve(s"out_warm$n")
    curate(warm)
    deleteTree(warm)
  }

  def call(i: Int): Unit = {
    val out = work.resolve(s"out_$i")
    curate(out)
    written += out
  }

  def traced(i: Int, t: Tracer, p: Probe): Unit = {
    val out = work.resolve(s"out_t$i")
    val (_, d) = p.delta { t("curate.pipeline") { curate(out) } }
    per.addAll(Engine.counts("curate", d) ++ Engine.plan(d))
    deleteTree(out)
    if (i == 0) layerByLayer(t)
  }

  /** The same pipeline, one layer call at a time. */
  private def layerByLayer(t: Tracer): Unit = {
    val layered = work.resolve("out_layers")
    val docs = t("jsonl.read") { val r = JsonlSource.readDocuments(spark, input); noop(r); r }
    val clean = t("textops.clean") { val c = cleaned(docs); noop(c); c }
    val keep = keepers(clean).persist()
    t("dedup.exact") { keep.count() }
    val cands = candidates(keep)
    val nCands = cands.count().toDouble
    t("dedup.near") {
      verified(keep, cands).write.mode("overwrite").parquet(layered.resolve("pairs").toString)
    }
    val nVerified = spark.read.parquet(layered.resolve("pairs").toString).count().toDouble
    // cached, so that the write span times the parquet write alone
    val shards = sharded(keep, layered.resolve("pairs")).persist()
    t("textops.shards") { shards.count() }
    t("curate.write") { writeShards(shards, layered) }
    shards.unpersist()
    keep.unpersist()
    deleteTree(layered)
    per.add("dedup.candidate_pairs", nCands)
    per.add("dedup.verified_pairs", nVerified)
    per.add("dedup.verify_yield", if (nCands > 0) nVerified / nCands else 0.0)
  }

  def finish(): Int = {
    written.dropRight(1).foreach(deleteTree)
    written.lastOption.foreach(last =>
      Files.write(work.resolve("curated.txt"), last.toString.getBytes(UTF_8)))
    0
  }

  def kinds(n: Int): Seq[String] = Seq.fill(n)("curate")
  def itemsPerCall: Double = kv("docs").toDouble
  def storedRatio: Double = written.lastOption.map(diskUsage(_)._2 / inBytes).getOrElse(0.0)
  def failedCalls: Int = failed

  def layers(t: Tracer): Map[String, Double] = per.medians ++ Map(
    "jsonl.read_s" -> t.selfS("jsonl.read"),
    "textops.clean_s" -> t.selfS("textops.clean", "jsonl.read"),
    "dedup.exact_s" -> t.selfS("dedup.exact", "textops.clean"),
    "dedup.near_s" -> t.selfS("dedup.near"),
    "textops.shards_s" -> t.selfS("textops.shards"),
    "curate.write_s" -> t.selfS("curate.write"))
  def userMs(t: Tracer, op: Int): Double = t.ms(op, "curate.pipeline")
}
