package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.tools.Cli

/** One workload of the graft benchmark in one JVM, from one client
  * thread (a closed loop: the next call starts when the previous one
  * returns).
  *
  * Usage: `graftbench.Main workload=<name> work=<dir> seconds=<s>
  * trace=<0|1>`. The JVM starts its Spark session, then waits for a
  * line on stdin that says the inputs are written (and named in
  * `work/inputs.txt`), so that input generation and JVM start overlap.
  * It prints `READY <epoch ms>` when set-up ends and writes
  * `result.json` (latencies, counts, spans) plus the outputs the checker
  * reads into `work`.
  *
  * With trace=0 nothing but the user calls runs. With trace=1 each
  * measured call runs twice: once plain, to measure the tracing
  * overhead, and once inside spans with a Spark listener attached.
  * Spans wrap the benchmark's own calls into each layer and carry the
  * index of the call they belong to; a layer whose result is lazy is
  * materialised into the `noop` sink so that its plan is charged to it. */
object Main {

  // ---- tracing --------------------------------------------------------

  final case class Span(op: Int, name: String, parent: String, start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  final class Tracer {
    val spans = ArrayBuffer[Span]()
    var op = 0
    private var stack: List[String] = Nil
    def apply[T](name: String)(f: => T): T = {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val s = System.nanoTime()
      try f finally {
        spans += Span(op, name, parent, s, System.nanoTime())
        stack = stack.tail
      }
    }
    def ms(op: Int, name: String): Double =
      spans.filter(s => s.op == op && s.name == name).map(_.ms).sum
    /** Median over the traced calls that ran span `name` of its time
      * minus the spans `minus` of the same call (the layers its
      * materialisation re-ran), in s. */
    def selfS(name: String, minus: String*): Double = {
      val ops = spans.filter(_.name == name).map(_.op).distinct.toSeq
      median(ops.map(o => ms(o, name) - minus.map(ms(o, _)).sum)) / 1e3
    }
  }

  /** Task- and stage-level counts from the listener bus. */
  final class Counters extends SparkListener {
    val stages, tasks, cpuNs, gcMs, shuffleWrite, spill, inputBytes = new AtomicLong
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Planning phases (analysis, optimisation, physical planning) of
    * every query that ran. */
  final class Phases extends QueryExecutionListener {
    val analysisMs, optimizationMs, planningMs = new AtomicLong
    private def add(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      p.get("analysis").foreach(x => analysisMs.addAndGet(x.durationMs))
      p.get("optimization").foreach(x => optimizationMs.addAndGet(x.durationMs))
      p.get("planning").foreach(x => planningMs.addAndGet(x.durationMs))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  final class Probe(spark: SparkSession) {
    val counters = new Counters
    val phases = new Phases
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(phases)
    }
    def detach(): Unit = {
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(phases)
    }
    def snapshot(): Map[String, Double] = {
      BenchBus.drain(spark.sparkContext)
      val c = counters; val p = phases
      Map(
        "stages" -> c.stages.get.toDouble, "tasks" -> c.tasks.get.toDouble,
        "executor_cpu_s" -> c.cpuNs.get / 1e9, "gc_s" -> c.gcMs.get / 1e3,
        "shuffle_write_bytes" -> c.shuffleWrite.get.toDouble,
        "spill_bytes" -> c.spill.get.toDouble, "input_bytes" -> c.inputBytes.get.toDouble,
        "analysis_ms" -> p.analysisMs.get.toDouble,
        "optimization_ms" -> p.optimizationMs.get.toDouble,
        "planning_ms" -> p.planningMs.get.toDouble,
        "compile_ms" -> CodeGenerator.compileTime / 1e6)
    }
    /** Counts accrued while `f` runs. */
    def delta[T](f: => T): (T, Map[String, Double]) = {
      val a = snapshot()
      val r = f
      val b = snapshot()
      (r, b.map { case (k, v) => k -> (v - a(k)) })
    }
  }

  object Scans extends AdaptiveSparkPlanHelper {
    /** (files, bytes, rows) the executed plan's file scans report. */
    def of(plan: SparkPlan): (Double, Double, Double) = {
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
      (sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
    }
  }

  // ---- helpers ---------------------------------------------------------

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** (parquet files, bytes) under a directory. */
  def diskUsage(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.count(_.getFileName.toString.endsWith(".parquet")), files.map(Files.size).sum)
    } finally s.close()
  }

  /** Largest heap in use right after a garbage collection since the
    * last `reset`: the peak of live data, which depends on what the
    * program retains rather than on when the collector ran. The harness
    * resets it once the session is up and the inputs are written, and a
    * workload whose set-up does other work than its user call (the
    * warehouse build of `report_db`) resets it again after that work.
    * So it covers the user call's warm-up runs and the measured loop:
    * the post-collection peak of one call is bimodal (it depends on
    * whether a collection lands while a call holds its largest data),
    * and the maximum over several calls is the steady figure. */
  object LiveHeap {
    import java.lang.management.{ManagementFactory, MemoryType}
    private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peakBytes = 0L
    /** JVM uptime (ms) from which collections count. */
    @volatile private var since = 0L
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val gc = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
              val after = gc.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              synchronized { if (gc.getStartTime >= since && after > peakBytes) peakBytes = after }
            }
          }, null, null)
        case _ => ()
      }
    /** Collects, then starts the peak from the live heap left: what
      * earlier work retained counts, what it allocated and dropped does
      * not. */
    def reset(): Unit = {
      synchronized { since = ManagementFactory.getRuntimeMXBean.getUptime }
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { peakBytes = used }
    }
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def loadAvg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productIterator.toSeq)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Runs `op` in a closed loop until `seconds` have passed and it ran
    * at least `minCalls` times; returns each call's wall time in ms. */
  def closedLoop(seconds: Double, minCalls: Int = 1)(op: Int => Unit): Seq[Double] = {
    val lat = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCalls || System.nanoTime() - t0 < seconds * 1e9) {
      val s = System.nanoTime()
      op(i)
      lat += (System.nanoTime() - s) / 1e6
      i += 1
    }
    lat.toSeq
  }

  // ---- entry -----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    def pairs(xs: Seq[String]) = xs.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val opts = pairs(argv.toSeq)
    val work = Paths.get(opts("work")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    LiveHeap.install()
    val spark = Cli.session()
    val sessionAt = System.currentTimeMillis()
    // the inputs are written while the session starts; `inputs.txt`
    // (key=value lines) names them once they are complete
    scala.io.StdIn.readLine()
    val inputsAt = System.currentTimeMillis()
    val kv = opts ++ pairs(Files.readAllLines(work.resolve("inputs.txt")).asScala.toSeq)
    val calibBefore = graft.Bench.calibrate()
    val loadBefore = loadAvg()
    val w: Workload = kv("workload") match {
      case "ingest_dump" => new IngestWorkload(spark, work, kv)
      case "report_db" => new ReportWorkload(spark, work, kv)
      case "curate_corpus" => new CurateWorkload(spark, work, kv)
    }
    val tracer = new Tracer
    val probe = new Probe(spark)
    LiveHeap.reset()
    w.setup()
    val readyAt = System.currentTimeMillis()
    println(s"READY $readyAt")
    System.out.flush()
    val cpu0 = processCpuS()
    val lat = ArrayBuffer[Double]()
    val plainLat = ArrayBuffer[Double]()
    val wall0 = System.nanoTime()
    if (!trace) lat ++= closedLoop(seconds)(w.call)
    else {
      probe.attach()
      // plain and traced calls take turns going first (plain, traced |
      // traced, plain), so that a steady warm-up drift cancels over each
      // two iterations
      def plain(i: Int): Unit = {
        probe.detach()
        val s = System.nanoTime()
        w.call(i)
        plainLat += (System.nanoTime() - s) / 1e6
        probe.attach()
      }
      closedLoop(seconds, w.minTracedCalls) { i =>
        if (i % 2 == 0) plain(i)
        tracer.op = i
        val s = System.nanoTime()
        w.traced(i, tracer, probe)
        lat += (System.nanoTime() - s) / 1e6
        if (i % 2 == 1) plain(i)
      }
      probe.detach()
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val cpuS = processCpuS() - cpu0
    val calibAfter = graft.Bench.calibrate()
    val loadAfter = loadAvg()
    val checks = w.finish()
    val out = Map(
      "workload" -> kv("workload"),
      "trace" -> trace,
      "latencies_ms" -> lat.toSeq,
      "plain_latencies_ms" -> plainLat.toSeq,
      "kinds" -> w.kinds(lat.size),
      "items_per_call" -> w.itemsPerCall,
      "wall_s" -> wallS,
      "process_cpu_s" -> cpuS,
      "peak_rss_mb" -> vmHwmMb(),
      "peak_live_heap_mb" -> LiveHeap.peakBytes / 1048576.0,
      "stored_bytes_per_input_byte" -> w.storedRatio,
      "setup_ms" -> Map(
        "jvm_start_to_session" -> (sessionAt - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
        "inputs_ready" -> inputsAt, "session_ready" -> sessionAt, "workload_setup" -> (readyAt - inputsAt)),
      "host" -> Map("calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "cpus" -> Runtime.getRuntime.availableProcessors()),
      "failed_calls" -> w.failedCalls,
      "jvm_checks_failed" -> checks,
      "layers" -> (if (!trace) Map.empty else {
        // the user call of each iteration, traced and plain: their paired
        // difference is the cost of the listeners and spans
        val user = lat.indices.map(w.userMs(tracer, _))
        w.layers(tracer) ++ Map(
          "trace.user_call_ms" -> median(user),
          "trace.overhead_ms" -> median(user.zip(plainLat).map { case (t, p) => t - p }))
      }),
      "spans" -> tracer.spans.toSeq)
    Files.write(work.resolve("result.json"), json(out).getBytes(UTF_8))
    spark.stop()
  }
}

/** One workload: set-up, the user call, its traced twin, the checks the
  * JVM must make itself, and the per-layer figures. */
trait Workload {
  def setup(): Unit
  def call(i: Int): Unit
  def traced(i: Int, t: Main.Tracer, p: Main.Probe): Unit
  /** Writes what the checker reads; returns the output comparisons the
    * JVM itself found wrong. */
  def finish(): Int
  def kinds(n: Int): Seq[String]
  def itemsPerCall: Double
  def storedRatio: Double
  def failedCalls: Int
  def layers(t: Main.Tracer): Map[String, Double]
  /** Time of traced iteration `op`'s user call, without the layer
    * decomposition that follows it, in ms. */
  def userMs(t: Main.Tracer, op: Int): Double
  /** Traced iterations a run makes however short `seconds` is: at least
    * two, so that plain and traced calls each go first once. */
  def minTracedCalls: Int = 2
}
