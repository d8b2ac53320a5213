package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

/** Streaming twins produce the same answers as their batch forms
  * (SURVEY §2.6), driven synchronously through a MemoryStream. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("windowedCounts matches the batch tumbling-window aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("event_type"), col("value"))
    val rows = events.as[(java.sql.Timestamp, String, Double)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedCounts(sdf).writeStream
      .outputMode("append").format("memory").queryName("win_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    // append mode emits only watermark-closed windows; push a late
    // sentinel far in the future to flush, then stop
    stream.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "flush", 0.0)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("win_out")
      .filter(col("event_type") =!= "flush")
      .groupBy("window_start", "event_type").agg(sum("n").as("n"))
    val want = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() == want.count())
    assert(got.join(want, Seq("window_start", "event_type"))
      .filter(got("n") =!= want("n")).count() == 0)
  }

  test("streaming windowed HLL distinct matches batch exact within 2% per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("user_id").cast("long").as("user_id"))
    val rows = events.as[(java.sql.Timestamp, Long)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val sdf = stream.toDF().toDF("ts", "user_id")
    val q = EventStream.approxDistinctPerWindow(sdf).writeStream
      .outputMode("append").format("memory").queryName("hll_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    stream.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L)))
    q.processAllAvailable()
    q.stop()

    val exact = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"))
      .agg(countDistinct(col("user_id")).as("exact"))
    val joined = spark.table("hll_out")
      .filter(col("window_start") < "2030-01-01")
      .join(exact, "window_start")
      .select(col("approx_distinct"), col("exact")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (est, ex) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
      assert(math.abs(est - ex) / ex <= 0.02, s"window off: est=$est exact=$ex")
    }
  }

  test("streaming windowed quantiles are rank-faithful vs batch-exact values per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("value").cast("double").as("value"))
    val rows = events.as[(java.sql.Timestamp, Double)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val sdf = stream.toDF().toDF("ts", "value")
    val q = EventStream.quantilesPerWindow(sdf).writeStream
      .outputMode("append").format("memory").queryName("qtl_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    stream.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()

    // rank-faithfulness: each emitted quantile must sit within ±2% of
    // the target rank among the window's exact sorted values
    val byWindow = events
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .collect().groupBy(_.getAs[java.sql.Timestamp]("window_start"))
      .map { case (w, rs) => w -> rs.map(_.getAs[Double]("value")).sorted }
    val got = spark.table("qtl_out")
      .filter(col("window_start") < "2030-01-01").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val vals = byWindow(r.getAs[java.sql.Timestamp]("window_start"))
      val n = vals.length
      for ((p, i) <- Seq(0.5 -> 1, 0.9 -> 2, 0.99 -> 3)) {
        val v = r.getDouble(i)
        val rank = vals.count(_ <= v).toDouble / n
        // ±2% rank error, floored at the window's own rank granularity
        assert(math.abs(rank - p) <= math.max(0.02, 1.5 / n),
          s"p$p estimate $v lands at rank $rank of $n")
      }
    }
  }

  test("streaming windowed CMS estimates bound batch-exact key counts per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("user_id").cast("long").as("user_id"))
    val rows = events.as[(java.sql.Timestamp, Long)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val sdf = stream.toDF().toDF("ts", "user_id")
    val q = EventStream.cmsPerWindow(sdf).writeStream
      .outputMode("append").format("memory").queryName("cms_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    stream.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L)))
    q.processAllAvailable()
    q.stop()

    val exact = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy("window_start")
      .agg(collect_list(struct(xxhash64(col("user_id")).as("h"),
        col("n"))).as("keys"))
    val sketched = spark.table("cms_out")
      .filter(col("window_start") < "2030-01-01")
      .join(exact, "window_start").collect()
    assert(sketched.nonEmpty)
    sketched.foreach { r =>
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(r.getAs[Array[Byte]]("cms"))
      val total = r.getAs[Long]("n")
      val bound = math.ceil(1e-3 * total).toLong
      r.getAs[Seq[org.apache.spark.sql.Row]]("keys").foreach { k =>
        val (h, n) = (k.getAs[Long]("h"), k.getAs[Long]("n"))
        val est = cms.estimateCount(java.lang.Long.valueOf(h))
        assert(est >= n && est <= n + bound,
          s"CMS estimate $est outside [$n, ${n + bound}]")
      }
    }
  }

  test("watermark drops data later than 30min behind the max event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = graft.streaming.EventStream.windowedCounts(sdf).writeStream
      .outputMode("append").format("memory").queryName("late_out").start()
    // batch 1: events at 10:xx advance the watermark to 11:30
    stream.addData(Seq((ts("2024-01-01 10:05:00"), "a", 1.0),
      (ts("2024-01-01 12:00:00"), "a", 1.0)))
    q.processAllAvailable()
    // batch 2: an event for the (closed) 10:00 window arrives late
    stream.addData(Seq((ts("2024-01-01 10:10:00"), "a", 99.0)))
    q.processAllAvailable()
    // flush remaining windows
    stream.addData(Seq((ts("2024-01-01 20:00:00"), "flush", 0.0)))
    q.processAllAvailable()
    q.stop()
    val tenOclock = spark.table("late_out")
      .filter(col("event_type") === "a" &&
        col("window_start") === ts("2024-01-01 10:00:00")).collect()
    // the late 10:10 event was dropped: count 1, value 1.0 (not 100.0)
    assert(tenOclock.length == 1)
    assert(tenOclock(0).getAs[Long]("n") == 1L)
    assert(tenOclock(0).getAs[Double]("total_value") == 1.0)
  }

  /** Stages `df` split by its `wave` column the way the d165–d177
    * gates do (one file per wave, read one per micro-batch); returns
    * the dir. */
  private def staged(prefix: String, df: org.apache.spark.sql.DataFrame): String = {
    val base = SparkTestSession.tmpDir(prefix)
    graft.queries.PipelineQueries.stageWaves(df, base, 3)
    base.toString
  }

  private def runToEnd(out: org.apache.spark.sql.DataFrame, sink: String): Unit =
    out.writeStream.outputMode("append").format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

  test("staged waves: the late filter in batch b uses batch b-2's watermark") {
    import spark.implicits._
    // wave w holds one event per hour 1..10(w+1) under its own type, so
    // the wave maxima strictly increase and which wave-2 windows
    // survive names the batch whose stats filter it
    val t0 = java.time.Instant.parse("2024-01-01T00:00:01Z").getEpochSecond
    val dir = staged("waves_win", (0 until 3).flatMap(w =>
      (1 to 10 * (w + 1)).map(h =>
        (w, new java.sql.Timestamp((t0 + h * 3600L) * 1000L), s"t$w", 1.0)))
      .toDF("wave", "ts", "event_type", "value"))
    runToEnd(EventStream.windowedCounts(spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(dir)), "waves_win_out")
    val got = spark.table("waves_win_out").groupBy("event_type")
      .agg(count(lit(1)), min(date_format(col("window_start"), "MM-dd HH:mm")),
        max(date_format(col("window_start"), "MM-dd HH:mm")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getString(3)))
      .toMap
    // waves 0 and 1 drop nothing; wave 2 drops the windows that end by
    // max(wave 0) − 30 min = 09:30:01 (batch 1's stats would cut at
    // 19:30:01); append mode emits up to max(all) − 30 min = 01-02 05:30:01
    assert(got == Map(
      "t0" -> (10L, "01-01 01:00", "01-01 10:00"),
      "t1" -> (20L, "01-01 01:00", "01-01 20:00"),
      "t2" -> (20L, "01-01 09:00", "01-02 04:00")))
  }

  test("staged waves: dedup expiry follows the b-2 watermark; a suppressed duplicate does not refresh it") {
    import spark.implicits._
    def at(h: Double) = new java.sql.Timestamp(
      java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli + (h * 3600000L).toLong)
    // default 1 h horizon; M carries each wave's watermark
    val dir = staged("waves_dedup", Seq(
      (0, 1L, at(1.0), "A"), (0, 6L, at(1.0), "D"), (0, 9L, at(10.0), "M"),
      (1, 2L, at(1.0 + 10.0 / 60), "A"), (1, 3L, at(2.0), "B"),
      (1, 7L, at(8.5), "D"), (1, 9L, at(10.0 + 20.0 / 60), "M2"),
      (2, 4L, at(9.0 + 40.0 / 60), "A"), (2, 5L, at(2.0 + 5.0 / 60), "B"),
      (2, 8L, at(9.0 + 5.0 / 60), "D"), (2, 10L, at(9.0 + 10.0 / 60), "C"),
      (2, 11L, at(10.0 + 40.0 / 60), "M3")).toDF("wave", "doc_id", "ts", "text"))
    runToEnd(EventStream.deduplicated(spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir), col("text")), "waves_dedup_out")
    val got = spark.table("waves_dedup_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // batch 1 has no watermark yet: A@01:10 and D@08:30 are suppressed
    // by state. Batch 2 filters and evicts at max(wave 0) − 1 h = 09:00
    // (batch 1's stats would give 09:20 and drop C@09:10 and D@09:05):
    // B@02:05 is late; A's and D's keys (expiry 02:00) are gone, so
    // A@09:40 and D@09:05 re-emit — had D's suppressed 08:30 copy
    // refreshed its expiry to 09:30, D@09:05 would stay suppressed
    assert(got == Set(1L, 6L, 9L, 3L, 4L, 8L, 10L, 11L))
  }

  test("sessionize state machine closes gap>30min sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sdf = stream.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.sessionize(spark, sdf).writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    stream.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),  // same session
      (1L, ts("2024-01-01 11:00:00"), 4.0),  // gap 50min → new session
      (2L, ts("2024-01-01 10:00:00"), 8.0)))
    q.processAllAvailable()
    q.stop()
    // only CLOSED sessions are emitted: user 1's first session
    val out = spark.table("sess_out").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("user_id") == 1L)
    assert(r.getAs[Long]("n_events") == 2L)
    assert(r.getAs[Double]("session_value") == 3.0)
  }

  test("sessionize event-time timeout emits a one-visit user once the watermark passes") {
    // the r16 upgrade: under NoTimeout a single-event user was NEVER
    // emitted (no later event to close the session) and state never
    // shrank. With EventTimeTimeout the timeout fires in the first
    // batch where the group has no data and the CURRENT watermark
    // (b-1 stats) exceeds lastTs + gap.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sdf = stream.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.sessionize(spark, sdf).writeStream
      .outputMode("append").format("memory").queryName("sess_to_out").start()
    stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), 5.0)))
    q.processAllAvailable()
    // watermark after this batch: 12:00 − 30 min = 11:30 > 10:30
    stream.addData(Seq((9L, ts("2024-01-01 12:00:00"), 1.0)))
    q.processAllAvailable()
    // u1 has no data here and the current watermark (11:30) passed
    // its timeout (10:30) → the timeout fires IN this batch
    stream.addData(Seq((9L, ts("2024-01-01 12:01:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_to_out")
      .filter(col("user_id") === 1L).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_events") == 1L)
    assert(out(0).getAs[Double]("session_value") == 5.0)
  }

  test("sessionize merges a late out-of-order slice backward (no spurious split)") {
    // d169's u6 case: a wave-1 event 10 min BEFORE its wave-0
    // predecessor is within the gap (negative diff), so it MERGES and
    // the state machine's lastTs moves backward — n=2, one session.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sdf = stream.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.sessionize(spark, sdf).writeStream
      .outputMode("append").format("memory").queryName("sess_merge_out").start()
    // anchor LOW (05:10 → watermark 04:40) so the out-of-order 04:50
    // stays above the late filter even though MemoryStream runs
    // no-data batches between addData calls (unlike the staged-file
    // gate, where the filter lags to b-2 — the staged-wave case above)
    stream.addData(Seq((6L, ts("2024-01-01 05:00:00"), 6.0),
      (9L, ts("2024-01-01 05:10:00"), 1.0)))
    q.processAllAvailable()
    stream.addData(Seq((6L, ts("2024-01-01 04:50:00"), 0.1)))
    q.processAllAvailable()
    // advance the watermark past u6's session end (05:20), then one
    // more batch so the timeout fires in a u6-quiet data batch
    stream.addData(Seq((9L, ts("2024-01-01 07:00:00"), 1.0)))
    q.processAllAvailable()
    stream.addData(Seq((9L, ts("2024-01-01 07:01:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_merge_out")
      .filter(col("user_id") === 6L).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("session_start") == ts("2024-01-01 05:00:00").getTime / 1000,
      "session start is the FIRST-PROCESSED event's time, not min(ts)")
    assert(r.getAs[Long]("n_events") == 2L)
    assert(math.abs(r.getAs[Double]("session_value") - 6.1) < 1e-9)
  }

  test("streaming dedup keeps first doc per content hash across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = stream.toDF().toDF("doc_id", "ts", "text")
    val q = EventStream.deduplicated(sdf, col("text")).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    stream.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), "alpha beta"),
      (2L, ts("2024-01-01 10:01:00"), "gamma delta")))
    q.processAllAvailable()
    stream.addData(Seq(
      (3L, ts("2024-01-01 10:02:00"), "alpha beta"),   // dup of 1, later batch
      (4L, ts("2024-01-01 10:03:00"), "epsilon")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 4L))
  }

  test("streaming dedup state is EVICTED at the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = stream.toDF().toDF("doc_id", "ts", "text")
    val q = EventStream.deduplicated(sdf, col("text")).writeStream
      .outputMode("append").format("memory").queryName("evict_out").start()
    // batch 1: seed the hash state
    stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), "alpha beta")))
    q.processAllAvailable()
    // batch 2: advance the watermark far past 10:00 + 1h horizon
    stream.addData(Seq((2L, ts("2024-01-01 14:00:00"), "unrelated")))
    q.processAllAvailable()
    // batch 3: the SAME content again, after the horizon — with real
    // eviction (dropDuplicatesWithinWatermark) the key re-emits; with
    // plain dropDuplicates the state would live forever and swallow it
    stream.addData(Seq((3L, ts("2024-01-01 14:30:00"), "alpha beta")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("evict_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L),
      s"doc 3 must re-emit after state eviction, got $out")
  }

  test("streaming interval join tags events with their static windows (binned, stateless)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val intervals = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
      (2L, ts("2024-01-01 18:00:00"), ts("2024-01-01 19:00:00")))
      .toDF("window_id", "w_start", "w_end")
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sdf = stream.toDF().toDF("event_id", "ts")
    val q = EventStream.inIntervals(sdf, intervals, col("ts"),
      col("w_start"), col("w_end")).writeStream
      .outputMode("append").format("memory").queryName("ivl_out").start()
    stream.addData(Seq(
      (10L, ts("2024-01-01 11:00:00")),   // inside window 1
      (11L, ts("2024-01-01 13:00:00")),   // inside no window
      (12L, ts("2024-01-01 18:30:00"))))  // inside window 2
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ivl_out").select("event_id", "window_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 1L), (12L, 2L)))
  }

  test("text-curation column ops run unchanged on a stream (map-only)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    // the same Column expressions the batch queries use — no rewrite
    val curated = graft.operators.TextOps.qualityMetrics(sdf, col("text"))
      .withColumn("clean", graft.operators.TextOps.scrubPii(col("text")))
      .withColumn("lang", graft.operators.TextOps.langId(col("text")))
      .select("doc_id", "n_tokens", "repetition_ratio", "clean", "lang")
    val q = curated.writeStream.outputMode("append").format("memory")
      .queryName("cur_out").start()
    stream.addData(Seq(
      (1L, "the cat sat on the mat mail me at a@b.co ref 1234567"),
      (2L, "la la la la")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cur_out").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[String]("clean").contains("<EMAIL>"))
    assert(rows(1L).getAs[String]("clean").contains("<NUM>"))
    assert(rows(2L).getAs[Double]("repetition_ratio") == 0.25)
    assert(rows(1L).getAs[String]("lang") == "en")
  }

  test("token chunking runs unchanged on a stream and matches the batch chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    // chunkTokens is a pure transform+posexplode — stateless, so the
    // SAME call chunks an unbounded stream with no watermark
    val q = graft.operators.TextOps.chunkTokens(sdf, col("text"),
        col("doc_id"), win = 4, stride = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_out").start()
    val data = Seq(
      (1L, (1 to 11).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"))
    stream.addData(data)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chunk_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val want = graft.operators.TextOps.chunkTokens(data.toDF("doc_id", "text"),
        col("text"), col("doc_id"), win = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == want && got.size == 5)
  }

  test("streaming near-dup flags docs that match the static corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50).cache()
    // a near copy of corpus doc 0 (last word dropped) and a novel doc
    val base = corpus.filter(col("doc_id") === 0).collect()(0).getString(1)
    val near = base.split("\\s+").dropRight(1).mkString(" ")
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val q = EventStream.nearDupAgainst(sdf, corpus, col("text"), col("doc_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    stream.addData(Seq((1000001L, near),
      (1000002L, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.exists { case (d, c) => d == 1000001L && c == 0L },
      "near-copy must hit corpus doc 0")
    assert(!out.exists(_._1 == 1000002L), "novel doc must not be flagged")
  }

  test("streaming decontamination flags the stream docs that near-match the bench set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50).cache()
    // bench = near copies (last word dropped) of docs 0 and 7
    val bench = docs.filter(col("doc_id").isin(0L, 7L))
      .select((col("doc_id") + 9000L).as("bench_id"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), lit(1),
          greatest(size(split(col("text"), "\\s+")) - 1, lit(1)))).as("snippet"))
      .cache()
    val rows = docs.as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val q = EventStream.decontaminate(sdf, bench, col("text"), col("doc_id"),
        col("snippet"), col("bench_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("decontam_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decontam_out").select("doc_id", "bench_id")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical math to the batch operator — the flagged sets must match
    val want = graft.operators.Dedup.crossNearDup(docs, bench, col("text"),
        col("doc_id"), col("snippet"), col("bench_id"))
      .select(col("doc_id"), col("first_bench_id")).collect()
      .map(r => r.getLong(0)).toSet
    assert(got.map(_._1) == want)
    assert(got.exists { case (d, b) => d == 0L && b == 9000L })
  }

  test("deterministic sampling filters run unchanged on a stream") {
    import spark.implicits._
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang")).cache()
    val rates = Map("en" -> 0.5, "de" -> 0.2)
    val want = Sampling.stratified(docs, col("lang"), col("doc_id"),
      rates, default = 0.1).collect().map(_.getLong(0)).toSet
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "lang")
    // the keep rule is a pure integer-hash Column predicate — stateless,
    // so it applies to an unbounded stream with no watermark at all
    val q = Sampling.stratified(sdf, col("lang"), col("doc_id"),
        rates, default = 0.1)
      .writeStream.outputMode("append").format("memory")
      .queryName("sample_out").start()
    stream.addData(docs.as[(Long, String)].collect().toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sample_out").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("streamed quality filter equals the batch threshold filter") {
    import spark.implicits._
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("text")).cache()
    val want = TextOps.qualityFilterThreshold(docs, col("text"), col("lang"),
      col("doc_id"), keepFrac = 0.5).collect().map(_.getLong(0)).toSet
    // thresholds computed BATCH-side over the same corpus; the stream
    // filter is a stateless broadcast-join + map predicate
    val th = TextOps.qualityThresholds(docs, col("text"), col("lang"), 0.5)
    val stream = MemoryStream[(Long, String, String)]
    val sdf = stream.toDF().toDF("doc_id", "lang", "text")
    val q = graft.streaming.EventStream.qualityFiltered(sdf, col("text"),
        col("lang"), col("doc_id"), th)
      .writeStream.outputMode("append").format("memory")
      .queryName("qf_out").start()
    stream.addData(docs.as[(Long, String, String)].collect().toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("qf_out").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("streaming slurm ingest: drop-dir files flow through the batch parser exactly once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.slurm.SacctSource
    import graft.streaming.SlurmStream
    val inDir = SparkTestSession.tmpDir("slurm_drop").toString
    val whDir = SparkTestSession.tmpDir("slurm_wh").toString
    val ckDir = SparkTestSession.tmpDir("slurm_ck").toString
    val src = Paths.get("/root/reference/tests/test-data1.csv")
    Files.copy(src, Paths.get(inDir, "dump1.csv"), StandardCopyOption.REPLACE_EXISTING)
    val schema = SacctSource.readCsv(spark, s"$inDir/dump1.csv").schema
    def drain(): Unit = {
      val q = SlurmStream.toWarehouse(
        SlurmStream.ingest(spark, inDir, schema, now = lit(1564600000L)),
        whDir, ckDir)
      q.awaitTermination()
    }
    drain()
    val batch = graft.slurm.SlurmTable.build(
      SacctSource.readCsv(spark, s"$inDir/dump1.csv"), lit(1564600000L))
    val afterOne = spark.read.parquet(s"$whDir/slurm")
    assert(afterOne.count() == batch.count())
    // second dump arrives; restart (cron shape) — only the NEW file is
    // processed, the first is not re-ingested
    Files.copy(src, Paths.get(inDir, "dump2.csv"), StandardCopyOption.REPLACE_EXISTING)
    drain()
    val afterTwo = spark.read.parquet(s"$whDir/slurm")
    assert(afterTwo.count() == 2 * batch.count())
    // parsed values match the batch parser (same derivations)
    val cols = Seq("JobID", "User", "State", "Start", "End", "CPUEff")
      .filter(afterTwo.columns.contains)
    assert(afterTwo.select(cols.map(col): _*).distinct().count() ==
      batch.select(cols.map(col): _*).distinct().count())
  }

  test("stream-stream correlate joins within the time band, matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val leftRows = Seq((1L, ts(0), 10.0), (1L, ts(20), 11.0), (2L, ts(5), 20.0))
    val rightRows = Seq(
      (1L, ts(2), 100.0),   // within 5 min of left@10:00
      (1L, ts(12), 101.0),  // matches nothing (>5 min from both)
      (2L, ts(4), 200.0),   // within 5 min of left@10:05
      (3L, ts(3), 300.0))   // no left key
    val ls = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val rs = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = EventStream.correlate(
      ls.toDF().toDF("user_id", "ts", "value"),
      rs.toDF().toDF("user_id", "ts", "value"), toleranceS = 300)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("corr_out").start()
    ls.addData(leftRows); rs.addData(rightRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("corr_out")
      .select("user_id", "l_ts", "r_ts").as[(Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSet
    val want = Set((1L, ts(0), ts(2)), (2L, ts(5), ts(4)))
    assert(got == want, s"got $got")
  }

  test("streaming history dedup: bloom probe + verify join matches batch bloomIncremental") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma"),   // dup of history 1
      (11L, "brand new content"),
      (12L, "delta epsilon zeta")) // dup of history 2
    val bf = history.agg(graft.functions.BloomFilterAgg.column(
        xxhash64(col("text")), lit(2L), lit(0.01)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val histHashes = history.select(md5(col("text")).as("content_hash"))
      .distinct()
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.dedupAgainstHistory(
        stream.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
        bf, histHashes)
      .writeStream.outputMode("append").format("memory")
      .queryName("hist_out").start()
    stream.addData(batch)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hist_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(10L -> true, 11L -> false, 12L -> true))
    // identical verdicts to the batch operator on the same inputs
    val want = graft.operators.Dedup.bloomIncremental(history,
        batch.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(got == want)
  }

  test("streaming token-budget packing matches batch packBudget; state persists across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, 1L, 40L), (1L, 2L, 40L), (1L, 3L, 40L), (2L, 10L, 90L))
    val b2 = Seq((1L, 4L, 50L), (2L, 11L, 20L))
    val stream = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.EventStream.packBudgetStreaming(spark,
        stream.toDF().toDF("stream_id", "doc_id", "n_tokens"), budget = 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("pack_out").start()
    stream.addData(b1)
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pack_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // batch oracle over the SAME total data, same id order per stream
    val want = graft.operators.TextOps.packBudget(
        (b1 ++ b2).toDF("stream_id", "doc_id", "n_tokens"),
        col("stream_id"), col("doc_id"), col("n_tokens"), budget = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got == want, s"stream $got vs batch $want")
    // the cross-batch carry actually happened: doc 4 starts at 120 tokens
    assert(got((1L, 4L)) == 1L)
  }

  test("streaming classifier scoring matches the batch join path; unseen features get the prior") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = ((1 to 20).map(i => (i.toLong, s"good$i nice$i fine$i")) ++
      (21 to 40).map(_ => (0L, "spam spam spam"))).zipWithIndex
      .map { case ((_, t), i) => ((i + 1).toLong, t) }
      .toDF("doc_id", "text")
    val toks = graft.operators.TextOps.tokens(col("text"))
    val label = size(array_distinct(toks)) * 2 >= size(toks)
    val weights = graft.operators.TextOps.classifierModel(
        train, col("text"), label)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val data = Seq((1L, "good3 nice17 fine9"), (2L, "spam spam"),
      (3L, "neverseen tokens here"))
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.classifierScored(
        stream.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
        weights)
      .writeStream.outputMode("append").format("memory")
      .queryName("clf_out").start()
    stream.addData(data)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("clf_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L)._2 && !got(2L)._2,
      s"stream scores must follow the trained classes: $got")
    // every feature of doc 3 is unseen: score = the smoothing prior
    // exactly (what the batch model would assign a 0/0 feature)
    assert(got(3L)._1 == 500000L && !got(3L)._2)
    // trained-feature docs reproduce the batch weight formula exactly:
    // each good-class feature appears in 1 pos doc → w = 2·10⁶/3;
    // "spam" in 20 neg docs → w = 10⁶/22
    assert(got(1L)._1 == 666666L, s"expected the batch weights: $got")
    assert(got(2L)._1 == 45454L, s"expected the batch weights: $got")
  }

  test("streaming LM scoring matches the batch join path bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val data = Seq(
      (1L, "the cat sat"),
      (2L, "sat the cat"),
      (3L, "zebra quark xylo"),
      (4L, "solo"))  // < 2 tokens: no row, batch and stream alike
    val (bg, w1, dflt) = graft.operators.TextOps.bigramLmModel(
      target, col("text"))
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.lmScored(
        stream.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
        bg, w1, dflt)
      .writeStream.outputMode("append").format("memory")
      .queryName("lm_out").start()
    stream.addData(data)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lm_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.operators.TextOps.bigramLmScore(
        data.toDF("doc_id", "text"), target, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && got.size == 3, s"stream $got vs batch $want")
  }

  test("bigramLmModel: the top-M cap is exact when the vocab fits, graceful beyond") {
    val target = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    // gate corpus vocab sits far under the default cap: capped == full
    val (bg, w1, dflt) = graft.operators.TextOps.bigramLmModel(
      target, col("text"))
    val (bgF, w1F, dfltF) = graft.operators.TextOps.bigramLmModel(
      target, col("text"), maxEntries = Int.MaxValue)
    assert(bg == bgF && w1 == w1F && dflt == dfltF,
      "default cap must be invisible on the gate corpus")
    // a tiny cap: bounded maps, every surviving entry scores exactly
    // as the full model does (the slice is by count, scores computed
    // in-plan BEFORE the slice — so the cap can never corrupt a
    // surviving entry, only shrink coverage), and the default stays
    assert(bg.nonEmpty && w1.nonEmpty)
    val (bgC, w1C, dfltC) = graft.operators.TextOps.bigramLmModel(
      target, col("text"), maxEntries = 3)
    assert(bgC.size <= 3 && w1C.size <= 3)
    assert(bgC.forall { case (k, v) => bgF(k) == v })
    assert(w1C.forall { case (k, v) => w1F(k) == v })
    assert(dfltC == dfltF, "V is the FULL distinct count, never the capped one")
  }

  test("stateless ingest gates (phrase/html/url) match batch bit-for-bit on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (1L, "clean prose here", "<p>body <a href=\"/x\">l</a></p>",
        "https://ok.org/p?utm_source=a&id=1"),
      (2L, "a bad batch appears", "<nav><a>n1</a><a>n2</a></nav><p>x</p>",
        "HTTP://Blocked.NET:80/q#f"),
      (3L, "short", "<script>1 < 2</script>&amp;lt;done",
        "https://sub.ok.org/r/"))
    val phrases = Seq("bad batch")
    val blocked = Seq("blocked.net")

    val stream = MemoryStream[(Long, String, String, String)]
    val sdf = stream.toDF().toDF("doc_id", "text", "html", "url")
    val joined = graft.streaming.EventStream
      .phraseFiltered(sdf, col("text"), col("doc_id"), phrases)
      .join(graft.streaming.EventStream
        .htmlExtracted(sdf, col("html"), col("doc_id"))
        .withColumnRenamed("kept", "html_kept"), "doc_id")
      .join(graft.streaming.EventStream
        .urlCurated(sdf, col("url"), col("doc_id"), blocked)
        .withColumnRenamed("kept", "url_kept"), "doc_id")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("gates_out").start()
    stream.addData(data)
    q.processAllAvailable()
    q.stop()

    val bdf = data.toDF("doc_id", "text", "html", "url")
    val want = graft.operators.TextOps
      .phraseFilter(bdf, col("text"), col("doc_id"), phrases)
      .join(graft.operators.Web.extractHtml(bdf, col("html"), col("doc_id"))
        .withColumnRenamed("kept", "html_kept"), "doc_id")
      .join(graft.operators.Web.curateUrls(bdf, col("url"), col("doc_id"), blocked)
        .withColumnRenamed("kept", "url_kept"), "doc_id")
    val g = spark.table("gates_out").orderBy("doc_id").collect().map(_.toString)
    val w = want.orderBy("doc_id").collect().map(_.toString)
    assert(g.toSeq == w.toSeq && g.length == 3)
    // the gates actually fire: doc 2 is wordlist-flagged AND
    // blocklist-dropped; its nav-only page fails link density
    val d2 = spark.table("gates_out").filter(col("doc_id") === 2).collect()(0)
    assert(!d2.getAs[Boolean]("kept") && !d2.getAs[Boolean]("url_kept")
      && !d2.getAs[Boolean]("html_kept"))
  }

  test("streaming keyframes match batch keyFrames; lag state persists across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the d87 payload shape: a planted 3x-repeated leading block so
    // the collapse branch fires, then the raw doc text
    val payloads = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 30)
      .select(col("doc_id"),
        concat(repeat(substring(col("text"), 1, 256), 3), col("text"))
          .cast("binary").as("payload"))
    val want = graft.operators.Multimodal.keyFrames(payloads)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // frames as the stream sees them: one (doc_id, frame_idx, frame)
    // row per frame, sliced exactly like the batch operator slices
    val nFrames = ceil(length(col("_b")).cast("double") / 256).cast("long")
    val frames = payloads.select(col("doc_id"), col("payload").as("_b"))
      .where(length(col("_b")) > 0)
      .select(col("doc_id"), col("_b"),
        explode(sequence(lit(0L), nFrames - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        col("_b").substr((col("frame_idx") * 256 + 1).cast("int"), lit(256))
          .cast("string").as("frame"))
      .as[(Long, Long, String)].collect().toSeq
    // split mid-doc: early frames in batch 1, the rest in batch 2 —
    // the cross-batch lag carry is what the state exists for
    val (b1, b2) = frames.partition(_._2 < 2)
    val stream = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.EventStream.keyFramesStreaming(spark,
        stream.toDF().toDF("doc_id", "frame_idx", "frame"))
      .writeStream.outputMode("append").format("memory")
      .queryName("kf_out").start()
    stream.addData(b1)
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("kf_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got == want, s"stream/batch diverge: ${
      got.keySet.union(want.keySet).filter(k => got.get(k) != want.get(k)).take(5)}")
    // the planted repeat actually collapsed (non-key frames exist) and
    // batch-2 frames compared against batch-1 predecessors (hamming != -1)
    assert(got.values.exists(!_._3))
    assert(b2.map(f => (f._1, f._2)).exists(k => got(k)._2 >= 0))
  }

  test("streaming bitext candidates cover every batch-mined planted pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rnd.nextGaussian())
    def mix(v: Seq[Double], w: Seq[Double], eps: Double) =
      v.zip(w).map { case (x, y) => (1 - eps) * x + eps * y }
    val as = (0 until 30).map(i => (i.toLong * 2, vec()))
    val bs = as.map { case (id, v) => (id + 1, mix(v, vec(), 0.02)) } ++
      (0 until 30).map(i => (1000L + i * 2 + 1, vec()))
    val aDf = as.toDF("vec_id", "embedding")
    val bDf = bs.toDF("vec_id", "embedding")
    val mined = graft.operators.Similarity
      .bitextMineLsh(aDf, bDf, k = 4, minMargin = 1.02)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined.nonEmpty)
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.EventStream.bitextCandidates(
        stream.toDF().toDF("vec_id", "embedding"), bDf, minCos = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("bitext_out").start()
    stream.addData(as)
    q.processAllAvailable()
    q.stop()
    val cands = spark.table("bitext_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair the batch miner would keep surfaced at ingest time
    assert((mined -- cands).isEmpty, s"missed: ${mined -- cands}")
    // and the cos gate actually pruned the noise fan-in
    assert(cands.size < as.size.toLong * bs.size)
  }

  test("streaming encoding repair and audio decode match batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // d91 twin: corrupted texts through the literal fix table
    val texts = Seq(
      (1L, "caf\u00C3\u00A9 con espa\u00C3\u00B1ol"),
      (2L, "clean ascii text"),
      (3L, "bad\uFFFDdecode\u00A0here\u200Bzw\uFEFF"))
    val ts = MemoryStream[(Long, String)]
    val q1 = graft.streaming.EventStream.encodingRepaired(
        ts.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("fix_out").start()
    ts.addData(texts)
    q1.processAllAvailable()
    q1.stop()
    val gotFix = spark.table("fix_out").orderBy("doc_id").collect().map(_.toString)
    val wantFix = graft.operators.TextOps.repairEncoding(
        texts.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(gotFix.toSeq == wantFix.toSeq && gotFix.length == 3)

    // d93 twin: synthesized WAV payloads (incl. both damage classes)
    // through the chunk-walking decoder on a stream
    val payloadRows = graft.operators.AudioSim
      .payloads((0L until 20L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q2 = graft.streaming.EventStream.audioDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wav_out").start()
    ps.addData(payloadRows.toSeq)
    q2.processAllAvailable()
    q2.stop()
    val gotWav = spark.table("wav_out").orderBy("doc_id").collect().map(_.toString)
    val wantWav = graft.operators.Multimodal.audioStats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(gotWav.toSeq == wantWav.toSeq && gotWav.length == 20)
    // both damage classes quarantined on the stream
    assert(spark.table("wav_out")
      .filter(col("status") === "quarantined").count() == 5)
  }

  test("streaming png decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.PngSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.pngDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("png_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("png_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.PngCodec.pngStats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    // all three damage classes (%7 in {0,3,5}) quarantined on the stream
    assert(spark.table("png_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming jpeg decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.JpegSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.jpegDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("jpeg_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("jpeg_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.JpegSim.stats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    // all three damage classes (%7 in {0,3,5}) quarantined on the stream
    assert(spark.table("jpeg_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming gif decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.GifSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.gifDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gif_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gif_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.GifSim.stats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    // all three damage classes (%7 in {0,3,5}) quarantined on the stream
    assert(spark.table("gif_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming mulaw decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.MulawSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.mulawDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("mulaw_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mulaw_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.MulawSim.stats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("mulaw_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming tar-shard ingest matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.TarSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.tarShards(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("tar_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tar_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.TarSim.stats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("tar_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming webdataset sample ingest matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.TarSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.tarSamples(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("tars_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tars_out").orderBy("doc_id", "sample_key")
      .collect().map(_.toString)
    val want = graft.operators.TarSim.samples(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id", "sample_key").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // damaged shards (%7 in {0,3,5}) contribute NO sample rows
    assert(spark.table("tars_out")
      .filter(col("doc_id") % 7 === 0).count() == 0)
  }

  test("streaming gzip decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"line a $i\nline b $i"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.gzipDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gz_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gz_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.GzipSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("gz_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming tfrecord ingest matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.TfRecordSim
      .payloads((0L until 21L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.tfRecords(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("tfr_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tfr_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.TfRecordSim.stats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("tfr_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming warc ingest matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 23L).map(i => (i, s"page body $i\nsecond line"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.warcRecords(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("warc_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("warc_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.WarcSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 23)
    assert(spark.table("warc_out")
      .filter(col("status") === "quarantined").count() == 10)
  }

  test("streaming mjpeg decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = (0L until 21L)
      .map(i => (i, graft.operators.MjpegSim.payloadFor(i)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.mjpegDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("mjpeg_out").start()
    ps.addData(payloadRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mjpeg_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.MjpegSim.stats(spark,
        payloadRows.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("mjpeg_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming adpcm decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = (0L until 21L)
      .map(i => (i, graft.operators.AdpcmSim.payloadFor(i)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.adpcmDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("adpcm_out").start()
    ps.addData(payloadRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("adpcm_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.AdpcmSim.stats(spark,
        payloadRows.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("adpcm_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming wet extraction matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 23L).map(i => (i, s"alpha $i\nbeta gamma\ndelta"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.wetPages(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wet_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wet_out").orderBy("doc_id", "page")
      .collect().map(_.toString)
    val want = graft.operators.WarcSim.pages(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id", "page").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // damaged shards (%7 in {0,3,5}) contribute NO page rows
    assert(spark.table("wet_out")
      .filter(col("doc_id") % 7 === 0).count() == 0)
  }

  test("streaming zip ingest matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"entry body $i\nmore text"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.zipDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("zip_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("zip_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.ZipSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("zip_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming lz4 decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"block body $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.lz4Decoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("lz4_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lz4_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.Lz4Sim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("lz4_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming crawl ingest (d114's live edge) matches the batch chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // shard docs: %7∈{0,3,5} damaged (contribute nothing, batch rule)
    val docRows = (0L until 21L)
      .map(i => (i, s"page body word$i alpha beta gamma delta\nsecond line $i\n"))
    val docsDf = docRows.toDF("doc_id", "text")
    // history = the already-ingested warehouse: the batch WET rows of
    // the FIRST seven docs — their pages are exact dups when re-crawled
    val history = graft.operators.WarcSim.pageRows(spark,
      docsDf.filter(col("doc_id") < 7)).select(col("text"))
    val bf = history.agg(graft.functions.BloomFilterAgg.column(
        xxhash64(col("text")), lit(32L), lit(0.01)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val histHashes = history.select(md5(col("text")).as("content_hash")).distinct()
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.crawlIngest(spark,
        ps.toDF().toDF("doc_id", "text"), bf, histHashes)
      .writeStream.outputMode("append").format("memory")
      .queryName("crawl_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("crawl_out").collect()
      .map(r => r.getAs[Long]("pid") ->
        (r.getAs[String]("content_hash"), r.getAs[Boolean]("is_dup")))
      .toMap
    // batch chain on the same shards: WET rows → quality gate → md5 +
    // exact history membership
    val want = graft.operators.WarcSim.pageRows(spark, docsDf)
      .withColumn("n_tokens",
        size(graft.operators.TextOps.tokens(col("text"))).cast("long"))
      .filter(col("n_tokens") >= 4)
      .withColumn("pid", col("doc_id") * 8 + col("page"))
      .withColumn("content_hash", md5(col("text")))
      .join(histHashes.withColumn("_dup", lit(true)), Seq("content_hash"), "left")
      .select(col("pid"), col("content_hash"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
      .collect()
      .map(r => r.getAs[Long]("pid") ->
        (r.getAs[String]("content_hash"), r.getAs[Boolean]("is_dup")))
      .toMap
    assert(got == want && got.nonEmpty)
    // the re-crawled pages of the history docs flag as dups; new pages don't
    assert(got.exists(_._2._2) && got.exists(!_._2._2))
  }

  test("streaming zstd decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"zstd body word $i\n" * 4))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.zstdDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("zstd_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("zstd_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.ZstdSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("zstd_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming seekable-zstd range reads match batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"seekable shard body $i\n" * 40))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.zstdRangeRead(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("seek_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("seek_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.ZstdSeekSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("seek_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming snappy decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"snappy chunk body $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.snappyDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("snappy_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("snappy_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.SnappySim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("snappy_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming deflate decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"deflate block body $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.deflateDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("deflate_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("deflate_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.DeflateSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("deflate_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming bzip2 decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"bzip2 block body $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.bzip2Decoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("bzip2_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bzip2_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.Bzip2Sim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("bzip2_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming chunked-http decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"chunked page body $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.chunkedHttpDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("chunked_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chunked_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.ChunkedSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("chunked_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming charset sniff matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"the charset text $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.charsetSniffed(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("charset_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("charset_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.CharsetSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("charset_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming xml page rows match batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"wiki page text $i body\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.xmlPageRows(spark,
        ps.toDF().toDF("doc_id", "text"))
      .filter(col("ns") === 0)
      .writeStream.outputMode("append").format("memory")
      .queryName("xml_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("xml_out").orderBy("doc_id", "page")
      .collect().map(_.toString)
    val want = graft.operators.XmlRowsSim.rows(spark,
        docRows.toDF("doc_id", "text"))
      .filter(col("ns") === 0)
      .orderBy("doc_id", "page").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("streaming parquet walk matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"parquet page text $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.parquetWalked(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("parquet_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("parquet_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.ParquetSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("parquet_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming eml part rows match batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"eml part body text $i\n" * 3))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.emlPartRows(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("eml_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("eml_out").orderBy("doc_id", "part")
      .collect().map(_.toString)
    val want = graft.operators.EmlSim.rows(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id", "part").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("streaming robots verdicts match batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"unused $i"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.robotsVerdicts(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("robots_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("robots_out").orderBy("doc_id", "path_id")
      .collect().map(_.toString)
    val want = graft.operators.RobotsSim.rows(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id", "path_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("streaming avro ocf decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"avro record body $i\nmore $i"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.avroDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("avro_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("avro_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.AvroOcfSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("avro_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming tf.Example decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"alpha beta $i\ngamma delta $i"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.tfExampleDecoded(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("tfex_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tfex_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.TfExampleSim.stats(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("tfex_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming jsonl.zst lines match batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = (0L until 21L).map(i => (i, s"rec a $i\nrec b $i"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.jsonlZstLines(spark,
        ps.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("jzst_out").start()
    ps.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("jzst_out").orderBy("doc_id", "line")
      .collect().map(_.toString)
    val want = graft.operators.ZstdJsonlSim.lines(spark,
        docRows.toDF("doc_id", "text"))
      .orderBy("doc_id", "line").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // the damage slice contributes nothing: 12 of 21 docs, 2 lines each
    assert(got.length == 24)
  }

  test("streaming alaw decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = (0L until 21L)
      .map(i => (i, graft.operators.AlawSim.payloadFor(i)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.alawDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("alaw_out").start()
    ps.addData(payloadRows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("alaw_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.AlawSim.stats(spark,
        payloadRows.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 21)
    assert(spark.table("alaw_out")
      .filter(col("status") === "quarantined").count() == 9)
  }

  test("streaming unigram encode matches the batch expression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = new graft.functions.UnigramModel(
      Seq("a" -> 1L, "b" -> 1L, "c" -> 2L, "ab" -> 8L))
    val docs = Seq((1L, "ab ba"), (2L, "abab c"), (3L, "axb"))
    val ps = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.unigramEncoded(
        ps.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("uni_out").start()
    ps.addData(docs)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("uni_out").orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("ab", "b", "a"))
    assert(got(2L) == Seq("ab", "ab", "c"))
    assert(got(3L) == Seq("<unk>"))
  }

  test("streaming video decode matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val payloadRows = graft.operators.VideoSim
      .payloads((0L until 22L).toDF("doc_id"))
      .select("doc_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ps = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.EventStream.videoDecoded(spark,
        ps.toDF().toDF("doc_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("avi_out").start()
    ps.addData(payloadRows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("avi_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.Multimodal.videoStats(spark,
        payloadRows.toSeq.toDF("doc_id", "payload"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 22)
    // both damage classes (%11 in {0,5}) quarantined on the stream
    assert(spark.table("avi_out")
      .filter(col("status") === "quarantined").count() == 4)
  }

  test("streaming NFKC normalization matches batch bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (1L, "con\uFB01g \uFF21lpha 10\u00B2\u3000end"),
      (2L, "plain ascii"),
      (3L, "e\u0301tude")) // decomposed accent recomposes
    val ts = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.nfkcNormalized(
        ts.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("nfkc_out").start()
    ts.addData(texts)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("nfkc_out").orderBy("doc_id").collect().map(_.toString)
    val want = graft.operators.TextOps.normalizeNfkc(
        texts.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.toSeq == want.toSeq && got.length == 3)
    assert(spark.table("nfkc_out").filter(col("doc_id") === 1)
      .select("normalized").as[String].head() == "config Alpha 102 end")
  }
}
