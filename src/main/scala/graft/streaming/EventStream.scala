package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch operators (SURVEY §2.6):
  * the same event analytics q12/q13 compute in batch, expressed as
  * incremental streams with bounded state.
  *
  * - windowedCounts: watermark + tumbling window — the streaming form of
  *   q13_time_window; late data beyond the watermark is dropped, state
  *   is bounded by (watermark horizon / window size) per event_type.
  * - sessionize: flatMapGroupsWithState with event-time timeout — the
  *   streaming form of q12_sessionize (30-min gap sessions), state = one
  *   open session per user.
  * - incremental slurm ingest (s20's streaming twin) is `readStream`
  *   over an sacct dump directory + SlurmTable.build on the microbatch.
  */
object EventStream {

  /** Streaming exact dedup — the streaming twin of d01: keep the FIRST
    * document per content hash across micro-batches.
    * `dropDuplicatesWithinWatermark` keeps one state entry per distinct
    * hash and EVICTS it once the watermark passes the first-seen event
    * time plus the horizon — state is genuinely bounded by the horizon.
    * (Plain `dropDuplicates("content_hash")` would ignore the watermark
    * because the event-time column is not in the key set, so state
    * grows forever on a long-running stream.) Semantics: dedup within a
    * time horizon; exact global dedup stays a batch compaction job. */
  def deduplicated(docs: DataFrame, text: org.apache.spark.sql.Column,
                   horizon: String = "1 hour"): DataFrame =
    docs.withColumn("content_hash", md5(text))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming dedup against a STATIC HISTORY — d63's ingest-time
    * form, the streaming face of d37's bloom shape: the warehouse is
    * sketched ONCE batch-side into a bloom filter
    * ([[graft.functions.BloomFilterAgg]], KB literal — same driver-
    * state class as the LM model maps), the stream probes it MAP-ONLY
    * at scan speed, and only the bloom-positive sliver (true dups +
    * fpp) pays the stream-static verify join against the exact hash
    * set. A bloom-negative row is PROVABLY novel (no false negatives),
    * so the common case — new content — never joins anything: the
    * history hash set is CORPUS-sized (it cannot broadcast at 100 TB),
    * and only bloom hits reach it. Output: the stream rows with
    * `is_dup`; no stream state at all (cross-batch self-dedup
    * composes via [[deduplicated]]). */
  def dedupAgainstHistory(stream: DataFrame,
                          text: org.apache.spark.sql.Column,
                          id: org.apache.spark.sql.Column,
                          filterBytes: Array[Byte],
                          historyHashes: DataFrame): DataFrame = {
    val probed = stream.select(id.as("doc_id"), md5(text).as("content_hash"),
      graft.functions.BloomContainsExpr.column(
        xxhash64(text), lit(filterBytes)).as("bloom_hit"))
    val hits = probed.filter(col("bloom_hit"))
      .join(historyHashes.select(col("content_hash"), lit(true).as("_dup")),
        Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
    val misses = probed.filter(!col("bloom_hit"))
      .select(col("doc_id"), col("content_hash"), lit(false).as("is_dup"))
    hits.unionByName(misses)
  }

  /** Streaming NEAR-dup: flag incoming docs that near-duplicate a
    * static reference corpus. Both sides compute the fused per-row
    * minhash band signature (`Dedup.polyRowBands` — one map-only pass,
    * no stream state) and stream-static equi-join the band buckets —
    * the standard "dedupe new data against what we already have"
    * shape. State: none beyond the micro-batch (the static side is
    * just a DataFrame; at scale, the banded corpus is a bucketed
    * table so the join is co-located).
    * Output: (doc_id, corpus_doc_id) candidate matches (per-band
    * multiplicity retained — aggregation on a stream would need a
    * watermark; callers dedupe downstream).
    *
    * RECALL NOTE: the default signature is 4 bands × 4 rows of the
    * POLYNOMIAL permutation family (16 hashes — the fused one-pass
    * expression's coefficient pool); earlier revisions defaulted to
    * 8×4 xxhash64 bands (32 hashes). Fewer bands = a lower candidate
    * recall curve (4 chances to collide instead of 8) and a different
    * hash family = a different (not comparable) candidate set.
    * Callers needing the old operating point should pass explicit
    * bands/rows against a wider coefficient pool rather than assume
    * the default reproduces pre-poly candidates. */
  def nearDupAgainst(stream: DataFrame, corpus: DataFrame,
                     text: org.apache.spark.sql.Column,
                     id: org.apache.spark.sql.Column,
                     bands: Int = 4, rows: Int = 4): DataFrame = {
    import graft.operators.Dedup
    // the fused signature shares Dedup.polyCoefs — 16 permutations max
    // (the pre-fusion rowSignature path allowed 32); fail here with a
    // clear message instead of an analysis-time TypeCheckFailure
    require(bands * rows <= Dedup.polyCoefs.length,
      s"bands*rows must be <= ${Dedup.polyCoefs.length} (poly coefficient pool)")
    // fused native band signature on BOTH sides (one pass over tokens;
    // the earlier bandHashes(rowSignature(...)) composition re-evaluated
    // the 32-permutation signature once per band — same Column-tree
    // inlining wall the batch side hit, see SURVEY §8.3)
    val corpusBands = corpus.select(id.as("corpus_doc_id"),
      posexplode(Dedup.polyRowBands(text, bands, rows))
        .as(Seq("band_idx", "band_hash")))
    stream
      .select(id.as("doc_id"),
        posexplode(Dedup.polyRowBands(text, bands, rows))
          .as(Seq("band_idx", "band_hash")))
      .join(corpusBands, Seq("band_idx", "band_hash"))
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id"), col("corpus_doc_id"))
  }

  /** Streaming fuzzy decontamination — d46's streaming twin: each
    * incoming document gets its fused one-pass minhash band signature
    * ([[graft.operators.Dedup.polyRowBands]], a map-only native
    * expression, so it runs on a stream unchanged) and stream-static
    * joins against the PRE-BANDED benchmark set. The bench side is a
    * static DataFrame (tiny → broadcast); no stream state beyond the
    * micro-batch — the "block eval-set leaks at ingest time" shape.
    * Output: (doc_id, bench_id) band matches, per-band multiplicity
    * retained (aggregation on a stream would need a watermark). */
  def decontaminate(stream: DataFrame, bench: DataFrame,
                    text: org.apache.spark.sql.Column,
                    id: org.apache.spark.sql.Column,
                    benchText: org.apache.spark.sql.Column,
                    benchId: org.apache.spark.sql.Column): DataFrame = {
    import graft.operators.Dedup
    val benchBands = bench.select(benchId.as("bench_id"),
      posexplode(Dedup.polyRowBands(benchText)).as(Seq("band_idx", "band_hash")))
    stream
      .select(id.as("doc_id"),
        posexplode(Dedup.polyRowBands(text)).as(Seq("band_idx", "band_hash")))
      .join(broadcast(benchBands), Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("bench_id"))
  }

  /** Streaming quality filter — the threshold form's streaming payoff:
    * per-group keep thresholds are computed BATCH-side over the
    * historical corpus ([[graft.operators.TextOps.qualityThresholds]],
    * #groups rows → broadcast) and the stream filters map-only against
    * them. The window (percent_rank) form could never run here — a
    * rank over an unbounded stream is undefined; the threshold form
    * runs unchanged. Kept set == the batch filter's kept set whenever
    * the thresholds come from the same corpus (spec-pinned). */
  def qualityFiltered(stream: DataFrame,
                      text: org.apache.spark.sql.Column,
                      group: org.apache.spark.sql.Column,
                      id: org.apache.spark.sql.Column,
                      thresholds: DataFrame): DataFrame = {
    import graft.operators.TextOps
    stream
      .select(id.as("doc_id"), group.as("grp"),
        TextOps.repScaled(text).as("rep_scaled"))
      .join(broadcast(thresholds), "grp")
      .filter(col("rep_scaled") >= col("q_lo"))
      .select(col("doc_id"), col("grp"), col("rep_scaled"))
  }

  /** Streaming LM quality scoring — d64's streaming twin: the bigram
    * model is trained BATCH-side ([[graft.operators.TextOps
    * .bigramLmModel]], vocabulary-bounded maps — KB driver state, the
    * k-means-centroid class) and each incoming doc is scored MAP-ONLY
    * by folding over its bigram array with literal-map lookups: no
    * explode, no shuffle, no stream state — append mode at scan speed.
    * Scores are bit-identical to the batch join path (same floored-long
    * rule; spec-pinned), so a perplexity gate applied at ingest admits
    * exactly the docs the batch backfill would. */
  def lmScored(stream: DataFrame, text: org.apache.spark.sql.Column,
               id: org.apache.spark.sql.Column,
               bgScore: Map[String, Long], w1Score: Map[String, Long],
               defaultScore: Long): DataFrame = {
    import graft.operators.TextOps
    val toks = TextOps.tokens(text)
    // r16: the scorer used to fold over `try_element_at(typedLit(m))`
    // lookups — a Catalyst map literal has no hash index, so every
    // probe was a linear scan of the 10⁴–10⁵-entry model (the d158
    // micro-batch spent ~2 s in addBatch). The model now rides as a
    // codegen reference object with O(1) HashMap probes; the fold's
    // rule (bigram hit → w₁ backoff → default, long sum in token
    // order) is unchanged and the stream==batch bit-identity stays
    // spec-pinned (StreamingSpec).
    val model = new graft.functions.BigramLmModel(bgScore, w1Score,
      defaultScore)
    stream.filter(size(toks) >= 2)
      .select(id.as("doc_id"),
        graft.functions.BigramLmScoreExpr.column(toks, model).as("a"))
      .select(col("doc_id"), col("a.n").as("n_bigrams"),
        col("a.s").as("lm_sum"),
        floor(col("a.s").cast("double") / col("a.n"))
          .cast("long").as("lm_score"))
  }

  /** Streaming twin of d70's hashed quality classifier — score docs at
    * INGEST with the batch-trained model: weights collected to a
    * literal map (bounded by the 2¹⁶ feature buckets — ~KB-to-MB
    * driver state, the hashing trick's point) and each doc scored
    * MAP-ONLY by folding over its distinct feature array: no explode,
    * no shuffle, no stream state — append mode at scan speed (a
    * per-doc groupBy would be stateful on a stream; the fold is the
    * lmScored move). Features the training corpus never saw score the
    * smoothing prior 500000 — exactly what the batch model assigns a
    * (0 pos, 0 neg) feature — so scores equal the batch path's
    * whenever the doc's features were trained (spec-pinned). */
  def classifierScored(stream: DataFrame,
                       text: org.apache.spark.sql.Column,
                       id: org.apache.spark.sql.Column,
                       weights: Map[Long, Long],
                       buckets: Int = 65536): DataFrame = {
    import graft.operators.TextOps
    val feats = TextOps.classifierFeatures(text, buckets)
    // r16: the weight fold probed a Catalyst map literal —
    // ArrayBasedMapData has no hash index, so each feature paid an
    // O(|model|) scan (up to the 2¹⁶ bucket bound). The weights now
    // ride as a codegen reference object with O(1) HashMap probes
    // (the BigramLmScoreExpr/d158 fix); the miss → prior 500000 rule
    // and the long sum order are unchanged (StreamingSpec-pinned),
    // and the reference object is ANSI-indifferent by construction.
    val model = new graft.functions.ClassifierWeights(weights, 500000L)
    val intDiv = graft.functions.IntMath.intDiv _
    stream
      .select(id.as("doc_id"), feats.as("_f"))
      .select(col("doc_id"), size(col("_f")).cast("long").as("n_feats"),
        graft.functions.ClassifierScoreExpr.column(col("_f"), model)
          .as("_ws"))
      .select(col("doc_id"), col("n_feats"),
        intDiv(col("_ws"), col("n_feats")).as("clf_score"),
        (intDiv(col("_ws"), col("n_feats")) > 500000L).as("is_good"))
  }

  /** Streaming twin of q19's interval join: tag each incoming event
    * with the static intervals containing it. The binned shape matters
    * MORE on a stream — `RangeJoin.binned` gives a stateless
    * stream-static equi-join on the bin key (each event looks up one
    * bin), where the naive BETWEEN condition would be a per-event scan
    * of the whole interval table. */
  def inIntervals(stream: DataFrame, intervals: DataFrame,
                  ts: org.apache.spark.sql.Column,
                  start: org.apache.spark.sql.Column,
                  end: org.apache.spark.sql.Column,
                  binS: Long = 21600L): DataFrame =
    graft.operators.RangeJoin.binned(stream, ts, intervals, start, end, binS)

  /** Tumbling 1h windows of event counts/values with a 30 min watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming sketch stats — the streaming twin of d35: distinct-user
    * cardinality per tumbling window as an HLL sketch aggregate. The
    * sketch IS the streaming-friendly form: per-window state is one
    * ~KB HLL buffer (mergeable across micro-batches and shuffle
    * partials), where exact countDistinct on a stream would buffer
    * every distinct key per open window. Watermark bounds the number
    * of open windows, the sketch bounds the state per window —
    * bounded state in both dimensions. */
  def approxDistinctPerWindow(events: DataFrame,
                              idCol: String = "user_id"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col(idCol), 14))
        .as("approx_distinct"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"),
        col("approx_distinct"), col("n"))

  /** Streaming heavy hitters — the streaming twin of d38: per tumbling
    * window, a COUNT-MIN sketch of the event keys plus the window's
    * total. Per-window state is ONE fixed-size sketch (mergeable
    * across micro-batches and shuffle partials — partial CMS arrays
    * add cell-wise), where an exact per-key count would hold every
    * distinct key per open window; the watermark bounds the number of
    * open windows. Consumers probe the emitted sketch for any key's
    * estimate with the one-sided CMS guarantee
    * (`exact ≤ est ≤ exact + eps·total`) — StreamingSpec replays the
    * probe against exact batch counts. */
  def cmsPerWindow(events: DataFrame, idCol: String = "user_id",
                   eps: Double = 1e-3): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count_min_sketch(xxhash64(col(idCol)), lit(eps), lit(0.99),
        lit(42)).as("cms"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("cms"), col("n"))

  /** Streaming window quantiles — the streaming twin of d36,
    * completing the per-window sketch trio (HLL distinct, CMS heavy
    * hitters, quantiles): per tumbling window, approximate value
    * percentiles via `approx_percentile`'s mergeable KLL-style buffer.
    * Per-window state is ONE bounded sketch (partials merge across
    * micro-batches and shuffle), where exact percentiles would buffer
    * and sort every value per open window — undefined on an unbounded
    * stream, bounded here; the watermark bounds the open-window count.
    * `accuracy` trades state size for rank error (1/accuracy). */
  def quantilesPerWindow(events: DataFrame,
                         valueCol: String = "value",
                         accuracy: Int = 1000): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(percentile_approx(col(valueCol),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(accuracy)).as("q"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"),
        col("q").getItem(0).as("p50"), col("q").getItem(1).as("p90"),
        col("q").getItem(2).as("p99"), col("n"))

  /** STREAM-STREAM interval join: correlate two live event streams on a
    * key within a ±`toleranceS` event-time band (clicks↔impressions,
    * job-start↔job-metric, order↔payment). This is the one join shape
    * where BOTH sides must buffer state, and the watermark + the
    * range condition on BOTH event-time columns are what let Spark
    * evict it: left rows older than (watermark − tolerance) can never
    * match a future right row, and vice versa — without the time-band
    * condition the state would be unbounded and Spark rejects the
    * append-mode query outright. */
  def correlate(left: DataFrame, right: DataFrame,
                key: String = "user_id",
                toleranceS: Long = 300,
                horizon: String = "30 minutes"): DataFrame = {
    val l = left.select(col(key).as("l_key"), col("ts").as("l_ts"),
      col("value").as("l_value")).withWatermark("l_ts", horizon)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"),
      col("value").as("r_value")).withWatermark("r_ts", horizon)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $toleranceS seconds") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $toleranceS seconds"))
      .select(col("l_key").as(key), col("l_ts"), col("r_ts"),
        col("l_value"), col("r_value"))
  }

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, value: Double)
  case class Session(user_id: Long, session_start: Long, n_events: Long,
                     session_value: Double)

  case class PackDoc(stream_id: Long, doc_id: Long, n_tokens: Long)
  case class PackAssign(stream_id: Long, doc_id: Long, n_tokens: Long,
                        pack_id: Long)

  /** Streaming token-budget packing — d19's streaming twin: assign
    * arriving docs to fixed-token-budget training packs per stream
    * key. State is ONE long per stream (the running token count), so
    * the batch form's prefix-sum window becomes
    * `flatMapGroupsWithState` with O(1) state — the same assignment
    * rule `pack_id = ⌊tokens_before / budget⌋`, continued across
    * micro-batches. Docs inside a micro-batch slice are processed in
    * doc_id order (the batch form's ordering); across batches,
    * arrival order — a stream has no global sort to appeal to.
    * Spec pins single-batch output equal to the batch
    * [[graft.operators.TextOps.packBudget]]. */
  def packBudgetStreaming(spark: SparkSession, docs: DataFrame,
                          budget: Long): DataFrame = {
    import spark.implicits._
    require(budget > 0, "budget must be positive")
    val ds = docs.select(col("stream_id").cast("long"),
      col("doc_id").cast("long"), col("n_tokens").cast("long")).as[PackDoc]
    ds.groupByKey(_.stream_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (sid: Long, rows: Iterator[PackDoc], state: GroupState[Long]) => {
          var acc = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val pack = acc / budget
            acc += d.n_tokens
            PackAssign(sid, d.doc_id, d.n_tokens, pack)
          }
          state.update(acc)
          out.iterator
        })
      .toDF()
  }

  /** Gap-based sessionization (30 min), one state entry per live user.
    *
    * EVENT-TIME TIMEOUT (r16): a session also closes when the
    * watermark passes `lastTs + gap` — the q12 end-of-data closure,
    * incrementalized. Without it (the pre-r16 NoTimeout form) an open
    * session only ever closed when a LATER event for the same user
    * arrived, so one-visit users were never emitted and state never
    * shrank. The timeout fires only in a batch where the group has NO
    * data (Spark calls the function with the new data otherwise), and
    * the firing watermark carries the measured one-batch stats lag
    * (StreamingSpec's sessionize cases pin the protocol the d169
    * oracle replays).
    * State: one SessionState per live user; the timeout is what
    * bounds the live set on a real stream. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapSeconds: Long = 1800,
                 horizon: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    val ds = events.select(col("user_id").cast("long"), col("ts"),
      col("value")).withWatermark("ts", horizon).as[Ev]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(Session(uid, st.start, st.n, st.value))
          } else {
            // sort the microbatch slice; real deployments bound slice
            // size via watermark + trigger interval
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.orNull
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              if (st == null) st = SessionState(t, t, 1, e.value)
              else if (t - st.lastTs > gapSeconds) {
                closed += Session(uid, st.start, st.n, st.value)
                st = SessionState(t, t, 1, e.value)
              } else st = st.copy(lastTs = t, n = st.n + 1, value = st.value + e.value)
            }
            if (st != null) {
              val end = (st.lastTs + gapSeconds) * 1000L
              if (end <= state.getCurrentWatermarkMs) {
                // the session is ALREADY expired against the current
                // watermark (a late slice, or a user quiet while the
                // stream advanced): close it NOW. Deferring via a
                // clamped timeout (wm + ε) is a semantic trap — when
                // the watermark never advances again the clamped
                // timeout never fires and the session silently never
                // emits; closing inline keeps the emission rule the
                // closed form the d169 oracle replays
                // (emit iff lastTs + gap < final watermark).
                closed += Session(uid, st.start, st.n, st.value)
                state.remove()
              } else {
                state.update(st)
                state.setTimeoutTimestamp(end)
              }
            }
            closed.iterator
          }
        })
      .toDF()
  }

  /** Streaming wordlist gate — d80's streaming twin: the Aho–Corasick
    * automaton is a codegen reference object (the d70/d78 model
    * shape), so the gate is a STATELESS projection that runs on a
    * stream unchanged — per-microbatch map-only, no state store, no
    * shuffle; verdicts are bit-identical to the batch gate
    * (spec-pinned). The ingest point where a deployment drops
    * wordlist-flagged docs before they ever land. */
  def phraseFiltered(stream: DataFrame, text: org.apache.spark.sql.Column,
                     id: org.apache.spark.sql.Column,
                     phrases: Seq[String]): DataFrame =
    graft.operators.TextOps.phraseFilter(stream, text, id, phrases)

  /** Streaming HTML extraction — d81's streaming twin: the regex
    * chain and link-density verdict are stateless column arithmetic,
    * unchanged on a stream (map-only, no state). Crawl ingest shape:
    * extract + boilerplate-gate each page as it arrives; the batch
    * operator backfills identically (spec-pinned). */
  def htmlExtracted(stream: DataFrame, html: org.apache.spark.sql.Column,
                    id: org.apache.spark.sql.Column,
                    maxLinkPct: Int = 25): DataFrame =
    graft.operators.Web.extractHtml(stream, html, id, maxLinkPct)

  /** Streaming URL curation — d76's streaming twin: canonicalization,
    * registered-domain extraction and the literal-blocklist verdict
    * are stateless column arithmetic (map-only, no state); the
    * table-sized blocklist variant becomes a broadcast stream-static
    * anti join ([[graft.operators.Web.filterBlockedTable]] unchanged). */
  def urlCurated(stream: DataFrame, url: org.apache.spark.sql.Column,
                 id: org.apache.spark.sql.Column,
                 blockedDomains: Seq[String]): DataFrame =
    graft.operators.Web.curateUrls(stream, url, id, blockedDomains)

  /** Streaming encoding repair — d91's streaming twin: the literal
    * fix table is pure column arithmetic (map-only, no state store,
    * no shuffle), so the repair runs on a stream unchanged and
    * bit-identical to the batch gate (spec-pinned). The natural
    * ingest point: fix mojibake/ZWSP/NBSP before anything downstream
    * ever sees the text. */
  def encodingRepaired(stream: DataFrame, text: org.apache.spark.sql.Column,
                       id: org.apache.spark.sql.Column): DataFrame =
    graft.operators.TextOps.repairEncoding(stream, text, id)

  /** Streaming NFKC normalization — d94's streaming twin: the native
    * codegen'd expression is a stateless projection (map-only, no
    * state store), so compatibility folding runs at the ingest edge
    * unchanged and bit-identical to batch (spec-pinned). */
  def nfkcNormalized(stream: DataFrame, text: org.apache.spark.sql.Column,
                     id: org.apache.spark.sql.Column): DataFrame =
    graft.operators.TextOps.normalizeNfkc(stream, text, id)

  /** Streaming audio decode — d93's streaming twin: the chunk-walking
    * WAV parser runs per micro-batch through the same batched
    * mapPartitions contract (stateless, map-only), quarantining
    * undecodable payloads at the ingest edge instead of letting them
    * land. Bit-identical to the batch stats (spec-pinned). */
  def audioDecoded(spark: org.apache.spark.sql.SparkSession,
                   stream: DataFrame): DataFrame =
    graft.operators.Multimodal.audioStats(spark, stream)

  /** Streaming video decode — d97's streaming twin: the chunk+DIB
    * walker runs per micro-batch through the same batched
    * mapPartitions contract (stateless, map-only), quarantining
    * undecodable containers at the ingest edge. Bit-identical to the
    * batch stats (spec-pinned). */
  def videoDecoded(spark: org.apache.spark.sql.SparkSession,
                   stream: DataFrame): DataFrame =
    graft.operators.Multimodal.videoStats(spark, stream)

  /** Streaming PNG decode — d98's streaming twin: the strict
    * chunk/CRC/inflate/un-filter walker runs per micro-batch through
    * the same batched mapPartitions contract (stateless, map-only),
    * quarantining malformed compressed streams at the ingest edge.
    * Bit-identical to the batch stats (spec-pinned). */
  def pngDecoded(spark: org.apache.spark.sql.SparkSession,
                 stream: DataFrame): DataFrame =
    graft.operators.PngCodec.pngStats(spark, stream)

  /** Streaming JPEG decode — d101's streaming twin: the strict
    * marker-walk/Huffman/IDCT decoder runs per micro-batch through
    * the same batched mapPartitions contract (stateless, map-only),
    * quarantining malformed or out-of-scope streams at the ingest
    * edge. Bit-identical to the batch stats (spec-pinned). */
  def jpegDecoded(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.JpegSim.stats(spark, stream)

  /** Streaming GIF decode — d102's streaming twin: the strict
    * block-walk/LZW decoder runs per micro-batch through the same
    * batched mapPartitions contract (stateless, map-only),
    * quarantining malformed and out-of-scope streams at the ingest
    * edge. Bit-identical to the batch stats (spec-pinned). */
  def gifDecoded(spark: org.apache.spark.sql.SparkSession,
                 stream: DataFrame): DataFrame =
    graft.operators.GifSim.stats(spark, stream)

  /** Streaming μ-law decode — d103's streaming twin: the strict
    * fmt-7 walker + G.711 expand runs per micro-batch through the
    * same batched mapPartitions contract (stateless, map-only),
    * quarantining malformed and out-of-scope codecs at the ingest
    * edge. Bit-identical to the batch stats (spec-pinned). */
  def mulawDecoded(spark: org.apache.spark.sql.SparkSession,
                   stream: DataFrame): DataFrame =
    graft.operators.MulawSim.stats(spark, stream)

  /** Streaming tar-shard ingest — d104's streaming twin: shards
    * arrive on the stream (the WebDataset ingest shape) and the
    * strict walk + sample grouping runs per micro-batch through the
    * same batched mapPartitions contract (stateless, map-only).
    * Bit-identical to the batch stats (spec-pinned). */
  def tarShards(spark: org.apache.spark.sql.SparkSession,
                stream: DataFrame): DataFrame =
    graft.operators.TarSim.stats(spark, stream)

  /** Streaming per-sample shard ingest — d105's streaming twin: the
    * map-only flatMap from shards to sample rows runs per
    * micro-batch unchanged, so a live shard feed yields the same
    * training-ready rows the batch ingest produces (spec-pinned). */
  def tarSamples(spark: org.apache.spark.sql.SparkSession,
                 stream: DataFrame): DataFrame =
    graft.operators.TarSim.samples(spark, stream)

  /** Streaming gzip text decode — d106's streaming twin: the strict
    * RFC 1952 member walk + trailer verify runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only). Bit-identical to the batch stats (spec-pinned). */
  def gzipDecoded(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.GzipSim.stats(spark, stream)

  /** Streaming TFRecord ingest — d107's streaming twin: the strict
    * double-masked-CRC record walk per micro-batch through the same
    * batched mapPartitions contract (stateless, map-only).
    * Bit-identical to the batch stats (spec-pinned). */
  def tfRecords(spark: org.apache.spark.sql.SparkSession,
                stream: DataFrame): DataFrame =
    graft.operators.TfRecordSim.stats(spark, stream)

  /** Streaming WARC ingest — d108's streaming twin: the strict
    * two-layer decode (gzip member integrity, WARC grammar + HTTP
    * framing) runs per micro-batch through the same batched
    * mapPartitions contract (stateless, map-only), so a live crawl
    * feed quarantines at the ingest edge exactly like the batch
    * walk. Bit-identical to the batch stats (spec-pinned). */
  def warcRecords(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.WarcSim.stats(spark, stream)

  /** Streaming MJPEG decode — d109's streaming twin: the container
    * walk + per-frame JPEG decode runs per micro-batch through the
    * same batched mapPartitions contract (stateless, map-only), so a
    * live clip feed decodes and quarantines exactly like the batch
    * path. Bit-identical to the batch stats (spec-pinned). */
  def mjpegDecoded(spark: org.apache.spark.sql.SparkSession,
                   stream: DataFrame): DataFrame =
    graft.operators.MjpegSim.stats(spark, stream)

  /** Streaming ADPCM decode — d110's streaming twin: the stateful
    * per-clip IMA walk is stateless ACROSS rows (each payload carries
    * its own block headers), so it runs per micro-batch through the
    * same batched mapPartitions contract (map-only). Bit-identical to
    * the batch stats (spec-pinned). */
  def adpcmDecoded(spark: org.apache.spark.sql.SparkSession,
                   stream: DataFrame): DataFrame =
    graft.operators.AdpcmSim.stats(spark, stream)

  /** Streaming WET extraction — d111's streaming twin: the
    * multi-capture shard walk + per-page HTTP extraction flat-maps
    * per micro-batch through the same batched mapPartitions contract
    * (stateless, map-only), so a live crawl segment feed yields the
    * same training-ready page rows the batch ingest produces
    * (spec-pinned). */
  def wetPages(spark: org.apache.spark.sql.SparkSession,
               stream: DataFrame): DataFrame =
    graft.operators.WarcSim.pages(spark, stream)

  /** Streaming crawl ingest — d114's capstone shape at the LIVE edge,
    * the deployment story: live crawl to training-ready rows. Warc
    * shard docs → WET page-text rows ([[graft.operators.WarcSim
    * .pageRows]] — stateless map-only flatMap, stream-safe unchanged;
    * damaged shards contribute nothing, the batch keep/drop rules) →
    * the d114 token-count quality gate → bloom-gated exact dedup
    * against the HISTORY corpus ([[dedupAgainstHistory]]: broadcast
    * bloom probe; only bloom hits join the history hashes). Output:
    * one row per quality-passing page — composite pid, content hash,
    * is_dup — what an incremental ingest appends to the warehouse.
    * Spec pins stream output equal to the batch chain on the same
    * shards. */
  def crawlIngest(spark: SparkSession, stream: DataFrame,
                  filterBytes: Array[Byte],
                  historyHashes: DataFrame): DataFrame = {
    val pages = graft.operators.WarcSim.pageRows(spark, stream)
    val gated = pages
      .withColumn("n_tokens",
        size(graft.operators.TextOps.tokens(col("text"))).cast("long"))
      .filter(col("n_tokens") >= 4)
      .withColumn("pid", col("doc_id") * 8 + col("page"))
    dedupAgainstHistory(gated, col("text"), col("pid"),
        filterBytes, historyHashes)
      .withColumnRenamed("doc_id", "pid")
  }

  /** Streaming zip ingest — d113's streaming twin: the EOCD →
    * central-directory → local-header walk runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only). Bit-identical to the batch stats (spec-pinned). */
  def zipDecoded(spark: org.apache.spark.sql.SparkSession,
                 stream: DataFrame): DataFrame =
    graft.operators.ZipSim.stats(spark, stream)

  /** Streaming LZ4 decode — d115's streaming twin: the frame walk +
    * block decode runs per micro-batch through the same batched
    * mapPartitions contract (stateless, map-only). Bit-identical to
    * the batch stats (spec-pinned). */
  def lz4Decoded(spark: org.apache.spark.sql.SparkSession,
                 stream: DataFrame): DataFrame =
    graft.operators.Lz4Sim.stats(spark, stream)

  /** Streaming zstd decode — d117's streaming twin: the frame walk +
    * FSE/huff0 block decode runs per micro-batch through the same
    * batched mapPartitions contract (stateless, map-only).
    * Bit-identical to the batch stats (spec-pinned). */
  def zstdDecoded(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.ZstdSim.stats(spark, stream)

  /** Streaming seekable-zstd range reads — d123's streaming twin: the
    * seek-table walk + covering-frame decode runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only). Bit-identical to the batch stats (spec-pinned). */
  def zstdRangeRead(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame): DataFrame =
    graft.operators.ZstdSeekSim.stats(spark, stream)

  /** Streaming snappy decode — d122's streaming twin: the framed
    * walk + block decode runs per micro-batch through the same
    * batched mapPartitions contract (stateless, map-only).
    * Bit-identical to the batch stats (spec-pinned). */
  def snappyDecoded(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame): DataFrame =
    graft.operators.SnappySim.stats(spark, stream)

  /** Streaming DEFLATE/zlib decode — d124's streaming twin: the
    * from-scratch RFC 1950/1951 inflate (dynamic Huffman, code-length
    * code, Adler-32) runs per micro-batch through the same batched
    * mapPartitions contract (stateless, map-only). Bit-identical to
    * the batch stats (spec-pinned). */
  def deflateDecoded(spark: org.apache.spark.sql.SparkSession,
                     stream: DataFrame): DataFrame =
    graft.operators.DeflateSim.stats(spark, stream)

  /** Streaming bzip2 decode — d125's streaming twin: the from-scratch
    * BWT/MTF/RLE/multi-table-Huffman inflate runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only). Bit-identical to the batch stats (spec-pinned). */
  def bzip2Decoded(spark: org.apache.spark.sql.SparkSession,
                   stream: DataFrame): DataFrame =
    graft.operators.Bzip2Sim.stats(spark, stream)

  /** Streaming chunked-HTTP crawl decode — d127's streaming twin: the
    * WARC walk + chunked de-framing + gzip content decode runs per
    * micro-batch through the same batched mapPartitions contract
    * (stateless, map-only). Bit-identical to the batch stats
    * (spec-pinned). */
  def chunkedHttpDecoded(spark: org.apache.spark.sql.SparkSession,
                         stream: DataFrame): DataFrame =
    graft.operators.ChunkedSim.stats(spark, stream)

  /** Streaming charset sniff + strict transcode — d128's streaming
    * twin: the BOM/meta/header/validation chain and the from-scratch
    * byte tables run per micro-batch through the same batched
    * mapPartitions contract (stateless, map-only). Bit-identical to
    * the batch stats (spec-pinned). */
  def charsetSniffed(spark: org.apache.spark.sql.SparkSession,
                     stream: DataFrame): DataFrame =
    graft.operators.CharsetSim.stats(spark, stream)

  /** Streaming MediaWiki-dump ingest — d129's streaming twin: the
    * bzip2 + strict-XML row source runs per micro-batch through the
    * same batched mapPartitions contract (stateless, map-only),
    * handing page ROWS to the stream plan — the namespace filter and
    * any windowed aggregation compose downstream unchanged. */
  def xmlPageRows(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.XmlRowsSim.rows(spark, stream)

  /** Streaming parquet walk — d126's streaming twin: the footer
    * parse + page walk + stats audit runs per micro-batch through the
    * same batched mapPartitions contract (stateless, map-only).
    * Bit-identical to the batch stats (spec-pinned). */
  def parquetWalked(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame): DataFrame =
    graft.operators.ParquetSim.stats(spark, stream)

  /** Streaming .eml ingest — d130's streaming twin: the RFC 5322 +
    * MIME parse (folding, boundaries, base64/QP transfer decode,
    * d128 charset transcode) runs per micro-batch through the same
    * batched mapPartitions contract (stateless, map-only), handing
    * part ROWS to the stream plan. */
  def emlPartRows(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.EmlSim.rows(spark, stream)

  /** Streaming robots verdicts — d131's streaming twin: the RFC 9309
    * parse + longest-match evaluation runs per micro-batch through
    * the same batched mapPartitions contract (stateless, map-only),
    * handing verdict ROWS to the stream plan — a live crawl frontier
    * filters against them unchanged. */
  def robotsVerdicts(spark: org.apache.spark.sql.SparkSession,
                     stream: DataFrame): DataFrame =
    graft.operators.RobotsSim.rows(spark, stream)

  /** Streaming Avro OCF ingest — d121's streaming twin: the
    * header/sync/block walk + record decode runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only). Bit-identical to the batch stats (spec-pinned). */
  def avroDecoded(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.AvroOcfSim.stats(spark, stream)

  /** Streaming tf.Example ingest — d120's streaming twin: the
    * TFRecord frame walk + protobuf schema parse runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only). Bit-identical to the batch stats (spec-pinned). */
  def tfExampleDecoded(spark: org.apache.spark.sql.SparkSession,
                       stream: DataFrame): DataFrame =
    graft.operators.TfExampleSim.stats(spark, stream)

  /** Streaming .jsonl.zst ingest — d119's streaming twin: the
    * concatenated-frame walk + record split runs per micro-batch
    * through the same batched mapPartitions contract (stateless,
    * map-only), handing LINES to the stream plan — `from_json` and
    * any windowed aggregation compose downstream unchanged. */
  def jsonlZstLines(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame): DataFrame =
    graft.operators.ZstdJsonlSim.lines(spark, stream)

  /** Streaming A-law decode — d116's streaming twin: the strict
    * fmt-6 walker + G.711 expand per micro-batch through the same
    * batched mapPartitions contract (stateless, map-only).
    * Bit-identical to the batch stats (spec-pinned). */
  def alawDecoded(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame): DataFrame =
    graft.operators.AlawSim.stats(spark, stream)

  /** Streaming unigram-LM encode — d100's streaming twin: the
    * trained model rides the plan as a reference object and the
    * Viterbi expression is stateless column arithmetic, so the
    * deployment-side tokenizer runs on a stream unchanged (the
    * train-batch-side / encode-anywhere split the tokenizer family
    * is designed around). */
  def unigramEncoded(stream: DataFrame,
                     text: org.apache.spark.sql.Column,
                     id: org.apache.spark.sql.Column,
                     model: graft.functions.UnigramModel): DataFrame =
    stream.select(id.as("doc_id"),
      graft.functions.UnigramEncodeExpr.column(text, model).as("pieces"))

  case class FrameFp(doc_id: Long, frame_idx: Long, fp: Long)
  case class KfState(lastIdx: Long, lastFp: Long)
  case class KfOut(doc_id: Long, frame_idx: Long, fp: Long,
                   hamming: Long, keyframe: Boolean)

  /** Streaming keyframe selection — d87's streaming twin: frames
    * arrive incrementally per doc (the live-video shape), each is
    * fingerprinted MAP-ONLY with the batch operator's exact staged
    * blockhash columns ([[graft.operators.Multimodal
    * .withFrameFingerprint]] — stateless, stream-safe unchanged), and
    * the batch form's doc-keyed lag window becomes
    * `flatMapGroupsWithState` whose state is ONE (lastIdx, lastFp)
    * pair per live doc — O(1), continued across micro-batches, so a
    * doc whose frames span many batches still compares each frame to
    * its true predecessor. Frames inside a micro-batch slice process
    * in frame_idx order (the batch form's ordering).
    * `frames` needs (doc_id, frame_idx, frame: string). Spec pins
    * single-batch and split-batch output equal to the batch
    * [[graft.operators.Multimodal.keyFrames]]. */
  def keyFramesStreaming(spark: SparkSession, frames: DataFrame,
                         maxStaticHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val fps = graft.operators.Multimodal
      .withFrameFingerprint(frames.select(
        col("doc_id").cast("long"), col("frame_idx").cast("long"),
        col("frame")), col("frame"))
      .select(col("doc_id"), col("frame_idx"), col("fp")).as[FrameFp]
    fps.groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[FrameFp], state: GroupState[KfState]) => {
          var st = state.getOption.orNull
          val out = rows.toSeq.sortBy(_.frame_idx).map { f =>
            val hamming =
              if (st == null) -1L
              else java.lang.Long.bitCount(f.fp ^ st.lastFp).toLong
            st = KfState(f.frame_idx, f.fp)
            KfOut(id, f.frame_idx, f.fp, hamming,
              hamming == -1L || hamming > maxStaticHamming)
          }
          if (st != null) state.update(st)
          out.iterator
        })
      .toDF()
  }

  /** Streaming bitext candidate generation — the d83 LSH path's
    * streaming twin (the d46-decontaminate shape for mining): each
    * arriving A-side embedding gets its multi-probe hyperplane
    * buckets MAP-ONLY ([[graft.operators.Similarity
    * .hyperplaneBucket]] is stateless column arithmetic) and
    * stream-static joins against the PRE-BUCKETED static B side; the
    * cosine is computed per matched pair, also map-only. No stream
    * state beyond the micro-batch. Probe multiplicity is retained —
    * a pair sharing p probes emits p rows (the batch path's distinct
    * + margin/mutual-argmax stages need corpus-global windows, which
    * is the batch backfill's job; the stream's job is surfacing
    * candidates AT INGEST). Spec pins the streamed candidate set ⊇
    * the batch miner's mined pairs on planted translations. */
  def bitextCandidates(stream: DataFrame, corpus: DataFrame,
                       dim: Int = 64, numPlanes: Int = 8,
                       minCos: Double = 0.0): DataFrame = {
    import graft.operators.Similarity.{dot, hyperplaneBucket, norm, toDouble}
    val b = corpus.select(col("vec_id").as("b_id"),
        toDouble(col("embedding")).as("bv"))
      .withColumn("bn", norm(col("bv")))
      .withColumn("bucket", hyperplaneBucket(col("bv"), dim, numPlanes))
    val a = stream.select(col("vec_id").as("a_id"),
        toDouble(col("embedding")).as("av"))
      .withColumn("an", norm(col("av")))
      .withColumn("b0", hyperplaneBucket(col("av"), dim, numPlanes))
      .withColumn("bucket", explode(array(
        (col("b0") +: (0 until numPlanes).map(j =>
          col("b0").bitwiseXOR(lit(1L << j)))): _*)))
    a.join(b, Seq("bucket"))
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"), col("cos"))
  }
}
