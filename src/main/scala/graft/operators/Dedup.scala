package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Round.rd

/** Deduplication operators (SURVEY §2.5 #40-43), designed for the
  * 100 TB path: exact dedup is one hash aggregate; near-dup never goes
  * O(n²) — MinHash/SimHash band buckets bound the candidate set and the
  * expensive verification (Jaccard) runs only on bucket-mates.
  */
object Dedup {

  /** Exact dedup: content-hash groupBy; keeper = min id per group. */
  def exact(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("keeper_id"))

  /** Exact-dedup KEEPER ROWS in one pass — the attach-free form of
    * [[exact]] + "semi-join the corpus back on keeper_id" (r17, guide
    * §2.4/§8): `min(struct(id, payload…))` per content hash returns the
    * min-id row per group WITH its payload columns, so the caller never
    * re-derives the corpus to re-attach them. The struct comparison is
    * decided entirely by its first field (`id` is unique per corpus), so
    * payload values are never compared and the result is deterministic —
    * identical row set to the two-pass compose (OperatorsSpec pins it).
    *
    * Scale shape: the two-pass form scans the corpus twice (both sides
    * of the semi-join re-derive every upstream map stage — extraction,
    * decode, tokenization) and shuffles it twice (once into the hash
    * aggregate, once by id for the join). This form scans ONCE and
    * ships one narrow (hash, id, payload) partial-aggregate exchange.
    * `keep` names payload columns of `docs` that ride with the keeper;
    * output columns: keeper_id, keep… — a `keep` name that collides
    * with keeper_id or the internal _kid is rejected. */
  def exactKeeperRows(docs: DataFrame, text: Column, id: Column,
                      keep: Seq[String]): DataFrame = {
    val clash = keep.filter(k => Seq("keeper_id", "_kid").exists(_.equalsIgnoreCase(k)))
    require(clash.isEmpty, s"exactKeeperRows: keep column(s) ${clash.mkString(", ")} " +
      "collide with the operator's own keeper_id/_kid")
    val row = struct((id.as("_kid") +: keep.map(col)): _*)
    docs.groupBy(md5(text).as("content_hash"))
      .agg(min(row).as("_r"))
      .select(col("_r._kid").as("keeper_id") +:
        keep.map(n => col(s"_r.$n").as(n)): _*)
  }

  /** Consecutive k-grams of an array as strings, built by zipping k
    * shifted slices. The shape matters: a `transform(sequence(...),
    * i => f(element_at(arr, i)))` lambda re-evaluates `arr` on EVERY
    * element (higher-order-function children are not cached across
    * lambda invocations), turning an O(n) n-gram pass into O(n²) in
    * document length — invisible on short test docs, a wall on
    * 10k-token documents. `zip_with` evaluates its array arguments
    * once per ROW, so `arr` is computed 2(k−1) times total. */
  private[graft] def zipNgrams(arr: Column, k: Int,
                               join: (Column, Column) => Column): Column = {
    val m = size(arr) - (k - 1)
    (2 to k).foldLeft(slice(arr, lit(1), m)) { (acc, j) =>
      zip_with(acc, slice(arr, lit(j), m), join) }
  }

  /** Distinct 3-token shingles of a document. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    val n = size(toks)
    when(n >= k,
      array_distinct(zipNgrams(toks, k, (a, b) => concat(a, lit(" "), b))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** MinHash signatures for every doc: shingle-explode → hash once →
    * one hash-aggregate computing all numPerms `min((a·h + b) mod p)`
    * at once.
    *
    * Tokenizing once and aggregating numerics is the scale-critical
    * choice: expressing the signature as one nested Column would inline
    * (and re-execute) the string shingling once per permutation — 32×
    * the string work. Here each shingle is hashed exactly once and the
    * permutations are long-arithmetic on exploded rows; p = 2^31−1 keeps
    * a·h+b inside 64-bit range (no overflow wrap). */
  private val P = 2147483647L // 2^31 - 1 (Mersenne prime); a·h+b < 2^62

  /** Seeded permutation coefficients — ONE seed shared by the batch
    * aggregate path and the per-row streaming path, so their
    * signatures are identical (spec-pinned). */
  private def permCoefs(numPerms: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numPerms)((math.abs(rnd.nextLong()) % (P - 1) + 1,
      math.abs(rnd.nextLong()) % P))
  }

  def minhashSignatures(docs: DataFrame, text: Column, id: Column,
                        numPerms: Int): DataFrame = {
    val exploded = docs.select(id.as("doc_id"),
      explode(shingles(text)).as("sh"))
      .select(col("doc_id"), pmod(xxhash64(col("sh")), lit(P)).as("h"))
    val mins = permCoefs(numPerms).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"m$i")
    }
    exploded.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Per-ROW minhash signature — no aggregation, so it runs on an
    * unbounded stream (the batch path's explode+groupBy is stateful
    * there). The shingle hashes materialize once into an array and the
    * permutation mins are array_min over it (whole-stage codegen CSEs
    * the shared subtree; the hazard was re-SHINGLING per permutation,
    * not re-reading a hashed long array). Identical output to
    * [[minhashSignatures]] by construction (same shingles, same seeded
    * coefficients) — DedupSpec pins it. */
  def rowSignature(text: Column, numPerms: Int): Column = {
    val hashes = transform(shingles(text), sh => pmod(xxhash64(sh), lit(P)))
    array(permCoefs(numPerms).map { case (a, b) =>
      array_min(transform(hashes, h => pmod(h * a + b, lit(P))))
    }: _*)
  }

  /** (band_idx, band_hash) pairs from a signature array — the banding
    * rule shared by [[lshBands]] and the streaming path. */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",", transform(slice(sig, b * rows + 1, lit(rows)),
        x => x.cast("string")))))

  /** LSH banding: explode the signature into (band_idx, band_hash).
    * Docs sharing any band land in the same bucket — one shuffle on
    * (band, hash), never a cartesian. bands×rows must = numPerms. */
  def lshBands(docs: DataFrame, text: Column, id: Column,
               bands: Int = 8, rows: Int = 4): DataFrame = {
    val withSig = minhashSignatures(docs, text, id, bands * rows)
    withSig.select(col("doc_id"),
      posexplode(bandHashes(col("sig"), bands, rows))
        .as(Seq("band_idx", "band_hash")))
  }

  /** Hot-bucket cap: buckets larger than this are star-expanded instead
    * of all-pairs-expanded. A boilerplate cluster of 10⁶ near-identical
    * docs lands in ONE bucket; O(b²) expansion there is 10¹² pairs in a
    * single task. Star expansion (everyone ↔ bucket-min) keeps the
    * cluster one connected component for downstream union-find dedup
    * with O(b) pairs. */
  val MAX_FULL_BUCKET = 64

  /** MinHash+LSH near-dup candidate pairs (doc_a < doc_b). */
  def minhashCandidates(docs: DataFrame, text: Column, id: Column,
                        bands: Int = 8, rows: Int = 4,
                        maxBucket: Int = MAX_FULL_BUCKET): DataFrame =
    // single pass: collect bucket members per (band, hash) and expand
    // i<j pairs inline — a self-join would run the whole signature
    // pipeline twice
    pairsInBuckets(lshBands(docs, text, id, bands, rows),
      Seq("band_idx", "band_hash"), col("doc_id"), maxBucket)

  /** Pairs of `member` within each bucket key: all i<j pairs for
    * buckets ≤ maxBucket, star pairs (bucket-min ↔ member) above it.
    *
    * Scale shape: bucket size/min come from window aggregates (WindowExec
    * buffers spill to disk — no unbounded aggregation buffer), the
    * collect_set for the full expansion only ever sees ≤ maxBucket
    * members, and the star branch is map-only. Both branches read the
    * same shuffle, so the upstream signature pipeline runs once
    * (ReusedExchange). */
  private[operators] def pairsInBuckets(df: DataFrame, bucket: Seq[String],
                                        member: Column,
                                        maxBucket: Int = MAX_FULL_BUCKET): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(bucket.map(col): _*)
    val sized = df.select((bucket.map(col) :+ member.as("_m")): _*)
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_min", min(col("_m")).over(w))
      .filter(col("_cnt") > 1)
    val small = sized.filter(col("_cnt") <= maxBucket)
      .groupBy(bucket.map(col): _*)
      .agg(sort_array(collect_set(col("_m"))).as("ids"))
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "b -> named_struct('doc_a', a, 'doc_b', b))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val big = sized.filter(col("_cnt") > maxBucket && col("_m") =!= col("_min"))
      .select(col("_min").as("doc_a"), col("_m").as("doc_b"))
    small.unionByName(big).distinct()
  }

  /** Permutation coefficients for the ORACLE-EXACT polynomial minhash
    * path ([[polyMinhashPairs]]): small `a` keeps a·h < 2^51 so checked
    * 64-bit arithmetic (DuckDB) and Java longs compute identical
    * values. Shared by the Spark plan, the fused native expression, and
    * the generated DuckDB oracle SQL — one source of truth
    * ([[graft.functions.PolyBandsUtil.coefs]]). */
  val polyCoefs: Seq[(Long, Long)] = graft.functions.PolyBandsUtil.coefs

  /** Per-token polynomial hashes (the d23 fingerprint recurrence, per
    * token): exact integer arithmetic any engine can replay. Computed
    * by the fused native [[graft.functions.PolyTokenHashExpr]] — the
    * composed Column form allocates an array per character
    * (PolyTokenHashSpec pins the two equal; DedupBench measured the
    * fused loop ~4× on the d39 span scan). */
  def polyTokenHashes(text: Column): Column =
    graft.functions.PolyTokenHashExpr.column(text)

  /** Distinct polynomial 3-shingle hashes: consecutive token hashes
    * combined with base 131 mod P (zip-sliced — see [[zipNgrams]] for
    * why the element_at form would be O(n²)). Caller must ensure ≥ 3
    * tokens. */
  def polyShingleHashes(text: Column): Column = {
    val hs = polyTokenHashes(text)
    array_distinct(zipNgrams(hs, 3,
      (a, b) => pmod(a * 131L + b, lit(P))))
  }

  /** MinHash+LSH candidate pairs where EVERY step — token hash, shingle
    * combine, permutations, band hash — is exact cross-engine integer
    * arithmetic, so the full pipeline is DuckDB-oracle-verifiable
    * (query d24; the xxhash64 path d02 stays the throughput variant,
    * this one pins the algorithm's semantics end-to-end). Banding:
    * 4 bands × 4 rows. maxBucket defaults to unbounded because the
    * oracle computes exact all-pairs; pass [[MAX_FULL_BUCKET]] for the
    * capped production behavior.
    *
    * r16 shape: signatures come from the FUSED per-row band expression
    * ([[polyRowBands]] — one map-only pass per doc, the stream twins'
    * path), not the shingle-explode → 16-min HashAggregate the
    * original pipeline used. The aggregate form shuffled one
    * (doc_id, h) row PER SHINGLE (corpus-token-sized exchange) just to
    * re-group them by doc_id — rows the scan had already laid out by
    * doc. Candidate-set equality between the two forms is spec-pinned
    * (OperatorsSpec "per-row poly bands emit the same candidates"),
    * and the DuckDB oracle replays the same integer math either way.
    * The only shuffle left is pairsInBuckets' (band, hash) bucket
    * window — the one the algorithm fundamentally requires. */
  def polyMinhashPairs(docs: DataFrame, text: Column, id: Column,
                       bands: Int = 4, rows: Int = 4,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands * rows <= polyCoefs.length,
      s"bands*rows must be <= ${polyCoefs.length} (poly coefficient pool)")
    val banded = docs.filter(size(TextOps.tokens(text)) >= 3)
      .select(id.as("doc_id"),
        posexplode(polyRowBands(text, bands, rows))
          .as(Seq("band_idx", "band_hash")))
    pairsInBuckets(banded, Seq("band_idx", "band_hash"), col("doc_id"), maxBucket)
  }

  /** Incremental dedup of a new batch against a HISTORICAL corpus via a
    * Bloom filter — the shape that avoids re-shuffling the 100 TB side
    * every run. The history is sketched by ONE map-side-combinable
    * aggregate ([[graft.functions.BloomFilterAgg]] — partial filters OR
    * together losslessly), the few-MB filter rides to every task as a
    * literal, and the batch probes it map-only at scan speed
    * ([[graft.functions.BloomContainsExpr]], codegen'd). No false
    * negatives, so only the bloom-positive subset (true dups + ~fpp of
    * the rest) pays the exact verification join; history's side of that
    * join is just its distinct content hashes.
    *
    * Returns one row per batch doc: (doc_id, bloom_hit, is_dup).
    * `bloom_hit && !is_dup` rows are the false positives the fpp bound
    * paid for. `expectedItems < 0` counts the history first (a real
    * pipeline passes the known corpus size instead).
    *
    * The hit/miss branches are a DELIBERATE two-scan union, not an
    * oversight: a single left join of the whole batch against the
    * history hashes would shuffle every batch row on content hash,
    * while the union shuffles only the bloom-positive sliver (true
    * dups + fpp) and re-derives the miss majority in a second map-only
    * scan — at a 100 TB batch with a selective filter, one extra
    * vectorized scan is far cheaper than shuffling everything. */
  def bloomIncremental(history: DataFrame, batch: DataFrame,
                       text: Column, id: Column, fpp: Double = 0.01,
                       expectedItems: Long = -1L): DataFrame = {
    val n = if (expectedItems > 0) expectedItems else history.count()
    require(n > 0, "bloomIncremental needs a non-empty history (or pass " +
      "expectedItems > 0): there is nothing to dedupe against — seed the " +
      "first batch with Dedup.exact instead")
    val filterBytes = history
      .agg(graft.functions.BloomFilterAgg.column(
        xxhash64(text), lit(n), lit(fpp)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    require(filterBytes != null, "history built no bloom filter — it is " +
      "empty despite expectedItems > 0; pass the real history or seed with " +
      "Dedup.exact")
    val probed = batch.select(id.as("doc_id"), md5(text).as("_ch"),
      graft.functions.BloomContainsExpr.column(
        xxhash64(text), lit(filterBytes)).as("bloom_hit"))
    val histHashes = history.select(md5(text).as("_ch")).distinct()
    probed.filter(col("bloom_hit"))
      .join(histHashes.withColumn("_dup", lit(true)), Seq("_ch"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
      .unionByName(probed.filter(!col("bloom_hit"))
        .select(col("doc_id"), col("bloom_hit"), lit(false).as("is_dup")))
  }

  /** Per-row polynomial minhash BAND hashes — map-only (no per-doc
    * aggregate): the same permutations, mins, and base-131 band combine
    * as [[polyMinhashPairs]]' aggregated path, so the two emit
    * identical (band_idx, band_hash) sets (spec-pinned). The map-only
    * form is what cross-corpus probes want: a signature at scan speed
    * with ZERO corpus shuffle. Computed by the fused native
    * [[graft.functions.PolyMinhashBandsExpr]] (one pass over the
    * tokens); returns array<long> indexed by band — `posexplode` for
    * (band_idx, band_hash). Null for docs with < 3 tokens. */
  def polyRowBands(text: Column, bands: Int = 4, rows: Int = 4): Column =
    graft.functions.PolyMinhashBandsExpr.column(text, bands, rows)

  /** The composed-Column form of [[polyRowBands]] — kept ONLY as the
    * semantic reference the spec pins the native expression against.
    * Do not use on a corpus: the Column tree inlines the shingle
    * pipeline once per permutation (16× the work — the round-1 minhash
    * lesson all over again). */
  private[graft] def polyRowBandsComposed(text: Column, bands: Int = 4,
                                          rows: Int = 4): Column = {
    val shs = polyShingleHashes(text)
    val mins = polyCoefs.take(bands * rows).map { case (a, b) =>
      array_min(transform(shs, h => pmod(h * a + b, lit(P)))) }
    array((0 until bands).map { bi =>
      val ms = (bi * rows until (bi + 1) * rows).map(mins)
      ms.reduceLeft((acc, m) => pmod(acc * 131L + m, lit(P)))
    }: _*)
  }

  /** Fuzzy benchmark decontamination: flag corpus docs that NEAR-
    * duplicate any benchmark document (the minhash cousin of
    * [[TextOps.contaminationCounts]]' exact n-gram overlap — catches
    * paraphrased/trimmed eval leaks that exact 8-grams miss). Both
    * sides get map-only [[polyRowBands]]; the benchmark side (tiny
    * next to a 100 TB corpus) BROADCASTS, so the corpus pays one
    * scan-speed pass and never shuffles before the join — the per-doc
    * rollup afterwards only sees the matched subset. Exact integer
    * hashing end-to-end → DuckDB-oracle-replayable. */
  def crossNearDup(corpus: DataFrame, bench: DataFrame, text: Column,
                   id: Column, benchText: Column, benchId: Column): DataFrame = {
    val cb = corpus.select(id.as("doc_id"),
        posexplode(polyRowBands(text)).as(Seq("band_idx", "band_hash")))
    val bb = bench.select(benchId.as("bench_id"),
        posexplode(polyRowBands(benchText)).as(Seq("band_idx", "band_hash")))
    cb.join(broadcast(bb), Seq("band_idx", "band_hash"))
      .groupBy("doc_id")
      .agg(countDistinct(col("bench_id")).as("n_bench_hits"),
        min(col("bench_id")).as("first_bench_id"))
  }

  /** Cross-corpus near-dup where BOTH sides are corpus-scale — "dedupe
    * this month's crawl against last month's". [[crossNearDup]]
    * broadcasts its reference side (right for KB eval suites, wrong
    * for a 100 TB history): here both sides band map-only
    * ([[polyRowBands]] — zero corpus shuffle before the join) and meet
    * in a SHUFFLE join keyed by (band_idx, band_hash). Hot buckets — a
    * boilerplate band shared by 10⁶ docs on each side — would make the
    * equi-join materialize |A_bucket|·|B_bucket| rows, so each side's
    * bucket membership is capped at `maxBucket` — smallest ids win,
    * selected by the O(k)-state [[graft.functions.TopKByScore]] heap
    * (map-side combinable: a 10⁹-member hot bucket pre-shrinks to
    * maxBucket candidates per mapper; a row_number window here would
    * re-create the single-task bucket sort d40/d50 were cured of).
    * The trade is the d02/d53 star-cap adapted to the bipartite case:
    * pair COVERAGE of capped buckets is partial, but every capped
    * bucket still reports up to maxBucket² witness pairs — far more
    * than dedup decisions need. Output: (doc_id, n_hist_hits,
    * first_hist_id) for corpus docs with ≥ 1 banded match. */
  def crossNearDupLarge(corpus: DataFrame, history: DataFrame,
                        text: Column, id: Column, histText: Column,
                        histId: Column,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    def banded(df: DataFrame, c: Column, i: Column, as: String): DataFrame = {
      val b = df.select(i.as(as),
        posexplode(polyRowBands(c)).as(Seq("band_idx", "band_hash")))
      if (maxBucket == Int.MaxValue) b
      else b.groupBy("band_idx", "band_hash")
        .agg(graft.functions.TopKByScore.column(
          negate(col(as).cast("double")), col(as), lit(maxBucket)).as("_top"))
        .select(col("band_idx"), col("band_hash"),
          explode(col("_top").getField("id")).as(as))
    }
    // shuffle_merge declares the contract (both sides corpus-scale):
    // without it a gate-sized history gets broadcast and the plan no
    // longer rehearses the shape that must hold at 100 TB
    banded(corpus, text, id, "doc_id")
      .join(banded(history, histText, histId, "hist_id").hint("shuffle_merge"),
        Seq("band_idx", "band_hash"))
      .groupBy("doc_id")
      .agg(countDistinct(col("hist_id")).as("n_hist_hits"),
        min(col("hist_id")).as("first_hist_id"))
  }

  /** Polynomial rolling window hashes over token hashes: one hash per
    * k-token window, exact cross-engine integer arithmetic (same base
    * 131 mod 2³¹−1 chain as [[polyShingleHashes]], which is the k=3
    * distinct-set variant; this keeps POSITIONS — substring dedup needs
    * every occurrence, not the set). */
  def polyWindowHashes(text: Column, k: Int): Column = {
    val hs = polyTokenHashes(text)
    zipNgrams(hs, k, (a, b) => pmod(a * 131L + b, lit(P)))
  }

  /** Exact-substring duplication report (the window-hash form of
    * suffix-array substring dedup — Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): every k-token window is
    * hashed; a window whose hash also occurs in ANOTHER doc is a
    * cross-corpus duplicated span. Per doc: total windows, duplicated
    * windows, duplicated fraction.
    *
    * Scale shape: explode is O(corpus tokens) but map-only; the only
    * shuffles are the groupBy on window hash (bounded state: count +
    * distinct-doc flag per hash) and the hash-join back — no pairwise
    * comparison anywhere. This is what replaces the (unshardable)
    * suffix array at 100 TB. */
  def dupSpans(docs: DataFrame, text: Column, id: Column, k: Int = 8): DataFrame = {
    val wins = docs.filter(size(TextOps.tokens(text)) >= k)
      .select(id.as("doc_id"), posexplode(polyWindowHashes(text, k))
        .as(Seq("pos", "wh")))
    // per window hash: does it span more than one doc? min/max beats
    // countDistinct — two longs of state per hash, no distinct set
    val spread = wins.groupBy(col("wh"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("cross_doc"))
      .filter(col("cross_doc"))
    wins.join(spread, Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cross_doc"), 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        rd(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_frac"))
  }

  /** Span-CUT dedup — the ACTION counterpart of [[dupSpans]] (Lee et
    * al. remove the repeated span, not just report it): every k-token
    * window whose hash occurs more than once in the corpus is cut from
    * every occurrence EXCEPT the global first (min (doc_id, pos) —
    * within-doc repeats cut too), and each doc is reassembled from its
    * surviving tokens in order.
    *
    * Scale shape — all the skew lessons applied at once:
    *  - first-occurrence per window hash is `min(struct(doc_id, pos))`
    *    with a partial phase (the d40 rule): a boilerplate span
    *    repeated 10⁹ times pre-aggregates per mapper;
    *  - the dup flag is a hash join of occurrences against the
    *    ≤-one-row-per-hash firsts table — per-row probe, no sort of
    *    the hot hash's occurrence list;
    *  - cut positions and the token regroup are keyed by (doc_id, idx)
    *    / doc_id — unique-ish, skew-free keys; per-group state is one
    *    doc's tokens, never corpus-sized. No window function anywhere.
    * Exact integer + string operations end-to-end → DuckDB-replayable.
    * Returns per doc: (doc_id, n_tokens, n_cut, clean_hash — null when
    * nothing survives). */
  def cutDupSpans(docs: DataFrame, text: Column, id: Column, k: Int = 8): DataFrame = {
    val wins = docs.filter(size(TextOps.tokens(text)) >= k)
      .select(id.as("doc_id"), posexplode(polyWindowHashes(text, k))
        .as(Seq("pos0", "wh")))
    val firsts = wins.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("pos0"))).as("w"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    val cuts = wins.join(firsts, Seq("wh"))
      .filter(!(col("doc_id") === col("w.doc_id") && col("pos0") === col("w.pos0")))
      // window at 0-based pos0 covers 1-based token indices
      // pos0+1 .. pos0+k
      .select(col("doc_id"), explode(sequence(col("pos0") + 1, col("pos0") + k)).as("idx"))
      .distinct()
    val toks = docs.select(id.as("doc_id"),
        posexplode(TextOps.tokens(text)).as(Seq("idx0", "tok")))
      .select(col("doc_id"), (col("idx0") + 1).as("idx"), col("tok"))
    val kept = toks.join(cuts, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("idx"), col("tok")))).as("_k"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws(" ", transform(col("_k"), x => x("tok"))).as("_clean"))
    docs.select(id.as("doc_id"), size(TextOps.tokens(text)).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_cut"),
        when(coalesce(col("n_kept"), lit(0L)) > 0, md5(col("_clean"))).as("clean_hash"))
  }

  /** n-gram Jaccard verification over candidate pairs only. The
    * similarity is the fused [[graft.functions.JaccardSimExpr]] —
    * identical distinct-set semantics to the old
    * `size(array_intersect)/size(array_union)` form (spec-pinned) but
    * one two-set pass with no materialized result arrays, which at
    * millions of verified pairs is the difference between a scan and
    * a GC storm. */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame,
                    text: Column, id: Column, minJaccard: Double): DataFrame = {
    val sh = docs.select(id.as("jid"), shingles(text).as("sh"))
    candidates
      .join(sh.withColumnRenamed("jid", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("jid", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .withColumn("jaccard",
        graft.functions.JaccardSimExpr.column(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), rd(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash fingerprints: per-bit ±1 votes over token hashes.
    * Token-explode → hash once → one aggregate with 64 vote sums (same
    * one-tokenize rationale as [[minhashSignatures]]). */
  def simhashFingerprints(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val exploded = docs.select(id.as("doc_id"),
      explode(TextOps.tokens(text)).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val fp = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    exploded.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("fp"))
  }

  /** SimHash near-dup pairs: 4×16-bit band blocking (any equal band ⇒
    * candidate — catches all pairs with hamming ≤ 3), verified by
    * bit_count(xor) ≤ maxHamming. Hot buckets star-expand against the
    * bucket-min doc (same rationale as [[pairsInBuckets]]). */
  def simhashPairs(docs: DataFrame, text: Column, id: Column,
                   maxHamming: Int = 3,
                   maxBucket: Int = MAX_FULL_BUCKET): DataFrame =
    fingerprintPairs(simhashFingerprints(docs, text, id),
      bands = 4, bandBits = 16, maxHamming, maxBucket)

  /** Banded hamming-verified pairing over a (doc_id, fp) fingerprint
    * table — the blocking stage shared by the xxhash64 ([[simhashPairs]])
    * and polynomial ([[polySimhashPairs]]) SimHash paths. `bands`
    * consecutive `bandBits`-bit slices of the fingerprint are the bucket
    * keys; by pigeonhole any pair with hamming ≤ bands−1 shares at least
    * one intact band, so band equality is a complete candidate generator
    * for maxHamming ≤ bands−1. Same one-shuffle / capped-hot-bucket
    * shape as [[pairsInBuckets]]. */
  private[operators] def fingerprintPairs(f: DataFrame, bands: Int,
                                          bandBits: Int, maxHamming: Int,
                                          maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << bandBits) - 1
    val banded = f.select(col("doc_id"), col("fp"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("fp"), b * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band_idx", "band_val")))
    val w = Window.partitionBy(col("band_idx"), col("band_val"))
    val sized = banded
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_min", min(struct(col("doc_id"), col("fp"))).over(w))
      .filter(col("_cnt") > 1)
    val small = sized.filter(col("_cnt") <= maxBucket)
      .groupBy(col("band_idx"), col("band_val"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("fp")))).as("xs"))
      .select(explode(expr(
        "flatten(transform(xs, (a, i) -> transform(slice(xs, i + 2, size(xs) - i - 1), " +
          "b -> named_struct('doc_a', a.doc_id, 'doc_b', b.doc_id, " +
          "'hamming', bit_count(a.fp ^ b.fp)))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
    val big = sized
      .filter(col("_cnt") > maxBucket && col("doc_id") =!= col("_min.doc_id"))
      .select(col("_min.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        bit_count(col("_min.fp").bitwiseXOR(col("fp"))).as("hamming"))
    small.unionByName(big)
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash over POLYNOMIAL token hashes — the oracle-exact twin of
    * [[simhashFingerprints]], the same role [[polyMinhashPairs]] plays
    * for the xxhash64 minhash path: token hashes come from the d23
    * char-recurrence (mod 2³¹−1, so values fit 31 bits), the per-bit
    * ±1 votes and the vote>0 bit rule are pure integer arithmetic, and
    * DuckDB replays every step — fingerprint bits 0..30. Same scale
    * shape as the throughput path: token-explode → hash once → ONE
    * aggregate holding 31 vote sums (map-side combinable — a hot doc's
    * tokens pre-sum per mapper). */
  val POLY_SIMHASH_BITS = 31

  def polySimhashFingerprints(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val exploded = docs.select(id.as("doc_id"),
      explode(polyTokenHashes(text)).as("h"))
    val votes = (0 until POLY_SIMHASH_BITS).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j")
    }
    val fp = (0 until POLY_SIMHASH_BITS).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    exploded.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("fp"))
  }

  /** Near-dup pairs over the polynomial fingerprints: 4×8-bit bands
    * (band 3 carries the top 7 bits — bit 31 is always 0) — complete
    * for hamming ≤ 3 by the same pigeonhole as the 64-bit path —
    * verified by bit_count(xor). Every step exact cross-engine integer
    * arithmetic, so the WHOLE simhash chain (hash → votes → fingerprint
    * → banding → hamming verify) is DuckDB-oracle-checkable (query
    * d53; d03 stays the 64-bit xxhash throughput variant).
    * maxBucket defaults to unbounded because the oracle computes exact
    * all-pairs; pass [[MAX_FULL_BUCKET]] for capped production
    * behavior. */
  def polySimhashPairs(docs: DataFrame, text: Column, id: Column,
                       maxHamming: Int = 3,
                       maxBucket: Int = Int.MaxValue): DataFrame =
    fingerprintPairs(polySimhashFingerprints(docs, text, id),
      bands = 4, bandBits = 8, maxHamming, maxBucket)

  /** Corpus-level minhash sketches + pairwise overlap estimates
    * between GROUPS of documents (sources, snapshots, shards): the
    * minhash signature of the union of a group's shingle sets is the
    * element-wise min over all the group's shingle hashes — ONE
    * map-side-combinable aggregate whose state is `perms` longs per
    * group, no matter how many documents the group holds. The pairwise
    * stage runs on the #groups-row sketch table (KB — a corpus has a
    * handful of sources), estimating each pair's shingle-set Jaccard
    * as the fraction of agreeing signature components — the
    * "how similar are two corpus versions / sources without comparing
    * documents" primitive behind corpus diffing and source triage.
    * Polynomial hashing end-to-end → DuckDB-replayable bit-exactly. */
  def corpusOverlap(docs: DataFrame, text: Column, group: Column,
                    perms: Int = 16): DataFrame = {
    require(perms <= polyCoefs.length,
      s"perms must be <= ${polyCoefs.length} (poly coefficient pool)")
    val exploded = docs.filter(size(TextOps.tokens(text)) >= 3)
      .select(group.as("grp"), explode(polyShingleHashes(text)).as("h"))
    val mins = polyCoefs.take(perms).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"m$i")
    }
    val sigs = exploded.groupBy(col("grp")).agg(mins.head, mins.tail: _*)
    val cols = (0 until perms).map(i => col(s"m$i"))
    val a = sigs.select(col("grp").as("grp_a") +: cols.zipWithIndex.map {
      case (c, i) => c.as(s"a$i") }: _*)
    val b = sigs.select(col("grp").as("grp_b") +: cols.zipWithIndex.map {
      case (c, i) => c.as(s"b$i") }: _*)
    val matches = (0 until perms).map { i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)
    }.reduce(_ + _)
    // non-equi join over the KB-sized sketch table — broadcast, never
    // touches corpus-sized data
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), matches.as("n_match"),
        rd(matches.cast("double") / perms, 6).as("jaccard_est"))
  }

  /** Corpus snapshot diff by content hash — the versioning primitive
    * behind incremental curation runs ("what changed between crawl N
    * and N+1"): per distinct content, occurrence counts in both
    * snapshots and a status (added / removed / unchanged / recount —
    * recount = present in both with different multiplicity). Shape:
    * one partial-agg shuffle per side on content hash, then a
    * full-outer join on the SAME key — Spark co-partitions both sides
    * on the agg's partitioning, so the join adds no new exchange. No
    * skew hazard: content hash is effectively unique after the agg. */
  def snapshotDiff(old: DataFrame, current: DataFrame, text: Column): DataFrame = {
    def counted(df: DataFrame, as: String) =
      df.groupBy(md5(text).as("content_hash")).agg(count(lit(1)).as(as))
    counted(old, "n_old").join(counted(current, "n_new"),
        Seq("content_hash"), "full_outer")
      .select(col("content_hash"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(col("n_old").isNull, "added")
          .when(col("n_new").isNull, "removed")
          .when(col("n_old") === col("n_new"), "unchanged")
          .otherwise("recount").as("status"))
  }

  /** Soft deduplication — reweight instead of remove: every member of
    * a duplicate cluster keeps a training weight of `scale div
    * cluster_size` (scaled-integer, engine-exact), so an n-fold
    * duplicated document contributes ~one document's worth of loss in
    * aggregate rather than n (the data-constrained-scaling
    * alternative to hard dedup: nothing is dropped, the information a
    * near-dup cluster carries survives, only its gradient weight
    * shrinks). Works over ANY cluster assignment — exact content-hash
    * groups, MinHash CC labels, semantic clusters.
    *
    * Scale shape: one partial-agg count on the cluster key (map-side
    * combinable) plus one co-partitioned hash join back on the same
    * key — the corpus shuffles once, the sizes table is
    * one-row-per-cluster. No window, no broadcast of anything
    * corpus-sized. */
  def softWeights(assign: DataFrame, id: Column, cluster: Column,
                  scale: Long = 1000000L): DataFrame = {
    val base = assign.select(id.as("_id"), cluster.as("_cluster"))
    // NULL cluster = UNCLUSTERED (a left-join-shaped assignment): each
    // such doc is its own size-1 cluster with full weight. Lumping the
    // nulls into one pseudo-cluster would hand a mostly-unique corpus
    // ~zero weight per unique doc — the opposite of the contract —
    // and a plain equi join would drop them outright.
    val sizes = base.filter(col("_cluster").isNotNull)
      .groupBy(col("_cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    base.as("b").join(sizes.as("s"),
        col("b._cluster") === col("s._cluster"), "left")
      .select(col("b._id").as("_id"), col("b._cluster").as("_cluster"),
        coalesce(col("s.cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight", expr(s"${scale}L div cluster_size"))
  }
}
