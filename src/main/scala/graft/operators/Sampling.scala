package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation. Keep decisions
  * derive from the row's id via a multiplicative (Knuth) hash — pure
  * integer arithmetic, so the sample is reproducible across runs,
  * partitionings, and engines (Spark's `hash()` and DuckDB's `hash()`
  * differ; `((id · 2654435761) mod 2³²) mod 10⁶` is identical
  * everywhere). The mod-2³² step makes the contract hold for ALL long
  * ids: the true product mod 2³² is what both engines compute — DuckDB
  * via a wider type (`id::HUGEINT * K % 2^32`), Spark via a split
  * multiply that never exceeds 2⁴⁹, so the SAME expression also runs
  * under ANSI mode (Spark 4's default), where a plain `id * K` dies
  * with ARITHMETIC_OVERFLOW for ids above ~3.4·10⁹. Map-only: the
  * filter runs at scan speed, no shuffle, and survives any
  * repartitioning because nothing depends on row order.
  */
object Sampling {
  private val KNUTH = 2654435761L // 2^32 · φ⁻¹, Knuth multiplicative hash
  private val BUCKETS = 1000000L
  private val M32 = 4294967296L   // 2^32

  /** Pseudo-random bucket in [0, 10⁶) from an integer id.
    * K·id ≡ K·lo + ((K·hi) mod 2¹⁶)·2¹⁶  (mod 2³²) with id = hi·2¹⁶+lo
    * over id mod 2³² — every intermediate stays below 2⁴⁹, so the
    * expression is overflow-free (ANSI-safe) yet bit-identical to the
    * wrapping form (AnsiRobustnessSpec checks against BigInt). */
  def bucket(id: Column): Column = {
    val id32 = pmod(id.cast("long"), lit(M32))
    val lo = id32.bitwiseAND(lit(65535L))
    val hi = shiftright(id32, 16)
    val low = lo * KNUTH                            // < 2^16 · 2^32 = 2^48
    val high = pmod(hi * KNUTH, lit(65536L)) * 65536L // < 2^32
    pmod(pmod(low + high, lit(M32)), lit(BUCKETS))
  }

  /** Token-budget domain mixing: given target mixture `weights` and a
    * global `budgetTokens`, each domain gets a token target
    * `budget·w/Σw` and a deterministic hash-sampled keep rate that hits
    * it in expectation — the "rebalance CommonCrawl/code/wiki to the
    * training mixture" step. The keep rule is the pure-integer
    * comparison `bucket(id)·domain_tokens < target·10⁶`, evaluated in
    * DECIMAL(38,0) (no division — exact in both engines; a 64-bit
    * product would silently wrap past ~9·10¹² tokens per domain, a
    * size a 100 TB corpus's head domain actually reaches, and DuckDB
    * computes the same rule in HUGEINT). A domain whose
    * target exceeds its actual tokens keeps everything — the rule
    * degrades to `bucket < 10⁶`. Raising the budget strictly grows
    * every domain's sample (nested, like [[stratified]]).
    *
    * Scale shape: one partial-agg shuffle for the per-domain token
    * totals (rows = #domains — tiny), broadcast back, then a map-only
    * filter at scan speed. Domains absent from `weights` get target 0
    * and are dropped. */
  /** Per-domain token targets `budget·w/Σw` (floor). Public so oracle
    * builders share the ONE derivation the keep rule depends on — an
    * inlined copy could silently diverge if the rounding ever
    * changes. */
  def domainTargets(weights: Map[String, Long],
                    budgetTokens: Long): Map[String, Long] = {
    val wsum = weights.values.sum
    weights.map { case (d, w) => d -> (BigInt(budgetTokens) * w / wsum).toLong }
  }

  def domainMix(docs: DataFrame, domain: Column, id: Column,
                nTokens: Column, weights: Map[String, Long],
                budgetTokens: Long): DataFrame = {
    val targets = domainTargets(weights, budgetTokens)
    val totals = docs.groupBy(domain.as("domain"))
      .agg(sum(nTokens.cast("long")).as("_dom_tokens"))
    val targetCol = targets.foldLeft(lit(0L)) { case (acc, (d, t)) =>
      when(col("domain") === d, lit(t)).otherwise(acc) }
    docs.select(id.as("doc_id"), domain.as("domain"),
        nTokens.cast("long").as("n_tokens"))
      .join(broadcast(totals.select(col("domain"), col("_dom_tokens"),
        targetCol.as("_target"))), "domain")
      .filter(bucket(col("doc_id")).cast("decimal(38,0)") * col("_dom_tokens") <
        col("_target").cast("decimal(38,0)") * BUCKETS)
      .select(col("doc_id"), col("domain"), col("n_tokens"))
  }

  /** Temperature-scaled domain mixing — the multilingual α-sampling
    * rule (p_i^α re-weighting, mT5/XLM-R style): low-resource domains
    * are UP-weighted relative to their natural share so the head
    * domain doesn't drown them. Where [[domainMix]] takes explicit
    * targets, this derives them from the observed shares:
    * w_i = p_i^α with p_i the domain's token share and α = 2^-halvings
    * — α is restricted to inverse powers of two so the power is
    * `halvings` REPEATED SQUARE ROOTS. That restriction is what makes
    * the operator oracle-exact: IEEE-754 requires sqrt (and /,·) to be
    * correctly rounded, so `floor(10⁹·sqrt^h(dom/total))` is
    * bit-identical in every engine, where a general `pow(p, 0.3)` is
    * library-defined and cross-engine drifty. The keep rule folds the
    * weight normalization INTO the comparison —
    *   bucket(id)·dom_tokens·Σw < budget·w_i·10⁶
    * — so no per-domain target is ever rounded through a division;
    * evaluated in DECIMAL(38,0) (the [[domainMix]] overflow treatment:
    * the triple product reaches ~10³² for a 100 TB head domain).
    *
    * Scale shape: two tiny aggregates (per-domain totals → grand total
    * + weight sum, rows = #domains), broadcast back, then a map-only
    * filter at scan speed — identical topology to [[domainMix]]. */
  def temperatureMix(docs: DataFrame, domain: Column, id: Column,
                     nTokens: Column, budgetTokens: Long,
                     halvings: Int = 1): DataFrame = {
    require(halvings >= 1 && halvings <= 4,
      s"halvings must be in [1,4] (alpha = 1/2 .. 1/16), got $halvings")
    require(budgetTokens > 0, "budgetTokens must be positive")
    val totals = docs.groupBy(domain.as("domain"))
      .agg(sum(nTokens.cast("long")).as("_dom_tokens"))
    val grand = totals.agg(sum(col("_dom_tokens")).as("_total"))
    val ratio = col("_dom_tokens").cast("double") / col("_total").cast("double")
    val rooted = (1 to halvings).foldLeft(ratio)((c, _) => sqrt(c))
    val weighted = totals.crossJoin(broadcast(grand))
      .select(col("domain"), col("_dom_tokens"),
        floor(lit(1.0e9) * rooted).cast("long").as("_w"))
    val wsum = weighted.agg(sum(col("_w")).as("_wsum"))
    docs.select(id.as("doc_id"), domain.as("domain"),
        nTokens.cast("long").as("n_tokens"))
      .join(broadcast(weighted.crossJoin(broadcast(wsum))), "domain")
      .filter(bucket(col("doc_id")).cast("decimal(38,0)") *
          col("_dom_tokens") * col("_wsum") <
        col("_w").cast("decimal(38,0)") * budgetTokens * BUCKETS)
      .select(col("doc_id"), col("domain"), col("n_tokens"))
  }

  /** Deterministic fixed-SIZE per-group sample ("hash reservoir"): the
    * k rows with the smallest id-hash per group. Rate-based sampling
    * ([[stratified]]) can't guarantee output size; this yields exactly
    * min(k, |group|) rows per group regardless of skew — eval-set
    * carving, per-domain spot-check samples. Nested in k (the k=5
    * sample ⊂ the k=10 sample) and reproducible across runs and
    * partitionings.
    *
    * Scale shape: min-k per group via the [[graft.functions.TopKByScore]]
    * heap aggregate (score = −bucket, so "best" = smallest hash, ties
    * by smallest id — identical survivors to a `row_number` over
    * (bucket, id)). O(k) state, map-side combinable: a skewed group —
    * one domain holding most of the corpus — pre-shrinks to k rows per
    * mapper before the shuffle, where the window form sorted the whole
    * group in one task. Winners (#groups·k rows) broadcast back as a
    * semi join, so the corpus itself is never shuffled; if groups·k
    * ever outgrows a broadcast, swap the join to a shuffle on
    * (group, id) — a unique, skew-free key. Requires an integral id
    * (same contract as [[bucket]]). */
  def hashReservoir(df: DataFrame, group: Column, id: Column,
                    k: Int): DataFrame = {
    val winners = df
      .select(group.as("_g"), id.cast("long").as("_i"))
      .groupBy("_g")
      .agg(graft.functions.TopKByScore.column(
        negate(bucket(col("_i")).cast("double")), col("_i"), lit(k)).as("_top"))
      .select(col("_g"), explode(col("_top").getField("id")).as("_i"))
    df.join(broadcast(winners),
      group === col("_g") && id.cast("long") === col("_i"), "left_semi")
  }

  /** Importance resampling — the DSIR accept step that consumes
    * [[graft.operators.TextOps.importanceWeights]]' scores: keep a row
    * with probability min(1, weight/τ) via the deterministic
    * pure-integer rule `bucket(id)·τ < weight·10⁶` (weight is the
    * ×10⁶-scaled importance ratio; τ likewise — τ = 2·10⁶ keeps every
    * doc with ratio ≥ 2 and a ratio-1 doc half the time). Evaluated in
    * DECIMAL(38,0) like [[domainMix]] so the product can't wrap for
    * any weight at any scale. Map-only; nested in τ (lowering τ only
    * adds rows). */
  def resampleByWeight(df: DataFrame, id: Column, weight: Column,
                       tau: Long): DataFrame =
    df.filter(bucket(id).cast("decimal(38,0)") * tau <
      weight.cast("decimal(38,0)") * lit(1000000L))

  /** Leakage-free train/valid/test assignment: the split decision
    * hashes the near-dup CLUSTER label, not the document id, so every
    * member of a duplicate cluster lands in the SAME split — hashing
    * doc ids leaks near-identical text across the train/test boundary,
    * which inflates eval scores exactly like benchmark contamination
    * does. Feed it [[graft.operators.Components.connectedComponents]]
    * labels (or any blocking key: url host, chapter id).
    *
    * Percentages are over hash buckets (exact in expectation; a huge
    * cluster tilts realized sizes — that is inherent to leak-free
    * splitting, not an artifact). Map-only given the labels; nested:
    * growing trainPct only moves rows INTO train. */
  def clusterSplit(labeled: DataFrame, id: Column, cluster: Column,
                   trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"split percentages must be non-negative and sum <= 100, " +
        s"got train=$trainPct valid=$validPct")
    labeled.select(id.as("doc_id"), cluster.as("cluster"),
      when(bucket(cluster) < trainPct * 10000L, "train")
        .when(bucket(cluster) < (trainPct + validPct) * 10000L, "valid")
        .otherwise("test").as("split"))
  }

  /** Epoch-repeat materialization — the data-repetition step of a
    * training mix (up-sample Wikipedia 3.25×, down-sample the crawl
    * head to 0.8×): each doc appears `floor(f)` times plus one more
    * with probability `frac(f)`, decided by the deterministic
    * [[bucket]] hash so the realized corpus is reproducible across
    * runs, partitionings, and engines. Factors are micro-units
    * (`1_000_000 = 1.0×`) — pure integer arithmetic end to end, and a
    * factor below 1.0× degrades to plain hash sampling (the unified
    * rule covers both directions). Domains absent from `factors` get
    * 0× and vanish.
    *
    * Output: (doc_id, domain, epoch) with epoch ∈ [0, n_copies) — the
    * expansion a sequence-packing / shard-assignment stage consumes
    * downstream. Map-only: a broadcast-free per-row factor lookup
    * (literal when-chain — #domains is mixture-sized), a sequence
    * explode, no shuffle at any corpus size. Output rows scale by the
    * mean factor, not by a join: a 100 TB corpus at mean 1.5× writes
    * 150 TB without ever shuffling. Nested in f: raising a domain's
    * factor only ADDS (doc, epoch) rows, never changes which docs got
    * the fractional extra copy. */
  def epochRepeat(docs: DataFrame, domain: Column, id: Column,
                  factorsMicro: Map[String, Long],
                  carry: Seq[String] = Nil): DataFrame = {
    require(factorsMicro.values.forall(_ >= 0L),
      "epoch factors must be non-negative micro-units")
    val clash = carry.filter(c =>
      Seq("doc_id", "domain", "epoch", "_n").exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"epochRepeat: carry column(s) ${clash.mkString(", ")} " +
      "collide with the operator's own doc_id/domain/epoch/_n")
    val f = factorsMicro.foldLeft(lit(0L)) { case (acc, (d, m)) =>
      when(domain === d, lit(m)).otherwise(acc) }
    val copies = graft.functions.IntMath.intDiv(f, lit(BUCKETS)) +
      when(bucket(id) < pmod(f, lit(BUCKETS)), 1L).otherwise(0L)
    // `carry` (r17): named passthrough columns of `docs` that ride the
    // expansion — the operator is map-only, so carrying a payload here
    // is free, while re-attaching it downstream costs a corpus-sized
    // self-join (the d79 lesson; epoch output order is unchanged).
    docs.select(Seq(id.as("doc_id"), domain.as("domain"),
        copies.as("_n")) ++ carry.map(col): _*)
      .filter(col("_n") > 0)
      .select(Seq(col("doc_id"), col("domain"),
        explode(sequence(lit(0L), col("_n") - 1L)).as("epoch")) ++
        carry.map(col): _*)
  }

  /** Stratified sample: per-stratum keep fractions (stratum → rate);
    * rows of unlisted strata keep `default`. The per-row decision is
    * `bucket(id) < rate · 10⁶`, so enlarging a rate strictly grows the
    * sample (nested samples — useful for scaling-law data ladders). */
  def stratified(df: DataFrame, stratum: Column, id: Column,
                 rates: Map[String, Double],
                 default: Double = 0.0): DataFrame = {
    val thresh = rates.foldLeft(lit((default * BUCKETS).toLong)) {
      case (acc, (s, r)) => when(stratum === s, lit((r * BUCKETS).toLong)).otherwise(acc)
    }
    df.filter(bucket(id) < thresh)
  }
}
