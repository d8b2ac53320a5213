package graft.tools

import org.apache.spark.sql.functions._
import graft._
import graft.operators._

/** Scale rehearsal (dev tool): replicate the sf0.1 corpus N× with
  * shifted ids and run the pipeline operators on it, printing
  * wall-times at 1× and N× side by side. The point is the CURVE, not
  * the absolute numbers — an operator whose time grows ≫ N× has a
  * hidden quadratic/skew wall that 100 TB will find. Replication by
  * id-shift is adversarial for dedup: every replica is an EXACT
  * duplicate, so the near-dup bucket expansion sees N-sized hot
  * buckets everywhere (the star-expansion cap is what keeps this
  * linear). Usage: graft.tools.ScaleRehearsal [sfDir] [factor]. */
object ScaleRehearsal {

  /** Stage registry: every rehearsal row belongs to a FAMILY, and
    * tools/run_rehearsal.sh runs each family in a FRESH JVM — twice
    * (r10 capstone d84 54.9×, general-sweep html 362×) tail stages of
    * the 40-stage single-JVM sweep read as plan walls purely from
    * accumulated heap pressure and cost a re-chase; per-family
    * isolation makes recorded rows trustworthy as committed. Shared
    * inputs are lazy so a family JVM only builds (and caches) the
    * frames its own stages touch. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val mode = args.lift(2)
    // lazy: the --list path exits without ever starting Spark (the
    // per-family wrapper calls it once to enumerate the registry)
    lazy val spark = Tables.session("scale-rehearsal",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    if (mode.contains("capstones")) {
      Capstones.run(spark, dir, factor, args.lift(3))
      spark.stop()
      return
    }
    val stages = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.Buffer[() => Unit]]
    def st(family: String)(body: => Unit): Unit =
      stages.getOrElseUpdate(family,
        scala.collection.mutable.Buffer.empty) += (() => body)

    lazy val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // replica shift derived from the real id range (one scalar collect
    // each) — a hardcoded shift silently collides with ids >= shift,
    // corrupting the replicated corpus and every dedup ratio
    lazy val big = {
      val docShift = base.agg(max("doc_id")).head.getLong(0) + 1
      val b = (0 until factor).map(i =>
        base.select((col("doc_id") + i * docShift).as("doc_id"),
          col("text"), col("lang"), col("source")))
        .reduce(_ unionByName _)
        .repartition(32).persist()
      println(s"corpus 1x=${base.count()} ${factor}x=${b.count()} docs")
      b
    }
    lazy val embBase = Tables.load(spark, dir, "embeddings")
    lazy val embBig = {
      val embShift = embBase.agg(max("vec_id")).head.getLong(0) + 1
      val b = (0 until factor).map(i =>
        embBase.select((col("vec_id") + i * embShift).as("vec_id"),
          col("embedding"), col("label")))
        .reduce(_ unionByName _)
        .repartition(32).persist()
      println(s"emb ${factor}x=${b.count()}")
      b
    }

    def time(n: String)(f: => Long): Double = {
      val t0 = System.nanoTime; val c = f
      val dt = (System.nanoTime - t0) / 1e9
      println(f"$n%-34s $dt%7.2f s  ($c rows)")
      dt
    }
    def ratio(n: String, one: => Long, many: => Long): Unit = {
      // UNTIMED 1x warmup first: with per-family JVM isolation the
      // first stage of a family otherwise absorbs session + codegen
      // warmup into its 1x leg, inflating t1 and UNDER-stating the
      // ratio (first-row ratios read 0.2-0.4 — overclaiming
      // sub-linearity). Warm, then measure both legs on hot code.
      // The N× side needs the same treatment for its INPUT: the first
      // stage of a family otherwise absorbs `big`'s materialization
      // (scan + union + repartition + persist of the replicated
      // corpus) into its timed N× leg — r14 measured d142's first-row
      // ratio at 49× from exactly this, re-measured ~linear once the
      // input was hot. Forcing the count here touches only the cached
      // frames the stage's own closure touches.
      one
      many
      // min-of-2 per leg: this host has seconds-long hypervisor-steal
      // windows (SURVEY §8.15) — two r14 back-to-back sweeps each
      // spiked a DIFFERENT stage 20-55× (d134/d142, then d133/d141),
      // every spike vanishing on re-measure. A single sample cannot
      // distinguish a steal window from a plan wall; the min of two
      // usually can (a true wall repeats, a steal window moves).
      def minOf2(label: String)(f: => Long): Double =
        math.min(time(label)(f), time(label)(f))
      val t1 = minOf2(s"$n 1x")(one)
      val tN = minOf2(s"$n ${factor}x")(many)
      println(f"  -> scale ratio ${tN / t1}%.1f (linear = $factor.0)")
    }

    st("dedup") {
      ratio("exact dedup",
        Dedup.exact(base, col("text"), col("doc_id")).count(),
        Dedup.exact(big, col("text"), col("doc_id")).count())
    }
    st("dedup") {
      ratio("minhash LSH candidates",
        Dedup.minhashCandidates(base, col("text"), col("doc_id")).count(),
        Dedup.minhashCandidates(big, col("text"), col("doc_id")).count())
    }
    st("dedup") {
      ratio("simhash pairs",
        Dedup.simhashPairs(base, col("text"), col("doc_id")).count(),
        Dedup.simhashPairs(big, col("text"), col("doc_id")).count())
    }
    st("text") {
      ratio("quality metrics",
        TextOps.qualityMetrics(base, col("text")).count(),
        TextOps.qualityMetrics(big, col("text")).count())
    }
    st("text") {
      ratio("token freq score",
        TextOps.tokenFrequencyScore(base, col("text"), col("doc_id")).count(),
        TextOps.tokenFrequencyScore(big, col("text"), col("doc_id")).count())
    }
    st("text") {
      ratio("ngram repetition (2)",
        TextOps.ngramRepetition(base, col("text"), col("doc_id"), 2).count(),
        TextOps.ngramRepetition(big, col("text"), col("doc_id"), 2).count())
    }
    st("text") {
      ratio("tfidf top terms",
        TextOps.tfidfTopTerms(base, col("text"), col("doc_id"), 3).count(),
        TextOps.tfidfTopTerms(big, col("text"), col("doc_id"), 3).count())
    }
    st("text") {
      ratio("line cleanup",
        TextOps.cleanLines(base.withColumnRenamed("text", "t"), col("t"),
          3, Seq("the", "a", "key", "table"), Seq("slow")).count(),
        TextOps.cleanLines(big.withColumnRenamed("text", "t"), col("t"),
          3, Seq("the", "a", "key", "table"), Seq("slow")).count())
    }
    st("sketch") {
      ratio("kmv overlap sketch (d112)",
        Sketches.kmvOverlap(base, col("text"), col("doc_id")).count(),
        Sketches.kmvOverlap(big, col("text"), col("doc_id")).count())
    }
    st("sketch") {
      ratio("sketch distinct report",
        Sketches.distinctReport(base, col("text"), col("lang")).count(),
        Sketches.distinctReport(big, col("text"), col("lang")).count())
    }
    st("dedup") {
      ratio("substring dup spans",
        Dedup.dupSpans(base, col("text"), col("doc_id")).count(),
        Dedup.dupSpans(big, col("text"), col("doc_id")).count())
    }
    st("dedup") {
      ratio("global line dedup",
        TextOps.dedupLinesGlobal(base, col("doc_id"), col("text")).count(),
        TextOps.dedupLinesGlobal(big, col("doc_id"), col("text")).count())
    }
    // planted HOT line: one boilerplate line in 50% of docs — the
    // adversarial case for corpus-wide first-occurrence dedup. The
    // pre-r5 row_number window sorted every occurrence of the hot line
    // in ONE task (ratio blows past linear as the factor grows); the
    // min(struct) aggregate pre-combines it per mapper, so the curve
    // stays linear no matter how hot the line gets.
    def plantHot(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      when(col("doc_id") % 2 === 0,
        concat(lit("please accept our cookie policy\n"), col("text")))
        .otherwise(col("text")))
    st("dedup") {
      ratio("global line dedup (hot line)",
        TextOps.dedupLinesGlobal(plantHot(base), col("doc_id"), col("text")).count(),
        TextOps.dedupLinesGlobal(plantHot(big), col("doc_id"), col("text")).count())
    }
    // bloom probe: history = base, batch = the replicated corpus (the
    // adversarial direction — every replica bloom-hits, so the whole
    // batch pays the verification join)
    st("dedup") {
      ratio("bloom incremental dedup",
        Dedup.bloomIncremental(base, base, col("text"), col("doc_id")).count(),
        Dedup.bloomIncremental(base, big, col("text"), col("doc_id")).count())
    }
    st("sketch") {
      ratio("CMS heavy hitters",
        { Sketches.heavyHitters(base, col("text"), 20).count() },
        { Sketches.heavyHitters(big, col("text"), 20).count() })
    }
    val nTok = size(TextOps.tokens(col("text")))
    st("sample") {
      ratio("DSIR importance weights",
        TextOps.importanceWeights(base, base.filter(col("lang") === "en"),
          col("text"), col("doc_id")).count(),
        TextOps.importanceWeights(big, big.filter(col("lang") === "en"),
          col("text"), col("doc_id")).count())
    }
    val mixW = Map("en" -> 3L, "zh" -> 1L, "es" -> 1L, "de" -> 1L, "fr" -> 1L)
    st("sample") {
      ratio("domain mix sampling",
        Sampling.domainMix(base, col("lang"), col("doc_id"), nTok, mixW, 10000L).count(),
        Sampling.domainMix(big, col("lang"), col("doc_id"), nTok, mixW, 10000L).count())
    }
    st("sample") {
      ratio("shard assignment",
        TextOps.assignShards(base, col("doc_id"), nTok, 4096L).count(),
        TextOps.assignShards(big, col("doc_id"), nTok, 4096L).count())
    }
    // fixed bench set vs a growing corpus; under replication every
    // replica of a bench doc band-collides, so the matched subset
    // grows linearly — the join stays broadcast either way
    lazy val bench = base.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("text").as("snippet"))
    st("dedup") {
      ratio("fuzzy decontamination",
        Dedup.crossNearDup(base, bench, col("text"), col("doc_id"),
          col("snippet"), col("bench_id")).count(),
        Dedup.crossNearDup(big, bench, col("text"), col("doc_id"),
          col("snippet"), col("bench_id")).count())
    }
    st("text") {
      ratio("normalize + report card",
        TextOps.corpusReport(base.select(col("doc_id"), col("lang"),
          TextOps.normalizeText(col("text")).as("text")), col("text"), col("lang")).count(),
        TextOps.corpusReport(big.select(col("doc_id"), col("lang"),
          TextOps.normalizeText(col("text")).as("text")), col("text"), col("lang")).count())
    }
    st("text") {
      ratio("percentile length filter",
        TextOps.lengthFilter(base, col("text"), col("lang"), col("doc_id")).count(),
        TextOps.lengthFilter(big, col("text"), col("lang"), col("doc_id")).count())
    }
    st("sample") {
      ratio("hash reservoir sample",
        Sampling.hashReservoir(base, col("lang"), col("doc_id"), 100).count(),
        Sampling.hashReservoir(big, col("lang"), col("doc_id"), 100).count())
    }
    st("text") {
      ratio("token chunking",
        TextOps.chunkTokens(base, col("text"), col("doc_id"), 64, 48).count(),
        TextOps.chunkTokens(big, col("text"), col("doc_id"), 64, 48).count())
    }
    // adversarial direction: the new snapshot is N× the old — almost
    // everything lands in the full-outer join as added/recount rows
    st("dedup") {
      ratio("snapshot diff (old=1x)",
        Dedup.snapshotDiff(base, base, col("text")).count(),
        Dedup.snapshotDiff(base, big, col("text")).count())
    }
    st("dedup") {
      ratio("corpus overlap sketches",
        Dedup.corpusOverlap(base, col("text"), col("source")).count(),
        Dedup.corpusOverlap(big, col("text"), col("source")).count())
    }
    // replication = exact-duplicate fingerprints: every simhash band
    // bucket is factor× deep, so the capped star expansion is what
    // keeps per-bucket pair work O(b) instead of O(b²)
    st("dedup") {
      ratio("poly simhash pairs (capped)",
        Dedup.polySimhashPairs(base, col("text"), col("doc_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count(),
        Dedup.polySimhashPairs(big, col("text"), col("doc_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count())
    }
    // planted HOT span: one shared 8-gram leads 50% of docs — the
    // first-occurrence rule must pre-combine per mapper (the d40 hot-
    // line rule applied to spans); the token regroup is keyed by
    // doc_id, so no reducer ever sees the hot span's full occurrence
    // list
    def plantHotSpan(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      when(col("doc_id") % 2 === 0,
        concat(lit("one two three four five six seven eight "), col("text")))
        .otherwise(col("text")))
    st("dedup") {
      ratio("span cut (hot span)",
        Dedup.cutDupSpans(plantHotSpan(base), col("text"), col("doc_id")).count(),
        Dedup.cutDupSpans(plantHotSpan(big), col("text"), col("doc_id")).count())
    }

    // long-DOCUMENT stress: n-gram/shingle ops are linear in doc length
    // only because zipNgrams avoids per-element re-evaluation inside
    // HOF lambdas; the element_at(transform(...)) form measured O(n²)
    // (e.g. the pre-fix composed band signature: 119 s on SHORT docs).
    // 100 concatenated ~2.5k-token docs would take minutes that way.
    lazy val longDocs = base.withColumn("_grp", pmod(col("doc_id"), lit(100L)))
      .groupBy("_grp").agg(concat_ws(" ", collect_list(col("text"))).as("text"),
        min(col("doc_id")).as("doc_id")).persist()
    st("longdoc") {
      // materialize the cache and warm each op's codegen on the short
      // corpus UNTIMED — these rows are one-shot time() measurements,
      // so without this the first row absorbs the whole JVM warmup
      // (14.2 s recorded where the warm op costs ~1.5 s)
      longDocs.count()
      Dedup.minhashCandidates(base, col("text"), col("doc_id")).count()
      Dedup.dupSpans(base, col("text"), col("doc_id")).count()
      base.select(posexplode(Dedup.polyRowBands(col("text")))).count()
      TextOps.ngramRepetition(base, col("text"), col("doc_id"), 3).count()
      time("long-doc minhash candidates")(
        Dedup.minhashCandidates(longDocs, col("text"), col("doc_id")).count())
      time("long-doc substring spans")(
        Dedup.dupSpans(longDocs, col("text"), col("doc_id")).count())
      time("long-doc fused bands")(
        longDocs.select(posexplode(Dedup.polyRowBands(col("text")))).count())
      time("long-doc ngram repetition")(
        TextOps.ngramRepetition(longDocs, col("text"), col("doc_id"), 3).count())
    }

    // slurm eff rollup under a PATHOLOGICAL ARRAY JOB: every replica's
    // rows re-keyed to ONE JobIDnostep, so the hottest reducer key
    // holds factor × |table| step rows. Every aggregate in the rollup
    // is map-side combinable, so the hot key must pre-shrink to one
    // partial row per map task — the curve stays ~linear; a blowup
    // here means a non-combinable aggregate crept into the view
    // (escape hatch: the SkewJoin salting shape, see SlurmViews.eff).
    lazy val slurmBase = graft.slurm.SlurmTable.build(
      graft.slurm.SlurmSim.raw(spark, dir), lit(1750000000L))
      .repartition(32).persist()
    lazy val slurmHot = (0 until factor).map(_ =>
      slurmBase.withColumn("JobIDnostep", lit("hotjob")))
      .reduce(_ unionByName _).unionByName(slurmBase)
      .repartition(32).persist()
    st("slurm") {
      ratio("slurm eff rollup (hot job)",
        graft.slurm.SlurmViews.eff(slurmBase).count(),
        graft.slurm.SlurmViews.eff(slurmHot).count())
    }

    lazy val q1 = embBase.filter(col("vec_id") < 50)
    st("ann") {
      ratio("brute-force ANN topk",
        Similarity.bruteForceTopK(embBase, q1, 5).count(),
        Similarity.bruteForceTopK(embBig, q1, 5).count())
    }
    st("ann") {
      ratio("LSH ANN topk",
        Similarity.lshTopK(embBase, q1, 5).count(),
        Similarity.lshTopK(embBig, q1, 5).count())
    }
    st("ann") {
      ratio("quantized ANN topk",
        Similarity.quantizedTopK(embBase, q1, 5).count(),
        Similarity.quantizedTopK(embBig, q1, 5).count())
    }
    // replication by id-shift makes every replica an EXACT duplicate —
    // the adversarial case for semantic dedup: without the
    // exact-collapse stage each cell's pair join would grow factor²
    // (10⁶ copies of one boilerplate embedding = 10¹² pairs in one
    // cell); collapsed, the curve stays ~flat (pair work is over
    // DISTINCT vectors, constant across factors)
    st("ann") {
      ratio("semantic dedup (all-dup corpus)",
        Similarity.semanticSurvivors(embBase).count(),
        Similarity.semanticSurvivors(embBig).count())
    }

    // BM25 probe: FIXED query set vs a growing corpus — postings and
    // the scored candidate set grow linearly; the query/df/global
    // joins stay broadcast at any corpus size (every replica of a
    // matched doc matches, so output rows grow ~linearly too)
    lazy val bmQ = base.filter(col("doc_id") % 97 === 0)
    st("retrieval") {
      ratio("BM25 topk probe",
        Retrieval.bm25TopK(base, col("text"), col("doc_id"),
          bmQ, col("text"), col("doc_id"), 10).count(),
        Retrieval.bm25TopK(big, col("text"), col("doc_id"),
          bmQ, col("text"), col("doc_id"), 10).count())
    }
    // PageRank with planted HUBS: every doc links to one of 100 hub
    // nodes, so replication deepens each hub's in-edge list factor× —
    // the per-dst contribution sum must pre-aggregate map-side or the
    // hot hubs become single-reducer walls
    def hubEdges(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("src"),
        (lit(2000000000L) + pmod(col("doc_id"), lit(100L))).as("dst"))
    st("graph") {
      ratio("pagerank (hub skew)",
        Components.pageRank(hubEdges(base), iters = 3).count(),
        Components.pageRank(hubEdges(big), iters = 3).count())
    }
    // bigram LM scoring: the model is VOCAB-bounded — replicating the
    // corpus (and with it the en target slice) grows the count tables'
    // values, not their width, so the broadcast stays KB-sized and the
    // corpus side stays map-only + one per-doc agg
    st("text") {
      ratio("bigram LM score",
        TextOps.bigramLmScore(base, base.filter(col("lang") === "en"),
          col("text"), col("doc_id")).count(),
        TextOps.bigramLmScore(big, big.filter(col("lang") === "en"),
          col("text"), col("doc_id")).count())
    }
    // incremental curation, adversarial direction: history stays 1×,
    // the crawl is N× and almost ALL of it is novel content (shifted
    // ids, same text ⇒ content-hash dups collapse in the partial agg)
    def curate(hist: org.apache.spark.sql.DataFrame,
               crawl: org.apache.spark.sql.DataFrame): Long = {
      val delta = crawl
        .select(col("doc_id"), md5(col("text")).as("content_hash"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(hist.select(md5(col("text")).as("content_hash")).distinct(),
          Seq("content_hash"), "left_anti")
      delta.groupBy("content_hash")
        .agg(min(struct(col("doc_id"), col("n_tokens"))).as("w"))
        .filter(col("w.n_tokens") >= 5).count()
    }
    st("dedup") {
      ratio("incremental curation (crawl=Nx)",
        curate(base.filter(col("doc_id") % 7 =!= 0), base),
        curate(base.filter(col("doc_id") % 7 =!= 0), big))
    }
    // cross-corpus band join, adversarial: the crawl is N× and EVERY
    // replica of a history doc band-hits; per-side heap caps keep hot
    // buckets from materializing |A|·|B| pair rows
    st("dedup") {
      ratio("cross-corpus near-dup (capped)",
        Dedup.crossNearDupLarge(base,
          base.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 7000000L).as("hist_id"), col("text")),
          col("text"), col("doc_id"), col("text"), col("hist_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count(),
        Dedup.crossNearDupLarge(big,
          base.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 7000000L).as("hist_id"), col("text")),
          col("text"), col("doc_id"), col("text"), col("hist_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count())
    }
    // perceptual blockhash dedup, capped: replicas are byte-identical
    // payloads, so every fingerprint bucket is factor× deep — the
    // star-expansion cap is what keeps pair work O(bucket), not O(b²)
    st("multimodal") {
      ratio("phash near-dup (capped)",
        Multimodal.phashPairs(base, col("text"), col("doc_id"),
          maxBucket = graft.operators.Dedup.MAX_FULL_BUCKET).count(),
        Multimodal.phashPairs(big, col("text"), col("doc_id"),
          maxBucket = graft.operators.Dedup.MAX_FULL_BUCKET).count())
    }
    // one-pass profiling: the exact-distinct Expand multiplies agg
    // input by #profiled columns but stays one scan + partial aggs
    st("sketch") {
      ratio("table profile (2 num cols)",
        Profile.numeric(base.withColumn("n_chars", length(col("text"))),
          Seq("doc_id", "n_chars")).count(),
        Profile.numeric(big.withColumn("n_chars", length(col("text"))),
          Seq("doc_id", "n_chars")).count())
    }
    // temperature mix: replication scales every domain's tokens
    // uniformly (shares unchanged) — the weight table stays #domains
    // rows and the keep decision stays a map-only filter
    def tmix(df: org.apache.spark.sql.DataFrame): Long =
      Sampling.temperatureMix(df, col("lang"), col("doc_id"),
        size(TextOps.tokens(col("text"))), budgetTokens = 30000L).count()
    st("sample") {
      ratio("temperature mix", tmix(base), tmix(big))
    }
    // hashed classifier: replication deepens every feature's postings
    // but the model stays <= 2^16 rows (the hashing trick) — hot
    // common-token features pre-aggregate map-side, the score join
    // stays broadcast
    def clf(df: org.apache.spark.sql.DataFrame): Long = {
      val toks = TextOps.tokens(col("text"))
      TextOps.classifierQuality(df, col("text"), col("doc_id"),
        size(array_distinct(toks)) * 2 >= size(toks)).count()
    }
    st("text") {
      ratio("hashed classifier", clf(base), clf(big))
    }
    // z-order layout report: the z-prefix key space is FIXED by
    // (bits, blockShift) — replication deepens blocks, never widens
    // the agg state; map-side combine absorbs the depth
    def zrep(df: org.apache.spark.sql.DataFrame): Long =
      Layout.zBlocks(df, col("doc_id"), length(col("text")),
        bits = 11, blockShift = 14).count()
    st("sample") {
      ratio("z-order block report", zrep(base), zrep(big))
    }
    // semantic decontam: the corpus side grows N×, the bench side is
    // fixed — corpus buckets map-only and never shuffles, so the curve
    // tracks the scan, not a pair explosion (replicas of a flagged
    // vector all flag: hit rows grow N×, absorbed by the per-doc agg)
    def semdec(e: org.apache.spark.sql.DataFrame): Long =
      Similarity.semanticDecontam(e,
        embBase.filter(col("vec_id") % 17 === 0), threshold = 0.3).count()
    st("ann") {
      ratio("semantic decontam", semdec(embBase), semdec(embBig))
    }
    // merge-pair stats: the synthetic corpus's 31-token vocabulary is
    // the pair-skew worst case (every pair is hot) — replication
    // deepens every pair count 5x, all absorbed by map-side partials
    st("tokenizer") {
      ratio("bpe merge-pair stats",
        TextOps.mergePairStats(base, col("text"), topN = 40).count(),
        TextOps.mergePairStats(big, col("text"), topN = 40).count())
    }
    // URL curation: pure map-only string work — the curve IS the scan
    def urls(df: org.apache.spark.sql.DataFrame): Long = {
      val u = concat(lit("https://sub"), pmod(col("doc_id"), lit(50)),
        lit(".example.co.uk/p/"), col("doc_id"),
        lit("?utm_source=x&id="), col("doc_id"))
      Web.curateUrls(df, u, col("doc_id"), Seq("blocked.net"))
        .filter(col("kept")).count()
    }
    st("text") {
      ratio("url curation", urls(base), urls(big))
    }
    // epoch repeat at mean 1.87x: output rows grow with input × factor
    // but stay write-bound — no shuffle to amplify
    def erep(df: org.apache.spark.sql.DataFrame): Long =
      Sampling.epochRepeat(df, col("lang"), col("doc_id"),
        Map("en" -> 800000L, "zh" -> 2500000L, "es" -> 1000000L,
          "de" -> 3250000L, "fr" -> 1750000L)).count()
    st("sample") {
      ratio("epoch repeat", erep(base), erep(big))
    }
    // subword encode: O(len · maxPiece) per row, vocab a reference
    // object — replication must scale like the scan, no per-row setup
    val wpv = new graft.functions.WordPieceVocab(
      ('a' to 'z').map(_.toString) ++ ('a' to 'z').map(c => s"##$c") ++
        Seq("the", "spark", "table", "value", "hash", "scan", "fast"))
    def wp(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(size(TextOps.subwordTokens(col("text"), wpv))))
        .head.getLong(0)
    st("tokenizer") {
      ratio("subword encode", wp(base), wp(big))
    }
    // phrase gate: automaton is per-JVM setup, the curve is the scan
    def pg(df: org.apache.spark.sql.DataFrame): Long =
      TextOps.phraseFilter(df, col("text"), col("doc_id"),
        Seq("batch batch", "slow join", "the fast")).filter(col("kept")).count()
    st("text") {
      ratio("phrase gate", pg(base), pg(big))
    }
    // html extraction: regex chain is map-only; replication must scale
    // like the scan (no per-row regex recompilation)
    def hx(df: org.apache.spark.sql.DataFrame): Long = {
      val h = concat(lit("<html><body><nav><a href=\"/x\">nav</a></nav><p>"),
        col("text"), lit("</p><!-- c --></body></html>"))
      Web.extractHtml(df, h, col("doc_id")).filter(col("kept")).count()
    }
    st("text") {
      ratio("html extraction", hx(base), hx(big))
    }
    // BPE training: vocab is REPLICATION-INVARIANT (same words, freq
    // ×N), so per-round work must NOT grow with the corpus — only the
    // one-time vocab build scans it. Sub-linear is the design claim.
    def bpe(df: org.apache.spark.sql.DataFrame): Long =
      TextOps.bpeTrain(df, col("text"), rounds = 3).count()
    st("tokenizer") {
      ratio("bpe train (3 rounds)", bpe(base), bpe(big))
    }
    // keyframes: doc-keyed lag window — partitions bounded by
    // frames-per-doc, so replication must scale like the scan
    def kf(df: org.apache.spark.sql.DataFrame): Long =
      Multimodal.keyFrames(df.select(col("doc_id"),
        col("text").cast("binary").as("payload")))
        .filter(col("keyframe")).count()
    st("multimodal") {
      ratio("keyframe selection", kf(base), kf(big))
    }
    // compressed-codec decode (d98/d101): payload synthesis + strict
    // decode are both MAP-ONLY mapPartitions stages — no shuffle at
    // any corpus size, so the curve must track the scan exactly; the
    // JPEG row additionally covers the Huffman/IDCT arithmetic that
    // dominates per-byte decode cost on a real image corpus
    def pngDec(df: org.apache.spark.sql.DataFrame): Long =
      graft.operators.PngCodec.pngStats(spark,
        graft.operators.PngSim.payloads(df.select(col("doc_id"))))
        .filter(col("status") === "ok").count()
    def jpegDec(df: org.apache.spark.sql.DataFrame): Long =
      graft.operators.JpegSim.stats(spark,
        graft.operators.JpegSim.payloads(df.select(col("doc_id"))))
        .filter(col("status") === "ok").count()
    def gifDec(df: org.apache.spark.sql.DataFrame): Long =
      graft.operators.GifSim.stats(spark,
        graft.operators.GifSim.payloads(df.select(col("doc_id"))))
        .filter(col("status") === "ok").count()
    def mulawDec(df: org.apache.spark.sql.DataFrame): Long =
      graft.operators.MulawSim.stats(spark,
        graft.operators.MulawSim.payloads(df.select(col("doc_id"))))
        .filter(col("status") === "ok").count()
    def tarDec(df: org.apache.spark.sql.DataFrame): Long =
      graft.operators.TarSim.stats(spark,
        graft.operators.TarSim.payloads(df.select(col("doc_id"))))
        .filter(col("status") === "ok").count()
    def gzDec(df: org.apache.spark.sql.DataFrame): Long =
      graft.operators.GzipSim.stats(spark,
        df.select(col("doc_id"), col("text")))
        .filter(col("status") === "ok").count()
    st("multimodal") {
      ratio("png decode (d98)", pngDec(base), pngDec(big))
      ratio("jpeg decode (d101)", jpegDec(base), jpegDec(big))
      ratio("gif decode (d102)", gifDec(base), gifDec(big))
      ratio("mulaw decode (d103)", mulawDec(base), mulawDec(big))
      ratio("tar shard walk (d104)", tarDec(base), tarDec(big))
      ratio("gzip text decode (d106)", gzDec(base), gzDec(big))
      ratio("warc two-layer walk (d108)",
        graft.operators.WarcSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.WarcSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("mjpeg clip decode (d109)",
        graft.operators.MjpegSim.stats(spark,
          graft.operators.MjpegSim.payloads(base.select(col("doc_id"))))
          .filter(col("status") === "ok").count(),
        graft.operators.MjpegSim.stats(spark,
          graft.operators.MjpegSim.payloads(big.select(col("doc_id"))))
          .filter(col("status") === "ok").count())
      ratio("adpcm state walk (d110)",
        graft.operators.AdpcmSim.stats(spark,
          graft.operators.AdpcmSim.payloads(base.select(col("doc_id"))))
          .filter(col("status") === "ok").count(),
        graft.operators.AdpcmSim.stats(spark,
          graft.operators.AdpcmSim.payloads(big.select(col("doc_id"))))
          .filter(col("status") === "ok").count())
      ratio("wet page extraction (d111)",
        graft.operators.WarcSim.pages(spark,
          base.select(col("doc_id"), col("text"))).count(),
        graft.operators.WarcSim.pages(spark,
          big.select(col("doc_id"), col("text"))).count())
      ratio("zip directory walk (d113)",
        graft.operators.ZipSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.ZipSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      def crawlPipe(df: org.apache.spark.sql.DataFrame): Long = {
        val pages = graft.operators.WarcSim.pageRows(spark,
          df.select(col("doc_id"), col("text")))
        val toks = pages
          .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
          .filter(col("n_tokens") >= 4)
          .withColumn("pid", col("doc_id") * 8 + col("page"))
        val keepers = toks.groupBy(md5(col("text")).as("h"))
          .agg(min(col("pid")).as("pid"))
        val uniq = toks.join(keepers.select("pid"), Seq("pid"), "left_semi")
        TextOps.packBudgetScalable(uniq, col("doc_id") % 4, col("pid"),
          col("n_tokens"), budget = 512).count()
      }
      ratio("crawl pipeline capstone (d114)", crawlPipe(base), crawlPipe(big))
      ratio("lz4 frame decode (d115)",
        graft.operators.Lz4Sim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.Lz4Sim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("zstd frame decode (d117)",
        graft.operators.ZstdSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.ZstdSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      def jsonlZst(df: org.apache.spark.sql.DataFrame): Long =
        graft.operators.ZstdJsonlSim.lines(spark,
            df.select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            from_json(col("line"), "id BIGINT, text STRING",
              Map.empty[String, String]).as("j"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_records"), sum(col("j.id")).as("s"))
          .count()
      ratio("jsonl.zst reader (d119)", jsonlZst(base), jsonlZst(big))
      ratio("wds multimodal capstone (d118)",
        graft.operators.WdsSim.pipeline(spark,
          base.select(col("doc_id"))).count(),
        graft.operators.WdsSim.pipeline(spark,
          big.select(col("doc_id"))).count())
      ratio("alaw decode (d116)",
        graft.operators.AlawSim.stats(spark,
          graft.operators.AlawSim.payloads(base.select(col("doc_id"))))
          .filter(col("status") === "ok").count(),
        graft.operators.AlawSim.stats(spark,
          graft.operators.AlawSim.payloads(big.select(col("doc_id"))))
          .filter(col("status") === "ok").count())
      ratio("seekable-zstd range read (d123)",
        graft.operators.ZstdSeekSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.ZstdSeekSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("deflate/zlib decode (d124)",
        graft.operators.DeflateSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.DeflateSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("bzip2 decode (d125)",
        graft.operators.Bzip2Sim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.Bzip2Sim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("chunked-http decode (d127)",
        graft.operators.ChunkedSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.ChunkedSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("charset sniff (d128)",
        graft.operators.CharsetSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.CharsetSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("xml dump rows (d129)",
        graft.operators.XmlRowsSim.rows(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("ns") === 0).count(),
        graft.operators.XmlRowsSim.rows(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("ns") === 0).count())
      ratio("parquet page walk (d126)",
        graft.operators.ParquetSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.ParquetSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("eml mime rows (d130)",
        graft.operators.EmlSim.rows(spark,
          base.select(col("doc_id"), col("text"))).count(),
        graft.operators.EmlSim.rows(spark,
          big.select(col("doc_id"), col("text"))).count())
      ratio("robots verdicts (d131)",
        graft.operators.RobotsSim.rows(spark,
          base.select(col("doc_id"))).count(),
        graft.operators.RobotsSim.rows(spark,
          big.select(col("doc_id"))).count())
      ratio("snappy framed decode (d122)",
        graft.operators.SnappySim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.SnappySim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("avro ocf walk (d121)",
        graft.operators.AvroOcfSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.AvroOcfSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("tfexample proto parse (d120)",
        graft.operators.TfExampleSim.stats(spark,
          base.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count(),
        graft.operators.TfExampleSim.stats(spark,
          big.select(col("doc_id"), col("text")))
          .filter(col("status") === "ok").count())
      ratio("tfrecord walk (d107)",
        graft.operators.TfRecordSim.stats(spark,
          graft.operators.TfRecordSim.payloads(base.select(col("doc_id"))))
          .filter(col("status") === "ok").count(),
        graft.operators.TfRecordSim.stats(spark,
          graft.operators.TfRecordSim.payloads(big.select(col("doc_id"))))
          .filter(col("status") === "ok").count())
    }
    // curation capstone: extraction map-only, dedup partial-agg (the
    // replicas are EXACT dups — adversarial for the keeper agg), shard
    // prefix sum slice-partitioned; the whole chain must stay linear
    def v4(df: org.apache.spark.sql.DataFrame): Long = {
      val page = concat(lit("<html><body><nav><a href=\"/x\">m</a></nav><p>"),
        col("text"), lit("</p><!-- c --></body></html>"))
      val ext = Web.extractHtml(df.select(col("doc_id"), col("text")),
        page, col("doc_id"), withText = true)
      val surv = ext.filter(col("kept")).select(col("doc_id"), col("clean_text"))
      val keepers = Dedup.exact(surv, col("clean_text"), col("doc_id"))
        .select(col("keeper_id").as("doc_id"))
      val uniq = surv.join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          size(TextOps.tokens(col("clean_text"))).cast("long").as("n_tokens"))
      TextOps.assignShards(uniq, col("doc_id"), col("n_tokens"), 4096L).count()
    }
    st("capstone") {
      ratio("curation v4 chain", v4(base), v4(big))
    }

    st("tokenizer") {
      // unigram-LM training (d99): like BPE, the vocabulary is
      // replication-invariant (same words, freq ×N) — per-round EM
      // work must NOT grow with the corpus; only the one-time vocab
      // build scans it. Sub-linear is the design claim.
      ratio("unigram train (2 rounds)",
        UnigramLm.train(base, col("text"), rounds = 2).count(),
        UnigramLm.train(big, col("text"), rounds = 2).count())
    }

    st("streaming") {
      // §2.6 perf row: micro-batch THROUGHPUT of the streaming
      // near-dup gate (stream-static band join against the 1× corpus;
      // map-only signature + broadcast-able static side). The corpus
      // replayed in fixed-size micro-batches through a MemoryStream —
      // the recorded number is docs/s end-to-end including trigger
      // overhead, the figure a deployment sizes ingest against.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val corpus = base.select(col("doc_id"), col("text")).cache()
      corpus.count()
      val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      val batchSize = 500
      val stream = MemoryStream[(Long, String)]
      val sdf = stream.toDF().toDF("doc_id", "text")
      val q = graft.streaming.EventStream.nearDupAgainst(
        sdf, corpus, col("text"), col("doc_id"))
        .writeStream.outputMode("append").format("memory")
        .queryName("rehearsal_neardup").start()
      // untimed warmup batch (plan + codegen + state init)
      stream.addData(rows.take(batchSize).toSeq)
      q.processAllAvailable()
      val t0 = System.nanoTime()
      rows.drop(batchSize).grouped(batchSize).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val n = rows.length - batchSize
      q.stop()
      println(f"streaming near-dup throughput: $n docs in $dt%.2f s = ${n / dt}%.0f docs/s ($batchSize/batch)")
      corpus.unpersist()
    }

    // r13 format walkers (d119–d153): every one is a map-only
    // payload-synthesis + strict-decode flatMap — no shuffle at any
    // corpus size — so each curve must track the scan exactly. One
    // row per walker pins that no decoder hides a super-linear wall
    // (a quadratic inside one walker is invisible at sf0.1 gate scale
    // and fatal at 100 TB). Split into three families so each JVM's
    // recording stays heap-isolated (the r10 tail-pressure lesson).
    type DF = org.apache.spark.sql.DataFrame
    // partition-fair 1× side: the raw test parquet is single-row-group
    // (one task), while `big` is repartition(32) — timing a 1-task 1×
    // against a 32-task 10× reads as ratio ≈ 0.5 and would mask a
    // quadratic decoder term up to ~32×. Spreading the 1× side makes
    // the ratio a true per-row-cost curve.
    lazy val base32 = base.repartition(32).persist()
    def fmt(name: String)(f: DF => DF): Unit =
      ratio(name, f(base32).count(), f(big).count())
    st("formats-a") {
      fmt("jsonl+zstd lines (d119)")(d => graft.operators.ZstdJsonlSim.lines(spark, d))
      fmt("tf.Example walk (d120)")(d => graft.operators.TfExampleSim.stats(spark, d))
      fmt("avro ocf walk (d121)")(d => graft.operators.AvroOcfSim.stats(spark, d))
      fmt("snappy framed (d122)")(d => graft.operators.SnappySim.stats(spark, d))
      fmt("zstd seekable (d123)")(d => graft.operators.ZstdSeekSim.stats(spark, d))
      fmt("deflate (d124)")(d => graft.operators.DeflateSim.stats(spark, d))
      fmt("bzip2 (d125)")(d => graft.operators.Bzip2Sim.stats(spark, d))
      fmt("parquet pages (d126)")(d => graft.operators.ParquetSim.stats(spark, d))
      fmt("http chunked (d127)")(d => graft.operators.ChunkedSim.stats(spark, d))
      fmt("charset sniff (d128)")(d => graft.operators.CharsetSim.stats(spark, d))
      fmt("xml rows (d129)")(d => graft.operators.XmlRowsSim.rows(spark, d))
    }
    st("formats-b") {
      fmt("eml mime (d130)")(d => graft.operators.EmlSim.rows(spark, d))
      fmt("robots rules (d131)")(d => graft.operators.RobotsSim.rows(spark, d))
      fmt("sqlite pages (d132)")(d => graft.operators.SqliteSim.rows(spark, d))
      fmt("orc stripes (d133)")(d => graft.operators.OrcSim.stats(spark, d))
      fmt("xz/lzma (d134)")(d => graft.operators.XzJsonlSim.lines(spark, d))
      fmt("parquet v2 (d135)")(d => graft.operators.ParquetV2Sim.stats(spark, d))
      fmt("cdx index (d136)")(d => graft.operators.CdxSim.rows(spark, d))
      fmt("sitemap xml (d137)")(d => graft.operators.SitemapSim.rows(spark, d))
      fmt("parquet bloom (d138)")(d => graft.operators.ParquetBloomSim.stats(spark, d))
      fmt("arrow ipc (d139)")(d => graft.operators.ArrowIpcSim.rows(spark, d))
      fmt("roaring (d140)")(d => graft.operators.RoaringSim.rows(spark, d))
      fmt("delta log (d141)")(d => graft.operators.DeltaLogSim.rows(spark, d))
    }
    st("formats-c") {
      fmt("git pack (d142)")(d => graft.operators.GitPackSim.rows(spark, d))
      fmt("zstd dict (d143)")(d => graft.operators.ZstdDictSim.lines(spark, d))
      fmt("tar pax (d144)")(d => graft.operators.TarPaxSim.rows(spark, d))
      fmt("sstable (d145)")(d => graft.operators.SsTableSim.rows(spark, d))
      fmt("iceberg (d146)")(d => graft.operators.IcebergSim.rows(spark, d))
      fmt("flac (d147)")(d => graft.operators.FlacSim.rows(spark, d))
      fmt("safetensors (d148)")(d => graft.operators.SafeTensorsSim.rows(spark, d))
      fmt("npy/npz (d149)")(d => graft.operators.NpySim.rows(spark, d))
      fmt("pickle (d150)")(d => graft.operators.PickleSim.rows(spark, d))
      fmt("csv strict (d151)")(d => graft.operators.CsvSim.rows(spark, d))
      fmt("tfevents (d152)")(d => graft.operators.TfEventsSim.rows(spark, d))
      fmt("torrent (d153)")(d => graft.operators.TorrentSim.rows(spark, d))
      // the replicated frame carries no n_chars column; any value
      // works for the timing curve (the gate uses the table's own)
      fmt("gguf (d159)")(d => graft.operators.GgufSim.rows(spark,
        d.withColumn("n_chars", length(col("text")).cast("long"))))
      fmt("mp3 frames (d160)")(d => graft.operators.Mp3Sim.rows(spark, d))
      fmt("ogg pages (d161)")(d => graft.operators.OggSim.rows(spark, d))
      fmt("msgpack (d162)")(d => graft.operators.MsgPackSim.rows(spark, d))
    }

    // adversarial LSH band skew (the VERDICT r13 ask): ONE band hash
    // carrying ~10% of the corpus through the cross-corpus band join.
    // Replicating one document factor×10 times makes every one of its
    // band hashes a hot key on BOTH sides; the per-side bucket caps
    // (Dedup cross paths) must bound reducer input so the join stays
    // ~linear instead of exploding quadratically in the hot bucket.
    st("skew") {
      lazy val hotBig = {
        val one = base.orderBy("doc_id").limit(1)
          .select(col("text")).head.getString(0)
        val n = (base.count() * factor / 10L).toInt
        val hot = spark.range(n).select(
          (col("id") + 900000000L).as("doc_id"), lit(one).as("text"),
          lit("en").as("lang"), lit("hot").as("source"))
        big.unionByName(hot).repartition(32).persist()
      }
      // production cap (MAX_FULL_BUCKET): the claim under test is
      // that the per-side top-K bucket slice bounds reducer input on
      // a hot band, keeping the curve ~linear where the uncapped join
      // would go quadratic in the hot bucket
      ratio("cross-corpus dedup, 10% hot band",
        Dedup.crossNearDupLarge(base32,
          base32.select((col("doc_id") + 7000000L).as("hist_id"),
            col("text")), col("text"), col("doc_id"),
          col("text"), col("hist_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count(),
        Dedup.crossNearDupLarge(hotBig,
          hotBig.select((col("doc_id") + 1900000000L).as("hist_id"),
            col("text")), col("text"), col("doc_id"),
          col("text"), col("hist_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count())
    }

    // FACTOR-100 family (r15): the dedup/ANN headliners, deployment
    // shapes, meant to run ONCE at factor=100 (sf0.1 ×100 ≈ 2.9M docs
    // — fits the 96 GiB JVM for these shapes) to extend the factor-10
    // curves a full decade: a knee that 10× hides (buckets crossing a
    // cap, a broadcast side outgrowing its hint, CC iterations
    // deepening) shows at 100×. Recorded in SURVEY §8.
    st("hundred") { // d34: near-dup survivors (pairs → verify → CC)
      def survivors(df: org.apache.spark.sql.DataFrame): Long = {
        val edges = Dedup.jaccardVerify(
          Dedup.polyMinhashPairs(df, col("text"), col("doc_id"),
            maxBucket = Dedup.MAX_FULL_BUCKET),
          df, col("text"), col("doc_id"), minJaccard = 0.5)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        Components.connectedComponents(
          df.select(col("doc_id").as("id")), edges)
          .filter(col("id") === col("label")).count()
      }
      ratio("d34 neardup survivors", survivors(base), survivors(big))
    }
    st("hundred") { // d68: crawl=Nx against a 1x history, capped bands
      def cross(crawl: org.apache.spark.sql.DataFrame): Long =
        Dedup.crossNearDupLarge(crawl,
          base.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 7000000L).as("hist_id"), col("text")),
          col("text"), col("doc_id"), col("text"), col("hist_id"),
          maxBucket = Dedup.MAX_FULL_BUCKET).count()
      ratio("d68 cross-corpus dedup", cross(base), cross(big))
    }
    st("hundred") { // d60: fixed query batch, corpus grows Nx
      def bm(df: org.apache.spark.sql.DataFrame): Long =
        Retrieval.bm25TopK(df, col("text"), col("doc_id"),
          bmQ, col("text"), col("doc_id"), 10).count()
      ratio("d60 bm25 topk", bm(base), bm(big))
    }
    st("bm25wh") { // d66: the documented answer to d60's measured
      // 121x knee — the postings index is PREBUILT OFFLINE (parquet,
      // untimed, the warehouse trade), so the probe pays pruned index
      // scans instead of per-run corpus re-tokenization
      def indexed(df: org.apache.spark.sql.DataFrame, tag: String): String = {
        val p = java.nio.file.Files.createTempDirectory(s"reh_bm25_$tag").toString
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))))
        Retrieval.postings(df, col("text"), col("doc_id"))
          .write.mode("overwrite").parquet(p)
        p
      }
      lazy val idx1 = indexed(base, "1x")
      lazy val idxN = indexed(big, "Nx")
      def probe(p: String): Long =
        Retrieval.bm25FromIndex(spark.read.parquet(p), bmQ,
          col("text"), col("doc_id"), 10).count()
      ratio("d66 bm25 warehouse probe", probe(idx1), probe(idxN))
    }
    st("hundred") { // d155 PROBE path: lex arm + IVF arm (pre-trained
      // centroids — the deployment split; the verdict's brute arm is
      // the proof, not the plan) fused by RRF
      lazy val cents = Similarity.trainIvfCentroids(embBase)
      def fused(df: org.apache.spark.sql.DataFrame,
                e: org.apache.spark.sql.DataFrame): Long = {
        val lex = Retrieval.bm25TopK(df, col("text"), col("doc_id"),
          bmQ, col("text"), col("doc_id"), 10)
        val qe = embBase.filter(col("vec_id") % 97 === 0)
        val ivf = Similarity.ivfTopK(e, qe, 10, centroids = Some(cents))
          .select(col("q_id"), col("rank"), col("neighbor_id").as("doc_id"))
        Retrieval.rrfFuse(Seq(
          lex.select(col("q_id"), col("rank"), col("doc_id")), ivf), 10).count()
      }
      ratio("d155 rrf+ivf probe", fused(base, embBase), fused(big, embBig))
    }

    // family selection: no arg → all families IN-PROCESS (the legacy
    // single-JVM sweep; use run_rehearsal.sh for isolated recording),
    // "--list" prints the registry, otherwise a comma list of names
    mode match {
      case Some("--list") => stages.keys.foreach(println); return
      case Some(sel) =>
        val want = sel.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(stages.contains)
        require(unknown.isEmpty,
          s"unknown families: ${unknown.mkString(",")}; have ${stages.keys.mkString(",")}")
        want.foreach { f =>
          println(s"== family: $f ==")
          stages(f).foreach(_.apply())
        }
      case None =>
        stages.foreach { case (f, ss) =>
          println(s"== family: $f =="); ss.foreach(_.apply()) }
    }
    spark.stop()
  }
}
