package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.slurm.Deidentify

/** Behavioral specs for the pipeline operators: the near-dup stack must
  * actually find planted duplicates, ANN must agree with brute force on
  * easy queries, the multimodal batch stage must preserve row identity. */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, dir, "documents")

  /** corpus with exact + near duplicates planted at known ids */
  lazy val planted = {
    val base = docs.select(col("doc_id"), col("text"))
    val exact = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val near = base.filter(col("doc_id").between(5, 9))
      .select((col("doc_id") + 600000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    base.unionByName(exact).unionByName(near).cache()
  }

  test("exact dedup finds planted exact duplicates") {
    val groups = Dedup.exact(planted, col("text"), col("doc_id"))
    assert(groups.filter(col("n_copies") >= 2).count() == 5)
    // keeper is the original (min id)
    assert(groups.filter(col("n_copies") >= 2)
      .filter(col("keeper_id") >= 500000L).count() == 0)
  }

  test("minhash LSH recalls planted near-duplicates") {
    val cand = Dedup.minhashCandidates(planted, col("text"), col("doc_id"))
    val hits = cand.filter(col("doc_b") === col("doc_a") + 600000L ||
      col("doc_b") === col("doc_a") + 500000L).count()
    assert(hits >= 8, s"LSH recall too low: $hits/10 planted pairs")
  }

  test("polynomial minhash (oracle path) recalls planted near-duplicates too") {
    val cand = Dedup.polyMinhashPairs(planted, col("text"), col("doc_id"))
    val hits = cand.filter(col("doc_b") === col("doc_a") + 600000L ||
      col("doc_b") === col("doc_a") + 500000L).count()
    assert(hits >= 8, s"poly-minhash recall too low: $hits/10 planted pairs")
  }

  test("decontamination flags the snippet's source doc and nothing spurious at k=8") {
    // snippet lifted verbatim from doc 3 (tokens 11..26)
    val bench = docs.filter(col("doc_id") === 3)
      .select(concat_ws(" ", slice(TextOps.tokens(col("text")), 11, 16)).as("snippet"))
    val hits = TextOps.contaminationCounts(docs, bench, col("text"),
      col("doc_id"), col("snippet"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(3L), "source doc must be flagged")
    assert(hits(3L) == 9L, s"all 9 snippet 8-grams must match, got ${hits(3L)}")
  }

  test("token frequency score ranks common-token docs above rare-token docs") {
    val df = Seq(
      (1L, "the the the the the the"),          // all high-frequency
      (2L, "the qzx wvb plk mno jht"))          // five singletons
      .toDF("doc_id", "text")
    val out = TextOps.tokenFrequencyScore(df, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) > out(2L))
    assert(out(1L) == 7.0)                      // 'the' appears 7x in corpus
    // deterministic under repartitioning (integer sums, no float order)
    val out2 = TextOps.tokenFrequencyScore(df.repartition(5), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == out2)
  }

  test("binned range join == plain BETWEEN join, planned as a hash join") {
    val ev = Tables.load(spark, dir, "events").select(col("ts"), col("value"))
    val iv = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"),
        to_timestamp(lit("2024-01-01 00:00:00")).plus(
          expr("make_interval(0, 0, 0, 0, 0, 0, o_orderkey % 31536000)")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 6 HOURS"))
    val binned = RangeJoin.binned(ev, col("ts"), iv,
      col("w_start"), col("w_end"), binS = 21600L)
    val naive = ev.join(iv, unix_timestamp(col("ts"))
      .between(unix_timestamp(col("w_start")), unix_timestamp(col("w_end"))))
    assert(binned.count() == naive.count())
    assert(binned.select("ts", "o_orderkey")
      .except(naive.select("ts", "o_orderkey")).count() == 0)
    val plan = binned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("BroadcastNestedLoopJoin"), "must not nested-loop")
    val naivePlan = naive.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      "control: the bare BETWEEN join does nested-loop — binning is what avoids it")
  }

  test("RangeJoinBinningRule: naive BETWEEN join auto-rewrites to the binned hash join") {
    val ev = Tables.load(spark, dir, "events").select(col("ts"), col("value"))
    val iv = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"),
        to_timestamp(lit("2024-01-01 00:00:00")).plus(
          expr("make_interval(0, 0, 0, 0, 0, 0, o_orderkey % 31536000)")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 6 HOURS"))
    def naive = ev.join(iv,
      col("ts") >= col("w_start") && col("ts") <= col("w_end"))
    val before = naive.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoopJoin"), "control (rule off)")
    val expected = naive.count()
    spark.experimental.extraOptimizations ++=
      Seq(graft.plans.RangeJoinBinningRule(21600L))
    try {
      val after = naive.queryExecution.executedPlan.toString
      assert(!after.contains("BroadcastNestedLoopJoin"),
        "rule must replace the nested loop:\n" + after)
      assert(after.contains("_graft_bin"), after)
      // exact: the original raw predicate is kept verbatim; the bin
      // equality only narrows to a superset window (floor is monotone,
      // so ts ∈ [lo, hi] ⟹ bin(ts) ∈ [bin(lo), bin(hi)])
      assert(naive.count() == expected)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.RangeJoinBinningRule])
    }
  }

  test("range join tolerates inverted and null intervals like the naive BETWEEN (no sequence error)") {
    // dirty interval table: one valid window, one INVERTED (end < start),
    // one null-bounded. BETWEEN semantics: only the valid window matches;
    // an unguarded sequence(bin(lo), bin(hi)) would THROW on the inverted
    // row instead.
    val ev = Seq(("e1", "2024-03-01 12:00:00"), ("e2", "2024-06-01 12:00:00"))
      .toDF("eid", "ts_s").select(col("eid"), to_timestamp(col("ts_s")).as("ts"))
    val iv = Seq(
      ("ok",       "2024-03-01 00:00:00", "2024-03-02 00:00:00"),
      ("inverted", "2024-06-02 00:00:00", "2024-06-01 00:00:00"),
      ("nullhi",   "2024-06-01 00:00:00", null))
      .toDF("wid", "lo_s", "hi_s")
      .select(col("wid"), to_timestamp(col("lo_s")).as("lo"),
        to_timestamp(col("hi_s")).as("hi"))
    val got = RangeJoin.binned(ev, col("ts"), iv, col("lo"), col("hi"), 21600L)
      .select("eid", "wid").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSet == Set(("e1", "ok")), got.mkString(","))

    // same tolerance through the optimizer rule (auto-rewrite path)
    def naive = ev.join(iv, col("ts") >= col("lo") && col("ts") <= col("hi"))
    val expected = naive.collect().map(_.getString(0)).toSet
    assert(expected == Set("e1"))
    spark.experimental.extraOptimizations ++=
      Seq(graft.plans.RangeJoinBinningRule(21600L))
    try {
      val plan = naive.queryExecution.executedPlan.toString
      assert(plan.contains("_graft_bin"), "rule must have fired:\n" + plan)
      assert(naive.collect().map(_.getString(0)).toSet == expected)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.RangeJoinBinningRule])
    }
  }

  test("mega-duplicate cluster stays bounded (star expansion) without hurting recall") {
    // 5000 identical copies of one doc in ONE LSH bucket per band: the
    // unbounded all-pairs expansion would be ~12.5M pairs; the star form
    // must link the cluster in O(n) while normal planted dups still pair.
    val one = docs.filter(col("doc_id") === 0).select(col("text")).head().getString(0)
    val cluster = spark.range(1, 5001)
      .select((col("id") + 700000L).as("doc_id"), lit(one).as("text"))
    val corpus = planted.unionByName(cluster)
    val cand = Dedup.minhashCandidates(corpus, col("text"), col("doc_id")).cache()
    val inCluster = cand.filter(col("doc_a") >= 700000L || col("doc_a") === 0L)
      .filter(col("doc_b") >= 700000L)
    // O(n) pairs: every cluster member linked, none of the O(n²) blowup
    val n = inCluster.count()
    assert(n >= 5000 && n <= 3 * 5001, s"cluster pair count $n not O(n)")
    // connectivity: all 5000 injected ids appear in some pair
    val linked = inCluster.select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .filter(col("d") >= 700000L).distinct().count()
    assert(linked == 5000, s"only $linked/5000 cluster members linked")
    // normal planted-dup recall unchanged by the cap
    val hits = cand.filter(col("doc_b") === col("doc_a") + 600000L ||
      col("doc_b") === col("doc_a") + 500000L).count()
    assert(hits >= 8, s"LSH recall dropped with cap: $hits/10")
    cand.unpersist()
  }

  test("simhash mega-cluster stays bounded too") {
    val one = docs.filter(col("doc_id") === 0).select(col("text")).head().getString(0)
    val cluster = spark.range(1, 5001)
      .select((col("id") + 700000L).as("doc_id"), lit(one).as("text"))
    val corpus = planted.unionByName(cluster)
    val pairs = Dedup.simhashPairs(corpus, col("text"), col("doc_id")).cache()
    val inCluster = pairs.filter(col("doc_b") >= 700000L)
    val n = inCluster.count()
    assert(n >= 5000 && n <= 3 * 5001, s"simhash cluster pair count $n not O(n)")
    assert(inCluster.select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .filter(col("d") >= 700000L).distinct().count() == 5000)
    assert(pairs.filter(col("hamming") === 0).count() >= 5000) // identical docs
    pairs.unpersist()
  }

  test("jaccard verification keeps true pairs, scores them high") {
    val cand = Dedup.minhashCandidates(planted, col("text"), col("doc_id"))
    val verified = Dedup.jaccardVerify(cand, planted, col("text"), col("doc_id"), 0.5)
    assert(verified.filter(col("jaccard") === 1.0).count() >= 5) // exact dups
    assert(verified.filter(col("jaccard") < 0.5).count() == 0)
  }

  test("simhash hamming distance of exact dup is 0") {
    val pairs = Dedup.simhashPairs(planted, col("text"), col("doc_id"))
    assert(pairs.filter(col("hamming") === 0).count() >= 5)
  }

  test("LSH ANN results are a subset-consistent approximation of brute force") {
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(e, q, 5)
      .filter(col("rank") === 1).select("q_id", "neighbor_id", "cos")
    val lsh = Similarity.lshTopK(e, q, 5)
      .filter(col("rank") === 1).select(col("q_id"),
        col("neighbor_id").as("lsh_neighbor"), col("cos").as("lsh_cos"))
    // every LSH rank-1 cos must be ≤ the brute-force rank-1 cos (it
    // searched a subset) and both must be valid cosines
    val joined = bf.join(lsh, "q_id")
    assert(joined.filter(col("lsh_cos") > col("cos") + 1e-9).count() == 0)
  }

  test("multi-probe LSH improves recall over single-probe (vs brute force)") {
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(e, q, 5).select("q_id", "neighbor_id").cache()
    val total = bf.count().toDouble
    def recall(ann: org.apache.spark.sql.DataFrame): Double =
      ann.select("q_id", "neighbor_id").join(bf, Seq("q_id", "neighbor_id"))
        .count() / total
    val rSingle = recall(Similarity.lshTopK(e, q, 5, multiProbe = false))
    val rMulti = recall(Similarity.lshTopK(e, q, 5))
    info(f"lsh recall: single=$rSingle%.3f multi=$rMulti%.3f")
    assert(rMulti >= rSingle, s"multi-probe recall $rMulti < single $rSingle")
    assert(rMulti > rSingle, "multi-probe should strictly improve on this corpus")
    bf.unpersist()
  }

  test("semantic dedup: cell blocking removes planted exact copies, keeps originals") {
    val e = Tables.load(spark, dir, "embeddings")
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(e.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding")))
    val surv = Similarity.semanticSurvivors(corpus).cache()
    // an exact copy shares its original's argmax cell, so it is always
    // caught in-cell and the earlier id wins
    assert(surv.filter(col("vec_id") >= 1000000L).count() == 0)
    // original pairs never reach the 0.95 threshold on these tables
    assert(surv.count() == e.count())
    // deterministic under repartitioning (centroid rounding pins it)
    val again = Similarity.semanticSurvivors(corpus.repartition(13))
    assert(surv.select("vec_id").except(again.select("vec_id")).count() == 0)
    surv.unpersist()
  }

  test("k-means IVF recall >= seed-centroid IVF at equal nProbe") {
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(e, q, 5).select("q_id", "neighbor_id").cache()
    val total = bf.count().toDouble
    def recall(ann: org.apache.spark.sql.DataFrame): Double =
      ann.select("q_id", "neighbor_id").join(bf, Seq("q_id", "neighbor_id"))
        .count() / total
    val rSeed = recall(Similarity.ivfTopK(e, q, 5, kmeansIters = 0))
    val rKmeans = recall(Similarity.ivfTopK(e, q, 5))
    info(f"ivf recall: seed=$rSeed%.3f kmeans=$rKmeans%.3f")
    assert(rKmeans >= rSeed, s"k-means recall $rKmeans < seed $rSeed")
    bf.unpersist()
  }

  test("IVF ANN: rank-1 cos never beats brute force; cells partition the corpus") {
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(e, q, 5)
      .filter(col("rank") === 1).select(col("q_id"), col("cos"))
    val ivf = Similarity.ivfTopK(e, q, 5)
      .filter(col("rank") === 1).select(col("q_id"), col("cos").as("ivf_cos"))
    assert(ivf.count() > 0)
    assert(bf.join(ivf, "q_id").filter(col("ivf_cos") > col("cos") + 1e-9).count() == 0)
  }

  test("relabelAll anonymizes every identifier column present") {
    val df = Seq(("alice", "jobA"), ("bob", "jobB"), ("alice", "jobC"))
      .toDF("User", "JobName")
    val out = Deidentify.relabelAll(df).collect()
    assert(out.forall(r => r.getString(0).startsWith("User_") &&
      r.getString(1).startsWith("JobName_")))
    // same input value → same label
    assert(out.filter(_.getString(0) == "User_0").length == 2)
  }

  test("relabel assigns global-value-order indices distributively") {
    // 20k distinct values across 32 shuffle partitions: the distributed
    // rank (range partition + per-partition row_number + offset) must
    // equal the global dense_rank the oracle computes.
    val df = spark.range(0, 20000)
      .select(col("id"),
        concat(lit("v"), lpad(col("id").cast("string"), 6, "0")).as("User"))
    // value v000123 sorts to position 123 → label User_123, and id == 123
    val bad = Deidentify.relabel(df, "User")
      .filter(col("User") =!= concat(lit("User_"), col("id").cast("string")))
      .count()
    assert(bad == 0)
    // the mapping joins back without a broadcast HINT (no forced
    // broadcast of a potentially huge mapping; tiny offsets may hint)
    val analyzed = Deidentify.relabel(df, "User").queryExecution.analyzed.toString
    assert(analyzed.split("ResolvedHint").length <= 2, "unexpected broadcast hints")
  }

  test("multimodal batch decode preserves identity and is deterministic") {
    val withP = Multimodal.withPayload(docs)
    val out = Multimodal.decodeFeatures(spark, withP).cache()
    assert(out.count() == docs.count())
    assert(out.filter(size(col("feature")) =!= 4).count() == 0)
    // deterministic: second run identical
    val again = Multimodal.decodeFeatures(spark, withP)
    assert(out.join(again, Seq("doc_id"))
      .filter(out("feature") =!= again("feature")).count() == 0)
    // n_bytes = utf8 length of the text payload
    val chk = out.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")).cast("long"))
    assert(chk.count() == 0)
  }

  test("real decode parses synthesized PPM and BMP payloads pixel-exactly") {
    // 2x2 PPM P6 (with a header comment): pixels R,G,B,white
    val ppmHeader = "P6\n# test\n2 2\n255\n".getBytes("US-ASCII")
    val ppmPixels = Array(
      255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val ppm = ppmHeader ++ ppmPixels
    // 3x1 24-bit BMP, bottom-up, rows pad to 4 bytes (3*3=9 -> 12):
    // pixels stored BGR: pure red, mid gray, pure blue
    def le32(v: Int) = Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    def le16(v: Int) = Array(v, v >> 8).map(_.toByte)
    val bmp = "BM".getBytes("US-ASCII") ++ le32(54 + 12) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(1) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(12) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array(0, 0, 255, 128, 128, 128, 255, 0, 0, 0, 0, 0).map(_.toByte)
    val junk = "not an image at all".getBytes("US-ASCII")
    val Array(fp, fb, fj) = Multimodal.realDecode(Array(ppm, bmp, junk))
    assert(fp.toSeq == Seq(2f, 2f, 127.5f, 127.5f, 127.5f), s"ppm: ${fp.toSeq}")
    assert(fb.toSeq == Seq(3f, 1f, (255 + 128) / 3f, 128 / 3f, (255 + 128) / 3f),
      s"bmp: ${fb.toSeq}")
    // unrecognized bytes fall back to the deterministic stub feature
    assert(fj.toSeq == Multimodal.fakeDecode(Array(junk))(0).toSeq)
    // and the real decoder plugs into the SAME batched stage
    import spark.implicits._
    val df = Seq((1L, ppm), (2L, bmp), (3L, junk)).toDF("doc_id", "payload")
      .withColumn("meta", struct(lit(2).as("width"), lit(2).as("height"),
        lit("ppm").as("format")))
    val out = Multimodal.decodeFeatures(spark, df, Multimodal.realDecode)
      .select("doc_id", "feature").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(out(1L) == Seq(2f, 2f, 127.5f, 127.5f, 127.5f))
    assert(out(2L).take(2) == Seq(3f, 1f))
    assert(out(3L).length == 4) // stub fallback shape
  }

  test("decodeStats: ImageSim payloads decode to closed-form sums; damage quarantines") {
    import spark.implicits._
    val docs = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.decodeStats(spark, ImageSim.payloads(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 60)
    for (k <- 0L until 60L) {
      val r = out(k)
      val (w, h) = ((2 + k % 6).toInt, (2 + (k * 3) % 5).toInt)
      if (k % 7 == 0 || k % 7 == 3) {
        assert(r.getString(1) == "quarantined", s"doc $k")
        assert(r.isNullAt(2) && r.isNullAt(4), s"doc $k stats must be null")
        assert(r.getLong(7) > 0, s"doc $k keeps its byte count")
      } else {
        val (hA, hB) = (h / 2, h - h / 2)
        val (ra, ga, ba) = (k % 256, (k * 7 + 11) % 256, (k * 13 + 5) % 256)
        assert(r.getString(1) == "ok", s"doc $k")
        assert(r.getInt(2) == w && r.getInt(3) == h, s"doc $k dims")
        assert(r.getLong(4) == hA * w * ra + hB * w * ((ra + 91) % 256), s"doc $k sum_r")
        assert(r.getLong(5) == hA * w * ga + hB * w * ((ga + 57) % 256), s"doc $k sum_g")
        assert(r.getLong(6) == hA * w * ba + hB * w * ((ba + 171) % 256), s"doc $k sum_b")
      }
    }
    // both formats and both damage modes actually occur in the range
    assert((0L until 60L).exists(k => k % 2 == 0 && k % 7 == 0))
    assert((0L until 60L).exists(k => k % 2 == 1 && k % 7 == 3))
  }

  test("language id picks the profile with the best stopword hit rate") {
    val df = Seq(
      (1L, "the cat is on the mat and the dog is in the house"),
      (2L, "el gato y la casa de los perros en el sol"),
      (3L, "der hund und die katze ist von den bergen")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "de")
  }

  test("fingerprint is stable and order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val fps = df.select(TextOps.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("per-row minhash signature equals the batch aggregate signature") {
    val sig1 = Dedup.minhashSignatures(planted, col("text"), col("doc_id"), 32)
    val sig2 = planted.select(col("doc_id"),
      Dedup.rowSignature(col("text"), 32).as("sig"))
    assert(sig1.except(sig2).count() == 0)
    assert(sig2.except(sig1).count() == 0)
  }

  test("embedding near-dup dedup: survivors + duplicates partition the corpus") {
    val emb = Tables.load(spark, dir, "embeddings")
    val survivors = Similarity.nearDupSurvivors(emb, threshold = 0.3)
    val pairs = Similarity.cosinePairs(emb, threshold = 0.3)
    assert(survivors.count() < emb.count(), "some near-dups exist at τ=0.3")
    // every dropped vector has a surviving-or-dropped LOWER-id neighbor
    val dropped = emb.select(col("label"), col("vec_id"))
      .join(survivors, Seq("label", "vec_id"), "left_anti")
    val explained = dropped.join(
      pairs.select(col("label"), col("vec_b").as("vec_id")).distinct(),
      Seq("label", "vec_id"), "left_semi")
    assert(explained.count() == dropped.count())
    // an exact copy of vec 0 (as a new max-id row) must be dropped
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(9999999L))
    val withClone = emb.unionByName(clone)
    val s2 = Similarity.nearDupSurvivors(withClone, threshold = 0.3)
    assert(s2.filter(col("vec_id") === 9999999L).count() == 0)
    assert(s2.filter(col("vec_id") === 0).count() ==
      survivors.filter(col("vec_id") === 0).count())
  }

  test("stratified sample: rates hold per stratum and samples nest") {
    val n = docs.count().toDouble
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = Sampling.stratified(docs, col("source"), col("doc_id"),
      Map("src0" -> 0.5, "src1" -> 0.25), default = 0.1)
    val got = s.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def rate(src: String) = got.getOrElse(src, 0L).toDouble / bySource(src)
    assert(math.abs(rate("src0") - 0.5) < 0.15)
    assert(math.abs(rate("src1") - 0.25) < 0.15)
    // nested: raising a rate only ADDS rows (scaling-law ladders)
    val bigger = Sampling.stratified(docs, col("source"), col("doc_id"),
      Map("src0" -> 0.8, "src1" -> 0.5), default = 0.2)
    assert(s.join(bigger, Seq("doc_id"), "left_anti").count() == 0)
    // deterministic under repartitioning
    assert(Sampling.stratified(docs.repartition(7), col("source"), col("doc_id"),
      Map("src0" -> 0.5, "src1" -> 0.25), default = 0.1).count() == s.count())
  }

  test("sampling bucket matches exact BigInt arithmetic for ids beyond 2^32") {
    import spark.implicits._
    // ids where id*2654435761 overflows a signed 64-bit product: Spark's
    // wrap + mod-2^32 must equal the TRUE product mod 2^32 mod 1e6 (what
    // a checked-arithmetic engine like DuckDB computes via HUGEINT)
    val ids = Seq(0L, 1L, 3470000000L, 4294967295L, 1234567890123L,
      Long.MaxValue / 2654435761L + 7L, 9007199254740993L)
    val got = ids.toDF("id")
      .select(col("id"), Sampling.bucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val expect = ((BigInt(id) * BigInt(2654435761L))
        .mod(BigInt(2).pow(32)) % 1000000).toLong
      assert(got(id) == expect, s"id=$id")
    }
  }

  test("vocabulary top-k counts tokens globally with deterministic ties") {
    val df = Seq((1L, "a b b c c c"), (2L, "c d d B")).toDF("doc_id", "text")
    val v = TextOps.vocabulary(df, col("text"), topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(v.toSeq == Seq(("c", 4L), ("b", 3L), ("d", 2L)))
  }

  test("connected components: chains collapse to one cluster, isolates keep their id") {
    import spark.implicits._
    // path a-b-c-d (diameter 3 → needs >1 round), pair e-f, isolate g
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L)
    val got = Components.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the distributed loop (forced via a 1-edge partition budget) must
    // agree with the default union-find fast path on the same chain
    val loop = Components.connectedComponents(verts, edges,
      edgesPerPartition = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop == want)
  }

  test("cc maxIter=0: identity on an empty edge set, loud failure with edges — on BOTH paths") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val some = Seq((1L, 2L)).toDF("src", "dst")
    // a 0-round budget on a graph with no edges is trivially converged:
    // the identity labeling, identical on the fast path and the loop
    for (epp <- Seq(65536L, 1L)) {
      val got = Components.connectedComponents(verts, none,
        maxIter = 0, edgesPerPartition = epp)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L), s"epp=$epp")
    }
    // with edges present, 0 rounds cannot have produced component
    // labels: both paths must fail loudly rather than return anything
    for (epp <- Seq(65536L, 1L))
      intercept[IllegalArgumentException] {
        Components.connectedComponents(verts, some,
          maxIter = 0, edgesPerPartition = epp).collect()
      }
  }

  test("cc fast-path gate is the edge count, not the partition count") {
    import spark.implicits._
    // shuffle.partitions = 1 collapses the data-sized partitioner to
    // one partition on ANY input; the union-find fast path must still
    // only fire when the edge set itself is bounded. With a 1-edge
    // budget the 3-edge chain exceeds the bound, so this runs the
    // distributed loop even at nPart = 1 — and must still be correct.
    val before = spark.sessionState.conf.numShufflePartitions
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val verts = Seq(1L, 2L, 3L, 4L).toDF("id")
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      val got = Components.connectedComponents(verts, edges,
        edgesPerPartition = 1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before.toString)
  }

  test("cc cluster representative fixes pairwise over-keep on chains") {
    import spark.implicits._
    // pairwise keep-min on a-b, b-c keeps {a, c}; transitive keeps {a}
    val verts = Seq(10L, 20L, 30L).toDF("id")
    val edges = Seq((10L, 20L), (20L, 30L)).toDF("src", "dst")
    val reps = Components.connectedComponents(verts, edges)
      .select("label").distinct().collect().map(_.getLong(0)).toSet
    assert(reps == Set(10L))
  }

  test("cc/pagerank: reliable-checkpoint mode matches local mode on the d20 gate graph") {
    // the localCheckpoint default dies with an executor; the
    // checkpointDir switch is the cluster-scale path — both modes must
    // label identically (the snapshot strategy is invisible to results)
    val e = Tables.load(spark, dir, "embeddings")
    val pairs = Similarity.cosinePairs(e, threshold = 0.3)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val verts = e.select(col("vec_id").as("id"))
    // default path on the gate graph is the single-partition
    // union-find; edgesPerPartition=64 forces the DISTRIBUTED loop on
    // the same graph — both must label identically
    val fast = Components.connectedComponents(verts, pairs)
    val local = Components.connectedComponents(verts, pairs,
      edgesPerPartition = 64L)
    assert(fast.except(local).count() == 0 &&
      local.except(fast).count() == 0,
      "union-find fast path and distributed loop disagree")
    val ckpt = SparkTestSession.tmpDir("graft-ckpt").toString
    val reliable = Components.connectedComponents(verts, pairs,
      checkpointDir = Some(ckpt), edgesPerPartition = 64L)
    assert(local.except(reliable).count() == 0 &&
      reliable.except(local).count() == 0)
    // the reliable mode wrote actual snapshot files into the directory
    // (only the final round's snapshot survives — earlier rounds are
    // deleted as soon as the next round materializes)
    val wrote = new java.io.File(ckpt).listFiles()
    assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val prLocal = Components.pageRank(edges, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prRel = Components.pageRank(edges, iters = 6, checkpointDir = Some(ckpt))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prLocal == prRel)
  }

  test("quality filter keeps ~half per group, deterministically") {
    val kept = TextOps.qualityFilter(
      docs.select(col("doc_id"), col("lang"), col("text")),
      col("text"), col("lang"), col("doc_id"), keepFrac = 0.5)
    val tot = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tot.foreach { case (lang, n) =>
      val frac = k.getOrElse(lang, 0L).toDouble / n
      assert(frac > 0.3 && frac < 0.7, s"$lang kept $frac")
    }
    // deterministic under repartitioning
    val again = TextOps.qualityFilter(
      docs.repartition(7).select(col("doc_id"), col("lang"), col("text")),
      col("text"), col("lang"), col("doc_id"), keepFrac = 0.5)
    assert(again.select("doc_id").except(kept.select("doc_id")).count() == 0)
  }

  test("threshold quality filter: a clean percentile cut, agreeing with the window form") {
    val in = docs.select(col("doc_id"), col("lang"), col("text"))
    val kept = TextOps.qualityFilterThreshold(
      in, col("text"), col("lang"), col("doc_id"), keepFrac = 0.5)
    // kept fraction per group ≈ keepFrac (ties at the threshold may
    // push it above; it can never fall below the interpolated cut)
    val tot = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = kept.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tot.foreach { case (lang, n) =>
      val frac = k.getOrElse(lang, 0L).toDouble / n
      assert(frac > 0.3 && frac < 0.7, s"$lang kept $frac")
    }
    // cut property: within a group, every kept doc scores >= every
    // dropped doc — the filter is a clean threshold, never rank noise
    val scoredAll = TextOps.qualityFilterThreshold(
      in, col("text"), col("lang"), col("doc_id"), keepFrac = 1.0)
    val dropped = scoredAll.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    val minKept = kept.groupBy("grp").agg(min("rep_scaled").as("lo"))
    val badPairs = dropped.join(minKept, "grp")
      .filter(col("rep_scaled") >= col("lo")).count()
    assert(badPairs == 0, s"$badPairs dropped docs outscore a kept doc")
    // the two forms agree on the clearly-best half: everything the
    // window form ranks in the top 30% survives the threshold cut
    val windowTop = TextOps.qualityFilter(
      in, col("text"), col("lang"), col("doc_id"), keepFrac = 0.3)
    assert(windowTop.select("doc_id").except(kept.select("doc_id")).count() == 0,
      "threshold cut must contain the window form's top 30%")
  }

  test("approx-percentile swap-in: thresholds honor the sketch's rank tolerance") {
    // the `exact = false` path must put each group's threshold within
    // the GK guarantee of the target rank. The returned value is an
    // actual element whose rank INTERVAL (ties span ranks) must
    // straddle p: strictly-below stays ≤ p + ε, below-or-equal stays
    // ≥ p − ε (ε = 1/accuracy + 2/n discrete-rank slack).
    val p = 0.1
    val n = size(TextOps.tokens(col("text"))).cast("long")
    val scored = docs.select(col("lang"), n.as("n"))
    val th = scored.groupBy("lang")
      .agg(approx_percentile(col("n"), lit(p), lit(10000))
        .cast("double").as("p_lo"))
    val chk = scored.join(th, "lang").groupBy("lang")
      .agg(count(lit(1)).as("sz"),
        sum(when(col("n") < col("p_lo"), 1L).otherwise(0L)).as("below"),
        sum(when(col("n") <= col("p_lo"), 1L).otherwise(0L)).as("upto"))
      .collect()
    chk.foreach { r =>
      val (sz, below, upto) =
        (r.getLong(1).toDouble, r.getLong(2).toDouble, r.getLong(3).toDouble)
      val eps = 1.0 / 10000 + 2.0 / sz
      assert(below / sz <= p + eps && upto / sz >= p - eps,
        s"${r.getString(0)}: rank interval [${below / sz}, ${upto / sz}] " +
          s"must straddle $p (n=$sz)")
    }
    // and the filter runs end-to-end on the approximate path, keeping
    // a sane fraction
    val kept = TextOps.lengthFilter(docs, col("text"), col("lang"),
      col("doc_id"), exact = false).count()
    assert(kept > 0 && kept < docs.count())
    assert(TextOps.qualityFilterThreshold(docs.select(col("doc_id"),
      col("lang"), col("text")), col("text"), col("lang"), col("doc_id"),
      0.5, exact = false).count() > 0)
  }

  test("token packing: packs respect the budget boundary rule") {
    import spark.implicits._
    val t = Seq((1L, "s", 1000L), (2L, "s", 1000L), (3L, "s", 1000L),
      (4L, "s", 5000L), (5L, "s", 10L), (6L, "other", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val got = TextOps.packBudget(t, col("source"), col("doc_id"),
      col("n_tokens"), budget = 2048L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // exclusive prefix sums: 0,1000,2000,3000,8000 → packs 0,0,0,1,3
    assert(got(1L) == 0L && got(2L) == 0L && got(3L) == 0L)
    assert(got(4L) == 1L)
    assert(got(5L) == 3L)
    assert(got(6L) == 0L) // separate stream restarts at 0
  }

  test("packBudgetScalable: identical assignments to packBudget, dominant stream included") {
    import spark.implicits._
    // 90% of docs in ONE stream (the wall case for the window form),
    // uneven token sizes, a tiny tail stream, and more rows than
    // slices so every range partition is non-trivial
    val docs = (1L to 2000L).map(i =>
      (i, if (i % 10 == 0) s"s${i % 3}" else "hot", 1L + i % 37)).toDF(
      "doc_id", "source", "n_tokens")
    val slow = TextOps.packBudget(docs, col("source"), col("doc_id"),
        col("n_tokens"), budget = 256L)
      .select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (slices <- Seq(1, 7, 32)) {
      val fast = TextOps.packBudgetScalable(docs, col("source"),
          col("doc_id"), col("n_tokens"), budget = 256L, slices = slices)
        .select("doc_id", "pack_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == slow, s"slices=$slices diverged: ${
        slow.keySet.filter(k => slow(k) != fast(k)).take(5).map(k =>
          (k, slow(k), fast(k)))}")
    }
    // and the plan has NO per-stream unpartitioned-by-slice window: every
    // corpus-sized window is keyed by (stream, partition)
    val plan = TextOps.packBudgetScalable(docs, col("source"), col("doc_id"),
      col("n_tokens"), budget = 256L).queryExecution.optimizedPlan.toString
    assert(plan.contains("_pid"), plan.take(500))
  }

  test("pii scrub redacts emails before digit runs, leaves short numbers") {
    val df = Seq((1L, "mail me at john.doe99@corp.example.org or call 5551234567 ext 42"))
      .toDF("doc_id", "text")
    val got = df.select(TextOps.scrubPii(col("text"))).collect()(0).getString(0)
    assert(got == "mail me at <EMAIL> or call <NUM> ext 42")
  }

  test("cleanLines applies the C4 rule set per line") {
    val df = Seq((1L, Seq(
      "the cat sat on the mat",     // keep
      "the ad",                     // too short (2 tokens)
      "buy buy buy now now now",    // no required token
      "the slow javascript banner", // banned token
      "a perfectly fine line").mkString("\n"))).toDF("doc_id", "text")
    val got = TextOps.cleanLines(df, col("text"), minTokens = 3,
      mustContain = Seq("the", "a"), banned = Seq("slow")).collect()(0)
    assert(got.getAs[Long]("n_lines") == 5)
    assert(got.getAs[Long]("n_kept") == 2)
    assert(got.getAs[String]("clean_text") ==
      "the cat sat on the mat\na perfectly fine line")
  }

  test("tf-idf top terms rank a doc's rare term above its common terms") {
    val df = Seq(
      (1L, "alpha beta beta zzyzx"),  // zzyzx unique to doc 1
      (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val top1 = TextOps.tfidfTopTerms(df, col("text"), col("doc_id"), k = 3)
      .filter(col("doc_id") === 1 && col("rank") === 1).collect()(0)
    // beta: tf 2 / df 3 = 0.667; zzyzx: tf 1 / df 1 = 1.0 → zzyzx wins
    assert(top1.getAs[String]("token") == "zzyzx")
    assert(top1.getAs[Double]("score") == 1.0)
  }

  test("int8 quantization: codes bounded, dequantized cosine near 1") {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = Similarity.quantize(emb)
      .select(col("vec_id"), array_min(col("q")).as("lo"),
        array_max(col("q")).as("hi"))
    assert(q.filter(col("lo") < -127 || col("hi") > 127).count() == 0)
    val rep = Similarity.quantizationReport(emb)
    val worst = rep.agg(min(col("cos_fidelity"))).head.getDouble(0)
    assert(worst > 0.995, s"int8 cosine fidelity too low: $worst")
  }

  test("quantized ANN ranks nearly like float brute force (recall@5)") {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.bruteForceTopK(emb, queries, 5))
    val quant = asSet(Similarity.quantizedTopK(emb, queries, 5))
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall@5 = $recall")
  }

  test("as-of join: latest event at or before the probe, null when none, equal-ts visible") {
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 10.0),
      (1L, "2024-01-01 12:00:00", 12.0),
      (2L, "2024-01-01 11:00:00", 21.0))
      .toDF("uid", "ts_s", "v")
      .select(col("uid"), to_timestamp(col("ts_s")).as("ts"), col("v"))
    val probes = Seq(
      (100L, 1L, "2024-01-01 11:00:00"), // between events → 10.0
      (101L, 1L, "2024-01-01 12:00:00"), // equal ts → event visible, 12.0
      (102L, 1L, "2024-01-01 09:00:00"), // before all → null
      (103L, 2L, "2024-01-02 00:00:00"), // after the only event → 21.0
      (104L, 3L, "2024-01-01 12:00:00")) // key with no events → null
      .toDF("probe_id", "uid", "ts_s")
      .select(col("probe_id"), col("uid"), to_timestamp(col("ts_s")).as("ts"))
    val got = AsOfJoin.backward(probes, events, Seq("uid"), "ts", Seq("v"))
      .collect().map(r => r.getAs[Long]("probe_id") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    assert(got(100L).contains(10.0))
    assert(got(101L).contains(12.0))
    assert(got(102L).isEmpty)
    assert(got(103L).contains(21.0))
    assert(got(104L).isEmpty)
  }

  test("near-dup survivors: planted duplicates cluster to the original, originals survive") {
    val survivors = {
      val edges = Dedup.jaccardVerify(
        Dedup.polyMinhashPairs(planted, col("text"), col("doc_id")),
        planted, col("text"), col("doc_id"), minJaccard = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      Components.connectedComponents(
        planted.select(col("doc_id").as("id")), edges)
    }
    val m = survivors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every planted exact dup clusters back to its source, which survives
    (0L until 5L).foreach { i =>
      assert(m(i + 500000L) == i, s"exact dup ${i + 500000L} not clustered")
      assert(m(i) == i, s"original $i must be its own representative")
    }
    // near dups (±' tail') too — 3-shingle jaccard stays ≥ 0.5
    (5L until 10L).foreach { i =>
      assert(m(i + 600000L) == i, s"near dup ${i + 600000L} not clustered")
    }
  }

  test("exact-substring spans: exact copies are fully duplicated, near copies almost") {
    val spans = Dedup.dupSpans(planted, col("text"), col("doc_id"), k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // exact copy ↔ original: every window shared → dup_frac 1.0 both ways
    (0L until 5L).foreach { i =>
      assert(spans(i)._3 == 1.0, s"original $i frac ${spans(i)._3}")
      assert(spans(i + 500000L)._3 == 1.0)
    }
    // near copy (' tail' appended): original fully covered; the copy's
    // trailing windows (the ones reaching into 'tail') are unique
    (5L until 10L).foreach { i =>
      assert(spans(i)._3 == 1.0, s"near-dup source $i frac ${spans(i)._3}")
      val (n, dup, frac) = spans(i + 600000L)
      assert(frac > 0.5 && frac < 1.0, s"near copy ${i + 600000L} frac $frac")
      assert(n - dup <= 8, s"only trailing windows may be unique, got ${n - dup}")
    }
  }

  test("global line dedup: first occurrence survives corpus-wide, order kept") {
    val pages = Seq(
      (0L, "alpha\nshared\nbeta"),
      (1L, "shared\ngamma"),
      (2L, "shared\nalpha\ndelta")).toDF("pid", "txt")
    val got = TextOps.dedupLinesGlobal(pages, col("pid"), col("txt"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(0L) == ((3L, 3L, "alpha\nshared\nbeta")))
    assert(got(1L) == ((2L, 1L, "gamma")))
    assert(got(2L) == ((3L, 1L, "delta")))
  }

  test("normalizeText canonicalizes case, control chars, and whitespace runs") {
    val got = Seq("  Hello\t\u0000World\r\n  x ", "a  b", "")
      .toDF("t").select(TextOps.normalizeText(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("hello world x", "a b", ""))
  }

  test("corpus report card: exact counts on a corpus with planted duplicates") {
    val d = Seq((1L, "s1", "a b a"), (2L, "s1", "a b a"), (3L, "s1", "c d"),
      (4L, "s2", "e f g")).toDF("doc_id", "source", "text")
    val r = TextOps.corpusReport(d, col("text"), col("source"))
      .orderBy("grp").collect()
    assert(r(0).getLong(1) == 3 && r(0).getLong(3) == 2) // s1: 3 docs, 2 unique
    assert(r(0).getLong(2) == 8)                          // 3+3+2 tokens
    assert(math.abs(r(0).getDouble(4) - (1.0 - 2.0 / 3)) < 1e-6)
    assert(r(1).getLong(1) == 1 && r(1).getDouble(4) == 0.0)
  }

  test("native poly bands equal the composed-Column reference form") {
    val both = planted.filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(Dedup.polyRowBands(col("text")).as("native"),
        Dedup.polyRowBandsComposed(col("text")).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
  }

  test("per-row poly bands emit the same candidates as the aggregated signature path") {
    // The aggregated signature path — shingle-explode → per-doc 16-min
    // hash aggregate → base-131 band combine — reconstructed INLINE:
    // the production pipeline no longer contains it (polyMinhashPairs
    // fused to per-row bands in r16), so this reconstruction is the
    // independent computation that pins the fused path's candidate set
    // (r17, closing the r16 ADVICE note that both sides of the old
    // comparison had come to share polyRowBands).
    val P = 2147483647L
    val nb = 4; val nr = 4
    val exploded = planted.filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        explode(Dedup.polyShingleHashes(col("text"))).as("h"))
    val mins = Dedup.polyCoefs.take(nb * nr).zipWithIndex.map {
      case ((a, b), i) => min(pmod(col("h") * a + b, lit(P))).as(s"m$i") }
    val sigs = exploded.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bandCols = (0 until nb).map { bi =>
      (bi * nr until (bi + 1) * nr).map(i => col(s"m$i"))
        .reduceLeft((acc, m) => pmod(acc * 131L + m, lit(P))).as(s"b$bi") }
    val banded = sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until nb).map(i => col(s"b$i")): _*))
          .as(Seq("bi", "bh")))
    val pairsAggInline = banded.as("a").join(banded.as("b"),
        col("a.bi") === col("b.bi") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsFused = Dedup.polyMinhashPairs(planted, col("text"), col("doc_id"))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAggInline == pairsFused)
  }

  test("exactKeeperRows equals exact-dedup + semi-join attach, payload intact") {
    // the r17 capstone shape (d79/d84/d114): keeper rows decided and
    // carried in ONE aggregate must equal the two-pass decide-then-
    // semi-join compose, payload columns included
    val small = Seq((5L, "en", "a b a"), (2L, "de", "a b a"), (3L, "en", "c d"),
      (9L, "fr", "c d"), (4L, "es", "e f g")).toDF("doc_id", "lang", "text")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    def compose(d: org.apache.spark.sql.DataFrame) = {
      val keepers = Dedup.exact(d, col("text"), col("doc_id"))
        .select(col("keeper_id").as("doc_id"))
      d.join(keepers, Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "n_tokens")
    }
    def onePass(d: org.apache.spark.sql.DataFrame) =
      Dedup.exactKeeperRows(d, col("text"), col("doc_id"),
          keep = Seq("lang", "n_tokens"))
        .withColumnRenamed("keeper_id", "doc_id")
    val got = onePass(small); val ref = compose(small)
    assert(got.count() == 3)
    assert(got.except(ref).count() == 0 && ref.except(got).count() == 0)
    // and on the real corpus with planted exact duplicates
    val corpus = planted.withColumn("lang", lit("en"))
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
    val gotC = onePass(corpus); val refC = compose(corpus)
    assert(gotC.except(refC).count() == 0 && refC.except(gotC).count() == 0)
  }

  test("exactKeeperRows rejects a keep column named like its keeper_id or _kid") {
    Seq("keeper_id", "_kid").foreach { k =>
      val d = Seq((1L, "a", 7L)).toDF("doc_id", "text", k)
      val e = intercept[IllegalArgumentException](
        Dedup.exactKeeperRows(d, col("text"), col("doc_id"), keep = Seq(k)))
      assert(e.getMessage.contains(k))
    }
  }

  test("epochRepeat rejects a carry column named like its own output") {
    val d = Seq((1L, "a", 3L)).toDF("doc_id", "dom", "epoch")
    val e = intercept[IllegalArgumentException](Sampling.epochRepeat(d,
      col("dom"), col("doc_id"), Map("a" -> 1000000L), carry = Seq("epoch")))
    assert(e.getMessage.contains("epoch"))
  }

  test("curateUrls rejects a carry column named like its verdict columns") {
    val d = Seq((1L, "https://a.org/x", "news")).toDF("doc_id", "url", "domain")
    val e = intercept[IllegalArgumentException](Web.curateUrls(d, col("url"),
      col("doc_id"), Seq("b.org"), carry = Seq(col("domain"))))
    assert(e.getMessage.contains("domain"))
  }

  test("fuzzy decontamination flags docs whose perturbed copies sit in the bench set") {
    val toks = split(col("text"), "\\s+")
    val benchSrc = docs.filter(col("doc_id") % 7 === 0)
    val bench = benchSrc.select((col("doc_id") + 5000000L).as("bench_id"),
      concat_ws(" ", slice(toks, lit(1),
        greatest(size(toks) - 1, lit(1)))).as("snippet"))
    val flagged = Dedup.crossNearDup(docs, bench, col("text"), col("doc_id"),
      col("snippet"), col("bench_id"))
    val expected = benchSrc.count()
    val hits = flagged.filter(col("doc_id") % 7 === 0).count()
    assert(hits >= expected * 8 / 10, s"recall too low: $hits/$expected")
    // docs NOT perturbed into the bench set mostly stay unflagged
    val falsePos = flagged.filter(col("doc_id") % 7 =!= 0).count()
    assert(falsePos <= docs.count() / 10, s"too many false flags: $falsePos")
  }

  test("importance weights favor the target slice and survive repartitioning") {
    val d = docs.select(col("doc_id"), col("text"), col("lang"))
    val tgt = d.filter(col("lang") === "en")
    val w = TextOps.importanceWeights(d, tgt, col("text"), col("doc_id"))
    val byLang = w.join(d.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg(col("avg_ratio")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"target-slice docs should outscore the rest: $byLang")
    val w2 = TextOps.importanceWeights(d.repartition(13), tgt.repartition(7),
      col("text"), col("doc_id"))
    assert(w.except(w2).count() == 0 && w2.except(w).count() == 0)
    // the single-pass slice form is the same function, one scan cheaper
    val w3 = TextOps.importanceWeightsBy(d, col("lang") === "en",
      col("text"), col("doc_id"))
    assert(w.except(w3).count() == 0 && w3.except(w).count() == 0)
  }

  test("domain mix: nested in budget, keep-all above saturation, weighted domains only") {
    val nTok = size(TextOps.tokens(col("text")))
    val weights = Map("en" -> 3L, "zh" -> 1L, "es" -> 1L, "de" -> 1L, "fr" -> 1L)
    def mix(b: Long) =
      Sampling.domainMix(docs, col("lang"), col("doc_id"), nTok, weights, b)
    val small = mix(3000L); val big = mix(30000L)
    assert(small.select("doc_id").except(big.select("doc_id")).count() == 0,
      "raising the budget must strictly grow the sample")
    assert(small.count() < docs.count())
    // a budget past every domain's token mass keeps the whole corpus
    assert(mix(100000000L).count() == docs.count())
    // a domain without a weight gets target 0 → dropped entirely
    val noEn = Sampling.domainMix(docs, col("lang"), col("doc_id"), nTok,
      weights - "en", 3000L)
    assert(noEn.filter(col("domain") === "en").count() == 0)
  }

  test("compression ratio scores boilerplate below prose; empty text is null") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over the lazy dog near riverbanks"),
      (3L, "")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        TextOps.compressionRatio(col("text")).as("ratio"))
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(r(1L).get < r(2L).get,
      s"repetition must compress harder than prose: $r")
    assert(r(3L).isEmpty, "empty text has no ratio, not a division error")
    // deterministic: same inputs give bit-identical ratios across
    // partitionings (fixed Deflater settings, no per-run state)
    val a = d.repartition(5)
      .select(TextOps.compressionRatio(col("text")).as("x")).collect()
      .map(x => if (x.isNullAt(0)) -1.0 else x.getDouble(0)).sorted.toSeq
    val b = d.select(TextOps.compressionRatio(col("text")).as("x")).collect()
      .map(x => if (x.isNullAt(0)) -1.0 else x.getDouble(0)).sorted.toSeq
    assert(a == b)
  }

  test("difficulty bins split a group at its quartiles; equal metrics share a bin") {
    // group g: metrics 1..100 → quartile boundaries 25.75/50.5/75.25;
    // group h: all-equal metrics → every doc lands in bin 0
    val d = ((1 to 100).map(i => (i.toLong, "g", i.toLong)) ++
      (101 to 120).map(i => (i.toLong, "h", 7L)))
      .toDF("doc_id", "grp_in", "m")
    val bins = TextOps.difficultyBins(d, col("m"), col("grp_in"),
        col("doc_id"), nBins = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert((1 to 25).forall(i => bins(i.toLong) == 0L))
    assert((26 to 50).forall(i => bins(i.toLong) == 1L))
    assert((51 to 75).forall(i => bins(i.toLong) == 2L))
    assert((76 to 100).forall(i => bins(i.toLong) == 3L))
    assert((101 to 120).forall(i => bins(i.toLong) == 0L),
      "an all-equal group must collapse into one bin, never error")
    // nested refinement: octile cut points contain the quartile ones —
    // quartile bin = octile bin >> 1 for every doc
    val oct = TextOps.difficultyBins(d, col("m"), col("grp_in"),
        col("doc_id"), nBins = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(bins.forall { case (id, b) => oct(id) / 2 == b },
      "quartile bins must be the coarsening of octile bins")
  }

  test("merge-pair stats rank the planted pair first; a merge round removes it") {
    val d = ((1 to 30).map(i => (i.toLong, "new york city")) ++
      (31 to 40).map(i => (i.toLong, "san francisco")) ++
      (41 to 45).map(i => (i.toLong, "york minster"))).toDF("doc_id", "text")
    val stats = TextOps.mergePairStats(d, col("text"), topN = 10).collect()
    assert(stats.head.getString(0) == "new york" && stats.head.getLong(1) == 30)
    // one BPE round: merge the winning pair corpus-wide (map-only
    // rewrite), recount — the merged pair must vanish and the
    // bridging pairs re-form around the new token
    val merged = d.withColumn("text",
      regexp_replace(col("text"), "\\bnew york\\b", "new_york"))
    val next = TextOps.mergePairStats(merged, col("text"), topN = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!next.contains("new york"))
    assert(next("new_york city") == 30L, s"bridged pair must re-form: $next")
    // deterministic under repartitioning
    val a = TextOps.mergePairStats(d.repartition(7), col("text"), 10).collect()
    assert(a.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      stats.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("semantic decontam flags scaled copies of bench vectors, not unrelated ones") {
    // bench item + corpus: two scaled copies (cosine 1 to the bench
    // vector — the "paraphrase" stand-in), the bench vector itself
    // under a corpus id, and orthogonal distractors
    val dim = 64
    def vec(scale: Double, active: Int*): Seq[Double] =
      (0 until dim).map(i => if (active.contains(i)) scale else 0.0)
    val bench = Seq((9000L, vec(1.0, 0, 1, 2))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, vec(0.5, 0, 1, 2)),   // scaled copy → cos 1
      (2L, vec(3.0, 0, 1, 2)),   // scaled copy → cos 1
      (3L, vec(1.0, 10, 11, 12)), // orthogonal
      (4L, vec(1.0, 20))).toDF("vec_id", "embedding")
    val flagged = Similarity.semanticDecontam(corpus, bench,
        threshold = 0.9, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L, 2L),
      s"exactly the scaled copies must flag: $flagged")
    assert(flagged.values.forall(_ == 1L))
    // identical-direction vectors share the bench vector's bucket, so
    // blocking can never lose them (sign bits are equal by
    // construction); the orthogonal ones stay unflagged at any probe
    // width
    val wide = Similarity.semanticDecontam(corpus, bench,
      threshold = 0.9, dim = dim, numPlanes = 12)
    assert(wide.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("z-order: blocks are bounded rectangles; clustered partitions cover disjoint z-runs") {
    // full 64x64 grid replicated — every (x, y) combination present,
    // so any un-clustered blocking would span the whole key range
    val grid = (0 until 4096).map(i => (i.toLong, (i / 64).toLong, (i % 64).toLong))
      .toDF("id", "x", "y")
    val blocks = Layout.zBlocks(grid, col("x"), col("y"),
      bits = 6, blockShift = 6).collect()
    // blockShift=6 leaves x bits 0..2 and y bits 0..2 free inside a
    // block: every block is an exact 8x8 rectangle — THE pruning
    // guarantee (a predicate on either key skips 7/8 of the blocks)
    assert(blocks.length == 64)
    blocks.foreach { r =>
      assert(r.getAs[Long]("max_x") - r.getAs[Long]("min_x") == 7, r.toString)
      assert(r.getAs[Long]("max_y") - r.getAs[Long]("min_y") == 7, r.toString)
      assert(r.getAs[Long]("n") == 64)
    }
    // a y-sorted layout blocked the same way spans the FULL x range in
    // every block — z-order's per-block x-span is 8x tighter here
    val ySorted = grid.select(col("x"), col("y"), shiftright(col("y"), 3).as("blk"))
      .groupBy("blk").agg(max(col("x")) - min(col("x")), lit(0L))
      .collect().map(_.getLong(1)).max
    assert(ySorted == 63L)
    // clusterByZ: range partitions cover DISJOINT z-runs (files prune)
    val parts = Layout.clusterByZ(grid, col("x"), col("y"), bits = 6,
        partitions = 8)
      .select(Layout.zValue(col("x"), col("y"), 6).as("z"),
        spark_partition_id().as("p"))
      .groupBy("p").agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    parts.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"partition z-runs must not overlap: $parts")
      case _ =>
    }
    // zValue is a bijection on the grid (no two cells collide)
    assert(grid.select(Layout.zValue(col("x"), col("y"), 6)).distinct()
      .count() == 4096)
  }

  test("hashed classifier: separates classes, generalizes to held-out docs, repartition-invariant") {
    // two disjoint token populations: "good" docs draw diverse tokens,
    // "bad" docs repeat one boilerplate token — the heuristic label
    // (repetition rule) marks them, the classifier must learn the
    // token→class association well enough to score a HELD-OUT doc of
    // unseen COMBINATIONS of good-class tokens as good
    val train = ((1 to 40).map { i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i")
    } ++ (41 to 80).map { i =>
      (i.toLong, "spam spam spam spam spam")
    }).toDF("doc_id", "text")
    val toks = TextOps.tokens(col("text"))
    val label = size(array_distinct(toks)) * 2 >= size(toks)
    val scored = TextOps.classifierQuality(train, col("text"),
      col("doc_id"), label)
    val byClass = scored
      .withColumn("cls", col("doc_id") <= 40)
      .groupBy("cls").agg(avg(col("clf_score")).as("m"), min(col("is_good")).as("allGood"))
      .collect().map(r => r.getBoolean(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(byClass(true)._1 > byClass(false)._1,
      s"diverse docs must outscore boilerplate: $byClass")
    assert(byClass(true)._2, "every diverse doc must classify good")
    // GENUINE hold-out: model trained on `train` only, held docs
    // scored against it (classifierScored is pure column ops — it
    // scores a static frame the same as a stream) — unseen token
    // COMBINATIONS must classify by their tokens' learned class, the
    // generalization a per-doc heuristic alone cannot provide
    val held = Seq((1000L, "alpha3 beta17 gamma29 delta5 epsilon38"),
      (1001L, "spam spam spam")).toDF("doc_id", "text")
    val weights = TextOps.classifierModel(train, col("text"), label)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hs = graft.streaming.EventStream.classifierScored(held,
        col("text"), col("doc_id"), weights)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(hs(1000L) && !hs(1001L),
      s"held-out docs must classify by their tokens' learned class: $hs")
    // deterministic under repartitioning
    val a = scored
    val b = TextOps.classifierQuality(train.repartition(13), col("text"),
      col("doc_id"), label)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("temperature mix: flattens the head domain, nested in budget, repartition-invariant") {
    val nTok = size(TextOps.tokens(col("text")))
    def mix(b: Long, h: Int = 1) =
      Sampling.temperatureMix(docs, col("lang"), col("doc_id"), nTok, b, h)
    // alpha < 1 must UP-weight low-resource domains: every domain's
    // keep RATE (kept/natural tokens) ordering is the reverse of the
    // natural-share ordering — smaller domains keep a larger fraction
    val natural = docs.select(col("lang"), nTok.cast("long").as("n"))
      .groupBy("lang").agg(sum("n").as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = mix(3000L).groupBy("domain").agg(sum("n_tokens").as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = natural.map { case (d, t) =>
      d -> kept.getOrElse(d, 0L).toDouble / t }
    val head = natural.maxBy(_._2)._1
    val tail = natural.minBy(_._2)._1
    assert(rates(tail) > rates(head),
      s"alpha=1/2 must keep a larger fraction of the smallest domain: $rates")
    // nested in budget; saturates to the full corpus
    val small = mix(3000L); val big = mix(30000L)
    assert(small.select("doc_id").except(big.select("doc_id")).count() == 0)
    assert(small.count() < docs.count())
    assert(mix(100000000L).count() == docs.count())
    // deeper halvings flatten harder: rate_tail/rate_head =
    // (p_head/p_tail)^(1-alpha) grows as alpha shrinks (up to
    // keep-all saturation, hence the >= tolerance)
    val kept4 = mix(3000L, h = 4).groupBy("domain")
      .agg(sum("n_tokens").as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r1 = rates(tail) / rates(head)
    val r4 = (kept4.getOrElse(tail, 0L).toDouble / natural(tail)) /
      (kept4.getOrElse(head, 0L).toDouble / natural(head))
    assert(r4 >= r1 * 0.999,
      s"alpha=1/16 should flatten at least as hard as alpha=1/2: h1=$r1 h4=$r4")
    // deterministic under repartitioning
    val a = mix(3000L)
    val b = Sampling.temperatureMix(docs.repartition(13), col("lang"),
      col("doc_id"), nTok, 3000L, 1)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("length filter drops per-group outliers by percentile cutoffs") {
    val d = (1 to 100).map(i => (i.toLong, ("w " * i).trim))
      .toDF("doc_id", "text").withColumn("grp", lit("g"))
    val kept = TextOps.lengthFilter(d, col("text"), col("grp"),
        col("doc_id"), lo = 0.1, hi = 0.9)
      .collect().map(_.getLong(0)).toSet
    // token counts 1..100: p10 = 10.9, p90 = 90.1 → keep exactly 11..90
    assert(kept == (11 to 90).map(_.toLong).toSet)
  }

  test("hash reservoir: exact per-group size, nested in k, repartition-invariant") {
    val d = docs.select(col("doc_id"), col("lang"))
    val k5 = Sampling.hashReservoir(d, col("lang"), col("doc_id"), 5)
    val k10 = Sampling.hashReservoir(d, col("lang"), col("doc_id"), 10)
    val sizes = k5.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (l, n) => assert(sizes(l) == math.min(5L, n)) }
    assert(k5.except(k10).count() == 0, "k=5 sample must nest inside k=10")
    val k5b = Sampling.hashReservoir(d.repartition(13), col("lang"),
      col("doc_id"), 5)
    assert(k5.except(k5b).count() == 0 && k5b.except(k5).count() == 0)
  }

  test("shard assignment equals the single-cursor reference; repartition-invariant") {
    val nTok = size(TextOps.tokens(col("text")))
    val got = TextOps.assignShards(docs, col("doc_id"), nTok,
      shardTokens = 512L, groups = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // reference: one sequential cursor over the hash order
    val rows = docs.select(col("doc_id"), nTok.cast("long").as("n"),
        Sampling.bucket(col("doc_id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    var pos = 0L
    val ref = rows.map { case (id, n, _) =>
      val out = (id, pos, pos / 512L); pos += n; out }.toSet
    assert(got == ref)
    val got2 = TextOps.assignShards(docs.repartition(17), col("doc_id"), nTok,
      shardTokens = 512L, groups = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got2 == ref)
  }

  test("span cut removes repeated spans, keeps first occurrence and unique tails") {
    val d = Seq(
      (1L, (1 to 12).map(i => s"w$i").mkString(" ")),              // original
      (2L, (1 to 12).map(i => s"w$i").mkString(" ") + " x y"),     // copy + tail
      (3L, ((1 to 8).map(i => s"a$i") ++ Seq("z") ++ (1 to 8).map(i => s"a$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.cutDupSpans(d, col("text"), col("doc_id"), k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.getString(3)))).toMap
    // doc 1 holds every first occurrence — nothing cut
    assert(out(1L) == ((12L, 0L, Some(md5Hex((1 to 12).map(i => s"w$i").mkString(" "))))))
    // doc 2: the five windows over the shared 12-token prefix are dups
    // -> tokens 1..12 cut; the windows touching "x y" are unique
    assert(out(2L) == ((14L, 12L, Some(md5Hex("x y")))))
    // doc 3: within-doc repeat — the second a1..a8 run is cut
    assert(out(3L) == ((17L, 8L,
      Some(md5Hex(((1 to 8).map(i => s"a$i") :+ "z").mkString(" "))))))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("weight resampling: always kept at/above tau, never at zero, nested in tau") {
    val d = (1L to 400L).map(i => (i, (i % 4) * 750000L)).toDF("doc_id", "w")
    def kept(tau: Long) = Sampling.resampleByWeight(d, col("doc_id"), col("w"), tau)
    val atTau = kept(1500000L)
    // w = 2.25e6 >= tau -> bucket·tau < w·1e6 for every bucket < 1e6
    assert(atTau.filter(col("w") === 2250000L).count() == 100)
    assert(atTau.filter(col("w") === 0L).count() == 0)
    val loose = kept(750000L)
    assert(atTau.except(loose).count() == 0, "raising tau must only drop rows")
  }

  test("chunk decomposition: coverage and counts hold across win/stride combos") {
    val d = (1L to 30L).map(n => (n, (1 to n.toInt).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    for ((win, stride) <- Seq((4, 3), (8, 8), (5, 2), (16, 15))) {
      val ch = TextOps.chunkTokens(d, col("text"), col("doc_id"), win, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      (1L to 30L).foreach { n =>
        val want = 1 + math.max(0, math.ceil((n - win).toDouble / stride).toLong)
        val chunks = ch(n).sortBy(_._2)
        assert(chunks.length == want, s"n=$n win=$win stride=$stride")
        // every token index covered (stride <= win in all combos)
        val covered = chunks.flatMap { case (_, idx, len) =>
          idx * stride until idx * stride + len }.toSet
        assert(covered == (0L until n).toSet, s"n=$n win=$win stride=$stride")
        // all chunks are full-width except possibly the tail
        assert(chunks.dropRight(1).forall(_._3 == win))
      }
    }
  }

  test("poly winnow signature matches a hand-rolled reference; short docs fold the chain") {
    val P = 2147483647L
    def tokHash(w: String): Long =
      w.toLowerCase.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % P)
    def winFold(hs: Seq[Long]): Long =
      hs.reduceLeft((a, h) => (a * 131 + h) % P)
    val t1 = (1 to 10).map(i => s"w$i")
    val t2 = Seq("a", "b", "c")
    val d = Seq((1L, t1.mkString(" ")), (2L, t2.mkString(" "))).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        TextOps.minPolyWindowHash(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h1 = t1.map(tokHash)
    assert(got(1L) == (0 to 2).map(i => winFold(h1.slice(i, i + 8))).min)
    // short doc: base-131 fold of the whole token-hash chain from 0
    assert(got(2L) == t2.map(tokHash).foldLeft(0L)((a, h) => (a * 131 + h) % P))
  }

  test("poly simhash recalls planted near-duplicates; exact copies at hamming 0") {
    val pairs = Dedup.polySimhashPairs(planted, col("text"), col("doc_id"))
      .cache()
    // exact copies: identical token multiset -> identical votes -> fp
    // xor = 0, and the pair must surface through band blocking
    val exact = pairs.filter(col("doc_b") === col("doc_a") + 500000L)
    assert(exact.count() == 5)
    assert(exact.filter(col("hamming") =!= 0).count() == 0)
    // near copies (" tail" appended): two extra tokens flip few votes
    val near = pairs.filter(col("doc_b") === col("doc_a") + 600000L)
    assert(near.count() >= 3, "appended-tail near-dups should mostly stay within hamming 3")
    pairs.unpersist()
  }

  test("poly simhash fingerprints are repartition-invariant and fit 31 bits") {
    val a = Dedup.polySimhashFingerprints(docs, col("text"), col("doc_id"))
    val b = Dedup.polySimhashFingerprints(docs.repartition(13), col("text"), col("doc_id"))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    assert(a.filter(col("fp") < 0 || col("fp") >= (1L << 31)).count() == 0)
  }

  test("corpus overlap: identical slices sketch to jaccard 1, disjoint near 0") {
    // two copies of the same slice + one disjoint slice built from
    // reversed token order (different shingles)
    val slice = docs.filter(col("doc_id") < 50).select(col("text"))
    val rev = docs.filter(col("doc_id") < 50)
      .select(concat_ws(" ", reverse(TextOps.tokens(col("text")))).as("text"))
    val corpus = slice.withColumn("grp", lit("a"))
      .unionByName(slice.withColumn("grp", lit("b")))
      .unionByName(rev.withColumn("grp", lit("c")))
    val ov = Dedup.corpusOverlap(corpus, col("text"), col("grp")).cache()
    val ab = ov.filter(col("grp_a") === "a" && col("grp_b") === "b").head()
    assert(ab.getAs[Long]("n_match") == 16L)
    assert(ab.getAs[Double]("jaccard_est") == 1.0)
    val ac = ov.filter(col("grp_a") === "a" && col("grp_b") === "c").head()
    assert(ac.getAs[Long]("n_match") <= 4L,
      s"reversed-token slice should share few sketch components, got ${ac.getAs[Long]("n_match")}")
    ov.unpersist()
  }

  test("snapshot diff labels added/removed/unchanged/recount correctly") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "gamma"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "alpha"), (3L, "gamma"), (5L, "delta"))
      .toDF("doc_id", "text")
    val st = Dedup.snapshotDiff(old, cur, col("text"))
      .collect().map(r => (r.getAs[Long]("n_old"), r.getAs[Long]("n_new"),
        r.getAs[String]("status"))).toSet
    assert(st == Set((1L, 1L, "unchanged"),   // alpha
      (1L, 0L, "removed"),                     // beta
      (2L, 1L, "recount"),                     // gamma: 2 -> 1
      (0L, 1L, "added")))                      // delta
  }

  test("token chunking covers every token; last chunk carries the tail") {
    val d = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val ch = TextOps.chunkTokens(d, col("text"), col("doc_id"), win = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: 11 tokens -> ceil((11-4)/3)=3 extra chunks, sizes 4,4,4,2
    assert(ch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq == Seq(4L, 4L, 4L, 2L))
    // docs at/below the window: exactly one chunk of full size
    assert(ch.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 3L)))
    assert(ch.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 1L)))
    // stride coverage: every token index lands in some chunk
    val covered = ch.filter(_._1 == 1L).flatMap { case (_, idx, n) =>
      (idx * 3 until idx * 3 + n).map(_.toInt) }.toSet
    assert(covered == (0 until 11).toSet)
  }

  test("BM25 ranking: full-overlap doc beats partial beats disjoint") {
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (10L, "apple banana cherry"),            // exact copy of the query
      (11L, "apple banana date elderberry"),   // partial overlap, longer
      (12L, "grape kiwi lemon"),               // disjoint — must not appear
      (13L, "apple apple apple apple apple apple apple apple")
    ).toDF("doc_id", "text")
    val hits = Retrieval.bm25TopK(corpus, col("text"), col("doc_id"),
      corpus.filter(col("doc_id") === 1), col("text"), col("doc_id"), k = 4)
      .collect().map(r => (r.getLong(1), r.getAs[Long]("doc_id")))
    assert(hits.head == (1L, 10L), s"exact copy must rank 1: ${hits.toSeq}")
    assert(hits(1) == (2L, 11L), s"partial overlap must rank 2: ${hits.toSeq}")
    assert(!hits.map(_._2).contains(12L), "disjoint doc retrieved")
    assert(!hits.map(_._2).contains(1L), "query retrieved itself")
    // tf saturation: 8×'apple' scores under the 3-term exact match
    assert(hits.map(_._2).indexOf(13L) > hits.map(_._2).indexOf(10L))
  }

  test("BM25 from the materialized index returns exactly the corpus-path hits") {
    val queries = docs.filter(col("doc_id") % 97 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSet
    val direct = rows(Retrieval.bm25TopK(docs, col("text"), col("doc_id"),
      queries, col("text"), col("doc_id"), k = 5))
    val viaIndex = rows(Retrieval.bm25FromIndex(
      Retrieval.postings(docs, col("text"), col("doc_id")),
      queries, col("text"), col("doc_id"), k = 5))
    assert(direct == viaIndex && direct.nonEmpty)
  }

  test("BM25 on the corpus: k hits per query, no self-retrieval, monotone scores") {
    // near-dup recall is NOT asserted here: the synthetic corpus has a
    // ~31-token vocabulary, so every doc matches every query and the
    // ranking is legitimately decided by length normalization — the
    // controlled-corpus test above pins the overlap semantics
    val queries = planted.filter(col("doc_id").between(5, 9))
    val hits = Retrieval.bm25TopK(planted, col("text"), col("doc_id"),
      queries, col("text"), col("doc_id"), k = 5)
    val perQ = hits.groupBy("q_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 5).count()
    assert(perQ == 0, "every query must return exactly k hits")
    assert(hits.filter(col("doc_id") === col("q_id")).count() == 0)
    // scores non-increasing down each ranking
    import org.apache.spark.sql.expressions.Window
    val mono = hits.withColumn("prev", lag(col("score"), 1)
        .over(Window.partitionBy("q_id").orderBy("rank")))
      .filter(col("prev").isNotNull && col("prev") < col("score")).count()
    assert(mono == 0)
  }

  test("cluster split is leak-free: a near-dup pair never straddles the train/test boundary") {
    val labeled = Seq(
      (1L, 1L), (600001L, 1L),   // a near-dup cluster
      (2L, 2L), (3L, 3L), (600003L, 3L), (4L, 4L))
      .toDF("id", "label")
    val split = Sampling.clusterSplit(labeled, col("id"), col("label"))
    // one split per cluster, by construction of the hash-on-label rule
    val multi = split.groupBy("cluster")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    assert(multi == 0)
    // nested: raising trainPct only moves rows INTO train
    val s80 = Sampling.clusterSplit(labeled, col("id"), col("label"), 80, 10)
      .filter(col("split") === "train").select("doc_id")
    val s90 = Sampling.clusterSplit(labeled, col("id"), col("label"), 90, 5)
      .filter(col("split") === "train").select("doc_id")
    assert(s80.except(s90).count() == 0)
  }

  test("profile: one-pass stats handle nulls and report exact distincts/ranges") {
    val d = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.5), (2L, null), (3L, 2.5), (4L, 7.0), (null, 1.0))
      .toDF("a", "b")
    val p = Profile.numeric(d, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("a").getLong(1) == 5 && p("a").getLong(2) == 1)   // rows, nulls
    assert(p("a").getLong(3) == 4)                              // distinct
    assert(p("b").getLong(2) == 1 && p("b").getLong(3) == 3)
    assert(p("b").getDouble(4) == 1.0 && p("b").getDouble(5) == 7.0)
  }

  test("histogram: fixed-width buckets partition the value range") {
    val d = Seq(0.0, 1.0, 4.9, 5.0, 9.9, 10.0, -0.1).toDF("v")
    val h = Profile.histogram(d, col("v"), width = 5.0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(-1L -> 1L, 0L -> 3L, 1L -> 2L, 2L -> 1L))
  }

  test("bigram LM score orders in-distribution > scrambled > out-of-vocabulary") {
    val target = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the cat sat"),     // model bigrams throughout
      (2L, "sat the cat"),     // same words, one unseen transition
      (3L, "zebra quark xylo") // nothing in the vocabulary
    ).toDF("doc_id", "text")
    val sc = TextOps.bigramLmScore(corpus, target, col("text"), col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("lm_score")).toMap
    assert(sc(1L) > sc(2L) && sc(2L) > sc(3L), sc.toString)
    // hand check doc 1: ("the cat": (1+1)e6/(2+5), "cat sat": (1+1)e6/(1+5))
    assert(sc(1L) == (285714L + 333333L) / 2)
  }

  test("incremental curation keeps only new content, min-id per duplicate") {
    val history = Seq((1L, "seen text one two three four five"))
      .toDF("doc_id", "text")
    val crawl = Seq(
      (1L, "seen text one two three four five"),   // already ingested
      (7L, "fresh text one two three four five"),  // new
      (9L, "fresh text one two three four five"),  // in-batch dup of 7
      (8L, "too short"))                           // fails the quality gate
      .toDF("doc_id", "text")
    val delta = crawl
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .join(history.select(md5(col("text")).as("content_hash")).distinct(),
        Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(struct(col("doc_id"), col("n_tokens"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.n_tokens").as("n_tokens"))
      .filter(col("n_tokens") >= 5)
    assert(delta.collect().map(_.getLong(0)).toSet == Set(7L))
  }

  test("blockhash: identical payloads at hamming 0, single-byte edits ≤ 1, found by banding") {
    val base = docs.select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val exact = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    val edited = base.filter(col("doc_id").between(5, 9))
      .select((col("doc_id") + 800000L).as("doc_id"),
        concat(lit("z"), substring(col("text"), 2, Int.MaxValue)).as("text"))
    val pairs = Multimodal.phashPairs(
      base.unionByName(exact).unionByName(edited), col("text"), col("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSeq
    // every exact copy pairs with its original at hamming 0
    (0L until 5L).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == i + 700000L && p._3 == 0),
        s"exact copy $i not found at hamming 0") }
    // every single-byte edit collides in some band and verifies ≤ 1
    (5L until 10L).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == i + 800000L && p._3 <= 1),
        s"edited copy $i not within hamming 1") }
    // the capped variant still reports every planted pair (star form)
    val capped = Multimodal.phashPairs(
      base.unionByName(exact).unionByName(edited), col("text"), col("doc_id"),
      maxBucket = 4)
    assert(capped.count() >= 10)
  }

  test("cross-corpus near-dup finds every re-keyed history copy; cap keeps smallest ids") {
    val base = docs.select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val hist = base.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 7000000L).as("hist_id"), col("text"))
    val hits = Dedup.crossNearDupLarge(base, hist, col("text"), col("doc_id"),
        col("text"), col("hist_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every even doc hits its exact history copy (all 4 bands equal)
    base.select("doc_id").collect().map(_.getLong(0)).filter(_ % 2 == 0)
      .foreach { i => assert(hits.contains(i), s"doc $i missed its history copy") }
    // capped: buckets shrink to the smallest ids but planted hits survive
    // (ids below the cap threshold are exactly the ones the heap keeps)
    val capped = Dedup.crossNearDupLarge(base, hist, col("text"),
      col("doc_id"), col("text"), col("hist_id"), maxBucket = 8)
    assert(capped.count() > 0)
    val cappedHits = capped.collect().map(r => r.getLong(0)).toSet
    assert(cappedHits.subsetOf(hits.keySet))
  }

  test("best-in-cluster keeps the longest member, ties to the smaller id") {
    val labeled = Seq(
      (1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 30L),  // cluster 1: 2 and 3 tie
      (4L, 4L, 5L))                                  // singleton keeps itself
      .toDF("id", "label", "n_tokens")
    val got = Components.bestInCluster(labeled, col("id"), col("label"),
        col("n_tokens"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L) == (2L, false) && got(2L) == (2L, true) && got(3L) == (2L, false))
    assert(got(4L) == (4L, true))
  }

  test("integer PageRank: hand-computed ranks on a star graph, no mass created") {
    val edges = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L)).toDF("src", "dst")
    val scale = 1000000000000L
    val r1 = Components.pageRank(edges, iters = 1, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val init = scale / 4
    // node 2 receives 3 full shares, node 1 one, nodes 3/4 nothing
    assert(r1(2L) == (15L * init + 85L * 3L * init) / 100L)
    assert(r1(1L) == (15L * init + 85L * init) / 100L)
    assert(r1(3L) == 15L * init / 100L && r1(4L) == r1(3L))
    // floors only ever destroy mass
    val r3 = Components.pageRank(edges, iters = 3, scale)
      .agg(sum(col("rank"))).head().getLong(0)
    assert(r3 <= scale && r3 > scale / 2)
  }

  test("epoch repeat: whole multiples exact, fractional extras hash-deterministic, nested") {
    val d = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "dom")
    // a = 2.0x exactly; b = 1.5x
    val rep = Sampling.epochRepeat(d, col("dom"), col("doc_id"),
      Map("a" -> 2000000L, "b" -> 1500000L))
    val perDoc = rep.groupBy("doc_id", "domain").count()
    // every a-doc exactly twice, epochs 0 and 1
    assert(perDoc.filter(col("domain") === "a" && col("count") =!= 2).count() == 0)
    assert(rep.filter(col("domain") === "a").agg(max("epoch")).head.getLong(0) == 1L)
    // b-docs appear 1 or 2 times; the realized extra rate is near 50%
    val bCounts = perDoc.filter(col("domain") === "b")
    assert(bCounts.filter(col("count") < 1 || col("count") > 2).count() == 0)
    val extras = rep.filter(col("domain") === "b").count() - 500L
    assert(extras > 200L && extras < 300L, s"extra copies $extras of 500")
    // deterministic under repartitioning
    val rep2 = Sampling.epochRepeat(d.repartition(7), col("dom"), col("doc_id"),
      Map("a" -> 2000000L, "b" -> 1500000L))
    assert(rep.exceptAll(rep2).isEmpty && rep2.exceptAll(rep).isEmpty)
    // nested: raising b's factor only ADDS rows
    val more = Sampling.epochRepeat(d, col("dom"), col("doc_id"),
      Map("a" -> 2000000L, "b" -> 1900000L))
    assert(rep.exceptAll(more).isEmpty)
    // factor below 1x degrades to hash sampling (epoch always 0)
    val sampled = Sampling.epochRepeat(d, col("dom"), col("doc_id"),
      Map("a" -> 300000L))
    assert(sampled.agg(max("epoch")).head.getLong(0) == 0L)
    val n = sampled.count()
    assert(n > 100L && n < 200L, s"0.3x of 500 gave $n")
    // unlisted domain vanishes
    assert(sampled.filter(col("domain") === "b").count() == 0)
  }
}
