package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over the near-duplicate candidate graph — the
  * clustering step big dedup pipelines run after pair generation: a
  * transitive cluster keeps ONE representative, not one winner per
  * pair (pairwise keep-min over-keeps on chains a–b, b–c).
  *
  * Iterative min-label propagation: each round every vertex takes the
  * min label among itself and its neighbors; converges in ≤ graph
  * diameter rounds (near-dup clusters are shallow stars/chains, so a
  * handful). Each round is one join + one partial-agg groupBy — two
  * shuffles on vertex ids, nothing quadratic — and the DataFrame is
  * localCheckpoint'ed per round so 20 rounds don't compound into a
  * 20-deep lineage (the standard Spark label-propagation shape; at
  * cluster scale swap localCheckpoint for reliable checkpointing).
  */
object Components {

  /** vertices: one column `id`; edges: columns `src`, `dst` (both
    * integral; undirected — both orientations are derived). Returns
    * (id, label) as longs, where label = min vertex id reachable — the
    * cluster representative.
    *
    * This operator is the library's one deliberate RDD core (the
    * "genuine per-partition imperative logic" exception — the same
    * reason GraphX is RDD-based). Iterative label propagation is
    * hostile to the DataFrame layer in three measured ways (r9):
    * (1) every round re-plans, re-optimizes and re-shuffles from
    * scratch — partitioning can't be carried across rounds, so each
    * round paid 4 Catalyst exchanges plus AQE stage materialization
    * latency; (2) checkpointed rounds keep their origin plan's
    * Catalyst size estimate, and because joins MULTIPLY child sizes
    * the estimate's bit-length doubles per round — by round ~12 the
    * optimizer burned minutes multiplying million-bit BigInts; (3)
    * the convergence test was a second job per
    * round. The RDD loop fixes all three: one HashPartitioner is
    * reused for adjacency and labels so the neighbor join and the
    * final merge are NARROW (2 shuffles/round: the contribution
    * reduceByKey and the pointer-jump re-key), there is no per-round
    * planning at all, and the changed-count rides a Spark accumulator
    * on the single materializing action.
    *
    * Round semantics: label(v) ← min(label(v), min label among
    * neighbors, label(label(v))). The label(label(v)) POINTER JUMP
    * doubles the reach to the component minimum each round —
    * O(log diameter) rounds. Not optional polish: the sf0.1 d20 gate
    * graph (cosine ≥ 0.3 on embeddings) has diameter > 20, and plain
    * per-hop propagation exhausted maxIter with labels still moving (a
    * silent wrong-answer, caught r9).
    *
    * `checkpointDir`: when set, per-round snapshots use RELIABLE
    * checkpointing into that directory (HDFS/object-store path on a
    * cluster) instead of executor-local storage — localCheckpoint data
    * dies with an executor, which on a 1000-executor preemptible fleet
    * means a lost round cascades into recomputing from a truncated
    * (gone) lineage. Locally the default stays localCheckpoint: same
    * semantics, no filesystem round-trip. Each round's snapshot is
    * persisted BEFORE the checkpoint (so the reliable write reads the
    * cache instead of re-running the round's lineage — Spark otherwise
    * recomputes an unpersisted RDD to write its checkpoint), the
    * previous round's cache is dropped and its checkpoint file deleted
    * once the new round is materialized (cleanCheckpoints is off by
    * default; without this the dir grows one full labels snapshot per
    * round). Setting checkpointDir configures the SparkContext
    * checkpoint dir ONLY when none is set yet — a caller-configured
    * dir is never hijacked.
    *
    * `edgesPerPartition` tunes the data-sized partitioner, the
    * driver union-find fast-path gate (taken only when the directed
    * edge count itself is ≤ this bound — never inferred from the
    * partition count, which the session shuffle-partition config can
    * collapse on arbitrarily large inputs), and the per-partition
    * dedup-set cap (4×); the default keeps partitions a few MB.
    * Tests force the distributed loop on small graphs by lowering
    * it. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          edgesPerPartition: Long = 65536L): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    checkpointDir.foreach(d =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d))
    val reliable = checkpointDir.isDefined
    val MAD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // directed adjacency copies, cached once: the edge COUNT sizes the
    // loop's partitioner below, and the cache stops partitionBy (and
    // the fast-path collect) from recomputing the edge lineage — for
    // a near-dup graph that lineage is the full candidate-pair join,
    // the most expensive input this operator ever receives (a DF-side
    // count(*) is no cheaper: the similarity filter defeats column
    // pruning, so it would re-run the join — measured ~2× the whole
    // CC stage at the 50× rehearsal). Serialized storage halves the
    // boxed-tuple heap footprint during round 0, when this and the
    // deduped adjacency briefly coexist.
    val undRaw = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (s, d) =>
        if (s == d) Iterator.empty else Iterator((s, d), (d, s)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // partitioner sized to the DATA, AQE-style, not blindly to
    // spark.sql.shuffle.partitions: every round runs 2 shuffles over
    // this partitioner, so a 1449-edge dedup graph on a 32-partition
    // config would pay ~8 rounds × 3 stages × 32 near-empty tasks of
    // pure scheduling latency (measured: ~0.5 s/round at gate SF —
    // the whole d95 budget). ~64k edge-endpoints per partition keeps
    // partitions comfortably in memory at any scale; the config value
    // CAPS the count so a 10¹²-edge graph still respects the
    // cluster's chosen parallelism.
    val nConf = spark.sessionState.conf.numShufflePartitions
    val eCount = undRaw.count()
    val nPart = math.min(nConf.toLong,
      eCount / math.max(1L, edgesPerPartition) + 1L).toInt
    if (eCount <= edgesPerPartition) {
      // The whole candidate graph is ≤ ~64k directed copies (a couple
      // MB), so the distributed loop would be pure scheduling overhead
      // (measured ~0.1 s/round × ~18 rounds at gate SF — the entire
      // d95 latency budget). The gate is the edge COUNT itself, not
      // the partitioner collapsing to 1 — spark.sql.shuffle.partitions
      // = 1 also collapses nPart, and gating on that would turn an
      // arbitrarily large edge set into an unbounded driver collect.
      // Collect the BOUNDED edge list and
      // union-find it on the driver — the same bounded-small-state
      // exception as the k-means centroid updates — then label
      // vertices map-side against the broadcast result: the vertex
      // set (which may be huge even when the edge set is tiny) never
      // shuffles at all, and isolates label themselves. Union always
      // hangs the LARGER root under the smaller, so a component's
      // final root IS its min id — the same label the loop computes.
      // Degenerate-input contract matches the loop path: maxIter = 0
      // is only satisfiable on an empty edge set (identity labeling);
      // with edges present both paths fail loudly rather than return
      // labels a 0-round budget could not have produced.
      require(maxIter > 0 || eCount == 0L,
        s"connectedComponents: not converged after $maxIter rounds")
      val es = undRaw.collect()
      undRaw.unpersist(blocking = false)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (c != r) { val n = parent.getOrElse(c, c); parent.update(c, r); c = n }
        r
      }
      es.foreach { case (s, d) =>
        val rs = find(s); val rd = find(d)
        if (rs < rd) parent.update(rd, rs)
        else if (rd < rs) parent.update(rs, rd)
      }
      val lbl = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (s, _) => lbl.update(s, find(s)) }
      val bc = sc.broadcast(lbl)
      return vertices.select(col("id").cast("long")).as[Long].rdd
        .map(v => (v, bc.value.getOrElse(v, v)))
        .toDF("id", "label")
    }
    val part = new org.apache.spark.HashPartitioner(nPart)
    // adjacency keyed by vertex: ONE shuffle (partitionBy), with
    // partition-local BOUNDED dedup — every copy of (s, d) hashes to
    // s's partition, so a per-partition set sees them all. (Replaces
    // the r9 distinct(n) + partitionBy DOUBLE shuffle: distinct keys
    // by the whole pair, so its output partitioning was useless and
    // partitionBy re-shuffled everything by src.) Self-loops dropped:
    // they can never change a min.
    //
    // The set is CAPPED, not spillable: duplicate adjacency entries
    // are semantically harmless here (each round's reduceByKey-min
    // collapses them — a duplicate edge just re-suggests the same
    // label), so dedup is purely a shuffle/join-width optimization
    // and a lossy-on-the-tail dedup stays EXACT. When the config cap
    // (nConf) wins over the data-sized partitioner a partition holds
    // edges/nConf entries — unbounded at the 10¹²-edge scale this
    // operator advertises — and an uncapped in-heap HashSet would OOM
    // where Spark's own spilling aggregates would not. Once the set
    // reaches ~4× edgesPerPartition (~25 MB at the default) the
    // remaining stream passes through deduped only against what the
    // set already holds; escaped duplicates cost shuffle bytes in the
    // contribution round, never correctness.
    val dedupCap = (4L * math.max(1L, edgesPerPartition))
      .min(Int.MaxValue.toLong).toInt
    val und = undRaw
      .partitionBy(part)
      .mapPartitions({ it =>
        val seen = new java.util.HashSet[(Long, Long)]()
        it.filter(e =>
          if (seen.size < dedupCap) seen.add(e) else !seen.contains(e))
      }, preservesPartitioning = true)
      .persist(MAD)
    var labels = vertices.select(col("id").cast("long")).as[Long].rdd
      .map(v => (v, v)).partitionBy(part)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val contrib =
        if (i == 0)
          // round 0 labels are the identity, so label(v) = v: the
          // neighbor contribution is just the reversed edge, no join —
          // and the pointer jump (label(label(v)) = v) is a provable
          // no-op, so it is skipped entirely (one shuffle this round)
          und.map { case (v, to) => (to, v) }
        else {
          // neighbor contributions: und is co-partitioned with labels,
          // so this join is narrow; the re-key to the receiving
          // endpoint lands in the suggestion shuffle below
          val nbr = und.join(labels)
            .map { case (_, (to, lab)) => (to, lab) }
          // pointer jump: (label, v) re-key is the round's second
          // shuffle; the join against labels is then narrow again
          val jump = labels.map { case (v, l) => (l, v) }
            .partitionBy(part).join(labels)
            .map { case (_, (v, ll)) => (v, ll) }
          nbr.union(jump)
        }
      // map-side combine shrinks a 10⁶-degree hub's contributions to
      // one candidate per mapper before the shuffle
      val suggestions = contrib.reduceByKey(part, math.min(_: Long, _: Long))
      val changedAcc = sc.longAccumulator("cc_changed")
      val next = labels.leftOuterJoin(suggestions)
        .mapValues { case (old, s) =>
          val v = s.fold(old)(math.min(old, _))
          if (v < old) changedAcc.add(1L)
          v
        }
      if (reliable) { next.persist(MAD); next.checkpoint() }
      else next.localCheckpoint()
      // ONE action per round: materializes the snapshot (truncating
      // lineage) while the accumulator tallies the changed labels —
      // no separate convergence job. A task retry can only inflate the
      // tally, which costs at most one extra (no-op) round.
      next.count()
      // round i−1 is dead once round i is materialized (the checkpoint
      // truncated next's lineage): free its cache and reliable file
      val prev = labels
      labels = next
      // round 0's action materialized und's cache; the raw directed
      // copies are dead from here (keeping them would double the edge
      // cache footprint for the rest of the loop)
      if (i == 0) undRaw.unpersist(blocking = false)
      if (i > 0) {
        val prevFile = prev.getCheckpointFile
        prev.unpersist(blocking = false)
        if (reliable) prevFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true); ()
        }
      }
      converged = changedAcc.value == 0L
      i += 1
    }
    // degenerate inputs converge trivially: maxIter = 0 (or a vertex
    // set with no edges at all) on an EMPTY edge list is the identity
    // labeling, not a convergence failure
    if (!converged && und.isEmpty()) converged = true
    und.unpersist(blocking = false)
    // an unconverged exit means labels are NOT components — with
    // pointer jumping that needs diameter ≈ 2^maxIter, so this is a
    // config error worth failing loudly over, never silently returning
    require(converged, s"connectedComponents: not converged after $maxIter rounds")
    labels.toDF("id", "label")
  }

  /** Quality-aware cluster representative selection — what production
    * dedup actually keeps: not the min-id member but the BEST one
    * (longest, highest quality score — Dolma/RefinedWeb keep-longest
    * rule). One partial-agg `min(struct(-quality, id))` per cluster
    * (map-side combinable — a 10⁶-member boilerplate cluster
    * pre-shrinks to one candidate per mapper), then a broadcast-sized
    * keeper table joins back on the cluster label. Ties break to the
    * smaller id, so the keeper is deterministic.
    *
    * `labeled`: (id, label) from [[connectedComponents]];
    * `quality`: integral score column on `labeled` (higher = better).
    * Returns (id, label, keeper_id, is_keeper). */
  def bestInCluster(labeled: DataFrame, id: Column, label: Column,
                    quality: Column): DataFrame = {
    val base = labeled.select(id.as("id"), label.as("label"),
      quality.cast("long").as("_q"))
    val keepers = base.groupBy(col("label"))
      .agg(min(struct(negate(col("_q")), col("id"))).as("w"))
      .select(col("label"), col("w").getField("id").as("keeper_id"))
    base.join(keepers, "label")
      .select(col("id"), col("label"), col("keeper_id"),
        (col("id") === col("keeper_id")).as("is_keeper"))
  }

  /** PageRank with a fixed iteration count, pure 64-bit integer
    * arithmetic — the domain/source authority score a curation
    * pipeline feeds into quality weighting (rank a link graph, then
    * up/down-weight documents by their host's rank).
    *
    * Total rank mass starts as `scale` (10¹² µ-units) split evenly;
    * each round every node keeps 15% of the base share and receives
    * 85% of its in-neighbors' contributions, where a node's
    * contribution is rank ÷ out-degree. Every step is an exact
    * integer floor-division (`(r − r mod d) / d` — overflow-free:
    * 85·scale < 2⁶³), so ranks are bit-identical across engines,
    * partitionings, and runs — no float mass sums. Dangling nodes
    * (out-degree 0) leak their mass, the standard simplification;
    * renormalizing each round would need only the same 1-row
    * aggregate used for the node count.
    *
    * `checkpointDir`: as in [[connectedComponents]] — when set, the
    * rank frame is EAGERLY reliably checkpointed every third round
    * (lineage with tens of iterations otherwise compounds into a plan
    * Catalyst re-analyzes per action, and executor loss replays the
    * whole chain). Eager matters: a lazy checkpoint(false) inside the
    * loop never materializes the intermediate snapshots — with
    * spark.checkpoint.checkpointAllMarkedAncestors at its false
    * default only the LAST marked RDD is written at the terminal
    * action, so the promised per-3-rounds fault-tolerance would
    * silently degrade to plan truncation only. Locally the 3-5 round
    * default needs no snapshot at all. The context checkpoint dir is
    * only set when none is configured yet.
    *
    * Scale shape: out-degrees fold into the edge list ONCE before the
    * loop; each iteration is one edges⋈ranks join on src (both sides
    * hash-partitioned on the same key — AQE reuses the edge shuffle
    * across rounds) + one partial-agg sum keyed by dst (a hub with
    * 10⁸ in-links pre-aggregates map-side), + a left join back to the
    * node list. Nothing is ever collected to the driver; with tens of
    * iterations add the [[connectedComponents]] localCheckpoint to cut
    * lineage (3-5 PageRank rounds don't need it). */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L,
               checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach { d =>
      val sc = edges.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
    }
    val intDiv = graft.functions.IntMath.intDiv _
    val e = edges.select(col("src"), col("dst")).distinct()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ej = e.join(outdeg, "src")
    val g = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(g))
      .select(col("id"), intDiv(lit(scale), col("n")).as("init"))
      .withColumn("r", col("init"))
    for (it <- 1 to iters) {
      val sums = ej.join(ranks.select(col("id"), col("r")),
          ej("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(intDiv(col("r"), col("outdeg"))).as("c"))
      ranks = ranks.select(col("id"), col("init"))
        .join(sums, ranks("id") === sums("dst"), "left")
        .select(col("id"), col("init"),
          intDiv(lit(15L) * col("init") + lit(85L) * coalesce(col("c"), lit(0L)),
            lit(100L)).as("r"))
      if (checkpointDir.isDefined && (it % 3 == 0 || it == iters))
        ranks = ranks.checkpoint(eager = true)
    }
    ranks.select(col("id").as("node_id"), col("r").as("rank"))
  }
}
