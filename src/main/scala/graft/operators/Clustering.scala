package graft.operators

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{CachedLeaf, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed clustering operators: connected-components over the near-dup
  * pair graph (the last step of every dedup pipeline — pairs alone don't
  * tell you which rows to keep once duplicates chain a→b→c), and Lloyd's
  * k-means over the embedding corpus (the trained coarse quantizer the IVF
  * index samples in `Similarity.annIvf`).
  *
  * Scale design (100 TB):
  *
  * - `dedup_clusters` runs min-label propagation over the edge list: each
  *   round is one equi-join (edges ⋈ labels on the neighbour id) plus a
  *   map-side-combining min aggregation, the frames never exceed
  *   O(nodes + edges), and the loop converges in O(component diameter)
  *   rounds — near-dup components are shallow (a handful of hops) because
  *   edges come from shared LSH buckets. The driver sees only a per-round
  *   change count (a scalar aggregate), never data. For adversarial deep
  *   chains the same loop admits pointer-jumping (label ← label-of-label)
  *   for O(log n) rounds; not needed for dedup graphs.
  *
  * - `kmeans_embed` is the canonical distributed Lloyd step: centroids are
  *   a broadcast dim (K vectors), assignment is a broadcast join + one
  *   map-side-combining `min_by` per vector, and the centroid update is a
  *   (cell, dim)-keyed partial-sum aggregation — the shuffle carries
  *   K·dim rows, not the corpus. Every pass over the data is a single scan.
  *
  * Cross-engine exactness: vectors are quantized to integers at scale 10^4
  * (coarser than `Similarity`'s 10^7 so that per-cluster component sums,
  * their squares and q·s dot products all stay below 2^53 — exact in both
  * BIGINT and DOUBLE). Iteration-1 distances are pure integers; iteration-2
  * distances against mean centroids are computed as
  * `n2 − 2·dot/c + s2/c²` over exactly-representable integers with an
  * identical operation order in Spark and DuckDB, so the IEEE results (and
  * the argmin tie-break on cell id) match bit-for-bit.
  */
object Clustering extends graft.GateModule {

  // ------------------------------------------------ connected components

  /** Duplicate clusters from verified MinHash-LSH pairs: every document in
    * some near-dup pair, labelled with the smallest doc_id reachable
    * through the pair graph, plus the cluster size. Downstream `keep`
    * policy is then `doc_id == cluster` (keep the canonical representative).
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // memoized like the sibling shared artifacts: every invocation used to
    // re-run the propagation loop and leak its final persisted frame
    graft.Memo.cached(s, "dedup_clusters", dir) {
    val pairs = Dedup.minhashPairsOf(s, dir).select(col("id_a"), col("id_b"))
    val edges = graft.Memo.cachedLeaf(s, "dup_edges", dir)(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    val labels = ccLabels(edges)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    val res = labels.join(sizes, "lab")
      .select(col("id").as("doc_id"), col("lab").as("cluster"), col("csize"))
      .orderBy("doc_id")
      .persist()
    // materialize the result (its lineage is now just the last round's
    // checkpointed leaf + one agg/join); Memo sees an already-persisted
    // frame and will unpersist it on clear() — and the final round's
    // checkpoint is no longer needed once res holds its own blocks
    res.count(): Unit
    labels.unpersist(false)
    res
  }

  /** Min-label connected components over a symmetric `edges(src, dst)`
    * frame → `(id, lab)` for every node that appears as a source (plus a
    * still-cached `chg` round marker, harmless to downstream aggregates).
    * Extracted from [[dedupClusters]] so composed pipelines
    * (`pipeline_e2e`'s survivor-restricted cascade) can propagate over a
    * FILTERED edge set — clusters must not merge through documents an
    * earlier stage already dropped, so the full-corpus cluster frame is
    * the wrong input there. Caller owns unpersisting the returned frame.
    */
  private[operators] def ccLabels(edges: DataFrame): DataFrame = {
    // An r18 A/B routed this through the edge-contraction core
    // ([[ccContract]]): the shallow survivor-restricted graphs here
    // measured WORSE (the incremental pipelines' contracted graphs
    // converge in 2-3 frontier rounds; the hook+flatten machinery costs
    // more actions than it saves) — contraction stays the DEEP-graph
    // variant ([[ccPointerJump]]), frontier propagation stays here.
    // FRONTIER-based min-label propagation: round 1 propagates from the
    // full label set, every later round joins only the labels that CHANGED
    // last round (the frontier, a lazy filter over the round's one cached
    // frame) against the edge list — the frontier shrinks geometrically as
    // components settle, so the per-round edge join decays instead of
    // staying O(edges). The round structure keeps the measured-fast shape:
    // ONE persisted frame and ONE scalar action per round (a three-frame
    // variant with separate cached frontier/labels frames measured 3×
    // slower — per-action overhead dominates at gate scale). Pointer
    // jumping and 2-hops-per-round batching also measured slower here; the
    // deep-graph variant remains [[ccPointerJump]].
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id")).withColumn("chg", lit(true))
    var frontier = labels
    // last round's changed count bounds the frontier size; -1 = unknown
    // (round 1, the full label set)
    var frontierSize = -1L
    val broadcastMax = 1L << 20
    var converged = false
    while (!converged) {
      // candidate improvements: neighbour labels of last round's changed
      // nodes, min-combined per node (map-side), then one equi-join back
      // into the label set; `chg` marks the next frontier in the same
      // pass. When the known frontier size is under the broadcast bound,
      // ship it map-side so the edge table is probed in place instead of
      // shuffled every round (late rounds here; early rounds at
      // production scale still shuffle, which is right).
      val front0 = frontier.select(col("id").as("dst"), col("lab"))
      val front =
        if (frontierSize >= 0L && frontierSize <= broadcastMax)
          broadcast(front0)
        else front0
      val cand0 = edges
        .join(front, "dst")
        .select(col("src").as("id"), col("lab").as("clab"))
        .groupBy(col("id")).agg(min(col("clab")).as("clab"))
      // |cand| ≤ Σ degree(frontier); with the band-graph degree bound a
      // small frontier keeps cand broadcastable — ship it map-side so the
      // label table is probed in place instead of shuffled every round
      // (the conservative 64× degree headroom under the 2^20 bound)
      val cand =
        if (frontierSize >= 0L && frontierSize <= (1L << 14))
          broadcast(cand0)
        else cand0
      // eager localCheckpoint, not persist: persist materializes the data
      // but KEEPS the logical plan, so round r's frame carried r rounds of
      // unrolled lineage — by convergence ~20k plan nodes that every
      // consumer (and every later round) re-analyzed; measured 7 s of pure
      // driver planning on dedup_keep_best with the data fully cached.
      // The checkpoint truncates the plan to a LogicalRDD leaf each round
      // (the [[SuffixArray]] re-wrap lesson).
      val next = labels.select(col("id"), col("lab"))
        .join(cand, Seq("id"), "left")
        .select(col("id"), least(col("lab"), col("clab")).as("lab"),
          (col("clab") < col("lab")).as("chg"))
        .localCheckpoint(true)
      // the convergence test doubles as the only driver feedback: a scalar
      // count of changed labels — no data ever reaches the driver
      // coalesce: over an EMPTY edge set (a survivor-restricted pipeline
      // can filter every pair away) sum aggregates to NULL, not 0
      val changed = next.agg(coalesce(sum(when(col("chg"), 1L)
          .otherwise(0L)), lit(0L)))
        .head().getLong(0)
      converged = changed == 0L
      frontierSize = changed
      // the new round is materialized (the scalar action above) — release
      // the SUPERSEDED round's checkpointed blocks eagerly. Left to GC +
      // ContextCleaner, a slow-converging graph accumulates O(rounds × N)
      // cached blocks (checkpointed frames support unpersist; on round
      // 1's lazy initial frame this is a no-op).
      labels.unpersist(false)
      labels = next
      frontier = next.filter(col("chg")) // lazy filter over the round frame
    }
    labels
  }

  /** Connectivity state shards for the STREAMING components maintainer
    * ([[graft.streaming.StreamCluster]]).
    */
  private[graft] val CcShards = 8

  /** The verified-pair observation stream (shard, a, b) the streaming
    * components maintainer consumes — same memoized pair frame as the
    * batch gate; the shard routes by min endpoint (any edge partition
    * is valid for forest merging).
    */
  private[graft] def pairObs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsOf(s, dir).select(
      pmod(least(col("id_a"), col("id_b")), lit(CcShards.toLong))
        .as("shard"),
      col("id_a").as("a"), col("id_b").as("b"))

  /** The cluster frame (doc_id, cluster, csize) recomputed from
    * MAINTAINED forest edges (a, b) — the read-time merge layer over
    * [[graft.streaming.StreamCluster]]'s per-shard spanning forests:
    * the same frontier propagation as the batch gate, over the (much
    * smaller) forest instead of the raw pair set. Values identical to
    * [[dedupClusters]], so the streaming gate shares its oracle.
    */
  private[graft] def clustersFromForest(forest: DataFrame): DataFrame = {
    // materialize the symmetric edge frame once: the propagation loop
    // takes one action per round, and a lazy edge plan would re-run the
    // upstream stateful forest computation every round (the same reason
    // dedupClusters memoizes its edge frame)
    val edges = forest.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(forest.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val labels = ccLabels(edges)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    // materialize the result eagerly, then release the edge checkpoint
    // and the final propagation round's blocks — this is NOT memoized
    // (every maintained-state read calls it), so leaving either cached
    // accumulates blocks for the session lifetime (review finding, r14).
    // The eager localCheckpoint's own blocks are ContextCleaner-freed
    // once callers drop the returned frame, unlike persist()ed ones.
    val res = labels.join(sizes, "lab")
      .select(col("id").as("doc_id"), col("lab").as("cluster"),
        col("csize"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    labels.unpersist(false)
    edges.unpersist(false)
    res
  }

  /** The split-reassignment report over ANY cluster frame (doc_id,
    * cluster, csize) — ONE definition shared by the batch gate and the
    * maintained-state read, so "split_by_cluster reads maintained state
    * hash-identically" cannot drift.
    */
  private[graft] def splitReport(cl: DataFrame): DataFrame =
    cl.select(col("doc_id"), col("cluster"), col("csize"),
        TrainPrep.splitColOf("doc_id").as("split_old"),
        TrainPrep.splitColOf("cluster").as("split_new"))
      .withColumn("changed",
        when(col("split_old") =!= col("split_new"), 1L).otherwise(0L))
      .orderBy("doc_id")

  /** Oracle CTE chain: transitive closure by recursive CTE — min reachable
    * id is the component label (the graph is undirected: both edge
    * directions are in `edges`). Ends in `comp(doc_id, cluster)` and
    * `sizes(cluster, csize)`; shared with the keep-best canonical
    * selection.
    */
  private[operators] val dedupClustersCtesSql: String = s"""
    ${Dedup.minhashPairsCtesSql},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION SELECT id_b, id_a FROM mh_pairs),
    reach(id, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
    comp AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
    sizes AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY cluster)"""

  val dedupClustersSql: String = s"""
    WITH RECURSIVE $dedupClustersCtesSql
    SELECT doc_id, cluster, csize FROM comp JOIN sizes USING (cluster)
    ORDER BY doc_id"""

  /** Gate: CLUSTER-LEVEL SPLIT REASSIGNMENT — the leakage FIX that the
    * [[Dedup.splitLeakage]] audit points to (the eval-decontamination
    * papers' recommendation: when near-duplicates straddle a
    * train/eval boundary, re-assign by CLUSTER, not by document): every
    * verified near-dup cluster moves wholly to ONE split — the
    * hash-split of its min-member id, which IS the propagation label,
    * so the reassignment needs no extra pass or tie-break. Emits the
    * duplicate-subset docs with old/new split and a changed flag; docs
    * outside any cluster keep their hash split by definition (and are
    * not re-emitted — the output is the delta a pipeline applies).
    *
    * Uses the ONE shared split definition ([[TrainPrep.splitColOf]])
    * applied to the member id and the cluster label — leak-freedom is
    * structural: both ends of every verified pair share a cluster,
    * hence a new split.
    *
    * Scale: one narrow map over the (small) duplicate-subset cluster
    * frame; no new corpus pass, no shuffle beyond what
    * [[dedupClusters]] already built (memoized, shared with keep-best
    * and the cascade).
    */
  def splitByCluster(s: SparkSession, dir: String): DataFrame =
    splitReport(dedupClusters(s, dir))

  val splitByClusterSql: String = s"""
    WITH RECURSIVE $dedupClustersCtesSql
    SELECT comp.doc_id, comp.cluster, sizes.csize,
      ${TrainPrep.splitSqlOf("comp.doc_id")} AS split_old,
      ${TrainPrep.splitSqlOf("comp.cluster")} AS split_new,
      CAST(CASE WHEN ${TrainPrep.splitSqlOf("comp.doc_id")}
             <> ${TrainPrep.splitSqlOf("comp.cluster")}
           THEN 1 ELSE 0 END AS BIGINT) AS changed
    FROM comp JOIN sizes USING (cluster)
    ORDER BY doc_id"""

  /** Canonical selection over the near-dup clusters — the step a dedup
    * pipeline actually ships: per cluster, KEEP the highest-quality member
    * (ties broken toward the smallest doc_id) instead of the arbitrary
    * min-id representative. Composes the propagation components with the
    * [[TextOps]] quality composite; the winner comes from one
    * map-side-combining `max_by` per cluster — no window over the corpus,
    * no driver-side state. At 100 TB the clusters frame is the (small)
    * duplicate subset; quality joins in on doc_id, the natural partition
    * key of both sides.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(s, dir)
    val q = TextOps.qualityDf(s, dir)
    cl.join(q, "doc_id")
      .groupBy(col("cluster"))
      .agg(
        max_by(col("doc_id"),
          struct(col("quality"), (-col("doc_id")).as("nd"))).as("keep_id"),
        max(col("quality")).as("keep_quality"),
        first(col("csize")).as("csize"))
      .orderBy("cluster")
  }

  val dedupKeepBestSql: String = s"""
    WITH RECURSIVE $dedupClustersCtesSql,
    ${TextOps.docQualityCteSql},
    ranked AS (
      SELECT comp.cluster, comp.doc_id, dq.quality,
        row_number() OVER (PARTITION BY comp.cluster
          ORDER BY dq.quality DESC, comp.doc_id) AS rn
      FROM comp JOIN dq USING (doc_id))
    SELECT cluster, doc_id AS keep_id, quality AS keep_quality, csize
    FROM ranked JOIN sizes USING (cluster)
    WHERE rn = 1 ORDER BY cluster"""

  // ------------------------------------------- pointer-jumping components

  /** Apply a pointer map `ptr(lab, lab2)` to a label frame keyed on `lab`
    * WITHOUT a skewed reduce: as components converge, most of a giant
    * component shares ONE label, so a plain shuffle join on `lab` funnels
    * those rows through one reducer (the hot key the r6 verdict flagged —
    * AQE's skew-split absorbed it at gate scale, but the shape was wrong).
    * Two structurally skew-free paths, chosen by the caller from the
    * previous round's scalar frontier count:
    *
    *  - `broadcast`: the map ships to every task and the probe is
    *    map-side — no shuffle on `lab` at all (the common case: the
    *    changed-pointer map shrinks geometrically);
    *  - salted: the map is replicated ×`salt` and the label side joins on
    *    `(lab, hash(id) mod salt)`, spreading any single label over
    *    `salt` reducers deterministically — no reliance on runtime
    *    skew detection.
    */
  private[graft] def applyJump(labels: DataFrame, ptr: DataFrame,
                               useBroadcast: Boolean, salt: Int): DataFrame =
    if (useBroadcast) labels.join(broadcast(ptr), Seq("lab"), "left")
    else {
      val salted = ptr.withColumn("__salt",
        explode(array((0 until salt).map(lit): _*)))
      // salt from the whole row (not a fixed `id` column): callers probe
      // arbitrary frames (labels, edge endpoints, forest targets); any
      // non-`lab` column varies within a hot label, so the hash spreads
      labels.withColumn("__salt",
          pmod(hash(labels.columns.map(col): _*), lit(salt)))
        .join(salted, Seq("lab", "__salt"), "left")
        .drop("__salt")
    }

  /** Connected components by EDGE CONTRACTION — the deep-graph variant of
    * [[dedupClusters]]: per round, hook every contracted node to its min
    * neighbour, partially flatten the hook forest, relabel the edge set
    * through it and drop internal edges. The contracted edge table
    * shrinks geometrically and rounds are O(log diameter) with a small
    * constant (the body comment carries the full argument and the r17→r18
    * measurement that motivated the switch from frontier propagation +
    * path halving).
    *
    * Frames stay O(edges) and shrink; the driver sees one scalar (the
    * contracted-edge count, which is also the convergence test) per
    * round. Every map application goes through [[applyJump]] (broadcast
    * or salted), so no reduce ever keys on a converging hot label.
    */
  def ccPointerJump(edges: DataFrame, jumpBroadcastMax: Long = 1L << 20,
                    salt: Int = 16): DataFrame =
    ccContract(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"),
          col("src").as("dst"))),
      "cluster", withChg = false, jumpBroadcastMax, salt)

  /** The contraction core over an ALREADY-SYMMETRIC edge frame: labels
    * every source node with its component minimum, returned PERSISTED
    * and materialized as `(id, <labName>[, chg])` — the caller owns the
    * unpersist, and gets the persisted frame itself (never a derived
    * select, whose unpersist would be a no-op).
    */
  private def ccContract(und: DataFrame, labName: String, withChg: Boolean,
                         jumpBroadcastMax: Long = 1L << 20,
                         salt: Int = 16): DataFrame = {
    // EDGE-CONTRACTION components (replacing the r17 frontier+halving
    // loop, whose round count was bound by min-wave propagation over
    // graph EDGES — measured 21 rounds on the phash near-dup graph, with
    // an oscillating ~11-round tail of tiny frontiers each paying a full
    // action's fixed cost). Each round:
    //
    //  1. HOOK: every contracted node with a smaller neighbour points to
    //     its MIN neighbour — `ptr(a) = min N(a) < a`, a forest;
    //  2. FLATTEN: self-compose the hook forest (`ptr ← ptr∘ptr`,
    //     reach doubles per application; the composition count grows
    //     with the round index, so a pure n-chain converges in
    //     ~log₂ n rounds and bushy graphs far faster);
    //  3. CONTRACT: relabel BOTH endpoints of the contracted edge set
    //     through the flattened forest and drop now-internal edges — the
    //     edge table SHRINKS geometrically, unlike the former loop whose
    //     every round re-joined the full edge set.
    //
    // Node labels accumulate the same per-round maps lazily (≤ rounds
    // chained map joins over checkpointed leaves) and materialize once
    // at the end. Values are unchanged: hooks only follow edges, so a
    // label is always a node of the same component, and the component
    // MIN never hooks (it has no smaller neighbour) — when the
    // contracted edge set empties, connectivity forces every label in a
    // component to the surviving representative, the min. Rounds are
    // O(log diameter) with a small constant; every per-round frame is
    // either the (shrinking) contracted edge set or the hook forest, and
    // all joins go through [[applyJump]]'s broadcast-or-salted paths —
    // no reduce ever keys on a converging hot label.
    // map-apply through [[applyJump]]: x ← p(x) where present (p is
    // min-monotone, so coalesce is exactly the one-step jump)
    def ap(df: DataFrame, keyCol: String, p: DataFrame, pSize: Long,
           outCol: String): DataFrame = {
      val renamed = df.withColumnRenamed(keyCol, "lab")
      applyJump(renamed, p, pSize <= jumpBroadcastMax, salt)
        .withColumn(outCol, coalesce(col("lab2"), col("lab")))
        .drop("lab", "lab2")
    }
    // eager checkpoint leaves with no size estimate: a bare checkpoint leaf
    // CARRIES the join-compounded size estimate forward, and the chained
    // flatten levels square it per level — measured 33 s of pure BigInt
    // stats planning on the phash graph before the estimate was dropped.
    // Every join in this loop broadcasts or salts EXPLICITLY, so nothing
    // needs the estimate.
    var e = CachedLeaf.checkpoint(und)
    val e0 = e
    var ecount = e.count()
    val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // the label chain: rounds' hook forests applied in sequence, kept
    // LAZY until the loop ends (each ptr is a checkpointed leaf, so the
    // final plan is ≤ rounds map joins over leaves)
    var labels = e0.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
    var round = 0
    while (ecount != 0L) {
      round += 1
      require(round <= 64, s"ccContract: no convergence after 64 " +
        s"contraction rounds ($ecount contracted edges left) — the edge " +
        "frame is growing instead of contracting; check the input for " +
        "nondeterminism")
      // 1. hook to the min neighbour (strictly smaller only — a forest)
      val ptr0 = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
        .filter(col("m") < col("src"))
        .select(col("src").as("lab"), col("m").as("lab2"))
      // 2. flatten: compose the forest with itself; every level hands
      // over as an eager checkpoint LEAF — persisted-but-lazy levels kept
      // their whole stacked plan and the round's analysis cost grew
      // quadratically (measured: 5.4 s of pure driver planning on the
      // chain gate). |ptr| ≤ #contracted nodes ≤ ecount bounds the
      // broadcast decision.
      var ptr = CachedLeaf.checkpoint(ptr0)
      held += ptr
      // composition count grows with the round index: cumulative
      // contraction after r rounds covers chains of Σ 2^(k+1) ≈ 2^(r+2)
      // nodes, so even a pure path converges in O(log n) rounds; levels
      // past the forest's actual depth are identity joins on a shrinking
      // frame (cheap), and bushy graphs converge long before the sum
      // matters
      val flat = round + 1
      for (_ <- 1 to flat) {
        // ptr ∘ ptr: map each entry's TARGET through the same forest
        // (rename first — both sides carry lab/lab2)
        val tgt = ptr.select(col("lab").as("pa"), col("lab2").as("lab"))
        ptr = CachedLeaf.checkpoint(ap(tgt, "lab", ptr, ecount, "pb")
          .select(col("pa").as("lab"), col("pb").as("lab2")))
        held += ptr
      }
      // 3. contract the edge set through the flattened forest
      val eNext = ap(ap(e, "src", ptr, ecount, "s2"), "dst", ptr, ecount,
          "d2")
        .filter(col("s2") =!= col("d2"))
        .select(col("s2").as("src"), col("d2").as("dst"))
        .distinct()
        .transform(CachedLeaf.checkpoint)
      labels = ap(labels, "lab", ptr, ecount, "labx")
        .withColumnRenamed("labx", "lab")
      // superseded edge frames must outlive the lazy label chain only if
      // a ptr depends on them — ptrs are persisted, so the old edge leaf
      // can release as soon as the new one is materialized
      val eOld = e
      e = eNext
      ecount = e.count()
      if (eOld ne e0) eOld.unpersist(false)
    }
    val outCols = Seq(col("id"), col("lab").as(labName)) ++
      (if (withChg) Seq(lit(false).as("chg")) else Nil)
    val res = labels.select(outCols: _*).persist()
    res.count(): Unit
    // everything the (now materialized) result depended on can go
    held.foreach(_.unpersist(false))
    if (e ne e0) e.unpersist(false)
    e0.unpersist(false)
    res
  }

  /** Gate: an adversarially DEEP graph — chains of 51 consecutive doc_ids
    * (edges i→i+1 while i mod 100 < 50). Plain one-hop propagation needs
    * 50 rounds here; the jump loop converges in ~⌈log₂50⌉+2. The oracle is
    * the chain structure's closed form: every node's component is its
    * chain's base — no recursive SQL needed, so the gate checks BOTH the
    * algorithm and its convergence on exactly the graph shape the shallow
    * variant is worst at.
    */
  def ccDeepChain(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"))
    val edges = d.filter(col("doc_id") % 100 < 50)
      .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
    ccPointerJump(edges).select(col("id").as("doc_id"), col("cluster"))
      .orderBy("doc_id")
  }

  val ccDeepChainSql: String = """
    WITH chain AS (
      SELECT doc_id FROM documents WHERE doc_id % 100 < 50
      UNION
      SELECT doc_id + 1 FROM documents WHERE doc_id % 100 < 50)
    SELECT doc_id, (doc_id // 100) * 100 AS cluster
    FROM chain ORDER BY doc_id"""

  // --------------------------------------------------------------- k-means

  /** Quantization scale: coarse enough that Σq², per-cluster Σq and q·Σq
    * stay exactly representable as doubles (< 2^53) at any realistic
    * cluster size; fine enough that assignment boundaries match a float
    * k-means to ~1e-4.
    */
  private val KScale = 10000

  private val KQvecExpr =
    s"transform(embedding, x -> cast(floor(cast(x as double) * $KScale + 0.5) as bigint))"
  private val KQvecSql =
    s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $KScale + 0.5) AS BIGINT))"

  /** Every 97th vector seeds a centroid — deterministic init (k-means++ at
    * scale would sample by distance; determinism keeps the oracle
    * SQL-expressible and the result reproducible run-to-run).
    */
  private val SeedMod = 97

  /** One full Lloyd round (integer-exact assign → mean update) plus the
    * re-assignment against the updated means: `(vec_id, cluster)` for the
    * whole corpus. Memoized per (session, dir) — the assignment doubles as
    * the blocking key of [[dedupSemantic]], and in production it's a
    * persisted index artifact, not a per-query recompute.
    */
  private[operators] def cellsOf(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.Memo.cachedLeaf(s, "kmeans_cells", dir)(assignCells(s, dir))
  }

  /** Coarse-quantized corpus (`vec_id`, `q`, `n2` at [[KScale]]) — the
    * shared input of the k-means trainer, the seeding query and the
    * cluster-quality audit. Memoized like `Similarity.qdf`.
    */
  private def qnOf(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.Memo.cachedLeaf(s, "kmeans_qvecs", dir) {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(KQvecExpr).as("q"))
        .withColumn("n2", expr("q_dot(q, q)"))
    }
  }

  private def assignCells(s: SparkSession, dir: String): DataFrame = {
    val qn = qnOf(s, dir)
    val c0 = qn.filter(col("vec_id") % SeedMod === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    assignCellsFrom(s, dir, c0)
  }

  /** One Lloyd round + re-assignment from an arbitrary seed frame
    * `(cid, cq, cn2)` — shared by the modulus-seeded gate and the
    * k-means||-seeded production path.
    */
  private def assignCellsFrom(s: SparkSession, dir: String,
                              c0: DataFrame): DataFrame = {
    val qn = qnOf(s, dir)
    // round 1: exact integer squared-L2 against the seed vectors
    val a1 = qn.join(broadcast(c0))
      .withColumn("d2", col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))
    // centroid update: (cell, dim)-keyed partial sums — the shuffle carries
    // K·dim rows; the array is re-assembled only for the K centroids
    val px = a1.join(qn, "vec_id")
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "qv")))
    val sums = px.groupBy(col("cell"), col("i")).agg(sum(col("qv")).as("sv"))
    val cnts = a1.groupBy(col("cell")).agg(count(lit(1)).as("c"))
    val c1 = sums.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sv")))),
        x => x.getField("sv")).as("sq"))
      .join(cnts, "cell")
      .withColumn("s2", expr("q_dot(sq, sq)"))
    // round 2: distance to the mean s/c as n2 − 2·dot/c + s2/c² — all
    // inputs exact integers, identical operation order in the oracle
    val d2 = col("n2").cast("double") -
      lit(2.0) * expr("q_dot(q, sq)").cast("double") / col("c").cast("double") +
      col("s2").cast("double") / (col("c").cast("double") * col("c").cast("double"))
    qn.join(broadcast(c1))
      .withColumn("d2", d2)
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cluster"))
  }

  def kmeansEmbed(s: SparkSession, dir: String): DataFrame =
    cellsOf(s, dir).orderBy("vec_id")

  /** Oracle CTE chain ending in `kcells(vec_id, cluster)` — shared by the
    * k-means gate and the semantic-dedup gate.
    */
  /** Oracle prelude at [[KScale]] quantization, ending in
    * `qn(vec_id, q, n2)` — shared by every k-means-family oracle.
    */
  private val KQnSql: String = s"""
    e AS (SELECT vec_id, $KQvecSql AS q FROM embeddings),
    qn AS MATERIALIZED (SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
           FROM e)"""

  /** One-Lloyd-round assignment chain (round-1 integer assign → exact mean
    * update → round-2 IEEE re-assign), parameterized by the seed CTE name
    * and a CTE-name prefix so it composes with chains that already use the
    * default names. Ends in `<p>kcells(vec_id, cluster)`.
    */
  private def kmeansAssignSql(c0: String, p: String = ""): String = s"""
    ${p}d1 AS (
      SELECT vec_id, cid,
        n2 - 2 * CAST(list_sum(list_transform(generate_series(1, len(q)),
          i -> q[i] * cq[i])) AS BIGINT) + cn2 AS d2
      FROM qn, $c0),
    ${p}a1 AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM ${p}d1) WHERE rn = 1),
    ${p}px AS (
      SELECT cell, unnest(q) AS qv,
             unnest(generate_series(0, len(q) - 1)) AS i
      FROM ${p}a1 JOIN qn USING (vec_id)),
    ${p}sums AS (SELECT cell, i, CAST(sum(qv) AS BIGINT) AS sv
             FROM ${p}px GROUP BY 1, 2),
    ${p}cnts AS (SELECT cell, count(*) AS c FROM ${p}a1 GROUP BY cell),
    ${p}c1 AS (
      SELECT cell, list(sv ORDER BY i) AS sq, c
      FROM ${p}sums JOIN ${p}cnts USING (cell) GROUP BY cell, c),
    ${p}c1n AS (SELECT cell, sq, c,
              CAST(list_sum(list_transform(sq, x -> x * x)) AS BIGINT) AS s2
            FROM ${p}c1),
    ${p}d2t AS (
      SELECT vec_id, cell,
        CAST(n2 AS DOUBLE)
          - 2.0 * CAST(dot AS DOUBLE) / CAST(c AS DOUBLE)
          + CAST(s2 AS DOUBLE) / (CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) AS d2
      FROM (
        SELECT qn.vec_id, ${p}c1n.cell, ${p}c1n.c, ${p}c1n.s2, qn.n2,
          CAST(list_sum(list_transform(generate_series(1, len(q)),
            i -> q[i] * sq[i])) AS BIGINT) AS dot
        FROM qn, ${p}c1n)),
    ${p}kcells AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cell AS cluster,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM ${p}d2t) WHERE rn = 1)"""

  private[operators] val kmeansCtesSql: String = s"""
    $KQnSql,
    c0 AS (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM qn
           WHERE vec_id % $SeedMod = 0),
    ${kmeansAssignSql("c0")}"""

  val kmeansEmbedSql: String = s"""
    WITH $kmeansCtesSql
    SELECT vec_id, cluster FROM kcells ORDER BY vec_id"""

  // -------------------------------------------------------- semantic dedup

  /** Cosine threshold for two embeddings to count as semantic duplicates.
    * Deliberately lower than `Similarity.dedupEmbedding`'s LSH threshold:
    * cluster blocking has perfect recall within a cell, so the knob trades
    * aggressiveness, not recall.
    */
  private val SemThreshold = 0.40

  /** Semantic deduplication (the SemDeDup recipe, arXiv:2303.09540): block
    * the corpus by k-means cell, compare all pairs WITHIN a cell with the
    * exact integer cosine, and mark every vector that has a
    * lower-id duplicate above the threshold as droppable (`keep = 0` —
    * the lowest id of each duplicate group is its canonical survivor).
    *
    * Scale shape: the only shuffle keys are the cell id (pair generation —
    * the quadratic term is bounded by the cell size, which the cluster
    * count controls) and the vector id (the keep-aggregation). No
    * all-pairs comparison, no broadcast of anything unbounded; the
    * clusters come from the memoized [[cellsOf]] assignment — in
    * production a persisted artifact of the same k-means that trains the
    * IVF index.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val qn7 = Similarity.qdf(s, dir)
    val m = cellsOf(s, dir).join(qn7, "vec_id")
    val a = m.select(col("cluster"), col("vec_id").as("id_a"),
      col("q").as("qa"), col("n2").as("na"))
    val b = m.select(col("cluster"), col("vec_id").as("id_b"),
      col("q").as("qb"), col("n2").as("nb"))
    val cos = Similarity.cosCol(expr("q_dot(qa, qb)"), col("na"), col("nb"))
    val dupPairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cos >= SemThreshold)
      .select(col("cluster"), col("id_b"))
    m.select(col("cluster"), col("vec_id"))
      .join(dupPairs.groupBy(col("id_b")).agg(count(lit(1)).as("ndup")),
        col("vec_id") === col("id_b"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("ndup").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy("vec_id")
  }

  val dedupSemanticSql: String = s"""
    WITH $kmeansCtesSql,
    e7 AS (SELECT vec_id, ${Similarity.QvecSql} AS q FROM embeddings),
    qn7 AS (SELECT vec_id, q,
              CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
            FROM e7),
    mm AS (SELECT k.vec_id, k.cluster, q, n2
           FROM kcells k JOIN qn7 ON k.vec_id = qn7.vec_id),
    pr AS (
      SELECT b.vec_id AS id_b, a.n2 AS na, b.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(a.q)),
          i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
    dup AS (
      SELECT id_b, count(*) AS ndup FROM pr
      WHERE ${Similarity.PairCosSql} >= $SemThreshold
      GROUP BY 1)
    SELECT mm.vec_id, cluster,
      CASE WHEN dup.id_b IS NULL THEN 1 ELSE 0 END AS keep
    FROM mm LEFT JOIN dup ON mm.vec_id = dup.id_b
    ORDER BY mm.vec_id"""

  // ------------------------------------------------------- cluster quality

  /** Per-cluster cohesion audit over the final assignment: member count
    * and within-cluster sum of squared distances to the (unmaterialized)
    * mean centroid. Uses the algebraic identity Σ‖q−s/c‖² = Σn2 − s2/c —
    * so the audit needs only the per-cluster component sums already shaped
    * like the trainer's centroid update (a (cluster, dim)-keyed shuffle of
    * K·dim rows), never a per-member distance pass. Σn2 and s2 are exact
    * BIGINTs (s2 stays under 2^63 up to ~40k members/cluster at this
    * quantization; beyond that, rescale), and the final doubles are one
    * fixed IEEE expression on both engines.
    */
  def clusterQuality(s: SparkSession, dir: String): DataFrame = {
    val m = cellsOf(s, dir).join(qnOf(s, dir), "vec_id")
    val px = m.select(col("cluster"), posexplode(col("q")).as(Seq("i", "qv")))
    val cs = px.groupBy(col("cluster"), col("i"))
      .agg(sum(col("qv")).as("sv"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sv")))),
        x => x.getField("sv")).as("sq"))
      .withColumn("s2", expr("q_dot(sq, sq)"))
    val st = m.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("n2")).as("sum_n2"))
    val wssRaw = col("sum_n2").cast("double") -
      col("s2").cast("double") / col("n_members").cast("double")
    st.join(cs, "cluster")
      .select(col("cluster"), col("n_members"),
        round(wssRaw, 6).as("wss"),
        round(wssRaw / col("n_members").cast("double"), 6).as("mean_ss"))
      .orderBy("cluster")
  }

  val clusterQualitySql: String = s"""
    WITH $kmeansCtesSql,
    m AS (SELECT k.vec_id, k.cluster, q, n2
          FROM kcells k JOIN qn ON k.vec_id = qn.vec_id),
    px2 AS (SELECT cluster, unnest(q) AS qv,
              unnest(generate_series(0, len(q) - 1)) AS i
            FROM m),
    cs AS (
      SELECT cluster,
        CAST(list_sum(list_transform(list(sv ORDER BY i), x -> x * x))
          AS BIGINT) AS s2
      FROM (SELECT cluster, i, CAST(sum(qv) AS BIGINT) AS sv
            FROM px2 GROUP BY 1, 2)
      GROUP BY cluster),
    st AS (SELECT cluster, count(*) AS n_members,
             CAST(sum(n2) AS BIGINT) AS sum_n2
           FROM m GROUP BY 1)
    SELECT cluster, n_members,
      round(CAST(sum_n2 AS DOUBLE)
        - CAST(s2 AS DOUBLE) / CAST(n_members AS DOUBLE), 6) AS wss,
      round((CAST(sum_n2 AS DOUBLE)
        - CAST(s2 AS DOUBLE) / CAST(n_members AS DOUBLE))
        / CAST(n_members AS DOUBLE), 6) AS mean_ss
    FROM st JOIN cs USING (cluster) ORDER BY cluster"""

  // --------------------------------------------------------- k-means++ init

  /** Seed count for the farthest-point variant (small by design: the gate
    * proves the selection algebra; production uses the same loop at the
    * real K).
    */
  private val PpK = 4

  /** Deterministic k-means++-style seeding (farthest-point / maxmin): seed
    * 0 is the smallest vec_id, each later seed is the vector maximizing
    * the exact integer squared distance to its nearest chosen seed
    * (vec_id tie-break). The classical k-means++ D²-sampling draws from
    * the same distance profile; taking the argmax keeps it deterministic
    * and oracle-checkable while preserving the spread guarantee.
    *
    * Scale: each round is one scan of the corpus against a broadcast of
    * the ≤K chosen seeds (a *filtered plan*, not a collected array) and a
    * map-side-combining min — the driver sees one (id, distance) scalar
    * row per round, never data. K rounds total, same as any sequential
    * seeding; the output frame is K scalar rows.
    */
  def kmeansPp(s: SparkSession, dir: String): DataFrame = {
    val qn = qnOf(s, dir)
    val first = qn.agg(min(col("vec_id"))).head().getLong(0)
    var picked = Vector((first, 0L))
    while (picked.size < PpK) {
      val ids = picked.map(_._1)
      val seeds = broadcast(qn.filter(col("vec_id").isin(ids: _*))
        .select(col("q").as("sq"), col("n2").as("sn2")))
      val best = qn.join(seeds)
        .withColumn("d2",
          col("n2") - lit(2L) * expr("q_dot(q, sq)") + col("sn2"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id")).limit(1).head()
      picked = picked :+ ((best.getLong(0), best.getLong(1)))
    }
    import s.implicits._
    picked.zipWithIndex
      .map { case ((id, d), r) => (r.toLong, id, d) }
      .toDF("rank", "vec_id", "d2")
  }

  private def ppDistSql(v: String, w: String): String =
    s"""$v.n2 - 2 * CAST(list_sum(list_transform(
       generate_series(1, len($v.q)), i -> $v.q[i] * $w.q[i]))
       AS BIGINT) + $w.n2"""

  val kmeansPpSql: String = {
    val rounds = (1 until PpK).map { r =>
      val seedIds = (0 until r).map(i => s"SELECT vec_id FROM p$i")
        .mkString(" UNION ALL ")
      s"""
    s$r AS (SELECT vec_id, q, n2 FROM qn WHERE vec_id IN ($seedIds)),
    d$r AS (SELECT v.vec_id AS vec_id, min(${ppDistSql("v", "w")}) AS dmin
            FROM qn v, s$r w GROUP BY 1),
    p$r AS (SELECT vec_id, dmin FROM d$r ORDER BY dmin DESC, vec_id LIMIT 1)"""
    }.mkString(",")
    val out = (0 until PpK)
      .map(r => s"SELECT CAST($r AS BIGINT) AS rank, vec_id, dmin AS d2 FROM p$r")
      .mkString(" UNION ALL ")
    s"""
    WITH $KQnSql,
    p0 AS (SELECT min(vec_id) AS vec_id, CAST(0 AS BIGINT) AS dmin FROM qn),
    $rounds
    SELECT rank, vec_id, d2 FROM ($out) ORDER BY rank"""
  }

  // ------------------------------------------------------------- k-means||

  /** k-means|| oversampling rounds (Bahmani et al., VLDB 2012: O(log n)
    * rounds suffice; 3 covers any corpus the gate sees and is the knob a
    * production run would raise to ~5 for 100 TB).
    */
  private val PllRounds = 3

  /** Oversampling factor ℓ (the paper's recommendation is ℓ ≈ 2K; the gate
    * selects K = [[PpK]] = 4 final seeds).
    */
  private val PllL = 8.0

  /** Deterministic uniform draw in [0,1) for (vec_id, round): the first 32
    * md5 bits of `"id:round"`, exactly reproducible in SQL.
    */
  private def uExpr(r: Int): String =
    s"cast(conv(substring(md5(concat(cast(vec_id as string), ':$r')), 1, 8), 16, 10) as bigint)"
  private def uSql(r: Int): String =
    s"('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':$r'), 1, 8))::BIGINT"

  /** k-means|| candidate oversampling — the PRODUCTION seeder. Where the
    * farthest-point gate [[kmeansPp]] runs one corpus scan per seed (K
    * serial jobs — unusable at codebook K of 256–4096), this runs a FIXED
    * number of corpus passes independent of K: each round computes every
    * vector's exact integer D² to the current candidate set (one broadcast
    * join + map-side min), reduces the total cost φ to a single driver
    * scalar, and admits each vector independently with probability
    * ℓ·D²/φ — drawn from the deterministic md5 stream above, so the whole
    * sampled trajectory is replayable in SQL. Candidates are then weighted
    * by the size of their nearest-assignment cell, exactly the statistic
    * the final clustering step needs.
    *
    * Scale: per round, the shuffle carries one (vec_id, dmin) row per
    * vector; candidates stay a broadcast-sized filtered plan (expected
    * ℓ per round, never collected); the driver sees one scalar per round.
    */
  private[graft] def kmeansParallelCandidates(
      s: SparkSession, dir: String, l: Double = PllL,
      rounds: Int = PllRounds): DataFrame =
    kmeansParallelCandidatesOver(qnOf(s, dir), l, rounds)

  /** The same sampler over an arbitrary quantized corpus
    * `(vec_id, q, n2)` — the seam the production-constants stress spec
    * drives with a replicated corpus and codebook-scale ℓ.
    */
  private[graft] def kmeansParallelCandidatesOver(
      qn: DataFrame, l: Double = PllL,
      rounds: Int = PllRounds): DataFrame = {
    val first = qn.agg(min(col("vec_id"))).head().getLong(0)
    var cand = qn.filter(col("vec_id") === first)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"), lit(0L).as("round"))
      .persist()
    for (r <- 1 to rounds) {
      val d = qn.join(broadcast(cand.select("cid", "cq", "cn2")))
        .withColumn("dd",
          col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
        .groupBy(col("vec_id")).agg(min(col("dd")).as("dmin"))
        .persist()
      // φ = Σ D² — exact BIGINT (< 2^53, so its double image is exact too)
      val phi = d.agg(sum(col("dmin"))).head().getLong(0)
      // admit iff u < ℓ·D²/φ, evaluated in one fixed IEEE order on both
      // engines; existing candidates have D² = 0 and can never re-enter
      val picked = d
        .filter(expr(uExpr(r)).cast("double") / lit(4294967296.0) <
          lit(l) * col("dmin").cast("double") / lit(phi.toDouble))
        .join(qn, "vec_id")
        .select(col("vec_id").as("cid"), col("q").as("cq"),
          col("n2").as("cn2"), lit(r.toLong).as("round"))
      val next = cand.unionByName(picked).persist()
      next.count(): Unit // materialize before releasing this round's inputs
      d.unpersist(); cand.unpersist()
      cand = next
    }
    val assign = qn.join(broadcast(cand.select("cid", "cq", "cn2")))
      .withColumn("dd",
        col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dd"), col("cid"))).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("weight"))
    cand.select(col("cid").as("cand_id"), col("round"))
      .join(assign, col("cand_id") === col("cid"), "left")
      .select(col("cand_id"), col("round"),
        coalesce(col("weight"), lit(0L)).as("weight"))
  }

  def kmeansParallel(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "kmeans_parallel", dir)(
      kmeansParallelCandidates(s, dir)).orderBy("cand_id")

  private def pllDistSql(v: String, w: String): String =
    s"""$v.n2 - 2 * CAST(list_sum(list_transform(
       generate_series(1, len($v.q)), i -> $v.q[i] * $w.cq[i]))
       AS BIGINT) + $w.cn2"""

  /** Oracle CTE chain: [[PllRounds]] unrolled sampling rounds ending in
    * candidate set `cand$PllRounds` and weights `pw`.
    */
  private[operators] val kmeansPllCtesSql: String = {
    val rounds = (1 to PllRounds).map { r =>
      val prev = s"cand${r - 1}"
      s"""
    d$r AS MATERIALIZED (SELECT v.vec_id AS vec_id,
              min(${pllDistSql("v", "w")}) AS dmin
            FROM qn v, $prev w GROUP BY 1),
    s$r AS (SELECT vec_id FROM d$r
            WHERE CAST(${uSql(r)} AS DOUBLE) / 4294967296.0 <
              $PllL * CAST(dmin AS DOUBLE) /
              CAST((SELECT CAST(sum(dmin) AS BIGINT) FROM d$r) AS DOUBLE)),
    cand$r AS MATERIALIZED (SELECT * FROM $prev UNION ALL
               SELECT vec_id AS cid, q AS cq, n2 AS cn2,
                 CAST($r AS BIGINT) AS round
               FROM qn JOIN s$r USING (vec_id))"""
    }.mkString(",")
    s"""
    cand0 AS MATERIALIZED (SELECT vec_id AS cid, q AS cq, n2 AS cn2,
                CAST(0 AS BIGINT) AS round
              FROM qn WHERE vec_id = (SELECT min(vec_id) FROM qn)),
    $rounds,
    pw AS MATERIALIZED (
      SELECT cid, count(*) AS weight FROM (
        SELECT v.vec_id, w.cid,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY ${pllDistSql("v", "w")}, w.cid) AS rn
        FROM qn v, cand$PllRounds w) WHERE rn = 1 GROUP BY cid)"""
  }

  val kmeansParallelSql: String = s"""
    WITH $KQnSql,
    $kmeansPllCtesSql
    SELECT cid AS cand_id, round, coalesce(weight, 0) AS weight
    FROM cand$PllRounds LEFT JOIN pw USING (cid)
    ORDER BY cand_id"""

  /** Final seed selection: weighted farthest-point over the CANDIDATE set —
    * seed 0 is the heaviest candidate, each next seed maximizes
    * weight·D²(candidate, chosen seeds) (cand id tie-break), the greedy
    * deterministic analog of the paper's weighted k-means++ finish. The
    * candidate set is O(ℓ·rounds) = O(K log n) rows by construction — the
    * one legitimately driver-sized artifact in the pipeline (MLlib's
    * k-means|| finishes the same way), so this runs locally and is still
    * bit-reproducible in SQL over the same CTEs.
    */
  def kmeansParallelSeeds(s: SparkSession, dir: String): DataFrame = {
    val cand = graft.Memo.cachedLeaf(s, "kmeans_parallel", dir)(
      kmeansParallelCandidates(s, dir))
    val qn = qnOf(s, dir)
    val rows = cand.join(qn, cand("cand_id") === qn("vec_id"))
      .select(col("cand_id"), col("weight"), col("q"), col("n2"))
      .collect() // audited-bounded-collect: O(K log n) candidate rows — seed-count-sized metadata, not corpus data
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray,
        r.getLong(3)))
      .sortBy(_._1)
    def d2(a: Array[Long], na: Long, b: Array[Long], nb: Long): Long = {
      var dot = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      na - 2L * dot + nb
    }
    val first = rows.maxBy(r => (r._2, -r._1))
    var chosen = Vector((first._1, first._2 * 0L))
    while (chosen.size < PpK) {
      val ids = chosen.map(_._1).toSet
      val best = rows.filter(r => !ids.contains(r._1))
        .map { r =>
          val dmin = rows.filter(x => ids.contains(x._1))
            .map(x => d2(r._3, r._4, x._3, x._4)).min
          (r._1, r._2 * dmin)
        }
        .maxBy { case (id, wd) => (wd, -id) }
      chosen = chosen :+ best
    }
    import s.implicits._
    chosen.zipWithIndex
      .map { case ((id, wd), rank) => (rank.toLong, id, wd) }
      .toDF("rank", "vec_id", "wd2")
  }

  /** Seed-selection CTEs (weighted maxmin over the candidate set), ending
    * in `q0..q<PpK-1>` — shared by the seeds gate and the seeded-Lloyd
    * gate.
    */
  private val kmeansPllSeedCtesSql: String = {
    val rounds = (1 until PpK).map { r =>
      val seedIds = (0 until r).map(i => s"SELECT vec_id FROM q$i")
        .mkString(" UNION ALL ")
      s"""
    t$r AS MATERIALIZED (SELECT cw.cid, cw.weight,
              min(cw.n2 - 2 * CAST(list_sum(list_transform(
                generate_series(1, len(cw.q)), i -> cw.q[i] * w.q[i]))
                AS BIGINT) + w.n2) AS dmin
            FROM cw, qn w
            WHERE w.vec_id IN ($seedIds) AND cw.cid NOT IN ($seedIds)
            GROUP BY 1, 2),
    q$r AS MATERIALIZED (SELECT cid AS vec_id, weight * dmin AS wd2 FROM t$r
            ORDER BY weight * dmin DESC, cid LIMIT 1)"""
    }.mkString(",")
    s"""
    cw AS MATERIALIZED (SELECT cid, coalesce(weight, 0) AS weight,
             cq AS q, cn2 AS n2
           FROM cand$PllRounds LEFT JOIN pw USING (cid)),
    q0 AS MATERIALIZED (SELECT cid AS vec_id, CAST(0 AS BIGINT) AS wd2 FROM cw
           ORDER BY weight DESC, cid LIMIT 1),
    $rounds"""
  }

  val kmeansParallelSeedsSql: String = {
    val out = (0 until PpK)
      .map(r => s"SELECT CAST($r AS BIGINT) AS rank, vec_id, wd2 FROM q$r")
      .mkString(" UNION ALL ")
    s"""
    WITH $KQnSql,
    $kmeansPllCtesSql,
    $kmeansPllSeedCtesSql
    SELECT rank, vec_id, wd2 FROM ($out) ORDER BY rank"""
  }

  /** The production composition gate: Lloyd assignment seeded from the
    * k-means|| seeds end to end — oracle replays oversampling, weighting,
    * seed selection AND the Lloyd round in one SQL chain.
    */
  val kmeansPllEmbedSql: String = {
    val seedIds = (0 until PpK).map(i => s"SELECT vec_id FROM q$i")
      .mkString(" UNION ALL ")
    s"""
    WITH $KQnSql,
    $kmeansPllCtesSql,
    $kmeansPllSeedCtesSql,
    pc0 AS MATERIALIZED (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM qn
            WHERE vec_id IN ($seedIds)),
    ${kmeansAssignSql("pc0", "p")}
    SELECT vec_id, cluster FROM pkcells ORDER BY vec_id"""
  }

  /** Lloyd assignment seeded from the k-means|| seeds instead of the
    * deterministic modulus — the production composition (spec-proved; the
    * gates keep the modulus seeding so the long oracle chains stay stable).
    */
  private[graft] def kmeansEmbedWithPllSeeds(s: SparkSession,
                                             dir: String): DataFrame = {
    val seedIds = kmeansParallelSeeds(s, dir).select("vec_id")
    val qn = qnOf(s, dir)
    val c0 = qn.join(broadcast(seedIds), "vec_id")
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    assignCellsFrom(s, dir, c0)
  }

  // ------------------------------------------- IVF on the trained codebook

  private val IvfNProbe = 2

  /** IVF search over the k-means||-trained codebook — §7's "k-means|| as
    * the default IVF codebook trainer" landed: the coarse quantizer is the
    * [[PpK]]-seed set the production seeder picks (oversample → cell-weight
    * → weighted maxmin), inverted lists are the nearest-seed assignment,
    * and each probe scans only its [[IvfNProbe]] nearest cells. Plan shape
    * is `Similarity.annIvf`'s — centroids broadcast, assignment one
    * map-side-combining `min_by` per vector, the rank window confined to
    * the probe set — with the trained codebook replacing the modulus
    * sample, so cell populations track the data distribution instead of
    * vec_id arithmetic. The oracle replays the ENTIRE chain in SQL:
    * oversampling rounds, weighting, seed selection, cell assignment and
    * the probed top-k.
    */
  def annIvfKmpll(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn = qnOf(s, dir)
    val seedIds = kmeansParallelSeeds(s, dir).select("vec_id")
    val cents = qn.join(broadcast(seedIds), "vec_id")
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    val asg = qn.join(broadcast(cents))
      .withColumn("d2",
        col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
    val cells = asg.groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"),
        first(col("q")).as("q"), first(col("n2")).as("n2"))
    val pw = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probeCells = Similarity.probesOf(asg)
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= IvfNProbe)
      .select(col("vec_id").as("probe_id"), col("cid").as("pcell"),
        col("q").as("pq"), col("n2").as("pn2"))
    Similarity.topkTail(
      cells.join(broadcast(probeCells),
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id")), k)
  }

  val annIvfKmpllSql: String = {
    val k = 5
    val seedIds = (0 until PpK).map(i => s"SELECT vec_id FROM q$i")
      .mkString(" UNION ALL ")
    s"""
    WITH $KQnSql,
    $kmeansPllCtesSql,
    $kmeansPllSeedCtesSql,
    icents AS MATERIALIZED (
      SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM qn
      WHERE vec_id IN ($seedIds)),
    iasg AS MATERIALIZED (
      SELECT vec_id, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM (
        SELECT qn.vec_id, icents.cid,
          qn.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, len(q)),
            i -> q[i] * cq[i])) AS BIGINT) + icents.cn2 AS d2
        FROM qn, icents)),
    icells AS (SELECT vec_id, cid AS cell FROM iasg WHERE rn = 1),
    iprobes AS (SELECT vec_id, cid AS cell FROM iasg
                WHERE vec_id % 50 = 0 AND vec_id < ${Similarity.ProbeIdBound} AND rn <= $IvfNProbe),
    ipairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qn x
      JOIN iprobes pc ON pc.vec_id = x.vec_id
      JOIN icells cy ON cy.cell = pc.cell
      JOIN qn y ON y.vec_id = cy.vec_id AND y.vec_id <> x.vec_id),
    iscored AS (
      SELECT probe_id, vec_id, ${Similarity.PairCosSql} AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY ${Similarity.PairCosSql} DESC, vec_id) AS rank
      FROM ipairs)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos_raw, 6) AS cos
    FROM iscored WHERE rank <= $k ORDER BY probe_id, rank"""
  }

  // ------------------------------------------------- covariance (whitening)

  private val CovD = 8
  private val CovPairs: Seq[(Int, Int)] =
    for (i <- 1 to CovD; j <- i to CovD) yield (i, j)

  /** Exact covariance of the first [[CovD]] embedding dimensions — the
    * statistic a whitening / PCA stage of an embedding pipeline consumes.
    * All moments (n, per-dim Σq, per-pair Σq·q) are exact BIGINTs from ONE
    * map-side-combining aggregation over the corpus scan (no shuffle wider
    * than a single row); the covariance `(n·Σxy − Σx·Σy) / n²` is then a
    * fixed IEEE expression over those integers, identical in both engines.
    * At 100 TB the full d² moment matrix is d(d+1)/2 extra agg columns on
    * the same single pass — never a second scan.
    */
  def embedCovariance(s: SparkSession, dir: String): DataFrame = {
    val qn = qnOf(s, dir)
    val moments: Seq[org.apache.spark.sql.Column] =
      (1 to CovD).map(i => sum(element_at(col("q"), i)).as(s"s$i")) ++
        CovPairs.map { case (i, j) =>
          sum(element_at(col("q"), i) * element_at(col("q"), j))
            .as(s"p${i}_$j")
        }
    val st = qn.agg(count(lit(1)).as("n"), moments: _*)
    val n = col("n").cast("double")
    val rows = CovPairs.map { case (i, j) =>
      struct(lit(i).as("i"), lit(j).as("j"),
        round((col(s"p${i}_$j").cast("double") * n -
          col(s"s$i").cast("double") * col(s"s$j").cast("double")) / (n * n),
          6).as("cov"))
    }
    st.select(explode(array(rows: _*)).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.cov").as("cov"))
      .orderBy("i", "j")
  }

  val embedCovarianceSql: String = {
    val sums = (1 to CovD)
      .map(i => s"CAST(sum(q[$i]) AS BIGINT) AS s$i").mkString(",\n      ")
    val prods = CovPairs
      .map { case (i, j) =>
        s"CAST(sum(q[$i] * q[$j]) AS BIGINT) AS p${i}_$j"
      }
      .mkString(",\n      ")
    val outs = CovPairs.map { case (i, j) =>
      s"""SELECT $i AS i, $j AS j,
        round((CAST(p${i}_$j AS DOUBLE) * CAST(n AS DOUBLE) -
          CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE)) /
          (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS cov FROM st"""
    }.mkString(" UNION ALL ")
    s"""
    WITH $KQnSql,
    st AS (SELECT count(*) AS n,
      $sums,
      $prods
      FROM qn)
    $outs ORDER BY i, j"""
  }

  // -------------------------------------------------------- dedup cascade

  /** The production dedup CASCADE: exact → MinHash-LSH near-dup →
    * semantic, cheapest stage first, each stage seeing only the previous
    * stage's survivors — with per-document attribution of WHICH stage
    * removed it and by which lower-id partner. This is how the individual
    * dedup operators actually compose in a pipeline (the cascade order is
    * the cost order: a hash groupBy, then a banded bucket join, then
    * cell-blocked cosine), and the attribution census is the statistic
    * that tunes each stage's threshold at 100 TB.
    *
    * Removal rule at the near/semantic stages is pair-level (a document
    * drops if a LOWER-id surviving partner exists — `by_id` the smallest
    * such), matching [[dedupSemantic]]'s survivor convention; transitive-
    * closure clustering stays the separate `dedup_clusters` gate. Exact
    * duplicates are planted by the same every-7th re-key as `dedup_exact`
    * so the stage genuinely fires; planted copies carry no embedding but
    * are removed at stage 1 by construction. All stage filters are
    * doc-id-keyed semi/anti joins over the MEMOIZED pair frames
    * ([[Dedup.minhashPairsOf]], [[cellsOf]]) — the cascade adds no new
    * shuffle shape beyond its member operators.
    */
  def dedupCascade(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextNorm.norm
    val d = Tables.documents(s, dir)
    val planted = d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    val ch = d.unionByName(planted)
      .select(col("doc_id"), md5(norm).as("h"))
    val k1 = ch.groupBy("h").agg(min("doc_id").as("keep_id"))
    val ex = ch.join(k1, "h").select("doc_id", "keep_id")
    val s1 = ex.filter(col("doc_id") === col("keep_id")).select("doc_id")
    val pairs = Dedup.minhashPairsOf(s, dir).select("id_a", "id_b")
    val nr = pairs
      .join(s1.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(s1.withColumnRenamed("doc_id", "id_b"), "id_b")
      .groupBy(col("id_b")).agg(min("id_a").as("by_near"))
      .withColumnRenamed("id_b", "nb_id")
    val s2 = s1.join(nr, s1("doc_id") === nr("nb_id"), "left_anti")
    val qn7 = Similarity.qdf(s, dir)
    val m = cellsOf(s, dir).join(qn7, "vec_id")
    val a = m.select(col("cluster"), col("vec_id").as("id_a"),
      col("q").as("qa"), col("n2").as("na"))
    val b = m.select(col("cluster"), col("vec_id").as("id_b"),
      col("q").as("qb"), col("n2").as("nb"))
    val cos = Similarity.cosCol(expr("q_dot(qa, qb)"), col("na"), col("nb"))
    val spr = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b")).filter(cos >= SemThreshold)
      .select(col("id_a"), col("id_b"))
    val sr = spr
      .join(s2.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(s2.withColumnRenamed("doc_id", "id_b"), "id_b")
      .groupBy(col("id_b")).agg(min("id_a").as("by_sem"))
      .withColumnRenamed("id_b", "sb_id")
    ex.join(nr, ex("doc_id") === nr("nb_id"), "left")
      .join(sr, ex("doc_id") === sr("sb_id"), "left")
      .select(ex("doc_id"),
        when(col("keep_id") < ex("doc_id"), lit("exact"))
          .when(col("nb_id").isNotNull, lit("near"))
          .when(col("sb_id").isNotNull, lit("semantic"))
          .otherwise(lit("kept")).as("stage"),
        when(col("keep_id") < ex("doc_id"), col("keep_id"))
          .when(col("nb_id").isNotNull, col("by_near"))
          .when(col("sb_id").isNotNull, col("by_sem"))
          .as("by_id"))
      .orderBy("doc_id")
  }

  val dedupCascadeSql: String = s"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
    ch AS (SELECT doc_id, md5(${graft.operators.TextNorm.normSql}) AS h
           FROM all_docs),
    k1 AS (SELECT h, min(doc_id) AS keep_id FROM ch GROUP BY h),
    exx AS (SELECT doc_id, keep_id FROM ch JOIN k1 USING (h)),
    s1 AS (SELECT doc_id FROM exx WHERE doc_id = keep_id),
    ${Dedup.minhashPairsCtesSql.trim},
    nr AS (
      SELECT id_b AS nb_id, min(id_a) AS by_near FROM mh_pairs
      WHERE id_a IN (SELECT doc_id FROM s1)
        AND id_b IN (SELECT doc_id FROM s1)
      GROUP BY id_b),
    s2 AS (SELECT doc_id FROM s1
           WHERE doc_id NOT IN (SELECT nb_id FROM nr)),
    $kmeansCtesSql,
    e7 AS (SELECT vec_id, ${Similarity.QvecSql} AS q FROM embeddings),
    qn7 AS (SELECT vec_id, q,
              CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
            FROM e7),
    smm AS (SELECT k.vec_id, k.cluster, q, n2
            FROM kcells k JOIN qn7 ON k.vec_id = qn7.vec_id),
    spr AS (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          a.n2 AS na, b.n2 AS nb,
          CAST(list_sum(list_transform(generate_series(1, len(a.q)),
            i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
        FROM smm a JOIN smm b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      WHERE ${Similarity.PairCosSql} >= $SemThreshold),
    sr AS (
      SELECT id_b AS sb_id, min(id_a) AS by_sem FROM spr
      WHERE id_a IN (SELECT doc_id FROM s2)
        AND id_b IN (SELECT doc_id FROM s2)
      GROUP BY id_b)
    SELECT exx.doc_id,
      CASE WHEN keep_id < exx.doc_id THEN 'exact'
           WHEN nb_id IS NOT NULL THEN 'near'
           WHEN sb_id IS NOT NULL THEN 'semantic'
           ELSE 'kept' END AS stage,
      CASE WHEN keep_id < exx.doc_id THEN keep_id
           WHEN nb_id IS NOT NULL THEN by_near
           WHEN sb_id IS NOT NULL THEN by_sem END AS by_id
    FROM exx
    LEFT JOIN nr ON exx.doc_id = nr.nb_id
    LEFT JOIN sr ON exx.doc_id = sr.sb_id
    ORDER BY exx.doc_id"""

  // ----------------------------------------------- power-iteration PCA

  private val PcaScale = 128

  /** Fixed iteration count — the quality knob: direction error decays as
    * (λ2/λ1)^rounds, so flat spectra (like the synthetic test embeddings,
    * λ2/λ1 ≈ 0.93) converge in RAYLEIGH QUOTIENT long before they converge
    * in direction (the spec pins R(v) ≥ 0.9·λ1 at these 12 rounds). Each
    * round is one corpus scan + a dim-row shuffle, so rounds trade
    * wall-clock for eigengap tolerance linearly.
    */
  private val PcaRounds = 12

  /** Bit budget for the iterated direction vector: after every matvec the
    * components downscale to < 2^PcaVBits, so the next round's partial
    * sums Σ q_i·t stay inside BIGINT up to ~2^(63−18−PcaVBits) ≈ 8·10^9
    * vectors at this quantization — shrink by one bit per corpus doubling
    * beyond that.
    */
  private val PcaVBits = 12

  private val PcaQExpr =
    s"transform(embedding, x -> cast(floor(cast(x as double) * $PcaScale + 0.5) as bigint))"
  private val PcaQSql =
    s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PcaScale + 0.5) AS BIGINT))"

  /** Top singular direction of the embedding matrix (uncentered PCA) by
    * distributed power iteration, integer-exact end to end: round r
    * computes w = (Σ q·qᵀ)·v as t = ⟨q, v⟩ per vector (a map-only corpus
    * pass) followed by Σ q_i·t (a dim-keyed 64-row shuffle with map-side
    * combine) — the Gram matrix is NEVER materialized, so the per-round
    * communication is O(dim), the textbook cluster shape for dominant
    * eigenvector extraction. The float hazard (order-dependent double
    * sums, which are not replayable across engines) is avoided entirely:
    * instead of normalizing, each round downscales w by a power of two
    * chosen from its max bit length ([[PcaVBits]]), with floor division
    * done by the portable `(x − ((x%p+p)%p)) / p` identity — every
    * intermediate is an exact BIGINT on both engines. Rounds are fixed
    * ([[PcaRounds]]) so the DuckDB oracle unrolls them as CTEs.
    *
    * Output: every vector's integer projection onto the converged
    * direction (sign-canonicalized so the largest-magnitude component is
    * positive) — the first whitening/sharding coordinate downstream
    * embedding pipelines key on. The iterate frames are one row each and
    * eagerly materialized per round (the lazy-subtree lesson,
    * [[SuffixArray]]).
    */
  /** One power-iteration run over an integer embedding frame `(vec_id,
    * q)`: [[PcaRounds]] rounds of matvec + bit-budget downscale, returning
    * the one-row converged-direction frame. Shared by the top-direction
    * gate, the deflated second-direction gate and the two-level-scaling
    * variant (which swaps the round body via `round`).
    */
  private def pcaPowerLoop(e: DataFrame)(
      round: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var v = e.orderBy("vec_id").limit(1)
      .select(expr("transform(q, x -> cast(1 as bigint))").as("v"))
      .localCheckpoint(true)
    for (_ <- 1 to PcaRounds) {
      val a = round(e, v)
      v = a.groupBy()
        .agg(transform(array_sort(collect_list(struct(col("i"), col("w")))),
          x => x.getField("w")).as("w"))
        .withColumn("p", expr("cast(power(2, greatest(0, " +
          s"length(bin(array_max(transform(w, x -> abs(x))))) - $PcaVBits)) " +
          "as bigint)"))
        .select(expr(
          "transform(w, x -> cast((x - ((x % p + p) % p)) / p as bigint))")
          .as("v"))
        .localCheckpoint(true)
    }
    v
  }

  /** The single-level matvec round: w_i = Σ q_i·⟨q, v⟩ as one corpus pass
    * + one dim-keyed shuffle with map-side combine.
    */
  private def pcaRoundSingle(e: DataFrame, v: DataFrame): DataFrame =
    e.crossJoin(broadcast(v))
      .select(col("vec_id"), col("q"), expr("q_dot(q, v)").as("t"))
      .select(col("t"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy(col("i")).agg(sum(col("qi") * col("t")).as("w"))

  /** Sign canonicalization: +1 if the largest-magnitude component of the
    * converged direction is positive (first index on ties), else −1.
    */
  private def pcaSign(v: DataFrame): DataFrame =
    v.select(posexplode(col("v")).as(Seq("i", "vi")))
      .orderBy(abs(col("vi")).desc, col("i")).limit(1)
      .select(when(col("vi") < 0, -1L).otherwise(1L).as("g"))

  def embedPcaPower(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(PcaQExpr).as("q"))
    val v = pcaPowerLoop(e)(pcaRoundSingle)
    val sg = pcaSign(v)
    e.crossJoin(broadcast(v)).crossJoin(broadcast(sg))
      .select(col("vec_id"), (col("g") * expr("q_dot(q, v)")).as("proj"))
      .orderBy("vec_id")
  }

  /** The unrolled-CTE oracle chain of one power-iteration run reading the
    * source CTE `src`: round CTEs named `<x>t/a/w/p/v<r>` off the initial
    * direction `<x>v0` (which the caller supplies), one of the two round
    * bodies (single-level or two-level partial-sum scaling).
    */
  private def pcaRoundsSql(src: String, x: String,
                           twoLevel: Boolean): String =
    (1 to PcaRounds).map { r =>
      val pv = if (r == 1) s"${x}v0" else s"${x}v${r - 1}"
      val body = if (!twoLevel) s"""
    ${x}a$r AS (
      SELECT i, CAST(sum(qi * t) AS BIGINT) AS w
      FROM (SELECT t, unnest(q) AS qi,
              unnest(generate_series(1, len(q))) AS i
            FROM ${x}t$r)
      GROUP BY i)"""
      else s"""
    ${x}s$r AS (
      SELECT i, sh, CAST(sum(qi * t) AS BIGINT) AS ws
      FROM (SELECT t, vec_id % $PcaShards AS sh, unnest(q) AS qi,
              unnest(generate_series(1, len(q))) AS i
            FROM ${x}t$r)
      GROUP BY i, sh),
    ${x}pp$r AS (
      SELECT CAST(power(2, greatest(0,
        length(bin(max(abs(ws)))) - $PcaPartBits)) AS BIGINT) AS pp
      FROM ${x}s$r),
    ${x}a$r AS (
      SELECT i, CAST(sum(
          CAST((ws - ((ws % pp + pp) % pp)) / pp AS BIGINT)) AS BIGINT) AS w
      FROM ${x}s$r, ${x}pp$r
      GROUP BY i)"""
      s"""
    ${x}t$r AS (
      SELECT vec_id, q,
        CAST(list_sum(list_transform(generate_series(1, len(q)),
          i -> q[i] * v[i])) AS BIGINT) AS t
      FROM $src, $pv),$body,
    ${x}w$r AS MATERIALIZED (SELECT list(w ORDER BY i) AS w FROM ${x}a$r),
    ${x}p$r AS (
      SELECT CAST(power(2, greatest(0,
        length(bin(list_max(list_transform(w, x -> abs(x))))) - $PcaVBits))
        AS BIGINT) AS p
      FROM ${x}w$r),
    ${x}v$r AS MATERIALIZED (
      SELECT list_transform(w,
        x -> CAST((x - ((x % p + p) % p)) / p AS BIGINT)) AS v
      FROM ${x}w$r, ${x}p$r)"""
    }.mkString(",")

  /** Sign + projection tail of the oracle chain: project `src`'s q onto
    * the converged `<x>v<PcaRounds>` with the canonical sign, as `outCol`.
    */
  private def pcaTailSql(src: String, x: String, outCol: String): String = s"""
    ${x}im AS (
      SELECT vi, i FROM (
        SELECT unnest(v) AS vi,
          unnest(generate_series(1, len(v))) AS i
        FROM ${x}v$PcaRounds)
      ORDER BY abs(vi) DESC, i LIMIT 1),
    ${x}sg AS (SELECT CASE WHEN vi < 0 THEN -1 ELSE 1 END AS g FROM ${x}im)
    SELECT vec_id,
      CAST(g * CAST(list_sum(list_transform(generate_series(1, len(q)),
        i -> q[i] * v[i])) AS BIGINT) AS BIGINT) AS $outCol
    FROM $src, ${x}v$PcaRounds, ${x}sg
    ORDER BY vec_id"""

  val embedPcaPowerSql: String = s"""
    WITH pe AS MATERIALIZED (SELECT vec_id, $PcaQSql AS q FROM embeddings),
    v0 AS MATERIALIZED (
      SELECT list_transform(q, x -> CAST(1 AS BIGINT)) AS v
      FROM (SELECT q FROM pe ORDER BY vec_id LIMIT 1)),
    ${pcaRoundsSql("pe", "", twoLevel = false)},
    ${pcaTailSql("pe", "", "proj")}"""

  // ------------------------------------------- deflated second component

  /** Bit budget of the deflated integer embeddings: matches the ≤ 2^18
    * component budget the round-safety math of [[PcaVBits]] assumes for
    * the source vectors, so the deflated run inherits the same corpus
    * capacity.
    */
  private val PcaDeflBits = 18

  /** Second principal direction by DEFLATION (Hotelling): remove the
    * converged top direction from every vector, then power-iterate the
    * deflated corpus. The projection/normalization division that makes
    * textbook deflation float-hazardous is avoided by SCALED deflation —
    * q' = q·⟨v₁,v₁⟩ − ⟨q,v₁⟩·v₁ is an exact integer multiple of the
    * orthogonal component (⟨q', v₁⟩ = 0 identically), so no division
    * happens at all; a single corpus-max bit-length downscale brings q'
    * back inside the [[PcaDeflBits]] budget with the same floor-division
    * identity both engines share. Output: every vector's integer
    * projection onto the second direction IN THE DEFLATED SPACE — the
    * second whitening coordinate. Overflow audit: |q|≤2^18, |v₁|<2^12 ⇒
    * ⟨v₁,v₁⟩ < 2^30, |q_i·⟨v₁,v₁⟩| < 2^48 and |⟨q,v₁⟩·v₁_i| < 2^48, so
    * q' < 2^49 pre-downscale — inside BIGINT with 14 bits to spare.
    */
  /** One scaled-deflation step: remove direction `v` from every vector of
    * `e` (q' = q·⟨v,v⟩ − ⟨q,v⟩·v — exactly orthogonal, division-free),
    * then one corpus-max bit-length downscale back inside the
    * [[PcaDeflBits]] budget.
    */
  private def pcaDeflateStep(e: DataFrame, v: DataFrame): DataFrame = {
    val nv = v.select(expr("q_dot(v, v)").as("nv"))
    val qd = e.crossJoin(broadcast(v)).crossJoin(broadcast(nv))
      .select(col("vec_id"), col("q"), col("v"), col("nv"),
        expr("q_dot(q, v)").as("t"))
      .select(col("vec_id"),
        expr("zip_with(q, v, (a, b) -> a * nv - t * b)").as("w"))
    val pd = qd.select(explode(col("w")).as("wi"))
      .agg(max(abs(col("wi"))).as("m"))
      .select(expr("cast(power(2, greatest(0, " +
        s"length(bin(m)) - $PcaDeflBits)) as bigint)").as("p"))
    qd.crossJoin(broadcast(pd))
      .select(col("vec_id"), expr(
        "transform(w, x -> cast((x - ((x % p + p) % p)) / p as bigint))")
        .as("q"))
  }

  /** The memoized once-deflated corpus: feeds all 12 second-run rounds
    * plus the final projection (and the third-component gate) —
    * recomputing it per round would re-run the deflation aggregate (a
    * full corpus pass) 13×.
    */
  private def pcaDeflatedCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(PcaQExpr).as("q"))
    graft.Memo.cachedLeaf(s, "pca_defl_e2", dir) {
      pcaDeflateStep(e, pcaPowerLoop(e)(pcaRoundSingle))
    }
  }

  def embedPcaDeflate(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e2 = pcaDeflatedCorpus(s, dir)
    val v2 = pcaPowerLoop(e2)(pcaRoundSingle)
    val sg = pcaSign(v2)
    e2.crossJoin(broadcast(v2)).crossJoin(broadcast(sg))
      .select(col("vec_id"), (col("g") * expr("q_dot(q, v)")).as("proj2"))
      .orderBy("vec_id")
  }

  /** Third principal direction: iterate the deflation (q'' deflates the
    * once-deflated corpus by ITS top direction v₂), then power-iterate
    * again — Hotelling deflation composed twice, every step the same
    * integer-exact machinery. Output: projections onto the third
    * direction in the twice-deflated space.
    */
  def embedPcaThird(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e2 = pcaDeflatedCorpus(s, dir)
    val e3 = graft.Memo.cachedLeaf(s, "pca_defl_e3", dir) {
      pcaDeflateStep(e2, pcaPowerLoop(e2)(pcaRoundSingle))
    }
    val v3 = pcaPowerLoop(e3)(pcaRoundSingle)
    val sg = pcaSign(v3)
    e3.crossJoin(broadcast(v3)).crossJoin(broadcast(sg))
      .select(col("vec_id"), (col("g") * expr("q_dot(q, v)")).as("proj3"))
      .orderBy("vec_id")
  }

  /** Oracle chain of one deflation step: deflate `src` by `vsrc`'s
    * direction into the MATERIALIZED corpus CTE `out` (internal CTEs
    * prefixed `px`).
    */
  private def pcaDeflSql(src: String, vsrc: String, px: String,
                         out: String): String = s"""
    ${px}nv AS (SELECT CAST(list_sum(list_transform(v, x -> x * x))
                  AS BIGINT) AS nv FROM $vsrc),
    ${px}qt AS (
      SELECT vec_id, q, v,
        CAST(list_sum(list_transform(generate_series(1, len(q)),
          i -> q[i] * v[i])) AS BIGINT) AS t
      FROM $src, $vsrc),
    ${px}qd AS MATERIALIZED (
      SELECT vec_id, list_transform(generate_series(1, len(q)),
        i -> q[i] * nv - t * v[i]) AS w
      FROM ${px}qt, ${px}nv),
    ${px}pdb AS (
      SELECT CAST(power(2, greatest(0,
        length(bin(max(abs(wi)))) - $PcaDeflBits)) AS BIGINT) AS p
      FROM (SELECT unnest(w) AS wi FROM ${px}qd)),
    $out AS MATERIALIZED (
      SELECT vec_id, list_transform(w,
        x -> CAST((x - ((x % p + p) % p)) / p AS BIGINT)) AS q
      FROM ${px}qd, ${px}pdb)"""

  private def pcaInitSql(src: String, px: String): String = s"""
    ${px}v0 AS MATERIALIZED (
      SELECT list_transform(q, x -> CAST(1 AS BIGINT)) AS v
      FROM (SELECT q FROM $src ORDER BY vec_id LIMIT 1))"""

  val embedPcaDeflateSql: String = s"""
    WITH pe AS MATERIALIZED (SELECT vec_id, $PcaQSql AS q FROM embeddings),
    ${pcaInitSql("pe", "")},
    ${pcaRoundsSql("pe", "", twoLevel = false)},
    ${pcaDeflSql("pe", s"v$PcaRounds", "", "pe2")},
    ${pcaInitSql("pe2", "d")},
    ${pcaRoundsSql("pe2", "d", twoLevel = false)},
    ${pcaTailSql("pe2", "d", "proj2")}"""

  val embedPcaThirdSql: String = s"""
    WITH pe AS MATERIALIZED (SELECT vec_id, $PcaQSql AS q FROM embeddings),
    ${pcaInitSql("pe", "")},
    ${pcaRoundsSql("pe", "", twoLevel = false)},
    ${pcaDeflSql("pe", s"v$PcaRounds", "", "pe2")},
    ${pcaInitSql("pe2", "d")},
    ${pcaRoundsSql("pe2", "d", twoLevel = false)},
    ${pcaDeflSql("pe2", s"dv$PcaRounds", "d", "pe3")},
    ${pcaInitSql("pe3", "e")},
    ${pcaRoundsSql("pe3", "e", twoLevel = false)},
    ${pcaTailSql("pe3", "e", "proj3")}"""

  // ------------------------------------- two-level partial-sum scaling

  /** Shard count of the two-level gate (the testable stand-in for
    * per-partition pre-aggregation on a cluster — vec_id-keyed so both
    * engines replay the same grouping).
    */
  private val PcaShards = 4

  /** Bit budget of a shard's partial sum before the cross-shard add:
    * chosen LOW enough (2^24 — measured partials run 28–30 bits at sf
    * 0.001–0.1) that the downscale demonstrably fires at test scale; the
    * quantization it costs is invisible (error per component ≤ S·2^cut ≈
    * 2^8 against w ~ 2^30, and w is cut to [[PcaVBits]] bits right
    * after). At 100 TB the budget is the capacity knob: the cross-shard
    * add is bounded by S·2^PcaPartBits regardless of shard row counts,
    * so size it to 63 − log₂(S).
    */
  private val PcaPartBits = 24

  /** Two-level variant of the matvec round: per-shard partial sums of
    * q_i·t are downscaled to [[PcaPartBits]] bits BEFORE the cross-shard
    * add. This removes the single-level capacity wall — with component
    * budget 2^B and direction budget 2^[[PcaVBits]] a single-level sum
    * overflows past ~2^(63−B−[[PcaVBits]]−log₂dim·2) rows TOTAL, while
    * here each SHARD holds that many rows and capacity scales with the
    * shard count (= partitions on a cluster). Costs one extra tiny
    * shuffle round (dim·S rows) and a corpus-independent quantization
    * error bounded by N_shards·2^(bits−[[PcaPartBits]]) per component.
    */
  private def pcaRoundTwoLevel(e: DataFrame, v: DataFrame): DataFrame = {
    val part = e.crossJoin(broadcast(v))
      .select(col("vec_id"), col("q"), expr("q_dot(q, v)").as("t"))
      .select((col("vec_id") % PcaShards).as("sh"), col("t"),
        posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy(col("i"), col("sh")).agg(sum(col("qi") * col("t")).as("ws"))
    val pp = part.agg(max(abs(col("ws"))).as("m"))
      .select(expr("cast(power(2, greatest(0, " +
        s"length(bin(m)) - $PcaPartBits)) as bigint)").as("pp"))
    part.crossJoin(broadcast(pp))
      .select(col("i"),
        expr("cast((ws - ((ws % pp + pp) % pp)) / pp as bigint)").as("wc"))
      .groupBy(col("i")).agg(sum(col("wc")).as("w"))
  }

  /** Top singular direction with two-level partial-sum scaling — the
    * beyond-8·10⁹-vector path of [[embedPcaPower]] (§7 r10 candidate).
    * Same output contract as `embed_pca_power` (integer projections,
    * canonical sign); the hash differs only through the per-round
    * partial-sum quantization, and the spec pins the direction cosine
    * between the two variants.
    */
  def embedPcaTwoLevel(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(PcaQExpr).as("q"))
    val v = pcaPowerLoop(e)(pcaRoundTwoLevel)
    val sg = pcaSign(v)
    e.crossJoin(broadcast(v)).crossJoin(broadcast(sg))
      .select(col("vec_id"), (col("g") * expr("q_dot(q, v)")).as("proj"))
      .orderBy("vec_id")
  }

  val embedPcaTwoLevelSql: String = s"""
    WITH pe AS MATERIALIZED (SELECT vec_id, $PcaQSql AS q FROM embeddings),
    v0 AS MATERIALIZED (
      SELECT list_transform(q, x -> CAST(1 AS BIGINT)) AS v
      FROM (SELECT q FROM pe ORDER BY vec_id LIMIT 1)),
    ${pcaRoundsSql("pe", "", twoLevel = true)},
    ${pcaTailSql("pe", "", "proj")}"""

  // --------------------------------------------------- prototype pruning

  /** Prototype-distance data pruning (Sorscher et al., "Beyond neural
    * scaling laws: beating power law scaling via data pruning", NeurIPS
    * 2022): rank every vector within its cluster by distance to the
    * cluster's mean prototype and flag the most prototypical quarter for
    * pruning — in the data-rich regime the easy (near-prototype) examples
    * carry the least marginal signal, so they prune first. The
    * keep-the-hard-examples complement of [[dedupSemantic]] (which drops
    * near-DUPLICATES; this drops near-REDUNDANT-with-the-prototype mass),
    * sharing the same memoized [[cellsOf]] assignment.
    *
    * Exactness: the member-to-own-prototype comparison multiplies through
    * by c² — `score = n2·c² − 2·c·dot(q, s) + s2` with s the exact
    * component sums — so ranking needs no division and no floats
    * (n2 ≤ 64·KScale², so the product stays far inside BIGINT for any
    * plausible cluster size; beyond ~10⁴ members rescale). The prune cut
    * `rank ≤ ⌈c/4⌉` is the pure-integer test `4·rank ≤ c + 3`.
    *
    * Scale shape: prototype sums are the trainer's own (cluster, dim)-keyed
    * shuffle of K·dim rows; the rank window partitions by cluster (K grows
    * with the corpus, cell size stays bounded — never a low-cardinality
    * window); the K-row prototype frame joins back by broadcast.
    */
  def docPruneProto(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qn = qnOf(s, dir)
    val m = cellsOf(s, dir).join(qn, "vec_id")
    val px = m.select(col("cluster"), posexplode(col("q")).as(Seq("i", "qv")))
    val sums = px.groupBy(col("cluster"), col("i")).agg(sum(col("qv")).as("sv"))
    val proto = sums.groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sv")))),
        x => x.getField("sv")).as("sq"))
      .join(m.groupBy(col("cluster")).agg(count(lit(1)).as("c")), "cluster")
      .withColumn("s2", expr("q_dot(sq, sq)"))
    val scored = m.join(broadcast(proto), "cluster")
      .withColumn("score",
        col("n2") * col("c") * col("c")
          - lit(2L) * col("c") * expr("q_dot(q, sq)") + col("s2"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score"), col("vec_id"))
    scored.withColumn("proto_rank", row_number().over(w))
      .select(col("vec_id"), col("cluster"), col("score"), col("proto_rank"),
        when(col("proto_rank") * 4 <= col("c") + 3, 1L).otherwise(0L)
          .as("pruned"))
      .orderBy("vec_id")
  }

  val docPruneProtoSql: String = s"""
    WITH $kmeansCtesSql,
    m AS (SELECT k.vec_id, k.cluster, q, n2
          FROM kcells k JOIN qn USING (vec_id)),
    ppx AS (SELECT cluster, unnest(q) AS qv,
              unnest(generate_series(0, len(q) - 1)) AS i
            FROM m),
    psums AS (SELECT cluster, i, CAST(sum(qv) AS BIGINT) AS sv
              FROM ppx GROUP BY 1, 2),
    pcnt AS (SELECT cluster, count(*) AS c FROM m GROUP BY 1),
    pc AS (SELECT cluster, list(sv ORDER BY i) AS sq, c
           FROM psums JOIN pcnt USING (cluster) GROUP BY cluster, c),
    pcn AS (SELECT cluster, sq, c,
              CAST(list_sum(list_transform(sq, x -> x * x)) AS BIGINT) AS s2
            FROM pc),
    sc AS (
      SELECT m.vec_id, m.cluster, pcn.c,
        m.n2 * pcn.c * pcn.c
          - 2 * pcn.c * CAST(list_sum(list_transform(
              generate_series(1, len(q)), i -> q[i] * sq[i])) AS BIGINT)
          + pcn.s2 AS score
      FROM m JOIN pcn USING (cluster)),
    rk AS (
      SELECT vec_id, cluster, score, c,
        row_number() OVER (PARTITION BY cluster
          ORDER BY score, vec_id) AS proto_rank
      FROM sc)
    SELECT vec_id, cluster, score, CAST(proto_rank AS INT) AS proto_rank,
      CAST(CASE WHEN proto_rank * 4 <= c + 3 THEN 1 ELSE 0 END AS BIGINT)
        AS pruned
    FROM rk ORDER BY vec_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_prune_proto" -> (docPruneProto(_, _)),
    "dedup_cascade" -> (dedupCascade(_, _)),
    "embed_pca_power" -> (embedPcaPower(_, _)),
    "embed_pca_deflate" -> (embedPcaDeflate(_, _)),
    "embed_pca_third" -> (embedPcaThird(_, _)),
    "embed_pca_twolevel" -> (embedPcaTwoLevel(_, _)),
    "dedup_clusters" -> (dedupClusters(_, _)),
    "dedup_keep_best" -> (dedupKeepBest _),
    "split_by_cluster" -> (splitByCluster _),
    "ann_ivf_kmpll" -> (annIvfKmpll(_, _)),
    "embed_covariance" -> (embedCovariance(_, _)),
    "cc_deep_chain" -> (ccDeepChain _),
    "kmeans_embed" -> (kmeansEmbed(_, _)),
    "kmeans_pp" -> (kmeansPp(_, _)),
    "kmeans_parallel" -> (kmeansParallel(_, _)),
    "kmeans_pll_seeds" -> ((s, d) => kmeansParallelSeeds(s, d).orderBy("rank")),
    "kmeans_pll_embed" -> ((s, d) =>
      kmeansEmbedWithPllSeeds(s, d).orderBy("vec_id")),
    "cluster_quality" -> (clusterQuality(_, _)),
    "dedup_semantic" -> (dedupSemantic(_, _)))

  val oracles: Map[String, String] = Map(
    "doc_prune_proto" -> docPruneProtoSql,
    "dedup_cascade" -> dedupCascadeSql,
    "embed_pca_power" -> embedPcaPowerSql,
    "embed_pca_deflate" -> embedPcaDeflateSql,
    "embed_pca_third" -> embedPcaThirdSql,
    "embed_pca_twolevel" -> embedPcaTwoLevelSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "split_by_cluster" -> splitByClusterSql,
    "ann_ivf_kmpll" -> annIvfKmpllSql,
    "embed_covariance" -> embedCovarianceSql,
    "cc_deep_chain" -> ccDeepChainSql,
    "kmeans_embed" -> kmeansEmbedSql,
    "kmeans_pp" -> kmeansPpSql,
    "kmeans_parallel" -> kmeansParallelSql,
    "kmeans_pll_seeds" -> kmeansParallelSeedsSql,
    "kmeans_pll_embed" -> kmeansPllEmbedSql,
    "cluster_quality" -> clusterQualitySql,
    "dedup_semantic" -> dedupSemanticSql)
}
