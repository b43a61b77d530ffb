package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Ledger.{Stage, detail}

/** The INCREMENTAL composed pipeline — the daily operation
  * [[Pipeline]]'s full load is the twin of: an arriving batch flows
  * quality → exact-dedup-vs-base → maintained-components near-dedup →
  * decontaminate → split/truncate → pack/shard DELTA, with the same
  * 9-row conservation ledger. The base corpus is the persisted store:
  * its survivor set, content-hash index, spanning-forest components and
  * pack/shard high-water marks are state a production deployment keeps
  * current ([[graft.streaming.StreamMinhash]] signatures,
  * [[graft.streaming.StreamCluster]] forests); here they are re-derived
  * from the base partition by the SAME stage definitions the full load
  * uses, so base and increment cannot gate differently.
  *
  * Reference analog: the Level-5 incremental apply —
  * `sql/02-bde_control_functions.sql.in:1576 bde_ApplyLevel5Update`
  * (per-table incremental apply against the Level-0 base) and
  * `lib/LINZ/BdeUpload.pm:653 GetLevel5Updates` (dataset ordering of
  * arriving batches); `pipeline_e2e` mirrors the Level-0 full load.
  *
  * Incremental-specific contracts (what the full-load gate cannot see):
  *  - THE EXISTING CORPUS WINS: an increment doc whose content hash is
  *    in the base index, or whose merged component contains ANY base
  *    document, is dropped — base survivors are never retroactively
  *    displaced (append-only stores; `dedup_incremental`'s convention).
  *  - Near-dup components merge over base forest edges PLUS new edges
  *    (the `stream_cluster_maintain` read shape): an increment doc can
  *    bridge two base clusters, and membership is judged on the MERGED
  *    component, not the batch-local one.
  *  - Pack bins CONTINUE per (split, lang) stratum from the base's
  *    cumulative token offset (appends fill the last partial bin);
  *    shard ids continue from the base total at the base layout's
  *    FIXED shard size — the delta never rewrites existing shards.
  *  - Idempotent replay: applying a batch whose documents are already
  *    in the base drops everything at the exact stage — a no-op delta
  *    (spec-pinned via the isBase/isIncr parameterization).
  *
  * Scale (100 TB base, ~0.1% daily batch): the base-state re-derivation
  * here stands in for persisted state — in production the hash index,
  * forest and high-water marks are READ, not recomputed, so every
  * per-batch cost is batch-sized except the two probe joins (batch
  * hashes vs the base index; batch bands vs base band buckets), both
  * broadcast-shaped at daily-batch sizes. The ledger is O(stages)
  * scalar rows.
  */
object PipelineIncr extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Pack-bin token budget — `pack_sequences`' convention. */
  private val Budget = 2048

  /** Batch membership — [[Dedup]]'s incremental convention (every 5th
    * doc, residue 4, plays "today's crawl"); the base is the rest.
    */
  private[operators] val IncrMod = 5
  private[operators] val IncrRes = 4

  def pipelineE2eIncr(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "pipeline_e2e_incr", dir) {
      build(s, dir,
        c => c % IncrMod =!= IncrRes,
        c => c % IncrMod === IncrRes)
    }

  /** Gate: the SAME incremental ledger read from MAINTAINED state — the
    * r15 gap closed: `pipeline_e2e_incr` re-derives the base store with
    * the batch stage aggregations, but the reference's Level-5 apply
    * consumes PERSISTED Level-0 state
    * (`sql/02-bde_control_functions.sql.in:1576 bde_ApplyLevel5Update`
    * against the live table + `bde_control` bookkeeping — it never
    * re-derives the base). Here the three base-state artifacts the
    * delta tail reads flow through the streaming maintainers' state
    * machinery instead of the batch aggregations:
    *
    *  - exact-dedup keep ids from the CONTENT-HASH INDEX fold
    *    ([[graft.streaming.StreamHashIndex]] — min-doc/count state per
    *    distinct content),
    *  - base components from the PER-SHARD SPANNING FORESTS
    *    ([[graft.streaming.StreamCluster]] + the
    *    `clustersFromForest` read-time merge — the
    *    `stream_cluster_maintain` path),
    *  - pack offsets/totals from the PER-STRATUM HIGH-WATER COUNTERS
    *    ([[graft.streaming.StreamHighWater]] — additive fold over
    *    arrival-chunk partials).
    *
    * All three folds are commutative/associative (min, union-find,
    * sum), so the converged state is value-identical to the derived
    * aggregations and the ledger is HASH-IDENTICAL to
    * `pipeline_e2e_incr` (same oracle SQL gates both). The spec drives
    * multi-batch base evolution through the same maintainers with a
    * MemoryStream and pins state convergence.
    */
  def pipelineIncrState(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "pipeline_incr_state", dir) {
      build(s, dir,
        c => c % IncrMod =!= IncrRes,
        c => c % IncrMod === IncrRes,
        maintained = true)
    }

  /** The composed incremental run over ANY (base, increment) partition
    * of the corpus — the gate binds the mod-5 split; the idempotence
    * spec passes `isBase = always` so the "arriving" batch is already
    * stored and must produce an all-zero delta. With
    * `maintained = true` the base store is read through the streaming
    * maintainers' state folds (see [[pipelineIncrState]]) instead of
    * the batch aggregations — same values by fold algebra, so one
    * delta tail serves both.
    */
  private[graft] def build(s: SparkSession, dir: String,
                           isBase: Column => Column,
                           isIncr: Column => Column,
                           maintained: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.streaming.{EdgeObs, HashPart, HwmPart}
    val keepN = TrainPrep.TruncHead + TrainPrep.TruncTail
    val spanK = CorpusFilters.SpanK
    val evalMod = CorpusFilters.EvalMod

    // ---- shared single passes (quality rules, verified pairs, grams).
    // MEMOIZED per (session, dir): they are independent of the
    // (isBase, isIncr) predicates, so the derived-base gate, the
    // maintained-state gate and the idempotence spec share ONE build —
    // in-bench, pipeline_incr_state re-paid the full qf/gram
    // construction pipeline_e2e_incr had just done (measured 80 s vs
    // ~41 s solo before this memo)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("n_tokens", size(split(norm, " ")).cast("long"))
    val qf = Pipeline.qfBase(s, dir)
    val pairs = Dedup.minhashPairsOf(s, dir).select(col("id_a"), col("id_b"))
    // keys shared with Pipeline.pipelineE2e: the gram explosion and the
    // eval gram set are corpus-level (predicate-independent), so the
    // full-load gate and both incremental twins ride ONE build per
    // (session, dir) — before r17 pipeline_e2e re-exploded the corpus
    // grams the incr gates had just built (the base-store memo, verdict
    // r16 minor)
    val grams = graft.Memo.cachedLeaf(s, "pl_grams", dir)(
      SubstringDedup.gramsOf(docs.select(col("doc_id"), col("text")), spanK))
    // the eval gram set feeds BOTH remOf calls (base + batch) —
    // unmaterialized, each call re-ran the distinct over the gram frame
    val evalG = graft.Memo.cachedLeaf(s, "pl_evalg", dir)(
      grams.filter(col("doc_id") % evalMod === 0)
        .select(col("g")).distinct())
    val quality = TextOps.qualityDf(s, dir)

    // span-strip token counts per doc of an id set (shared stage-4 shape)
    def remOf(ids: DataFrame): DataFrame =
      grams.join(ids, "doc_id")
        .join(broadcast(evalG), "g")
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (spanK - 1))).as("t"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_rem"))

    // ---- the persisted base store: stages 1-6 over the base partition
    val bQ = qf.filter(isBase(col("doc_id")) && col("keep"))
    val bH = bQ.withColumn("h", md5(norm))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("h"))
      .persist()
    // exact-dedup keep ids: batch aggregation, or the content-hash-index
    // maintainer's min/count fold (value-identical — min is the keep rule)
    val bKeep =
      if (!maintained)
        bH.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      else graft.streaming.StreamHashIndex.states(
          bH.groupBy(col("h"))
            .agg(min(col("doc_id")).as("keep_doc"),
              count(lit(1)).as("n_docs"))
            .as[HashPart])
        .toDF().select(col("keep_doc").as("keep_id"))
    val b2 = bH.join(bKeep.select(col("keep_id")),
        col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("h"))
      .persist()
    val bIds = b2.select(col("doc_id"))
    val bPairs = pairs
      .join(bIds.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(bIds.withColumnRenamed("doc_id", "id_b"), "id_b")
      .persist()
    // base components: batch frontier propagation, or the per-shard
    // spanning forests' read-time merge (the stream_cluster_maintain
    // path — forests preserve exactly the connectivity of their edges).
    // The raw frame is held so its checkpoint blocks release eagerly at
    // the end (ContextCleaner would get them eventually; the loop-frame
    // lesson says don't wait).
    // bLab is the RAW loop result (checkpointed by ccLabels /
    // clustersFromForest) — the cleanup below unpersists IT; an
    // unpersist on a derived select would be a no-op and leak the
    // round blocks for the session (the embedDedupSweep advice class)
    val bLab =
      if (!maintained)
        Clustering.ccLabels(
          bPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
            .unionByName(bPairs.select(col("id_b").as("src"),
              col("id_a").as("dst"))))
      else {
        val forest = graft.streaming.StreamCluster.forests(
            bPairs.select(
              pmod(least(col("id_a"), col("id_b")),
                lit(Clustering.CcShards.toLong)).as("shard"),
              col("id_a").as("a"), col("id_b").as("b")).as[EdgeObs])
          .toDF()
          .select(explode(col("fedges")).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
        Clustering.clustersFromForest(forest)
      }
    val bLabP =
      (if (!maintained) bLab.select(col("id"), col("lab"))
       else bLab.select(col("doc_id").as("id"), col("cluster").as("lab")))
        .persist()
    val bWin = bLabP
      .join(quality, col("id") === col("doc_id"))
      .groupBy(col("lab"))
      .agg(max_by(col("id"),
        struct(col("quality"), (-col("id")).as("nd"))).as("keep_id"))
    val b3 = b2
      .join(bLabP.select(col("id").as("doc_id"), col("lab")),
        Seq("doc_id"), "left")
      .join(bWin.select(col("keep_id").as("doc_id"), lit(1).as("win")),
        Seq("doc_id"), "left")
      .filter(col("lab").isNull || col("win").isNotNull)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("lab").as("cluster"))
      .persist()
    val bTr = b3.filter(col("doc_id") % evalMod =!= 0)

    // ---- stage 0: arrive — the batch lands untouched
    val i0 = qf.filter(isIncr(col("doc_id")))

    // ---- stage 1: quality — the SAME Gopher rule frame
    val i1 = i0.filter(col("keep"))

    // ---- stage 2: exact dedup against the base hash index, then
    // within the batch (min id per hash)
    val iH = i1.withColumn("h", md5(norm))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("h"))
      .persist()
    val iNew = iH.join(b2.select(col("h")).distinct(), Seq("h"),
        "left_anti")
      .persist()
    val iKeep = iNew.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val i2 = iNew.join(iKeep.select(col("keep_id")),
        col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .persist()

    // ---- stage 3: near-dedup over MERGED components. The merged graph
    // is base-forest edges + new edges touching the batch — but
    // re-propagating over the FULL merged pair set would pay a second
    // corpus-scale component loop per batch (measured: it dominated the
    // gate). Instead the base components CONTRACT to their maintained
    // labels (each base component is ONE node, named by its min-id
    // label — which IS a base doc id), and only the batch-touched
    // subgraph propagates: min over contracted nodes = min over
    // {base-part minima} ∪ {batch ids} = the exact merged-component
    // min, so labels are value-identical to the full propagation (the
    // oracle replays the full merged reach — hash-equal). This is the
    // `stream_cluster_maintain` daily-operation shape: state is read,
    // per-batch work is batch-sized.
    val i2Ids = i2.select(col("doc_id"))
    // ONE node-lookup frame replaces the former six joins (membership ×2,
    // batch flag ×2, contracted label ×2): per survivor id it carries the
    // batch flag and the base label (null for batch ids), so each pair
    // endpoint resolves membership + flag + label in a single equi-join.
    // bIds and i2Ids are disjoint (base residue ≠ batch residue), so node
    // has one row per id and join multiplicities are unchanged.
    val node = bIds.withColumn("ii", lit(0))
      .unionByName(i2Ids.withColumn("ii", lit(1)))
      .join(bLabP.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .localCheckpoint(true)
    val cPairs = pairs
      .join(node.select(col("doc_id").as("id_a"), col("ii").as("ia"),
        col("lab").as("la")), "id_a")
      .join(node.select(col("doc_id").as("id_b"), col("ii").as("ib"),
        col("lab").as("lb")), "id_b")
      .filter(col("ia") === 1 || col("ib") === 1)
      .select(coalesce(col("la"), col("id_a")).as("id_a"),
        coalesce(col("lb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .persist()
    val cEdges = cPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(cPairs.select(col("id_b").as("src"),
        col("id_a").as("dst")))
    val mLab = Clustering.ccLabels(cEdges)
    val mLabP = mLab.select(col("id"), col("lab")).persist()
    val hasBase = mLabP.join(bIds.withColumnRenamed("doc_id", "id"), "id")
      .select(col("lab")).distinct()
      .withColumn("has_base", lit(1))
      .persist()
    val iWin = mLabP.join(i2Ids.withColumnRenamed("doc_id", "id"), "id")
      .join(hasBase.select(col("lab")), Seq("lab"), "left_anti")
      .join(quality, col("id") === col("doc_id"))
      .groupBy(col("lab"))
      .agg(max_by(col("id"),
        struct(col("quality"), (-col("id")).as("nd"))).as("keep_id"))
    val i3c = i2
      .join(mLabP.select(col("id").as("doc_id"), col("lab")),
        Seq("doc_id"), "left")
      .join(hasBase, Seq("lab"), "left")
      .join(iWin.select(col("keep_id").as("doc_id"), lit(1).as("win")),
        Seq("doc_id"), "left")
      .persist()
    val i3 = i3c
      .filter(col("lab").isNull ||
        (col("has_base").isNull && col("win").isNotNull))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("lab").as("cluster"))
      .persist()

    // ---- stage 4: decontaminate — eval docs out, shared spans counted.
    // ONE remOf pass serves base and batch: the two survivor id sets are
    // disjoint, so the per-doc strip counts over their union split back
    // exactly by the join key — this halves the gram-join/explode/
    // distinct chain (the heaviest stage-4 work) per gate.
    val iTr = i3.filter(col("doc_id") % evalMod =!= 0)
    // eager checkpoint: remAll's lineage spans BOTH survivor sides (the
    // whole merged-component subtree rides in through iTr) — persisted
    // lazy, every ledger branch that touches b4/bOff/bTot re-ANALYZES
    // that full tree (measured +17 s of pure driver planning); the
    // checkpoint hands the per-doc strip counts over as a leaf
    val remAll = remOf(bTr.select(col("doc_id"))
        .unionByName(iTr.select(col("doc_id"))))
      .localCheckpoint(true)
    val b4 = bTr.join(remAll, Seq("doc_id"), "left")
      .withColumn("n_clean",
        col("n_tokens") - coalesce(col("n_rem"), lit(0L)))
      .withColumn("split",
        when(col("cluster").isNotNull, TrainPrep.splitColOf("cluster"))
          .otherwise(TrainPrep.splitColOf("doc_id")))
      .withColumn("n_after",
        when(col("n_clean") > keepN, lit(keepN + 1).cast("long"))
          .otherwise(col("n_clean")))
      .withColumn("strat", concat(col("split"), lit(":"), col("lang")))
      .localCheckpoint(true)
    // pack offsets/totals: batch aggregation, or the high-water-mark
    // counter fold over arrival-chunk partials (adds are additive — the
    // chunking by doc_id mod 3 stands in for the base's historical
    // loads; the converged counters cannot depend on it)
    var hwmFrame: Option[DataFrame] = None
    val (bOff, bTot) =
      if (!maintained)
        (b4.groupBy(col("strat"))
          .agg(sum(col("n_after")).as("base_off")),
         b4.agg(count(lit(1)).as("base_docs"),
           coalesce(sum(col("n_after")), lit(0L)).as("base_total")))
      else {
        val hwm = graft.streaming.StreamHighWater.states(
            b4.groupBy(col("strat"), pmod(col("doc_id"), lit(3L)).as("ch"))
              .agg(count(lit(1)).as("n_docs"),
                sum(col("n_after")).as("n_tokens"))
              .select(col("strat"), col("n_docs"), col("n_tokens"))
              .as[HwmPart])
          .toDF()
          // per-group emissions within one batch fold monotonically; the
          // converged state row per stratum is the LAST (max) counter
          .groupBy(col("strat"))
          .agg(max(col("n_docs")).as("n_docs"),
            max(col("n_tokens")).as("n_tokens"))
          .localCheckpoint(true)
        // held for the end-of-build unpersist: the checkpoint blocks must
        // release eagerly with the other per-call frames, not wait for
        // ContextCleaner GC (advice finding, r16)
        hwmFrame = Some(hwm)
        (hwm.select(col("strat"), col("n_tokens").as("base_off")),
         hwm.agg(coalesce(sum(col("n_docs")), lit(0L)).as("base_docs"),
           coalesce(sum(col("n_tokens")), lit(0L)).as("base_total")))
      }
    val i4 = iTr.join(remAll, Seq("doc_id"), "left")
      .withColumn("n_clean",
        col("n_tokens") - coalesce(col("n_rem"), lit(0L)))

    // ---- stages 5-8 on one enriched frame: split (merged-cluster
    // corrected), truncate, pack DELTA, shard DELTA
    val en0 = i4
      .withColumn("split",
        when(col("cluster").isNotNull, TrainPrep.splitColOf("cluster"))
          .otherwise(TrainPrep.splitColOf("doc_id")))
      .withColumn("moved",
        when(col("cluster").isNotNull &&
          TrainPrep.splitColOf("cluster") =!= TrainPrep.splitColOf("doc_id"),
          1L).otherwise(0L))
      .withColumn("n_after",
        when(col("n_clean") > keepN, lit(keepN + 1).cast("long"))
          .otherwise(col("n_clean")))
      .withColumn("strat", concat(col("split"), lit(":"), col("lang")))
      .withColumn("h", expr("cast(conv(substring(md5(concat(" +
        "cast(doc_id as string), ':sp')), 1, 8), 16, 10) as bigint)"))
    val en1 = DistRank.runningSum(en0, "strat", Seq(col("doc_id")),
        "doc_id", col("n_after"), "cum")
      .join(bOff, Seq("strat"), "left")
      .withColumn("off", coalesce(col("base_off"), lit(0L)))
      .withColumn("seq_id",
        floor((col("off") + col("cum") - col("n_after")) / Budget))
      .withColumn("__all", lit(0L))
    val en2 = DistRank.runningSum(en1, "__all",
      Seq(col("h"), col("doc_id")), "doc_id", col("n_after"), "cs")
    val en = en2.crossJoin(broadcast(bTot))
      .withColumn("ssize", greatest(lit(1L),
        expr(s"(base_total + ${TrainPrep.OutShards - 1})" +
          s" div ${TrainPrep.OutShards}")))
      .withColumn("shard_id",
        expr("(base_total + cs - n_after) div ssize"))

    // ---- the ledger: 9 rows of scalar aggregates. Same-frame aggregates
    // are FUSED into one pass (arrive totals + rule failures + stage-1
    // survivors over i0; stage-3 survivors + eval docs over i3) — each
    // fusion removes a full aggregate stage-chain from the crossJoin tree.
    val a0 = i0.agg(count(lit(1)).as("d_i0"), Seq(
      coalesce(sum(col("n_tokens")), lit(0L)).as("t_i0"),
      coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L)).as("d1"),
      coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L)).as("t1"))
      ++ Ledger.ruleFailures: _*)
    val aN = iNew.agg(count(lit(1)).as("dn"))
    val a2 = i2.agg(count(lit(1)).as("d2"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("t2"))
    val a3 = i3.agg(count(lit(1)).as("d3"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("t3"),
      coalesce(sum(when(col("doc_id") % evalMod === 0, 1L)
        .otherwise(0L)), lit(0L)).as("ed"),
      coalesce(sum(when(col("doc_id") % evalMod === 0, col("n_tokens"))),
        lit(0L)).as("et"))
    val aC = i3c.agg(
      coalesce(sum(when(col("has_base").isNotNull, 1L).otherwise(0L)),
        lit(0L)).as("vs_base"),
      countDistinct(when(col("lab").isNotNull && col("has_base").isNull,
        col("lab"))).as("clusters_new"))
    val a4 = en.agg(count(lit(1)).as("d4"),
      coalesce(sum(col("n_clean")), lit(0L)).as("t4"),
      coalesce(sum(col("moved")), lit(0L)).as("moved"),
      coalesce(sum(when(col("split") === "train", 1L).otherwise(0L)),
        lit(0L)).as("ntr"),
      coalesce(sum(when(col("split") === "val", 1L).otherwise(0L)),
        lit(0L)).as("nva"),
      coalesce(sum(when(col("split") === "test", 1L).otherwise(0L)),
        lit(0L)).as("nte"),
      coalesce(sum(when(col("n_clean") > keepN, 1L).otherwise(0L)),
        lit(0L)).as("ntrunc"),
      coalesce(sum(col("n_after")), lit(0L)).as("t6"),
      countDistinct(col("strat"), col("seq_id")).as("nbins"),
      countDistinct(col("shard_id")).as("nshards"),
      coalesce(sum(expr("cast(conv(substring(md5(concat(" +
        "cast(doc_id as string), ':ck')), 1, 8), 16, 10) as bigint)")),
        lit(0L)).as("chk"))

    // eagerly checkpoint the ONE scalar row: the 9 ledger branches each
    // re-analyze and re-execute every crossJoined aggregate subtree
    // otherwise — 9 × 10 deep-plan evaluations, measured 87 s of the
    // gate's 132 s; from the checkpointed leaf they are row reads
    val scalars = a0.crossJoin(aN)
      .crossJoin(a2).crossJoin(a3).crossJoin(aC)
      .crossJoin(a4).crossJoin(broadcast(bTot))
      .localCheckpoint(true)

    val ledger = Ledger(scalars,
      Stage("arrive", col("d_i0"), col("d_i0"), col("t_i0"), col("t_i0"),
        detail("base_docs" -> col("base_docs"),
          "base_tokens" -> col("base_total"))),
      Ledger.quality(col("d_i0"), col("d1"), col("t_i0"), col("t1")),
      Stage("dedup_exact", col("d1"), col("d2"), col("t1"), col("t2"),
        detail("dup_of_base" -> (col("d1") - col("dn")),
          "dup_in_batch" -> (col("dn") - col("d2")))),
      Stage("near_dedup", col("d2"), col("d3"), col("t2"), col("t3"),
        detail("vs_base" -> col("vs_base"),
          "clusters_new" -> col("clusters_new"))),
      Stage("decontaminate", col("d3"), col("d4"), col("t3"), col("t4"),
        detail("eval_docs" -> col("ed"),
          "tokens_stripped" -> (col("t3") - col("et") - col("t4")))),
      Stage("split", col("d4"), col("d4"), col("t4"), col("t4"),
        detail("train" -> col("ntr"), "val" -> col("nva"),
          "test" -> col("nte"), "moved" -> col("moved"))),
      Stage("truncate", col("d4"), col("d4"), col("t4"), col("t6"),
        detail("truncated" -> col("ntrunc"))),
      Stage("pack", col("d4"), col("d4"), col("t6"), col("t6"),
        detail("bins" -> col("nbins"))),
      Stage("shard", col("d4"), col("d4"), col("t6"), col("t6"),
        detail("shards" -> col("nshards"), "check" -> col("chk"))))

    // qf/grams/evalG are Memo-owned (released by Memo.clear) — only the
    // per-call frames unpersist here
    Seq(bH, b2, bPairs, bLabP, b3, b4, iH, iNew, i2, node,
      cPairs, mLabP, hasBase, i3c, i3, remAll).foreach(_.unpersist(false))
    bLab.unpersist(false)
    mLab.unpersist(false)
    hwmFrame.foreach(_.unpersist(false))
    ledger
  }

  val pipelineE2eIncrSql: String = {
    val keepN = TrainPrep.TruncHead + TrainPrep.TruncTail
    val spanHi = CorpusFilters.SpanK - 1
    val evalMod = CorpusFilters.EvalMod
    val shards = TrainPrep.OutShards
    s"""
    WITH RECURSIVE ${Dedup.minhashPairsCtesSql},
    ${TextOps.docQualityCteSql},
    ${Pipeline.gopherCtes("documents", "pi_")},
    pi_b1 AS MATERIALIZED (
      SELECT doc_id, lang, text, n_tokens FROM pi_qf
      WHERE doc_id % $IncrMod <> $IncrRes
        AND r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pi_bh AS MATERIALIZED (
      SELECT doc_id, lang, n_tokens, md5($normSql) AS h FROM pi_b1),
    pi_bg AS (SELECT h, min(doc_id) AS keep_id FROM pi_bh GROUP BY h),
    pi_b2 AS MATERIALIZED (
      SELECT p.doc_id, p.lang, p.n_tokens, p.h
      FROM pi_bh p JOIN pi_bg k ON p.doc_id = k.keep_id),
    pi_bedges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
        JOIN pi_b2 a ON id_a = a.doc_id JOIN pi_b2 b ON id_b = b.doc_id
      UNION
      SELECT id_b, id_a FROM mh_pairs
        JOIN pi_b2 a ON id_a = a.doc_id JOIN pi_b2 b ON id_b = b.doc_id),
    pi_breach(id, lab) AS (
      SELECT src, src FROM pi_bedges
      UNION
      SELECT e.src, r.lab FROM pi_bedges e JOIN pi_breach r
        ON r.id = e.dst),
    pi_bcomp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS cluster FROM pi_breach GROUP BY id),
    pi_bbest AS (
      SELECT cluster, doc_id AS keep_id FROM (
        SELECT c.cluster, c.doc_id,
          row_number() OVER (PARTITION BY c.cluster
            ORDER BY dq.quality DESC, c.doc_id) AS rn
        FROM pi_bcomp c JOIN dq USING (doc_id)) rk
      WHERE rn = 1),
    pi_b3 AS MATERIALIZED (
      SELECT p.doc_id, p.lang, p.n_tokens, c.cluster
      FROM pi_b2 p LEFT JOIN pi_bcomp c USING (doc_id)
      WHERE c.cluster IS NULL
        OR p.doc_id IN (SELECT keep_id FROM pi_bbest)),
    pi_dw AS (SELECT doc_id, string_split($normSql, ' ') AS ws
              FROM documents),
    pi_dg AS MATERIALIZED (
      SELECT doc_id, p, md5(array_to_string(ws[p:p+$spanHi], ' ')) AS g
      FROM (SELECT doc_id, ws,
              unnest(generate_series(1, len(ws) - $spanHi)) AS p
            FROM pi_dw)),
    pi_evg AS MATERIALIZED (SELECT DISTINCT g FROM pi_dg
               WHERE doc_id % $evalMod = 0),
    pi_btr AS MATERIALIZED (SELECT * FROM pi_b3
               WHERE doc_id % $evalMod <> 0),
    pi_brem AS (
      SELECT doc_id, count(*) AS n_rem FROM (
        SELECT DISTINCT doc_id, t FROM (
          SELECT dg.doc_id,
            unnest(generate_series(dg.p, dg.p + $spanHi)) AS t
          FROM pi_dg dg
          JOIN pi_evg e USING (g)
          JOIN (SELECT doc_id FROM pi_btr) s ON dg.doc_id = s.doc_id))
      GROUP BY doc_id),
    pi_b4 AS MATERIALIZED (
      SELECT doc_id, lang, cluster, n_clean,
        CASE WHEN cluster IS NOT NULL
          THEN ${TrainPrep.splitSqlOf("cluster")}
          ELSE ${TrainPrep.splitSqlOf("doc_id")} END AS split,
        CASE WHEN n_clean > $keepN THEN ${keepN + 1}
          ELSE n_clean END AS n_after
      FROM (SELECT t.doc_id, t.lang, t.cluster,
              t.n_tokens - coalesce(r.n_rem, 0) AS n_clean
            FROM pi_btr t LEFT JOIN pi_brem r USING (doc_id))),
    pi_boff AS MATERIALIZED (
      SELECT split || ':' || lang AS strat,
        CAST(sum(n_after) AS BIGINT) AS base_off
      FROM pi_b4 GROUP BY 1),
    pi_btot AS MATERIALIZED (
      SELECT count(*) AS base_docs,
        CAST(coalesce(sum(n_after), 0) AS BIGINT) AS base_total
      FROM pi_b4),
    pi_i0 AS (SELECT doc_id, lang, n_tokens FROM pi_tok
              WHERE doc_id % $IncrMod = $IncrRes),
    pi_i1 AS MATERIALIZED (
      SELECT doc_id, lang, text, n_tokens FROM pi_qf
      WHERE doc_id % $IncrMod = $IncrRes
        AND r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pi_ih AS MATERIALIZED (
      SELECT doc_id, lang, n_tokens, md5($normSql) AS h FROM pi_i1),
    pi_inew AS MATERIALIZED (
      SELECT * FROM pi_ih WHERE h NOT IN (SELECT h FROM pi_b2)),
    pi_ig AS (SELECT h, min(doc_id) AS keep_id FROM pi_inew GROUP BY h),
    pi_i2 AS MATERIALIZED (
      SELECT p.doc_id, p.lang, p.n_tokens
      FROM pi_inew p JOIN pi_ig k ON p.doc_id = k.keep_id),
    pi_mids AS (SELECT doc_id FROM pi_b2
                UNION ALL SELECT doc_id FROM pi_i2),
    pi_medges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
        JOIN pi_mids a ON id_a = a.doc_id JOIN pi_mids b ON id_b = b.doc_id
      UNION
      SELECT id_b, id_a FROM mh_pairs
        JOIN pi_mids a ON id_a = a.doc_id JOIN pi_mids b ON id_b = b.doc_id),
    pi_mreach(id, lab) AS (
      SELECT src, src FROM pi_medges
      UNION
      SELECT e.src, r.lab FROM pi_medges e JOIN pi_mreach r
        ON r.id = e.dst),
    pi_mcomp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pi_mreach GROUP BY id),
    pi_hasb AS MATERIALIZED (
      SELECT DISTINCT m.lab FROM pi_mcomp m
      JOIN pi_b2 b ON m.doc_id = b.doc_id),
    pi_iwin AS (
      SELECT lab, doc_id AS keep_id FROM (
        SELECT m.lab, m.doc_id,
          row_number() OVER (PARTITION BY m.lab
            ORDER BY dq.quality DESC, m.doc_id) AS rn
        FROM pi_mcomp m
        JOIN pi_i2 i ON m.doc_id = i.doc_id
        JOIN dq ON dq.doc_id = m.doc_id
        WHERE m.lab NOT IN (SELECT lab FROM pi_hasb)) rk
      WHERE rn = 1),
    pi_i3 AS MATERIALIZED (
      SELECT i.doc_id, i.lang, i.n_tokens, m.lab AS cluster
      FROM pi_i2 i LEFT JOIN pi_mcomp m ON i.doc_id = m.doc_id
      WHERE m.lab IS NULL
        OR (m.lab NOT IN (SELECT lab FROM pi_hasb)
            AND i.doc_id IN (SELECT keep_id FROM pi_iwin))),
    pi_itr AS MATERIALIZED (SELECT * FROM pi_i3
               WHERE doc_id % $evalMod <> 0),
    pi_irem AS (
      SELECT doc_id, count(*) AS n_rem FROM (
        SELECT DISTINCT doc_id, t FROM (
          SELECT dg.doc_id,
            unnest(generate_series(dg.p, dg.p + $spanHi)) AS t
          FROM pi_dg dg
          JOIN pi_evg e USING (g)
          JOIN (SELECT doc_id FROM pi_itr) s ON dg.doc_id = s.doc_id))
      GROUP BY doc_id),
    pi_ien AS MATERIALIZED (
      SELECT doc_id, lang, cluster, n_tokens, n_clean,
        CASE WHEN cluster IS NOT NULL
          THEN ${TrainPrep.splitSqlOf("cluster")}
          ELSE ${TrainPrep.splitSqlOf("doc_id")} END AS split,
        CASE WHEN cluster IS NOT NULL
            AND ${TrainPrep.splitSqlOf("cluster")}
              <> ${TrainPrep.splitSqlOf("doc_id")}
          THEN 1 ELSE 0 END AS moved,
        CASE WHEN n_clean > $keepN THEN ${keepN + 1}
          ELSE n_clean END AS n_after,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':sp'),
          1, 8))::BIGINT AS h
      FROM (SELECT t.doc_id, t.lang, t.cluster, t.n_tokens,
              t.n_tokens - coalesce(r.n_rem, 0) AS n_clean
            FROM pi_itr t LEFT JOIN pi_irem r USING (doc_id))),
    pi_ipk AS MATERIALIZED (
      SELECT *, CAST(floor((base_off + cum - n_after) / $Budget)
        AS BIGINT) AS seq_id
      FROM (SELECT e.*, coalesce(o.base_off, 0) AS base_off,
              sum(n_after) OVER (PARTITION BY split, lang ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM pi_ien e
            LEFT JOIN pi_boff o ON e.split || ':' || e.lang = o.strat)),
    pi_isz AS (
      SELECT greatest(1, CAST((base_total + ${shards - 1})
        // $shards AS BIGINT)) AS ssize
      FROM pi_btot),
    pi_ish AS MATERIALIZED (
      SELECT doc_id, n_after,
        CAST((base_total + cs - n_after) // ssize AS BIGINT) AS shard_id
      FROM (SELECT doc_id, n_after,
              CAST(sum(n_after) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM pi_ien), pi_isz, pi_btot),
    pi_a0 AS (
      SELECT count(*) AS d_i0,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t_i0
      FROM pi_i0),
    pi_a1 AS (
      SELECT count(*) FILTER (WHERE NOT r_words) AS fw,
        count(*) FILTER (WHERE NOT r_mean_len) AS fm,
        count(*) FILTER (WHERE NOT r_symbols) AS fs,
        count(*) FILTER (WHERE NOT r_alpha) AS fa,
        count(*) FILTER (WHERE NOT r_stopwords) AS fst
      FROM pi_qf WHERE doc_id % $IncrMod = $IncrRes),
    pi_a2 AS (
      SELECT count(*) AS d1,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1 FROM pi_i1),
    pi_a3 AS (SELECT count(*) AS dn FROM pi_inew),
    pi_a4 AS (
      SELECT count(*) AS d2,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t2 FROM pi_i2),
    pi_a5 AS (
      SELECT count(*) AS d3,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t3,
        count(*) FILTER (WHERE doc_id % $evalMod = 0) AS ed,
        CAST(coalesce(sum(n_tokens)
          FILTER (WHERE doc_id % $evalMod = 0), 0) AS BIGINT) AS et
      FROM pi_i3),
    pi_a6 AS (
      SELECT count(*) FILTER (WHERE m.lab IN (SELECT lab FROM pi_hasb))
          AS vs_base,
        count(DISTINCT CASE WHEN m.lab IS NOT NULL
          AND m.lab NOT IN (SELECT lab FROM pi_hasb)
          THEN m.lab END) AS clusters_new
      FROM pi_i2 i LEFT JOIN pi_mcomp m ON i.doc_id = m.doc_id),
    pi_a7 AS (
      SELECT count(*) AS d4,
        CAST(coalesce(sum(n_clean), 0) AS BIGINT) AS t4,
        CAST(coalesce(sum(moved), 0) AS BIGINT) AS moved,
        count(*) FILTER (WHERE split = 'train') AS ntr,
        count(*) FILTER (WHERE split = 'val') AS nva,
        count(*) FILTER (WHERE split = 'test') AS nte,
        count(*) FILTER (WHERE n_clean > $keepN) AS ntrunc,
        CAST(coalesce(sum(n_after), 0) AS BIGINT) AS t6,
        CAST(coalesce(sum(('0x' || substring(
          md5(CAST(doc_id AS VARCHAR) || ':ck'), 1, 8))::BIGINT), 0)
          AS BIGINT) AS chk
      FROM pi_ien),
    pi_a8 AS (
      SELECT count(*) AS nbins FROM
        (SELECT DISTINCT split, lang, seq_id FROM pi_ipk) x),
    pi_a9 AS (
      SELECT count(DISTINCT shard_id) AS nshards FROM pi_ish),
    pi_a AS (
      SELECT * FROM pi_a0, pi_a1, pi_a2, pi_a3, pi_a4, pi_a5, pi_a6,
        pi_a7, pi_a8, pi_a9, pi_btot)
    SELECT stage_id, stage, docs_in, docs_kept,
      docs_in - docs_kept AS docs_dropped, tokens_in, tokens_out, detail
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'arrive' AS stage,
        d_i0 AS docs_in, d_i0 AS docs_kept, t_i0 AS tokens_in,
        t_i0 AS tokens_out,
        'base_docs=' || CAST(base_docs AS VARCHAR)
          || ',base_tokens=' || CAST(base_total AS VARCHAR) AS detail
        FROM pi_a
      UNION ALL
      SELECT 1, 'quality', d_i0, d1, t_i0, t1,
        'r_words=' || CAST(fw AS VARCHAR)
          || ',r_mean_len=' || CAST(fm AS VARCHAR)
          || ',r_symbols=' || CAST(fs AS VARCHAR)
          || ',r_alpha=' || CAST(fa AS VARCHAR)
          || ',r_stopwords=' || CAST(fst AS VARCHAR) FROM pi_a
      UNION ALL
      SELECT 2, 'dedup_exact', d1, d2, t1, t2,
        'dup_of_base=' || CAST(d1 - dn AS VARCHAR)
          || ',dup_in_batch=' || CAST(dn - d2 AS VARCHAR) FROM pi_a
      UNION ALL
      SELECT 3, 'near_dedup', d2, d3, t2, t3,
        'vs_base=' || CAST(vs_base AS VARCHAR)
          || ',clusters_new=' || CAST(clusters_new AS VARCHAR) FROM pi_a
      UNION ALL
      SELECT 4, 'decontaminate', d3, d4, t3, t4,
        'eval_docs=' || CAST(ed AS VARCHAR)
          || ',tokens_stripped=' || CAST(t3 - et - t4 AS VARCHAR)
        FROM pi_a
      UNION ALL
      SELECT 5, 'split', d4, d4, t4, t4,
        'train=' || CAST(ntr AS VARCHAR) || ',val=' || CAST(nva AS VARCHAR)
          || ',test=' || CAST(nte AS VARCHAR)
          || ',moved=' || CAST(moved AS VARCHAR) FROM pi_a
      UNION ALL
      SELECT 6, 'truncate', d4, d4, t4, t6,
        'truncated=' || CAST(ntrunc AS VARCHAR) FROM pi_a
      UNION ALL
      SELECT 7, 'pack', d4, d4, t6, t6,
        'bins=' || CAST(nbins AS VARCHAR) FROM pi_a
      UNION ALL
      SELECT 8, 'shard', d4, d4, t6, t6,
        'shards=' || CAST(nshards AS VARCHAR)
          || ',check=' || CAST(chk AS VARCHAR) FROM pi_a) z
    ORDER BY stage_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_e2e_incr" -> (pipelineE2eIncr _),
    "pipeline_incr_state" -> (pipelineIncrState _))

  // pipeline_incr_state shares pipeline_e2e_incr's oracle VERBATIM: the
  // maintained-state read is value-identical by fold algebra, and the
  // shared SQL is exactly the hash-identity claim the gate makes
  val oracles: Map[String, String] = Map(
    "pipeline_e2e_incr" -> pipelineE2eIncrSql,
    "pipeline_incr_state" -> pipelineE2eIncrSql)
}
