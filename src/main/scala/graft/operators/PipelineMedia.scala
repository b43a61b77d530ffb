package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Ledger.{Stage, detail}

/** The composed MEDIA pipelines — the image-text (LLaVA-style) and
  * audio-text (AudioLM/Flamingo-style) data layouts run end to end over
  * one corpus under a per-stage conservation [[Ledger]], the media twins
  * of [[Pipeline.pipelineE2e]]. One full-load function and one
  * incremental function serve both modalities; a [[Media]] value carries
  * only what differs between them.
  *
  * Full load (`pipeline_e2e_mm`, `pipeline_e2e_audio`):
  *
  *   arrive (+ the media store's planted duplicate feed)
  *   → Gopher rule gate (ONE shared definition, [[Pipeline.qfPlanted]])
  *   → media near-dedup: connected components over the verified media
  *     pairs restricted to quality SURVIVORS, keep the min-id member
  *     (the `phash_clusters` / `audio_fp_clusters` representative)
  *   → interleave accounting: media tokens enter the ledger
  *     ([[Multimodal.mmAccounting]] / [[Multimodal.audioAccounting]])
  *   → media-token-balanced shard layout ([[Multimodal.mediaLayout]]).
  *
  * Solo gates cannot see the stage CONTRACTS: a shard plan balanced
  * before media dedup double-pays duplicate media tokens; a dedup pass
  * over pre-quality docs resurrects documents the rule gate killed. The
  * ledger makes every hand-off auditable: each row is `docs_in = kept +
  * dropped` with reason attribution, text tokens flow conserved through
  * dedup, media tokens enter EXACTLY at interleave, and the shard tail
  * conserves the total.
  *
  * The planted feed (every [[Multimodal.PlantMod]]-th doc re-arriving
  * under id + [[Multimodal.PlantShift]] with the SAME text and
  * byte-identical media — the media stores' own plant convention) makes
  * the dedup hand-off self-checking: copies share their source's quality
  * verdict (the augmentation keys on `doc_id % PlantShift`), so every
  * planted id either dies with its source at quality or dies to its
  * source at media dedup (identical media → hamming 0 → same cluster,
  * min-id keeps the source). A plant surviving stage 2 fails an IN-PLAN
  * assert.
  *
  * Incremental (`*_incr`, and the `*_incr_state` maintained reads): an
  * arriving batch (documents + their planted copies) flows quality →
  * media near-dedup against the base's MERGED components → interleave
  * accounting → shard DELTA continuing from the base layout. Contracts
  * the full load cannot see:
  *  - THE EXISTING CORPUS WINS: a batch document whose merged component
  *    contains ANY base survivor is dropped — stored media are never
  *    retroactively displaced.
  *  - Base components CONTRACT to their min-id labels, so per-batch
  *    propagation runs over the batch-touched subgraph only —
  *    value-identical to full re-propagation (the oracle replays the
  *    FULL merged reach to prove it).
  *  - Shard ids continue from the base's media-token total at the base
  *    layout's FIXED shard size — the delta never rewrites existing
  *    shards ([[PipelineIncr]]'s pack-continuation contract).
  *  - A planted copy arrives WITH its source (batch membership keys on
  *    the SOURCE residue), so every batch plant dies by stage 2 — with
  *    its source at quality, or to its source or the base at dedup.
  *
  * Scale: every stage keeps its solo gate's plan shape — narrow maps,
  * the LSH-band-bounded pair equi-join, frontier propagation over the
  * survivor-filtered edges, one [[DistRank.runningSum]] two-phase pass;
  * the ledger is one checkpointed scalar row. The incremental base-state
  * derivation stands in for the persisted store; per-batch work is
  * batch-sized.
  *
  * Reference analog: the full load mirrors `bde_ApplyLevel0Update`
  * (`sql/02-bde_control_functions.sql.in:1823`), the incremental apply
  * `bde_ApplyLevel5Update` (`:1576`) with `lib/LINZ/BdeUpload.pm:653
  * GetLevel5Updates` ordering the arriving datasets.
  */
object PipelineMedia extends graft.GateModule {

  /** What the image and audio pipelines differ in.
    *
    * @param kind       modality word of the dedup stage and the asserts
    * @param full       full-load gate name and Memo key
    * @param incr       incremental gate name and Memo key
    * @param state      maintained-state gate name and Memo key
    * @param strat      high-water stratum label of the base totals
    * @param nMedia     per-doc media count column of the accounting
    * @param mediaTok   per-doc media token column of the accounting
    * @param countKey   interleave detail key of the media count
    * @param docsKey    interleave detail key of the docs carrying media
    * @param tokensKey  interleave detail key of the media tokens
    * @param pairs      verified near-duplicate media pairs (id_a, id_b)
    * @param accounting token accounting over a `(doc_id, text)` frame
    */
  final case class Media(
      kind: String, full: String, incr: String, state: String,
      strat: String, nMedia: String, mediaTok: String,
      countKey: String, docsKey: String, tokensKey: String,
      pairs: (SparkSession, String) => DataFrame,
      accounting: (SparkSession, String, DataFrame) => DataFrame)

  /** Images: phash pairs, [[Multimodal.VisionTokens]]-priced placements. */
  val Image: Media = Media("image", "pipeline_e2e_mm",
    "pipeline_e2e_mm_incr", "pipeline_mm_incr_state", "mm",
    "n_images", "n_image_tokens",
    "images", "docs_with_images", "vision_tokens",
    Multimodal.phashPairs, (_, _, docs) => Multimodal.mmAccounting(docs))

  /** Audio: fingerprint pairs, tokens priced from the decoded clips. */
  val Audio: Media = Media("audio", "pipeline_e2e_audio",
    "pipeline_e2e_audio_incr", "pipeline_audio_incr_state", "au",
    "n_clips", "n_audio_tokens",
    "clips", "docs_with_audio", "audio_tokens",
    AudioFp.audioFpPairs, Multimodal.audioAccounting)

  // ONE plant family shared with the media stores (`phashesOf` and the
  // fingerprint store plant with exactly these), so the arriving universe
  // matches the pair stores' id space by construction
  private val PlantShift = Multimodal.PlantShift
  private val PlantMod = Multimodal.PlantMod
  private val IncrMod = PipelineIncr.IncrMod
  private val IncrRes = PipelineIncr.IncrRes

  // Batch membership keys on the SOURCE residue via (doc_id % PlantShift)
  // % IncrMod; for a planted id (source + PlantShift, sources always
  // below PlantShift — the in-plan collision guard enforces disjointness)
  // this equals the source's residue ONLY because PlantShift is a
  // multiple of IncrMod. Tie the two constants at class-load instead of
  // letting them drift apart silently.
  require(PlantShift % IncrMod == 0,
    s"PlantShift ($PlantShift) must be divisible by IncrMod ($IncrMod): " +
      "batch membership keys on (doc_id % PlantShift) % IncrMod and a " +
      "planted copy must share its source's residue")

  /** Gate: the full-load media pipeline ledger (5 rows). */
  def fullLoad(m: Media)(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, m.full, dir) {
      // ---- stages 0-1: arrive (corpus + planted duplicate feed, the
      // id-collision guard riding the memoized frame) and the shared
      // Gopher rule gate — ONE [[Pipeline.qfPlanted]] build per
      // (session, dir, PlantMod), shared by all six media gates
      val qf = Pipeline.qfPlanted(s, dir, PlantMod)
      val s1 = qf.filter(col("keep"))
        .select(col("doc_id"), col("text"), col("n_tokens"), col("planted"))
        .persist()

      // ---- stage 2: media near-dedup over survivors — verified pairs
      // both of whose endpoints survived quality, components, keep the
      // min-id member (the component label IS the min id, so membership
      // is one comparison)
      val pairs = m.pairs(s, dir).select(col("id_a"), col("id_b"))
      val ids1 = s1.select(col("doc_id"))
      val pairsF = pairs
        .join(ids1.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(ids1.withColumnRenamed("doc_id", "id_b"), "id_b")
        .persist()
      val edges = pairsF.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(
          pairsF.select(col("id_b").as("src"), col("id_a").as("dst")))
      val labels = Clustering.ccLabels(edges)
      val labP = labels.select(col("id"), col("lab")).persist()
      val s2 = s1
        .join(labP.select(col("id").as("doc_id"), col("lab")),
          Seq("doc_id"), "left")
        .filter(col("lab").isNull || col("doc_id") === col("lab"))
        .select(col("doc_id"), col("text"), col("n_tokens"), col("planted"))
        .persist()

      // ---- stage 3: interleave accounting — media tokens enter here
      val acc = m.accounting(s, dir, s2.select(col("doc_id"), col("text")))
        .persist()

      // ---- stage 4: media-token-balanced shard layout (O(shards))
      val layout = Multimodal.mediaLayout(
          acc.select(col("doc_id"), col(m.nMedia), col("n_text_tokens"),
            col(m.mediaTok), col("n_total_tokens")),
          m.nMedia, m.mediaTok)
        .persist()

      // ---- the ledger: 5 rows of scalar aggregates. Same-frame
      // aggregates FUSED into one pass over qf (arrive totals + rule
      // failures + stage-1 survivors via conditional sums).
      val aQF = qf.agg(count(lit(1)).as("d_u"), Seq(
          sum(col("n_tokens")).as("t_u"),
          sum(col("planted")).as("np"),
          coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))
            .as("d1"),
          coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L))
            .as("t1")) ++ Ledger.ruleFailures: _*)
      val aC = labP.agg(countDistinct(col("lab")).as("ncl"),
        count(lit(1)).as("nmem"))
      val a2 = s2.agg(count(lit(1)).as("d2"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("t2"))
      val a4 = layout.agg(count(lit(1)).as("nshards"),
        coalesce(sum(col("member_check")), lit(0L)).as("chk"))

      val scalars = plantChecked(aQF.crossJoin(aC).crossJoin(a2)
          .crossJoin(interleaveAgg(m, acc)).crossJoin(a4),
        s2, s"${m.full}: a planted duplicate survived ${m.kind} dedup " +
          "— the quality/dedup stage contract broke")

      val ledger = Ledger(scalars,
        Stage("arrive", col("d_u"), col("d_u"), col("t_u"), col("t_u"),
          detail("planted" -> col("np"))),
        Ledger.quality(col("d_u"), col("d1"), col("t_u"), col("t1")),
        Stage(s"${m.kind}_dedup", col("d1"), col("d2"), col("t1"),
          col("t2"), detail("clusters" -> col("ncl"),
            "members" -> col("nmem"))),
        interleaveStage(m),
        shardStage)

      // qf is Memo-owned (released by Memo.clear)
      Seq(s1, pairsF, labP, s2, acc, layout).foreach(_.unpersist(false))
      labels.unpersist(false)
      ledger
    }

  /** Gate: the incremental (Level-5) media pipeline ledger (5 rows).
    * With `maintained`, the SAME ledger read from MAINTAINED state: the
    * base components from the streaming maintainers' per-shard spanning
    * forests ([[graft.streaming.StreamCluster]] + the
    * `clustersFromForest` read-time merge — the `stream_phash_maintain` /
    * `stream_audiofp_maintain` path) and the base accounting totals from
    * the high-water counter fold ([[graft.streaming.StreamHighWater]]).
    * Both folds are commutative/associative (union-find, sum), so the
    * ledger is HASH-IDENTICAL to the batch-derived one — the oracle SQL
    * is shared VERBATIM, which IS the claim. Reference:
    * `bde_ApplyLevel5Update` consumes persisted Level-0 state
    * (`sql/02-bde_control_functions.sql.in:1576`).
    */
  def incremental(m: Media, maintained: Boolean = false)(
      s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, if (maintained) m.state else m.incr, dir) {
      import s.implicits._
      import graft.streaming.{EdgeObs, HwmPart}
      // batch membership keys on the SOURCE residue so a planted copy
      // arrives WITH its source
      val srcRes = (col("doc_id") % PlantShift) % IncrMod
      val isB = srcRes =!= IncrRes
      val isI = srcRes === IncrRes

      // ---- stage 1 (shared): the Gopher rule gate over the universe —
      // the same memoized [[Pipeline.qfPlanted]] frame as the full load
      val qf = Pipeline.qfPlanted(s, dir, PlantMod)
      val s1 = qf.filter(col("keep"))
        .select(col("doc_id"), col("text"), col("n_tokens"), col("planted"))
        .persist()
      val s1b = s1.filter(isB)
      val s1i = s1.filter(isI)
      val idsB = s1b.select(col("doc_id"))
      val idsI = s1i.select(col("doc_id"))
      val ids1 = s1.select(col("doc_id"))

      // ---- the base store: media dedup over base survivors, then the
      // accounting totals the delta continues from
      val pairs = m.pairs(s, dir).select(col("id_a"), col("id_b"))
      val bPairs = pairs
        .join(idsB.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(idsB.withColumnRenamed("doc_id", "id_b"), "id_b")
        .persist()
      // base components: batch frontier propagation, or the per-shard
      // spanning forests' read-time merge (forests preserve exactly the
      // connectivity of their edges; the PipelineIncr maintained-read
      // shape)
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
      val s2b = s1b
        .join(bLabP.select(col("id").as("doc_id"), col("lab")),
          Seq("doc_id"), "left")
        .filter(col("lab").isNull || col("doc_id") === col("lab"))
        .select(col("doc_id"), col("text"))
        .persist()
      val accB = m.accounting(s, dir, s2b)
      // base accounting totals: batch aggregation, or the high-water
      // counter fold over arrival-chunk partials (adds are additive —
      // the doc_id-mod-3 chunking stands in for historical loads; the
      // converged counter cannot depend on it)
      var hwmFrame: Option[DataFrame] = None
      val bTot =
        if (!maintained)
          accB.agg(count(lit(1)).as("base_docs"),
            coalesce(sum(col("n_total_tokens")), lit(0L)).as("base_total"))
        else {
          val hwm = graft.streaming.StreamHighWater.states(
              accB.groupBy(lit(m.strat).as("strat"),
                  pmod(col("doc_id"), lit(3L)).as("ch"))
                .agg(count(lit(1)).as("n_docs"),
                  sum(col("n_total_tokens")).as("n_tokens"))
                .select(col("strat"), col("n_docs"), col("n_tokens"))
                .as[HwmPart])
            .toDF()
            // per-group emissions within one fold are monotone; the
            // converged state row is the LAST (max) counter
            .groupBy(col("strat"))
            .agg(max(col("n_docs")).as("n_docs"),
              max(col("n_tokens")).as("n_tokens"))
            .localCheckpoint(true)
          hwmFrame = Some(hwm)
          hwm.agg(coalesce(sum(col("n_docs")), lit(0L)).as("base_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("base_total"))
        }

      // ---- stage 2: media near-dedup over MERGED components. Base
      // components contract to their min-id labels; only batch-touched
      // pairs propagate (the PipelineIncr stage-3 contraction — the
      // oracle replays the full merged reach, hash-equal).
      val pairsS = pairs
        .join(ids1.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(ids1.withColumnRenamed("doc_id", "id_b"), "id_b")
      val touched = pairsS
        .join(idsI.select(col("doc_id").as("id_a"), lit(1).as("ia")),
          Seq("id_a"), "left")
        .join(idsI.select(col("doc_id").as("id_b"), lit(1).as("ib")),
          Seq("id_b"), "left")
        .filter(col("ia").isNotNull || col("ib").isNotNull)
      val cPairs = touched
        .join(bLabP.select(col("id").as("id_a"), col("lab").as("la")),
          Seq("id_a"), "left")
        .join(bLabP.select(col("id").as("id_b"), col("lab").as("lb")),
          Seq("id_b"), "left")
        .select(coalesce(col("la"), col("id_a")).as("id_a"),
          coalesce(col("lb"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .persist()
      val mLab = Clustering.ccLabels(
        cPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(cPairs.select(col("id_b").as("src"),
            col("id_a").as("dst"))))
      val mLabP = mLab.select(col("id"), col("lab")).persist()
      val hasBase = mLabP
        .join(idsB.withColumnRenamed("doc_id", "id"), "id")
        .select(col("lab")).distinct()
        .withColumn("has_base", lit(1))
        .persist()
      val i2c = s1i
        .join(mLabP.select(col("id").as("doc_id"), col("lab")),
          Seq("doc_id"), "left")
        .join(hasBase, Seq("lab"), "left")
        .persist()
      val s2i = i2c
        .filter(col("lab").isNull ||
          (col("has_base").isNull && col("doc_id") === col("lab")))
        .select(col("doc_id"), col("text"), col("n_tokens"), col("planted"))
        .persist()

      // ---- stage 3: interleave accounting — media tokens enter here
      val accI = m.accounting(s, dir, s2i.select(col("doc_id"), col("text")))
        .persist()

      // ---- stage 4: shard DELTA continuing from the base total at the
      // base layout's FIXED shard size
      val en0 = accI
        .withColumn("h", expr("cast(conv(substring(md5(concat(" +
          "cast(doc_id as string), ':mm')), 1, 8), 16, 10) as bigint)"))
        .withColumn("__all", lit(0L))
      val en1 = DistRank.runningSum(en0, "__all",
        Seq(col("h"), col("doc_id")), "doc_id", col("n_total_tokens"),
        "cs")
      // en has exactly one consumer (the a4 aggregate) — no persist
      val en = en1.crossJoin(broadcast(bTot))
        .withColumn("ssize", greatest(lit(1L),
          expr(s"(base_total + ${TrainPrep.OutShards - 1})" +
            s" div ${TrainPrep.OutShards}")))
        .withColumn("shard_id",
          expr("(base_total + cs - n_total_tokens) div ssize"))

      // ---- the ledger: 5 rows of scalar aggregates. The three arriving-
      // batch aggregates (totals + rule failures + stage-1 survivors)
      // FUSE into one pass over the batch slice of qf.
      val a0 = qf.filter(isI).agg(count(lit(1)).as("d_i0"), Seq(
          coalesce(sum(col("n_tokens")), lit(0L)).as("t_i0"),
          coalesce(sum(col("planted")), lit(0L)).as("np"),
          coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))
            .as("d1"),
          coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L))
            .as("t1")) ++ Ledger.ruleFailures: _*)
      val aC = i2c.agg(
        coalesce(sum(when(col("has_base").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("vs_base"),
        countDistinct(when(col("lab").isNotNull && col("has_base").isNull,
          col("lab"))).as("clusters_new"))
      val a2 = s2i.agg(count(lit(1)).as("d2"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("t2"))
      val a4 = en.agg(countDistinct(col("shard_id")).as("nshards"),
        coalesce(sum(expr("cast(conv(substring(md5(concat(" +
          "cast(doc_id as string), ':ck')), 1, 8), 16, 10) as bigint)")),
          lit(0L)).as("chk"))

      val scalars = plantChecked(a0.crossJoin(aC).crossJoin(a2)
          .crossJoin(interleaveAgg(m, accI)).crossJoin(a4)
          .crossJoin(broadcast(bTot)),
        s2i, s"${m.incr}: a planted duplicate survived ${m.kind} dedup " +
          "— the arrival/dedup stage contract broke")

      val ledger = Ledger(scalars,
        Stage("arrive", col("d_i0"), col("d_i0"), col("t_i0"), col("t_i0"),
          detail("planted" -> col("np"), "base_docs" -> col("base_docs"),
            "base_tokens" -> col("base_total"))),
        Ledger.quality(col("d_i0"), col("d1"), col("t_i0"), col("t1")),
        Stage(s"${m.kind}_dedup", col("d1"), col("d2"), col("t1"),
          col("t2"), detail("vs_base" -> col("vs_base"),
            "clusters_new" -> col("clusters_new"))),
        interleaveStage(m),
        shardStage)

      // qf is Memo-owned (released by Memo.clear)
      Seq(s1, bPairs, bLabP, s2b, cPairs, mLabP, hasBase, i2c, s2i,
        accI).foreach(_.unpersist(false))
      bLab.unpersist(false)
      mLab.unpersist(false)
      hwmFrame.foreach(_.unpersist(false))
      ledger
    }

  /** The interleave-stage aggregates over an accounting frame: media
    * count, docs carrying media, and the token total after accounting.
    */
  private def interleaveAgg(m: Media, acc: DataFrame): DataFrame =
    acc.agg(coalesce(sum(col(m.nMedia)), lit(0L)).as("nmed"),
      sum(when(col(m.nMedia) > 0, 1L).otherwise(0L)).as("ndwm"),
      coalesce(sum(col("n_total_tokens")), lit(0L)).as("t3"))

  /** Media tokens enter here: tokens_out − tokens_in is the media cost. */
  private def interleaveStage(m: Media): Stage =
    Stage("interleave", col("d2"), col("d2"), col("t2"), col("t3"),
      detail(m.countKey -> col("nmed"), m.docsKey -> col("ndwm"),
        m.tokensKey -> (col("t3") - col("t2"))))

  private def shardStage: Stage =
    Stage("shard", col("d2"), col("d2"), col("t3"), col("t3"),
      detail("shards" -> col("nshards"), "check" -> col("chk")))

  /** The ONE checkpointed scalar row, behind the plant self-check the
    * planted feed exists for, FAIL-LOUDLY in-plan (the plant-guard idiom
    * — a FILTER must evaluate): a planted id among the stage-2
    * survivors `s2` means a stage contract broke.
    */
  private def plantChecked(aggs: DataFrame, s2: DataFrame,
                           msg: String): DataFrame =
    aggs.crossJoin(s2.agg(coalesce(
        assert_true(coalesce(sum(col("planted")), lit(0L)) === 0L, lit(msg))
          .cast("long"),
        lit(0L)).as("__pd")))
      .filter(col("__pd") === 0L)
      .drop("__pd")
      .localCheckpoint(true)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Seq(Image, Audio).flatMap(m => Seq(
      m.full -> (fullLoad(m) _),
      m.incr -> (incremental(m) _),
      m.state -> (incremental(m, maintained = true) _))).toMap

  // the maintained-state gates share their incremental twin's oracle
  // VERBATIM: the maintained read is value-identical by fold algebra,
  // and the shared SQL is exactly the hash-identity claim
  val oracles: Map[String, String] = {
    import PipelineMediaSql._
    Map(
      Image.full -> pipelineE2eMmSql,
      Image.incr -> pipelineE2eMmIncrSql,
      Image.state -> pipelineE2eMmIncrSql,
      Audio.full -> pipelineE2eAudioSql,
      Audio.incr -> pipelineE2eAudioIncrSql,
      Audio.state -> pipelineE2eAudioIncrSql)
  }
}
