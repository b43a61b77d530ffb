package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Ledger.{Stage, detail}

/** The composed END-TO-END training-data pipeline — the product the solo
  * gates are stages of, chained over one corpus with a per-stage
  * conservation LEDGER. Solo gates verify each stage in isolation;
  * stage-CONTRACT mismatches (stage k feeding stage k+1 the wrong token
  * accounting, a split applied before the cluster correction, dedup run
  * after planting instead of before) are invisible to them — the ledger
  * makes every hand-off auditable: per stage, docs in = kept + dropped,
  * with reason attribution in `detail`, and token totals that conserve
  * exactly across the strip/truncate/pack/shard tail.
  *
  * Stage chain (each stage's input is the previous stage's survivors):
  *   0 extract       — raw corpus + the planted duplicate feed
  *   1 quality       — the Gopher rule suite (`quality_rules` thresholds)
  *   2 dedup_exact   — content-hash keep-min-id
  *   3 near_dedup    — MinHash-LSH verified pairs → connected components
  *                     restricted to survivors → KEEP-BEST per cluster
  *   4 decontaminate — eval-doc removal + `decontaminate_spans` stripping
  *   5 split         — hash split with `split_by_cluster` correction
  *   6 truncate      — `doc_truncate`'s middle-out cut (counts)
  *   7 pack          — `pack_sequences` binning per (split, lang) stratum
  *   8 shard         — `shard_plan`'s 16-shard token-balanced layout
  *
  * Reference analog: the reference's own end-to-end is `Upload.run`
  * (`lib/LINZ/BdeUpload.pm:612`+ — dataset ordering, per-table apply,
  * bookkeeping conservation); this is its LLM-pipeline twin over the
  * documents corpus.
  *
  * Cross-stage contracts worth naming:
  * - The quality augmentation keys on the ORIGINAL id (`doc_id mod
  *   100000`) so a planted copy shares its source's verdict —
  *   content-identical docs must gate identically, which also guarantees
  *   no planted id ever survives exact dedup (min-id wins).
  * - Near-dup clustering runs over pairs whose BOTH endpoints survived
  *   stages 1–2: pair generation and Jaccard verification are pairwise,
  *   so the full-corpus verified-pair frame (memoized, shared with the
  *   dedup gates) filters exactly to the survivor-restricted graph; the
  *   components themselves are re-propagated ([[Clustering.ccLabels]])
  *   because clusters must NOT merge through dropped documents.
  * - The split correction reuses the propagation label (min member id)
  *   through [[TrainPrep.splitColOf]] — the keep-best winner can differ
  *   from the label, which is exactly when the correction moves a doc.
  * - Stages 6–8 run on CLEANED token counts (stage 4's `n_clean`), not
  *   the raw ones — the hand-off solo gates cannot see.
  *
  * Scale (100 TB): every stage keeps its solo gate's plan shape — narrow
  * maps for quality/truncate, one hash-groupBy for exact dedup, the
  * memoized LSH pipeline + frontier propagation for the cascade, a
  * broadcast eval-gram probe for decontamination, two-phase
  * [[DistRank.runningSum]] (never a global window) for pack and shard.
  * The ledger itself is O(stages) rows of scalar aggregates; intermediate
  * frames are persisted for the multi-consumer reads and released after
  * the 9-row result is eagerly materialized.
  */
object Pipeline extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Pack-bin token budget — `pack_sequences`' convention. */
  private val Budget = 2048

  /** Planted-duplicate id shift — `dedup_exact`'s convention. The FEED
    * residue deliberately differs from that gate's (mod 5, not mod 7):
    * the quality augmentation plants symbol words on mod-7 docs, which
    * fail `r_symbols` at this corpus's word-count range by construction
    * — a mod-7 duplicate feed would be entirely quality-dropped and the
    * dedup hand-off would never be exercised. */
  // ONE shared plant-family constant (defined with the image-plant
  // convention it must agree with — advice finding, r15)
  private val PlantShift = Multimodal.PlantShift

  /** The stage-1 Gopher rule frame over a `(doc_id, lang, text, …)`
    * frame: the deterministic quality augmentation (keyed on
    * `doc_id % PlantShift` so planted copies share their source's
    * verdict) plus the five rule columns and the combined `keep` — ONE
    * definition shared by the full-load pipeline and the incremental
    * twin ([[PipelineIncr]]), so the two gates' quality stages cannot
    * drift.
    */
  private[operators] def gopherFrame(u: DataFrame): DataFrame = {
    val augId = col("doc_id") % PlantShift
    val aug = concat(norm,
      when(augId % 7 === 0, lit(" # # # # # #")).otherwise(lit("")),
      when(augId % 13 === 0, lit(" 0 1 2 3 4 5 6 7 8 9 10 11"))
        .otherwise(lit("")))
    val ws = split(col("aug"), " ")
    val n = size(ws)
    val meanW = length(regexp_replace(col("aug"), " ", ""))
      .cast("double") / n
    val symRatio = size(filter(ws, w => w === "#")).cast("double") / n
    val alphaFrac = size(filter(ws, w => w.rlike("[a-z]")))
      .cast("double") / n
    val stopHits = size(filter(ws, w => w.isin(Stoplists.en: _*)))
    u.withColumn("aug", aug)
      .withColumn("r_words",
        n.between(CorpusFilters.RuleMinWords, CorpusFilters.RuleMaxWords))
      .withColumn("r_mean_len",
        meanW >= CorpusFilters.RuleMeanLo && meanW <= CorpusFilters.RuleMeanHi)
      .withColumn("r_symbols", symRatio <= CorpusFilters.RuleSymMax)
      .withColumn("r_alpha", alphaFrac >= CorpusFilters.RuleAlphaMin)
      .withColumn("r_stopwords", stopHits >= CorpusFilters.RuleStopMin)
      .withColumn("keep", col("r_words") && col("r_mean_len") &&
        col("r_symbols") && col("r_alpha") && col("r_stopwords"))
  }

  /** The memoized Gopher rule frame over the RAW corpus (doc_id, lang,
    * text, n_tokens, aug, rule columns, keep) — ONE gopher pass per
    * (session, dir) shared by the incremental twins (their historical
    * memo key) and, through [[qfPlanted]], by every planted-universe
    * pipeline: the rule columns depend only on the text and on
    * `doc_id % PlantShift`, so planted copies can be DERIVED from their
    * source's row instead of re-running the normalize/split/rule chain
    * over the duplicated universe.
    */
  private[operators] def qfBase(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "pincr_qf", dir) {
      // eager checkpoint, not cache: the gopher rule columns are WIDE
      // expression trees (array lambdas, a ~100-literal stoplist isin);
      // a cached-but-lazy frame re-injects them into every consumer's
      // ANALYZED plan across all six pipeline gates — the checkpoint
      // hands consumers a leaf (the ccLabels plan-growth lesson)
      gopherFrame(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("n_tokens", size(split(norm, " ")).cast("long")))
        .localCheckpoint(true)
    }

  /** The memoized PLANTED-universe Gopher frame at plant modulus `mod`
    * (adds `planted`): the base frame plus, for every mod-th source, a
    * copy under id + PlantShift carrying the SOURCE's rule verdicts —
    * exact because (x + PlantShift) % PlantShift = x % PlantShift and
    * the copy's text is byte-identical, so every rule column is equal by
    * construction. The id-collision guard rides the memoized frame as a
    * cross-joined filter (the probesOf idiom — it must evaluate).
    * Shared by the full-load text pipeline (mod 5) and the mm/audio
    * families (mod [[Multimodal.PlantMod]]), which previously each
    * re-ran the gopher chain over their own planted union.
    */
  private[operators] def qfPlanted(s: SparkSession, dir: String,
                                   mod: Int): DataFrame =
    graft.Memo.cached(s, s"qf_plant_$mod", dir) {
      val base = qfBase(s, dir)
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val plantGuard = ids
        .intersect(ids.filter(col("doc_id") % mod === 0)
          .select((col("doc_id") + PlantShift).as("doc_id")))
        .agg(coalesce(
          assert_true(count(lit(1)) === 0L,
            lit(s"qf_plant_$mod: a planted id (doc_id + PlantShift) " +
              "collides with a real doc_id — choose a shift outside " +
              "the corpus id range")).cast("long"),
          lit(0L)).as("__plant_g0"))
      base.withColumn("planted", lit(0L)).unionByName(
          base.filter(col("doc_id") % mod === 0)
            .withColumn("doc_id", col("doc_id") + PlantShift)
            .withColumn("planted", lit(1L)))
        .crossJoin(broadcast(plantGuard))
        .filter(col("__plant_g0") === 0L)
        .drop("__plant_g0")
        // leaf hand-off for the same reason as [[qfBase]] (and the guard
        // has evaluated by the time any consumer reads the frame)
        .localCheckpoint(true)
    }

  /** The matching DuckDB rule CTE pair over a source CTE exposing
    * `(doc_id, lang, text)` — [[gopherFrame]]'s oracle twin, emitting
    * `${p}tok` (with `n_tokens` and the augmented text) and `${p}qf`
    * (the rule booleans). Shared by both pipeline oracles.
    */
  private[operators] def gopherCtes(src: String, p: String): String = {
    val stop = Stoplists.en.map("'" + _ + "'").mkString(",")
    s"""
    ${p}tok AS MATERIALIZED (
      SELECT doc_id, lang, text,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens,
        $normSql
          || CASE WHEN (doc_id % $PlantShift) % 7 = 0
               THEN ' # # # # # #' ELSE '' END
          || CASE WHEN (doc_id % $PlantShift) % 13 = 0
               THEN ' 0 1 2 3 4 5 6 7 8 9 10 11' ELSE '' END AS aug
      FROM $src),
    ${p}qf AS MATERIALIZED (
      SELECT doc_id, lang, text, n_tokens,
        len(ws) BETWEEN ${CorpusFilters.RuleMinWords}
          AND ${CorpusFilters.RuleMaxWords} AS r_words,
        CAST(length(replace(aug, ' ', '')) AS DOUBLE) / len(ws)
            >= ${CorpusFilters.RuleMeanLo}
          AND CAST(length(replace(aug, ' ', '')) AS DOUBLE) / len(ws)
            <= ${CorpusFilters.RuleMeanHi} AS r_mean_len,
        CAST(len(list_filter(ws, w -> w = '#')) AS DOUBLE) / len(ws)
          <= ${CorpusFilters.RuleSymMax} AS r_symbols,
        CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
          AS DOUBLE) / len(ws) >= ${CorpusFilters.RuleAlphaMin} AS r_alpha,
        len(list_filter(ws, w -> w IN ($stop)))
          >= ${CorpusFilters.RuleStopMin} AS r_stopwords
      FROM (SELECT doc_id, lang, text, n_tokens, aug,
              string_split(aug, ' ') AS ws FROM ${p}tok))"""
  }

  def pipelineE2e(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "pipeline_e2e", dir) {
    val keepN = TrainPrep.TruncHead + TrainPrep.TruncTail

    // ---- stages 0-1: extract (corpus + planted duplicate feed, the
    // id-collision guard riding the memoized frame) and the Gopher rule
    // suite — ONE shared [[qfPlanted]] build: the rule columns key on
    // the text and doc_id % PlantShift, so the planted copies carry
    // their source's verdicts by construction instead of re-running the
    // normalize/split/rule chain over the 1.2× universe per gate.
    val qf = qfPlanted(s, dir, 5)
    // hashed is the stage-1 survivor frame plus the content hash — the
    // md5/norm pass runs once for its three consumers (the hash groups,
    // the canonical join, nothing else re-derives it)
    val hashed = qf.filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
      .withColumn("h", md5(norm))
      .persist()

    // ---- stage 2: exact dedup — keep min id per content hash
    val groups = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("nc"))
      .persist()
    // keep_id values are unique (one min per hash group), so membership on
    // the id alone selects exactly the canonical row per group — and
    // avoids a lineage-shared self-join on `h`
    val s2 = hashed.join(groups.select(col("keep_id")),
        col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .persist()

    // ---- stage 3: near-dedup cascade restricted to survivors, keep-best
    val pairs = Dedup.minhashPairsOf(s, dir).select(col("id_a"), col("id_b"))
    val ids2 = s2.select(col("doc_id"))
    val pairsF = pairs
      .join(ids2.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(ids2.withColumnRenamed("doc_id", "id_b"), "id_b")
      .persist()
    val edges = pairsF.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairsF.select(col("id_b").as("src"), col("id_a").as("dst")))
    val labels = Clustering.ccLabels(edges)
    val labP = labels.select(col("id"), col("lab")).persist()
    // winners has exactly one consumer (the s3 membership join) — no
    // persist needed
    val winners = labP
      .join(TextOps.qualityDf(s, dir), col("id") === col("doc_id"))
      .groupBy(col("lab"))
      .agg(max_by(col("id"),
        struct(col("quality"), (-col("id")).as("nd"))).as("keep_id"))
    val s3 = s2
      .join(labP.select(col("id").as("doc_id"), col("lab")), Seq("doc_id"),
        "left")
      .join(winners.select(col("keep_id").as("doc_id"), lit(1).as("win")),
        Seq("doc_id"), "left")
      .filter(col("lab").isNull || col("win").isNotNull)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("lab").as("cluster"))
      .persist()

    // ---- stage 4: decontaminate — eval docs OUT, shared spans stripped
    val evalMod = CorpusFilters.EvalMod
    // Memo-shared with the incremental twins (keys pl_grams/pl_evalg —
    // the corpus gram explosion is predicate-independent): persisted
    // because it feeds TWO plan subtrees here (the eval probe and the
    // survivor-restricted removal join; review finding, r14), and
    // across gates it is the base-store memo the r16 verdict asked for
    val grams = graft.Memo.cachedLeaf(s, "pl_grams", dir)(
      SubstringDedup.gramsOf(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        CorpusFilters.SpanK))
    val evalG = graft.Memo.cachedLeaf(s, "pl_evalg", dir)(
      grams.filter(col("doc_id") % evalMod === 0)
        .select(col("g")).distinct())
    val tr4 = s3.filter(col("doc_id") % evalMod =!= 0)
    val rem = grams
      .join(tr4.select(col("doc_id")), "doc_id")
      .join(broadcast(evalG), "g")
      .select(col("doc_id"),
        explode(sequence(col("p"),
          col("p") + (CorpusFilters.SpanK - 1))).as("t"))
      .distinct()
    val remc = rem.groupBy(col("doc_id")).agg(count(lit(1)).as("n_rem"))
    val s4 = tr4.join(remc, Seq("doc_id"), "left")
      .withColumn("n_clean",
        col("n_tokens") - coalesce(col("n_rem"), lit(0L)))

    // ---- stages 5-8 on one enriched frame: split correction, truncation
    // counts, pack binning, shard layout
    val en0 = s4
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
      .withColumn("seq_id", floor((col("cum") - col("n_after")) / Budget))
      .withColumn("__all", lit(0L))
    // en2 feeds TWO branches (the shard-size scalar and the enriched
    // frame) — left lazy, the whole chain above it INCLUDING the gram
    // explosion and both two-phase running sums executed twice (no
    // exchange reuse across the branches); cache it, not the single-
    // consumer `en` frame downstream
    val en2 = DistRank.runningSum(en1, "__all",
      Seq(col("h"), col("doc_id")), "doc_id", col("n_after"), "cs")
      .localCheckpoint(true)
    val ssize = en2.agg(greatest(lit(1L),
      expr(s"(sum(n_after) + ${TrainPrep.OutShards - 1})" +
        s" div ${TrainPrep.OutShards}")).as("ssize"))
    val en = en2.crossJoin(broadcast(ssize))
      .withColumn("shard_id", expr("(cs - n_after) div ssize"))

    // ---- the ledger: 9 rows of scalar aggregates. Aggregates over the
    // SAME frame are FUSED into one pass with conditional sums (extract
    // + rule failures + stage-1 survivors over qf; stage-3 survivors +
    // eval docs over s3) — each fusion removes a full aggregate
    // stage-chain from the crossJoin tree.
    val aQF = qf.agg(count(lit(1)).as("d_u"), Seq(
      sum(col("n_tokens")).as("t_u"), sum(col("planted")).as("np"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("d1"),
      coalesce(sum(when(col("keep"), col("n_tokens"))), lit(0L)).as("t1"))
      ++ Ledger.ruleFailures: _*)
    val a2 = s2.agg(count(lit(1)).as("d2"), sum(col("n_tokens")).as("t2"))
    val aG = groups.agg(
      sum(when(col("nc") >= 2, 1L).otherwise(0L)).as("dup_groups"))
    val a3 = s3.agg(count(lit(1)).as("d3"), sum(col("n_tokens")).as("t3"),
      coalesce(sum(when(col("doc_id") % evalMod === 0, 1L)
        .otherwise(0L)), lit(0L)).as("ed"),
      coalesce(sum(when(col("doc_id") % evalMod === 0, col("n_tokens"))),
        lit(0L)).as("et"))
    val aC = labP.agg(countDistinct(col("lab")).as("ncl"),
      count(lit(1)).as("nmem"))
    val a4 = en.agg(count(lit(1)).as("d4"), sum(col("n_clean")).as("t4"),
      sum(col("moved")).as("moved"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("ntr"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("nva"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("nte"),
      sum(when(col("n_clean") > keepN, 1L).otherwise(0L)).as("ntrunc"),
      sum(col("n_after")).as("t6"),
      countDistinct(col("strat"), col("seq_id")).as("nbins"),
      countDistinct(col("shard_id")).as("nshards"),
      sum(expr("cast(conv(substring(md5(concat(cast(doc_id as string), " +
        "':ck')), 1, 8), 16, 10) as bigint)")).as("chk"))

    // eagerly checkpoint the ONE scalar row: the 9 ledger branches each
    // re-analyze and re-execute every crossJoined aggregate subtree
    // otherwise (the PipelineIncr lesson — measured 87 s of ledger
    // planning there); from the checkpointed leaf they are row reads
    val scalars = aQF.crossJoin(a2).crossJoin(aG).crossJoin(a3)
      .crossJoin(aC).crossJoin(a4)
      .localCheckpoint(true)

    val ledger = Ledger(scalars,
      Stage("extract", col("d_u"), col("d_u"), col("t_u"), col("t_u"),
        detail("planted" -> col("np"))),
      Ledger.quality(col("d_u"), col("d1"), col("t_u"), col("t1")),
      Stage("dedup_exact", col("d1"), col("d2"), col("t1"), col("t2"),
        detail("dup_groups" -> col("dup_groups"))),
      Stage("near_dedup", col("d2"), col("d3"), col("t2"), col("t3"),
        detail("clusters" -> col("ncl"), "members" -> col("nmem"))),
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

    // qf/grams/evalG are Memo-owned now (released by Memo.clear) — only
    // the per-call frames unpersist here
    Seq(hashed, groups, s2, pairsF, labP, s3, en2)
      .foreach(_.unpersist(false))
    labels.unpersist(false)
    ledger
  }

  val pipelineE2eSql: String = {
    val keepN = TrainPrep.TruncHead + TrainPrep.TruncTail
    val spanHi = CorpusFilters.SpanK - 1
    s"""
    WITH RECURSIVE ${Dedup.minhashPairsCtesSql},
    ${TextOps.docQualityCteSql},
    pe_u AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, lang, text FROM documents
      WHERE doc_id % 5 = 0),
    ${gopherCtes("pe_u", "pe_")},
    pe_s1 AS MATERIALIZED (
      SELECT doc_id, lang, text, n_tokens FROM pe_qf
      WHERE r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pe_h AS MATERIALIZED (SELECT doc_id, lang, n_tokens, md5($normSql) AS h FROM pe_s1),
    pe_g2 AS MATERIALIZED (SELECT h, min(doc_id) AS keep_id, count(*) AS nc
              FROM pe_h GROUP BY h),
    pe_s2 AS MATERIALIZED (SELECT p.doc_id, p.lang, p.n_tokens
              FROM pe_h p JOIN pe_g2 k ON p.doc_id = k.keep_id),
    pe_edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
        JOIN pe_s2 a ON id_a = a.doc_id JOIN pe_s2 b ON id_b = b.doc_id
      UNION
      SELECT id_b, id_a FROM mh_pairs
        JOIN pe_s2 a ON id_a = a.doc_id JOIN pe_s2 b ON id_b = b.doc_id),
    pe_reach(id, lab) AS (
      SELECT src, src FROM pe_edges
      UNION
      SELECT e.src, r.lab FROM pe_edges e JOIN pe_reach r ON r.id = e.dst),
    pe_comp AS MATERIALIZED (SELECT id AS doc_id, min(lab) AS cluster
                FROM pe_reach GROUP BY id),
    pe_best AS (
      SELECT cluster, doc_id AS keep_id FROM (
        SELECT c.cluster, c.doc_id,
          row_number() OVER (PARTITION BY c.cluster
            ORDER BY dq.quality DESC, c.doc_id) AS rn
        FROM pe_comp c JOIN dq USING (doc_id)) rk
      WHERE rn = 1),
    pe_s3 AS MATERIALIZED (
      SELECT p.doc_id, p.lang, p.n_tokens, c.cluster
      FROM pe_s2 p LEFT JOIN pe_comp c USING (doc_id)
      WHERE c.cluster IS NULL
        OR p.doc_id IN (SELECT keep_id FROM pe_best)),
    pe_dw AS (SELECT doc_id, string_split($normSql, ' ') AS ws
              FROM documents),
    pe_dg AS MATERIALIZED (
      SELECT doc_id, p, md5(array_to_string(ws[p:p+$spanHi], ' ')) AS g
      FROM (SELECT doc_id, ws,
              unnest(generate_series(1, len(ws) - $spanHi)) AS p
            FROM pe_dw)),
    pe_evg AS MATERIALIZED (SELECT DISTINCT g FROM pe_dg
               WHERE doc_id % ${CorpusFilters.EvalMod} = 0),
    pe_tr4 AS MATERIALIZED (SELECT * FROM pe_s3
               WHERE doc_id % ${CorpusFilters.EvalMod} <> 0),
    pe_rem AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT dg.doc_id, unnest(generate_series(dg.p, dg.p + $spanHi)) AS t
        FROM pe_dg dg
        JOIN pe_evg e USING (g)
        JOIN (SELECT doc_id FROM pe_tr4) s4 ON dg.doc_id = s4.doc_id)),
    pe_remc AS (SELECT doc_id, count(*) AS n_rem FROM pe_rem
                GROUP BY doc_id),
    pe_s4 AS MATERIALIZED (
      SELECT t.doc_id, t.lang, t.cluster, t.n_tokens,
        t.n_tokens - coalesce(r.n_rem, 0) AS n_clean
      FROM pe_tr4 t LEFT JOIN pe_remc r USING (doc_id)),
    pe_en AS MATERIALIZED (
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
      FROM pe_s4),
    pe_pk AS MATERIALIZED (
      SELECT *, CAST(floor((cum - n_after) / $Budget) AS BIGINT) AS seq_id
      FROM (SELECT *,
              sum(n_after) OVER (PARTITION BY split, lang ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM pe_en)),
    pe_sz AS (
      SELECT greatest(1, CAST((sum(n_after) + ${TrainPrep.OutShards - 1})
        // ${TrainPrep.OutShards} AS BIGINT)) AS ssize
      FROM pe_en),
    pe_sh AS MATERIALIZED (
      SELECT doc_id, n_after,
        CAST((cs - n_after) // ssize AS BIGINT) AS shard_id
      FROM (SELECT doc_id, n_after,
              CAST(sum(n_after) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM pe_en), pe_sz),
    pe_a0 AS (
      SELECT count(*) AS d_u, CAST(sum(n_tokens) AS BIGINT) AS t_u,
        (SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS np
      FROM pe_tok),
    pe_a1 AS (
      SELECT count(*) FILTER (WHERE NOT r_words) AS fw,
        count(*) FILTER (WHERE NOT r_mean_len) AS fm,
        count(*) FILTER (WHERE NOT r_symbols) AS fs,
        count(*) FILTER (WHERE NOT r_alpha) AS fa,
        count(*) FILTER (WHERE NOT r_stopwords) AS fst
      FROM pe_qf),
    pe_a2 AS (
      SELECT count(*) AS d1,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1
      FROM pe_s1),
    pe_a3 AS (
      SELECT count(*) AS d2,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t2
      FROM pe_s2),
    pe_a4 AS (
      SELECT count(*) FILTER (WHERE nc >= 2) AS dup_groups FROM pe_g2),
    pe_a5 AS (
      SELECT count(*) AS d3,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t3,
        count(*) FILTER (WHERE doc_id % ${CorpusFilters.EvalMod} = 0)
          AS ed,
        CAST(coalesce(sum(n_tokens)
          FILTER (WHERE doc_id % ${CorpusFilters.EvalMod} = 0), 0)
          AS BIGINT) AS et
      FROM pe_s3),
    pe_a6 AS (
      SELECT count(DISTINCT cluster) AS ncl, count(*) AS nmem
      FROM pe_comp),
    pe_a7 AS (
      SELECT count(*) AS d4,
        CAST(coalesce(sum(n_clean), 0) AS BIGINT) AS t4
      FROM pe_s4),
    pe_a8 AS (
      SELECT CAST(coalesce(sum(moved), 0) AS BIGINT) AS moved,
        count(*) FILTER (WHERE split = 'train') AS ntr,
        count(*) FILTER (WHERE split = 'val') AS nva,
        count(*) FILTER (WHERE split = 'test') AS nte,
        count(*) FILTER (WHERE n_clean > $keepN) AS ntrunc,
        CAST(coalesce(sum(n_after), 0) AS BIGINT) AS t6,
        CAST(coalesce(sum(('0x' || substring(
          md5(CAST(doc_id AS VARCHAR) || ':ck'), 1, 8))::BIGINT), 0)
          AS BIGINT) AS chk
      FROM pe_en),
    pe_a9 AS (
      SELECT count(*) AS nbins FROM
        (SELECT DISTINCT split, lang, seq_id FROM pe_pk) x),
    pe_a10 AS (
      SELECT count(DISTINCT shard_id) AS nshards FROM pe_sh),
    pe_a AS (
      SELECT * FROM pe_a0, pe_a1, pe_a2, pe_a3, pe_a4, pe_a5, pe_a6,
        pe_a7, pe_a8, pe_a9, pe_a10)
    SELECT stage_id, stage, docs_in, docs_kept,
      docs_in - docs_kept AS docs_dropped, tokens_in, tokens_out, detail
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'extract' AS stage,
        d_u AS docs_in, d_u AS docs_kept, t_u AS tokens_in,
        t_u AS tokens_out,
        'planted=' || CAST(np AS VARCHAR) AS detail FROM pe_a
      UNION ALL
      SELECT 1, 'quality', d_u, d1, t_u, t1,
        'r_words=' || CAST(fw AS VARCHAR)
          || ',r_mean_len=' || CAST(fm AS VARCHAR)
          || ',r_symbols=' || CAST(fs AS VARCHAR)
          || ',r_alpha=' || CAST(fa AS VARCHAR)
          || ',r_stopwords=' || CAST(fst AS VARCHAR) FROM pe_a
      UNION ALL
      SELECT 2, 'dedup_exact', d1, d2, t1, t2,
        'dup_groups=' || CAST(dup_groups AS VARCHAR) FROM pe_a
      UNION ALL
      SELECT 3, 'near_dedup', d2, d3, t2, t3,
        'clusters=' || CAST(ncl AS VARCHAR)
          || ',members=' || CAST(nmem AS VARCHAR) FROM pe_a
      UNION ALL
      SELECT 4, 'decontaminate', d3, d4, t3, t4,
        'eval_docs=' || CAST(ed AS VARCHAR)
          || ',tokens_stripped=' || CAST(t3 - et - t4 AS VARCHAR)
        FROM pe_a
      UNION ALL
      SELECT 5, 'split', d4, d4, t4, t4,
        'train=' || CAST(ntr AS VARCHAR) || ',val=' || CAST(nva AS VARCHAR)
          || ',test=' || CAST(nte AS VARCHAR)
          || ',moved=' || CAST(moved AS VARCHAR) FROM pe_a
      UNION ALL
      SELECT 6, 'truncate', d4, d4, t4, t6,
        'truncated=' || CAST(ntrunc AS VARCHAR) FROM pe_a
      UNION ALL
      SELECT 7, 'pack', d4, d4, t6, t6,
        'bins=' || CAST(nbins AS VARCHAR) FROM pe_a
      UNION ALL
      SELECT 8, 'shard', d4, d4, t6, t6,
        'shards=' || CAST(nshards AS VARCHAR)
          || ',check=' || CAST(chk AS VARCHAR) FROM pe_a)
    ORDER BY stage_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_e2e" -> (pipelineE2e(_, _)))

  val oracles: Map[String, String] = Map(
    "pipeline_e2e" -> pipelineE2eSql)
}
