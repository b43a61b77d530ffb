package graft.streaming

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-gate scenarios for the streaming operators, run in batch mode
  * (Spark executes the identical `flatMapGroupsWithState` / windowed-agg
  * plans over bounded inputs, so the DuckDB oracle checks the same code the
  * streams run).
  *
  * Change stream derived from `orders`: every key is inserted (seq 1),
  * keys ≡0 (mod 3) are updated to price+1 (seq 2), keys ≡0 (mod 5) are
  * deleted (seq 3), keys ≡0 (mod 7) are re-inserted at price+50 (seq 4) —
  * covering upsert, delete, and delete-then-reinsert lifecycles.
  */
object StreamScenarios extends graft.GateModule {

  def changeStream(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val k = col("o_orderkey")
    val p = col("o_totalprice")
    o.select(k.as("key"), lit("I").as("action"), p.as("payload"),
        lit(1L).as("seq"))
      .unionByName(o.filter(k % 3 === 0).select(k.as("key"),
        lit("U").as("action"), (p + 1.0).as("payload"), lit(2L).as("seq")))
      .unionByName(o.filter(k % 5 === 0).select(k.as("key"),
        lit("D").as("action"), lit(0.0).as("payload"), lit(3L).as("seq")))
      .unionByName(o.filter(k % 7 === 0).select(k.as("key"),
        lit("I").as("action"), (p + 50.0).as("payload"), lit(4L).as("seq")))
  }

  def streamChangeset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ChangesetStream.latestState(changeStream(s, dir).as[ChangeRecord])
      .toDF().orderBy("key")
  }

  val streamChangesetSql: String = """
    SELECT o_orderkey AS key,
      CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 50.0
           WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
           ELSE o_totalprice END AS payload,
      CASE WHEN o_orderkey % 7 = 0 THEN 4
           WHEN o_orderkey % 3 = 0 THEN 2
           ELSE 1 END AS last_seq,
      CAST(1 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END
             + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
             + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS INT)
        AS n_changes
    FROM orders
    WHERE o_orderkey % 5 <> 0 OR o_orderkey % 7 = 0
    ORDER BY key"""

  /** View→purchase attribution via the interval join: per user, purchases
    * landing within an hour of one of their views (each qualifying
    * view-purchase pair counts — standard multi-touch attribution). Gate
    * runs the bounded path; the streaming path (watermarked stream-stream
    * join) is spec-driven with two MemoryStreams.
    */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"),
        col("event_type"), col("value"))
    val views = e.filter(col("event_type") === "view").select("user_id", "tss")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tss"), col("value"))
    IntervalJoin.attribute(views, purchases)
      .select(col("v.user_id").as("user_id"), col("p.value").as("value"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attrib"), Exact.sumD(col("value")).as("sum_attrib"))
      .orderBy("user_id")
  }

  val streamIntervalJoinSql: String = s"""
    WITH e AS (
      SELECT user_id, date_trunc('second', ts) AS tss, event_type, value
      FROM events),
    v AS (SELECT user_id, tss FROM e WHERE event_type = 'view'),
    p AS (SELECT user_id, tss, value FROM e WHERE event_type = 'purchase'),
    j AS (
      SELECT v.user_id, p.value
      FROM v JOIN p ON v.user_id = p.user_id
        AND p.tss >= v.tss AND p.tss <= v.tss + INTERVAL 1 HOUR)
    SELECT user_id, COUNT(*) AS n_attrib,
      ${Exact.sqlSum("value")} AS sum_attrib
    FROM j GROUP BY 1 ORDER BY user_id"""

  /** CDC-maintained aggregate (a streaming materialized view): the per-key
    * latest-state stream feeds a bucketed rollup, so every micro-batch
    * maintains the aggregate from state transitions instead of rescanning
    * the table — the streaming twin of `incremental_agg`. Batch-gated over
    * the full change stream: n and exact-decimal payload sum per key
    * bucket of the surviving keys.
    */
  def streamAggMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ChangesetStream.latestState(changeStream(s, dir).as[ChangeRecord])
      .toDF()
      .groupBy((col("key") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), Exact.sumD(col("payload")).as("sum_payload"))
      .orderBy("bucket")
  }

  val streamAggMaintainSql: String = s"""
    WITH live AS (
      SELECT o_orderkey AS key,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 50.0
             WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
             ELSE o_totalprice END AS payload
      FROM orders
      WHERE o_orderkey % 5 <> 0 OR o_orderkey % 7 = 0)
    SELECT key % 10 AS bucket, COUNT(*) AS n,
      ${Exact.sqlSum("payload")} AS sum_payload
    FROM live GROUP BY 1 ORDER BY bucket"""

  /** Batch-mode run of the stateful sessionizer — checked by the SAME
    * oracle SQL as the window-based `events_sessionize`, proving the two
    * execution paths agree.
    */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"),
        col("value"))
      .as[SessionEvent]
    StreamSessionize.sessions(evs).toDF()
      .orderBy("user_id", "session_id")
  }

  def streamWindowCounts(s: SparkSession, dir: String): DataFrame =
    WindowCounts.counts(Tables.events(s, dir))
      .orderBy("win_start", "event_type")

  /** Batch-mode run of the watermarked stream deduplicator over an event
    * feed with planted exact-duplicate deliveries (every third event
    * arrives twice — the at-least-once delivery the operator exists for).
    * The aggregate makes surviving duplicates visible: any undropped copy
    * would double its event's contribution to `n`/`sum_value`, so the
    * oracle over the duplicate-free table is a tight check.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val withDupes = e.unionByName(e.filter(col("event_id") % 3 === 0))
    StreamDedup.dedupe(withDupes, Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val streamDedupSql: String = s"""
    SELECT event_type, COUNT(*) AS n, ${Exact.sqlSum("value")} AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Batch-mode run of the streaming HLL register maintainer over the
    * same hashed observations as the batch sketch — checked by the SAME
    * oracle SQL as `hll_registers`, proving the stateful register-max path
    * agrees with the one-shot aggregation (the spec drives the cross-batch
    * evolution with a MemoryStream).
    */
  def streamHllMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamHll.registers(
        graft.operators.Sketch.hllObs(s, dir).as[HllObs])
      .toDF().orderBy("bucket")
  }

  /** Batch-mode run of the streaming KMV minima maintainer over the same
    * hashed observations as the batch sketch, with `kmv_by_group`'s OWN
    * read-time estimate layer (per-group + merged `ALL`) on top of the
    * maintained state — checked by the SAME oracle SQL, proving the
    * stateful take-k-smallest path agrees with the one-shot sketch (the
    * spec drives the cross-batch evolution with a MemoryStream).
    */
  def streamKmvMaintain(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import s.implicits._
    val state = StreamKmv.minima(
      graft.operators.Sketch.kmvObs(s, dir).as[KmvObs], k).toDF()
    graft.operators.Sketch.kmvEstimates(
      state.select(col("lang"), explode(col("minima")).as("h")), k)
  }

  /** Batch-mode run of the streaming quantile-summary maintainer over the
    * same keyed observations as the batch sketch, with the sketch gate's
    * OWN pick + rank-window report on top of the maintained state —
    * checked by the SAME oracle SQL as `q_quantiles_sketch`, proving the
    * stateful compaction reproduces the batch construction bit-for-bit in
    * a single batch (the spec drives multi-batch evolution and the error
    * bound with a MemoryStream).
    */
  def streamQuantileMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val state = StreamQuantile.summaries(
      graft.operators.Quantile.lineitemObs(s, dir).as[QuantObs]).toDF()
    val summary = state
      // an uncompacted shard's points are exact (weight 1 each): its
      // stride is the batch construction's ⌈n_s/S⌉ = 1 for that case
      .select(col("shard"), greatest(col("stride_sum"), lit(1L)).as("stride"),
        explode(col("points")).as("pt"))
      .select(col("shard"), col("pt.v").as("v"), col("pt.k").as("k"),
        col("stride"), col("pt.w").as("w"))
    graft.operators.Quantile.sketchReport(
      graft.operators.Quantile.lineitemBase(s, dir), summary)
  }

  /** Batch-mode run of the streaming Bloom mask maintainer over the same
    * set-bit observations as the batch filter — the word → OR-of-bits
    * table, checked by a direct DuckDB replay of the position hashes.
    */
  def streamBloomMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamBloom.mask(
        graft.operators.JoinShapes.bloomObs(s, dir).as[BloomObs])
      .toDF().orderBy("w")
  }

  /** Batch-mode run of the streaming gram-registry maintainer over the
    * same gram occurrences as the batch substring dedup, with the strip
    * transform recomputed from the MAINTAINED state — checked by the SAME
    * oracle SQL as `dedup_substring_strip`, proving the stateful
    * first-occurrence/cross-doc registry reproduces the batch grouping
    * (the spec drives cross-batch evolution with a MemoryStream).
    */
  def streamSubstringMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val obs = graft.operators.SubstringDedup.gramObs(s, dir)
      .select(col("g"), col("doc_id").cast("long").as("doc_id"), col("p"))
      .as[GramObs]
    graft.operators.SubstringDedup.stripFromState(
      s, dir, StreamGrams.states(obs).toDF())
  }

  /** Batch-mode run of the streaming heavy-hitter summary maintainer over
    * per-batch partial counts of the same bigram observations as the
    * batch sketch (the micro-batch pre-reduce production would do in
    * `foreachBatch`), with the sketch
    * gate's OWN merge/report layer (global top-k with the [lb, ub]
    * bracket + exact audit column) on top of the maintained state —
    * checked by the SAME oracle SQL as `topk_sketch`, proving the stateful
    * merge-and-cut reproduces the batch construction bit-for-bit in a
    * single batch (the spec drives multi-batch evolution and the error
    * bound with a MemoryStream).
    */
  def streamTopkSketchMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val state = StreamTopkSketch.summaries(
      graft.operators.Sketch.hhPartials(s, dir).as[HhPart]).toDF()
    val kept = state.select(col("shard"), explode(col("items")).as("it"))
      .select(col("shard"), col("it.bg").as("bg"), col("it.cnt").as("cnt"))
    val dmax = state.select(col("shard"), col("err").as("dmax"))
    graft.operators.Sketch.hhReport(s, dir, kept, dmax)
  }

  /** Batch-mode run of the count-inheriting (SpaceSaving-style) summary
    * maintainer over the same observations as `topk_sketch`. A single
    * batch from empty state carries every `err = 0` and `floor` = the
    * (m+1)-th count, so mapping items to `(shard, bg, ub - err)` with the
    * floor as the shard error term reproduces the batch construction
    * bit-for-bit — the SAME DuckDB oracle gates both maintainers. The
    * per-item brackets and the floor-vs-Σ tightness claim are spec-driven
    * across batches ([[StreamTopkSpace]]).
    */
  def streamTopkSpaceMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val state = StreamTopkSpace.summaries(
      graft.operators.Sketch.hhPartials(s, dir).as[HhPart]).toDF()
    val kept = state.select(col("shard"), explode(col("items")).as("it"))
      .select(col("shard"), col("it.bg").as("bg"),
        (col("it.ub") - col("it.err")).as("cnt"))
    val dmax = state.select(col("shard"), col("floor").as("dmax"))
    graft.operators.Sketch.hhReport(s, dir, kept, dmax)
  }

  /** Batch-mode run of the streaming as-of join over the SAME stacked
    * scenario as the batch gate (events as lefts, per-(customer, day)
    * max-orderkey rows as rights) — gated against the identical DuckDB
    * ASOF LEFT JOIN oracle. Cross-batch carry and the no-look-ahead rule
    * are spec-driven.
    */
  def streamAsofMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select(col("user_id"),
      date_trunc("second", col("ts")).as("t"), lit(1).as("side"),
      col("event_id"), lit(null).cast("bigint").as("payload"))
    val r = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("t"))
      .agg(max("o_orderkey").as("payload"))
      .select(col("user_id"), col("t"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"), col("payload"))
    StreamAsof.joined(e.unionByName(r).as[AsofObs]).toDF()
      .select(col("event_id"), col("user_id"), col("tss"),
        col("asof_orderkey"))
      .orderBy("event_id")
  }

  /** Batch-mode run of the streaming profile maintainer: per-column
    * non-null counts and typed min/max from the maintained state,
    * stringified by the SAME casts as the batch profile (numeric kinds
    * from the numeric fold — never the lexicographic string fold) and
    * gated against the monotone/additive half of `table_profile`'s
    * oracle. Cross-batch fold evolution and min/max replay-idempotence
    * are spec-driven.
    */
  def streamProfileMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = StreamProfile.states(
      graft.operators.Quality.profilePartials(s, dir).as[ProfPart]).toDF()
    // read-time merge of the per-shard states: counts add, extremes fold
    val merged = st.groupBy(col("cname"), col("kind"))
      .agg(sum(col("n_nonnull")).as("n_nonnull"),
        min(col("min_num")).as("min_num"), max(col("max_num")).as("max_num"),
        min(col("min_str")).as("min_str"), max(col("max_str")).as("max_str"))
    def sOf(num: String, str: String) =
      when(col("kind") === "int", col(num).cast("bigint").cast("string"))
        .when(col("kind") === "dec",
          col(num).cast("decimal(18,2)").cast("string"))
        .otherwise(col(str))
    merged.select(col("cname"), col("n_nonnull"),
        sOf("min_num", "min_str").as("min_s"),
        sOf("max_num", "max_str").as("max_s"))
      .orderBy("cname")
  }

  /** Batch-mode run of the streaming MinHash signature maintainer over
    * the corpus's per-shingle hash observations — (doc_id, m1..m16) from
    * the maintained minima, gated against the batch signature frame's
    * CTEs. Cross-batch min-fold evolution and replay idempotence are
    * spec-driven.
    */
  /** Batch-mode run of the streaming bigram-LM count maintainer: the
    * maintained counts fed through the SAME context report (and DuckDB
    * oracle) as the batch `text_bigram_lm`. Cross-batch counter evolution
    * is spec-driven.
    */
  def streamLmMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.operators.TrainPrep
    val counts = StreamLm.counts(T.lmPartials(s, dir).as[LmPart]).toDF()
    T.lmReport(counts.select(col("w1"), col("w2"), col("c12")))
  }

  /** Batch-mode run of the streaming TRIGRAM count maintainer (the
    * bigram maintainer one order up), with the Kneser-Ney report
    * recomputed from the MAINTAINED type counts — every lower-order KN
    * statistic derives from that one table, so the gate shares
    * `doc_ppl_kn`'s oracle.
    */
  def streamKnMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val F = graft.operators.Filtering
    val types = StreamKn.counts(
        F.knTypes(s, dir)
          .select(col("w1"), col("w2"), col("w3"),
            col("c123").as("c")).as[KnPart])
      .toDF().select(col("w1"), col("w2"), col("w3"), col("c123"))
    F.knReport(s, dir, types)
  }

  /** Batch-mode run of the streaming 5-GRAM count maintainer — the
    * trigram maintainer two orders up, with the CCNet-order KN report
    * recomputed from the MAINTAINED type counts; shares `doc_ppl_kn5`'s
    * oracle.
    */
  def streamKn5Maintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val F = graft.operators.Filtering
    val types = StreamKn5.counts(
        F.kn5Types(s, dir).as[Kn5Part]).toDF()
    F.kn5Report(s, dir, types)
  }

  /** Batch-mode run of the streaming DSIR importance-model maintainer:
    * per-batch raw bucket partials folded into the count state, then the
    * read-time smoothing + fixed-point log-ratio report — the SAME
    * bucket frame (and oracle) the batch `dsir_select` consumes.
    */
  def streamDsirMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val F = graft.operators.Filtering
    F.dsirBucketReport(
      StreamDsir.counts(F.dsirPartials(s, dir).as[DsirPart]).toDF())
  }

  def streamMinhashMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val D = graft.operators.Dedup
    val sigs = StreamMinhash.signatures(D.minhashObs(s, dir).as[MhObs])
      .toDF()
    sigs.select(col("doc_id") +:
      (1 to D.numHashes).map(i =>
        element_at(col("sigs"), i).as(s"m$i")): _*)
      .orderBy("doc_id")
  }

  /** Batch-mode run of the streaming Count-Min maintainer: per-cell
    * landing counts pre-reduced over the flat cell ids of every
    * observation (the micro-batch partial production would compute in
    * `foreachBatch`), folded into the cell counters, then the SAME
    * point-query report (and DuckDB oracle) as the batch `cms_sketch`.
    * Cross-batch counter evolution is spec-driven.
    */
  def streamCmsMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = graft.operators.Sketch
    val parts = S.hhObs(s, dir)
      .select(col("bg"), explode(expr(s"sequence(0, ${S.CmsD - 1})")).as("j"))
      .select((col("j") * S.CmsW +
        expr(S.cmsBucket("bg", "j"))).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
    val cells = StreamCms.cells(parts.as[CmsPart]).toDF()
      .select((col("cell") / S.CmsW).cast("bigint").as("j"),
        (col("cell") % S.CmsW).as("bucket"), col("cnt"))
    S.cmsReport(s, dir, cells)
  }

  /** Batch-mode run of the streaming IVF census maintainer over the same
    * cell assignments as the batch append audit — per cell, base and
    * appended member counts from the maintained two-counter state, checked
    * by a DuckDB replay of the assignment + census (the drift-free half of
    * `ivf_append`'s oracle). The spec drives cross-batch evolution with a
    * MemoryStream.
    */
  /** Batch-mode run of the streaming line-census maintainer: per-batch
    * (line hash, distinct-docs, occurrences) partials folded into the
    * frequency state, then the SAME DfBar flag filter (and DuckDB
    * oracle) as the batch `line_census`. Cross-batch counter evolution
    * is spec-driven.
    */
  def streamLineMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val L = graft.operators.LineDedup
    StreamLineCensus.counts(L.linePartials(s, dir).as[LinePart]).toDF()
      .filter(col("n_docs") >= L.DfBarT)
      .select(col("lh").as("line_hash"), col("n_docs"), col("n_occ"))
      .orderBy(col("n_docs").desc, col("line_hash"))
  }

  /** Batch-mode run of the streaming canonical-URL registry: per-batch
    * (canonical, min-doc, count, surface-set) partials folded into the
    * registry state, then the SAME per-canonical report (and DuckDB
    * oracle) as the batch `dedup_url` — site re-derived from the kept
    * doc's planting arithmetic (group-constant). Cross-batch evolution
    * is spec-driven.
    */
  def streamUrlMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val U = graft.operators.UrlOps
    StreamUrlDedup.states(U.urlPartials(s, dir).as[UrlPart]).toDF()
      .select(col("cu").as("canon_url"),
        concat(lit("site"), (col("min_doc") % 20).cast("string")).as("site"),
        col("n_docs"),
        size(col("surfaces")).cast("long").as("n_surfaces"),
        col("min_doc").as("keep_doc"))
      .orderBy("canon_url")
  }

  /** Batch-mode run of the streaming quality-curve maintainer:
    * per-batch threshold-bucket counter partials folded into the 10-row
    * state, then the SAME report (and DuckDB oracle) as the batch
    * `quality_tradeoff`. Cross-batch counter evolution is spec-driven.
    */
  def streamQualityMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.operators.TrainPrep
    T.qualityReport(
      StreamQualityCurve.counters(T.qualityPartials(s, dir).as[QtPart])
        .toDF())
  }

  /** Batch-mode run of the streaming drift maintainer: per-batch
    * (bucket, ref, cur) counter partials folded into the 10-row state,
    * then the SAME χ² report (and DuckDB oracle) as the batch
    * `quality_drift`. Cross-batch evolution is spec-driven.
    */
  def streamDriftMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Q = graft.operators.Quality
    Q.driftReport(StreamDrift.counters(Q.driftCounts(s, dir).as[DrPart])
      .toDF())
  }

  /** Batch-mode run of the streaming novelty maintainer: distinct
    * (gram, window) observations fold into per-gram (first-window,
    * bitmask) states, per-window occurrence partials into counters,
    * then the SAME report (and DuckDB oracle) as the batch
    * `corpus_novelty`. Cross-batch state evolution is spec-driven.
    */
  def streamNoveltyMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val C = graft.operators.CorpusFilters
    val obs = C.noveltyObs(s, dir)
    val gobs = obs.select(col("g"), col("w")).distinct().as[NvObs]
    val parts = obs.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .as[NvPart]
    C.noveltyReport(StreamNovelty.gramStates(gobs).toDF(),
      StreamNovelty.winCounters(parts).toDF())
  }

  /** Batch-mode run of the streaming epoch-census maintainer: per-batch
    * (source, docs, tokens) partials folded into the S-row census
    * state, then the SAME closed-form waterfilling report (and DuckDB
    * oracle) as the batch `corpus_epochs`. Cross-batch evolution is
    * spec-driven.
    */
  def streamEpochMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.operators.TrainPrep
    T.epochReport(
      StreamEpochCensus.census(T.epochCensus(s, dir).as[EpPart]).toDF())
  }

  def streamIvfMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamIvf.census(
        graft.operators.Similarity.ivfObs(s, dir).as[IvfObs])
      .toDF().orderBy("cell")
  }

  /** Batch-mode run of the streaming top-k plan: watermarked hourly counts
    * (the incremental layer) + per-window rank (the read-time layer).
    */
  def streamTopk(s: SparkSession, dir: String): DataFrame =
    StreamTopK.topk(StreamTopK.hourlyCounts(Tables.events(s, dir)))
      .orderBy("win_start", "rank")

  val streamTopkSql: String = """
    WITH hc AS (
      SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT win_start, event_type, n,
        row_number() OVER (PARTITION BY win_start
          ORDER BY n DESC, event_type) AS rank
      FROM hc)
    SELECT win_start, CAST(rank AS INT) AS rank, event_type, n
    FROM r WHERE rank <= 3 ORDER BY win_start, rank"""

  val streamWindowCountsSql: String = s"""
    SELECT date_trunc('hour', ts) AS win_start,
      date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
      event_type, COUNT(*) AS n, ${Exact.sqlSum("value")} AS sum_value
    FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type"""

  /** Batch-mode run of the streaming connected-components maintainer
    * over the same verified near-dup pairs as the batch propagation,
    * with the cluster frame recomputed from the MAINTAINED per-shard
    * spanning forests — checked by the SAME oracle SQL as
    * `dedup_clusters`, proving a single batch of the incremental path
    * equals the full batch propagation (the spec drives cross-batch
    * cluster MERGES — two components joined by a late edge — and
    * replay idempotence with a MemoryStream).
    */
  def streamClusterMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = graft.operators.Clustering.pairObs(s, dir).as[EdgeObs]
    val forest = StreamCluster.forests(obs).toDF()
      .select(explode(col("fedges")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    graft.operators.Clustering.clustersFromForest(forest)
  }

  /** The IMAGE near-dup cluster maintainer — [[streamClusterMaintain]]
    * over the phash pair family: arriving verified phash pairs fold
    * into the same per-shard spanning forests, and the read-time merge
    * recovers `phash_clusters`' global labels (SAME oracle,
    * hash-identical). The daily multimodal-ingest operation: new
    * image-bearing docs' verified pairs price one micro-batch, never a
    * full re-propagation over the corpus pair set.
    */
  def streamPhashMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = graft.operators.Multimodal.phashPairObs(s, dir).as[EdgeObs]
    val forest = StreamCluster.forests(obs).toDF()
      .select(explode(col("fedges")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    graft.operators.Clustering.clustersFromForest(forest)
  }

  /** The AUDIO near-dup cluster maintainer — [[streamPhashMaintain]]'s
    * twin over the audio fingerprint pair family: arriving verified
    * fingerprint pairs fold into the same per-shard spanning forests,
    * and the read-time merge recovers `audio_fp_clusters`' global
    * labels (SAME oracle, hash-identical). Completes the maintainer
    * symmetry across the text, image and audio dedup families.
    */
  def streamAudioFpMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = graft.operators.AudioFp.audioFpPairObs(s, dir).as[EdgeObs]
    val forest = StreamCluster.forests(obs).toDF()
      .select(explode(col("fedges")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    graft.operators.Clustering.clustersFromForest(forest)
  }

  /** The cluster-level split reassignment read DIRECTLY from the
    * maintained connectivity state — `split_by_cluster`'s report layer
    * over [[streamClusterMaintain]]'s merged clusters, checked by the
    * SAME oracle SQL as the batch gate (hash-identical by the shared
    * report definition).
    */
  def streamSplitMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = graft.operators.Clustering.pairObs(s, dir).as[EdgeObs]
    val forest = StreamCluster.forests(obs).toDF()
      .select(explode(col("fedges")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    graft.operators.Clustering.splitReport(
      graft.operators.Clustering.clustersFromForest(forest))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cluster_maintain" -> (streamClusterMaintain _),
    "stream_split_maintain" -> (streamSplitMaintain _),
    "stream_phash_maintain" -> (streamPhashMaintain _),
    "stream_audiofp_maintain" -> (streamAudioFpMaintain _),
    "stream_changeset" -> (streamChangeset _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_window_counts" -> (streamWindowCounts _),
    "stream_dedup" -> (streamDedup _),
    "stream_agg_maintain" -> (streamAggMaintain _),
    "stream_topk" -> (streamTopk _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "stream_hll_maintain" -> (streamHllMaintain _),
    "stream_kmv_maintain" -> ((s, d) => streamKmvMaintain(s, d)),
    "stream_quantile_maintain" -> (streamQuantileMaintain _),
    "stream_bloom_maintain" -> (streamBloomMaintain _),
    "stream_substring_maintain" -> (streamSubstringMaintain _),
    "stream_topk_sketch" -> (streamTopkSketchMaintain _),
    "stream_topk_space" -> (streamTopkSpaceMaintain _),
    "stream_cms_maintain" -> (streamCmsMaintain _),
    "stream_minhash_maintain" -> (streamMinhashMaintain _),
    "stream_lm_maintain" -> (streamLmMaintain _),
    "stream_kn_maintain" -> (streamKnMaintain _),
    "stream_kn5_maintain" -> (streamKn5Maintain _),
    "stream_dsir_maintain" -> (streamDsirMaintain _),
    "stream_profile_maintain" -> (streamProfileMaintain _),
    "stream_asof" -> (streamAsofMaintain _),
    "stream_ivf_maintain" -> (streamIvfMaintain _),
    "stream_line_maintain" -> (streamLineMaintain _),
    "stream_url_maintain" -> (streamUrlMaintain _),
    "stream_quality_maintain" -> (streamQualityMaintain _),
    "stream_drift_maintain" -> (streamDriftMaintain _),
    "stream_novelty_maintain" -> (streamNoveltyMaintain _),
    "stream_epoch_maintain" -> (streamEpochMaintain _))

  val oracles: Map[String, String] = Map(
    "stream_cluster_maintain" ->
      graft.operators.Clustering.dedupClustersSql,
    "stream_split_maintain" ->
      graft.operators.Clustering.splitByClusterSql,
    "stream_phash_maintain" ->
      graft.operators.Multimodal.phashClustersSql,
    "stream_audiofp_maintain" ->
      graft.operators.AudioFp.audioFpClustersSql,
    "stream_topk_sketch" -> graft.operators.Sketch.topkSketchSql,
    "stream_topk_space" -> graft.operators.Sketch.topkSketchSql,
    "stream_cms_maintain" -> graft.operators.Sketch.cmsSketchSql,
    "stream_minhash_maintain" -> graft.operators.Dedup.minhashSigsSql,
    "stream_lm_maintain" -> graft.operators.TrainPrep.textBigramLmSql,
    "stream_kn_maintain" -> graft.operators.Filtering.docPplKnSql,
    "stream_kn5_maintain" -> graft.operators.Filtering.docPplKn5Sql,
    "stream_dsir_maintain" -> graft.operators.Filtering.dsirBucketsSql,
    "stream_profile_maintain" -> graft.operators.Quality.profileStatsSql,
    "stream_asof" -> graft.operators.AsOf.asofJoinSql,
    "stream_ivf_maintain" ->
      graft.operators.Similarity.streamIvfCensusSql,
    "stream_line_maintain" -> graft.operators.LineDedup.lineCensusSql,
    "stream_url_maintain" -> graft.operators.UrlOps.dedupUrlSql,
    "stream_quality_maintain" ->
      graft.operators.TrainPrep.qualityTradeoffSql,
    "stream_drift_maintain" -> graft.operators.Quality.qualityDriftSql,
    "stream_novelty_maintain" ->
      graft.operators.CorpusFilters.corpusNoveltySql,
    "stream_epoch_maintain" ->
      graft.operators.TrainPrep.corpusEpochsSql,
    "stream_hll_maintain" -> graft.operators.Sketch.hllRegistersSql,
    "stream_kmv_maintain" -> graft.operators.Sketch.kmvByGroupSql(),
    "stream_quantile_maintain" ->
      graft.operators.Quantile.qQuantilesSketchSql,
    "stream_bloom_maintain" -> graft.operators.JoinShapes.streamBloomSql,
    "stream_substring_maintain" ->
      graft.operators.SubstringDedup.dedupSubstringStripSql,
    "stream_changeset" -> streamChangesetSql,
    "stream_sessionize" -> graft.operators.Queries.eventsSessionizeSql,
    "stream_window_counts" -> streamWindowCountsSql,
    "stream_dedup" -> streamDedupSql,
    "stream_agg_maintain" -> streamAggMaintainSql,
    "stream_topk" -> streamTopkSql,
    "stream_interval_join" -> streamIntervalJoinSql)
}
