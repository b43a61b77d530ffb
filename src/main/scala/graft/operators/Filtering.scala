package graft.operators

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based corpus filtering — the classifier/importance/perplexity
  * stages every production LLM data pipeline runs after heuristic quality
  * scoring (CCNet's LM filter; GPT-3/LLaMA's linear quality classifier;
  * DSIR's hashed-n-gram importance resampling):
  *
  *  - `perceptron_train` / `perceptron_score`: a distributed batch
  *    perceptron over hashed token buckets — the fasttext-shaped linear
  *    filter, trained in fixed full-batch rounds (order-independent
  *    integer updates, so the DuckDB oracle replays training exactly).
  *  - `perceptron_ordinal`: three quality tiers as one weight vector +
  *    two learned thresholds (PRank) — ordinal bands, which one-vs-rest
  *    linear classifiers cannot represent.
  *  - `dsir_select` / `dsir_select_bigram`: Data Selection via
  *    Importance Resampling (Xie et al., NeurIPS 2023) — hashed
  *    unigram/bigram importance weights log(p_target/p_raw) in
  *    fixed-point log2, length-normalized decision vs the corpus mean.
  *  - `dsir_domain`: the per-SOURCE aggregate of the same weights — the
  *    DoReMi-lite reweighting table a temperature mixer consumes.
  *  - `doc_ppl`: per-document add-one bigram cross-entropy in fixed-point
  *    log2 against the corpus LM, flagged above the corpus mean — the
  *    CCNet perplexity-filter shape.
  *
  * Everything is integer-exact: log2 is the 1/1024-step fixed-point
  * interpolation [[llog2]] (identical floor arithmetic on both engines),
  * counts are BIGINTs, and no float ever enters a comparison.
  *
  * Scale shapes: token hashing is a map over the scan; bucket statistics
  * are tiny (64/256-row) aggregates broadcast back; perceptron rounds are
  * one corpus pass + one dim-keyed 65-row shuffle each (the PCA matvec
  * shape); doc_ppl joins doc bigrams to the LM on the bigram key — an
  * equi-join whose skew AQE handles. No global sorts: selection
  * thresholds are sign tests or one-row corpus means, never percentile
  * windows.
  */
object Filtering extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Fixed-point log2 at 1/[[Log2K]] resolution with a SECOND-order
    * octave correction: for x ≥ 1 with bl = bit length and fractional
    * part fr = ⌊x·K/2^(bl−1)⌋ − K ∈ [0, K),
    *
    *   llog2(x) = (bl−1)·K + fr + ⌊fr·(K−fr)·357 / K²⌋
    *
    * — the minimax parabola log2(1+f) ≈ f + 0.349·f·(1−f) in integer
    * arithmetic. The correction matters: first-order interpolation is
    * off by up to 0.086 bits per call, which (measured) swamps the
    * per-token signal every llog2 consumer here aggregates; second
    * order is within 0.0095 bits of true log2 (spec-pinned), tracking
    * float-exact scoring while staying pure integer floor arithmetic —
    * Spark and DuckDB agree bit-for-bit, and the double-typed `/` is
    * exact because every numerator is < 2^52 (arguments < 2^41).
    */
  private val Log2K = 1024

  private[operators] def llog2(e: String): String = {
    val bl = s"length(bin($e))"
    val p = s"cast(power(2, $bl - 1) as bigint)"
    val fr = s"(cast((($e * $Log2K) - (($e * $Log2K) % $p)) / $p as bigint)" +
      s" - $Log2K)"
    val cor = s"($fr * ($Log2K - $fr) * 357)"
    s"(($bl - 1) * $Log2K + $fr + " +
      s"cast(($cor - ($cor % ${Log2K * Log2K})) / ${Log2K * Log2K} as bigint))"
  }

  // --------------------------------------------------- batch perceptron

  /** Hashed feature buckets (+ index 0 = bias). */
  private val ClfBuckets = 64

  /** Fixed training rounds — unrolled in the oracle like the PCA/BPE
    * loops. The preconditioned 1/r-decayed updates reach a stable ~0.95
    * training accuracy by round 12 at both test SFs (measured); 16 gives
    * margin.
    */
  private val ClfRounds = 16

  /** Fixed-point step scale of the update g·K / (s2·r). */
  private val ClfK = 4096

  /** The teaching label: the [[TextOps]] heuristic quality composite
    * above a fixed 0.3 bar (≈ balanced classes on the test corpus) — the
    * production distillation pattern: train a cheap hashed-bucket linear
    * filter to reproduce an expensive labeler (here the length/punct/
    * stopword heuristic; a curated-vs-crawl seed set slots in
    * identically). A fixed constant, not a quantile, so both engines
    * derive the label without a percentile pass.
    */
  private val ClfQualityBar = 0.3

  /** Dense per-document feature vectors `(doc_id, y, x[65])`: hashed token
    * counts with x[0] = 1 (bias). Memoized — feeds every training round
    * plus the scoring pass.
    */
  /** Ordinal tier bars of the three-level variant (≈ balanced thirds on
    * the test corpus; fixed constants, never quantiles).
    */
  private val ClfTierBars = (0.22, 0.37)

  private def clfFeats(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "clf_feats", dir) {
      val lab = TextOps.qualityDf(s, dir)
        .select(col("doc_id"),
          when(col("quality") > ClfQualityBar, 1L).otherwise(-1L).as("y"),
          when(col("quality") <= ClfTierBars._1, 0L)
            .when(col("quality") <= ClfTierBars._2, 1L)
            .otherwise(2L).as("tier"))
      val sparse = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(norm, " ")).as("w"))
        .select(col("doc_id"),
          (expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)")
            % ClfBuckets + 1).cast("int").as("f"))
        .groupBy("doc_id", "f").agg(count(lit(1)).as("c"))
        .unionByName(Tables.documents(s, dir)
          .select(col("doc_id"), lit(0).as("f"), lit(1L).as("c")))
      sparse.groupBy("doc_id")
        .agg(map_from_arrays(collect_list(col("f")), collect_list(col("c")))
          .as("m"))
        .join(lab, "doc_id")
        .select(col("doc_id"), col("y"), col("tier"),
          expr(s"transform(sequence(0, $ClfBuckets), " +
            "i -> coalesce(element_at(m, i), cast(0 as bigint)))").as("x"))
    }

  /** Per-feature second moments `(i, s2v)` — the diagonal preconditioner,
    * computed once. Without it the full-batch perceptron oscillates
    * (count features dwarf the bias; measured 0.44 accuracy after 6 raw
    * rounds vs 0.95 preconditioned): dividing the gradient by Σ_docs
    * x_f² equalizes per-feature step sizes, the integer AdaGrad-diagonal
    * shape.
    */
  private def clfPrecond(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "clf_s2", dir) {
      clfFeats(s, dir)
        .select(posexplode(col("x")).as(Seq("i", "xi")))
        .groupBy("i").agg(greatest(sum(col("xi") * col("xi")), lit(1L))
          .as("s2v"))
    }

  /** The trained weight rows `(i, wv)` after [[ClfRounds]] full-batch
    * rounds: every round scores the whole corpus against the broadcast
    * weights (one map-only pass), sums the misclassified documents'
    * y·x into a 65-row gradient (dim-keyed shuffle with map-side
    * combine) and steps w += ⌊g·K / (s2·r)⌋ — preconditioned,
    * 1/r-decayed, order-independent integer subgradient descent on the
    * perceptron loss, which is what makes distributed training
    * bit-exact: no sequential mistake-driven updates, no float learning
    * rates. |w| stays ≤ R·K (every |g_f| ≤ s2_f for integer counts), so
    * margins are bounded at any corpus size without a downscale.
    */
  private def clfWeights(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "clf_weights", dir) {
      GraftFunctions.register(s)
      val feats = clfFeats(s, dir)
      val s2 = clfPrecond(s, dir)
      // the state carries the ROUND-INVARIANT preconditioner (i, wv, s2v):
      // joining s2 once here removes one broadcast join (and its exchange
      // execution) from every round
      var w = s.range(0, ClfBuckets + 1)
        .select(col("id").cast("int").as("i"), lit(0L).as("wv"))
        .join(s2, Seq("i"))
        .localCheckpoint(true)
      for (r <- 1 to ClfRounds) {
        val wArr = w.groupBy()
          .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
            x => x.getField("wv")).as("wa"))
        // the gradient folds to ONE row (a dim→g map): the update becomes
        // a pure map over the checkpointed state via a 1-row crossJoin —
        // no per-round key join of the model frame at all
        val gm = feats.crossJoin(broadcast(wArr))
          .select(col("y"), col("x"), expr("q_dot(x, wa)").as("sc"))
          .filter(col("y") * col("sc") <= 0)
          .select(col("y"), posexplode(col("x")).as(Seq("i", "xi")))
          .groupBy("i").agg(sum(col("y") * col("xi")).as("g"))
          .groupBy().agg(map_from_arrays(collect_list(col("i")),
            collect_list(col("g"))).as("gm"))
        w = w.crossJoin(broadcast(gm))
          .select(col("i"), (col("wv") + expr(
            s"cast(((coalesce(element_at(gm, i), 0) * $ClfK) " +
              s"- ((coalesce(element_at(gm, i), 0) * $ClfK) " +
              s"% (s2v * $r) + (s2v * $r)) % (s2v * $r)) div (s2v * $r) " +
              "as bigint)")).as("wv"), col("s2v"))
          .localCheckpoint(true)
      }
      w.select(col("i"), col("wv"))
    }

  /** Gate: the trained weight vector (65 rows, bias at i = 0). */
  def perceptronTrain(s: SparkSession, dir: String): DataFrame =
    clfWeights(s, dir).orderBy("i")

  /** Gate: per-document margin under the trained weights, the sign
    * prediction, and whether it matches the teaching label.
    */
  def perceptronScore(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val wArr = clfWeights(s, dir).groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
        x => x.getField("wv")).as("wa"))
    clfFeats(s, dir).crossJoin(broadcast(wArr))
      .select(col("doc_id"), col("y").as("label"),
        expr("q_dot(x, wa)").as("score"))
      .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
      .withColumn("correct",
        when(col("label") * col("score") > 0, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Shared oracle CTE chain: features + the unrolled training rounds,
    * ending at `w[ClfRounds]`.
    */
  private val clfCtesSql: String = {
    val rounds = (1 to ClfRounds).map { r =>
      s"""
    m$r AS (
      SELECT doc_id, y, CAST(sum(c * wv) AS BIGINT) AS s
      FROM clf_feats JOIN w${r - 1} USING (f) GROUP BY 1, 2),
    g$r AS (
      SELECT f, CAST(sum(y * c) AS BIGINT) AS g
      FROM clf_feats
      JOIN (SELECT doc_id FROM m$r WHERE y * s <= 0) USING (doc_id)
      GROUP BY f),
    w$r AS MATERIALIZED (
      SELECT w.f, wv + CAST(((coalesce(g, 0) * $ClfK)
          - ((coalesce(g, 0) * $ClfK) % (s2v * $r) + (s2v * $r))
            % (s2v * $r)) // (s2v * $r) AS BIGINT) AS wv
      FROM w${r - 1} w LEFT JOIN g$r USING (f) JOIN clf_s2 USING (f))"""
    }.mkString(",")
    s"""
    ${TextOps.docQualityCteSql},
    clf_lab AS (SELECT doc_id,
                  CASE WHEN quality > $ClfQualityBar THEN 1 ELSE -1 END AS y,
                  CASE WHEN quality <= ${ClfTierBars._1} THEN 0
                       WHEN quality <= ${ClfTierBars._2} THEN 1
                       ELSE 2 END AS tier
                FROM dq),
    clf_tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
                FROM documents),
    clf_feats AS MATERIALIZED (
      SELECT doc_id, y, tier, f, c FROM (
        SELECT doc_id,
          CAST(('0x' || substring(md5(w), 1, 8))::BIGINT % $ClfBuckets + 1
            AS INT) AS f,
          count(*) AS c
        FROM clf_tok GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, 0, 1 FROM documents) sp
      JOIN clf_lab USING (doc_id)),
    w0 AS (SELECT CAST(unnest(generate_series(0, $ClfBuckets)) AS INT) AS f,
             CAST(0 AS BIGINT) AS wv),
    clf_s2 AS MATERIALIZED (
      SELECT f, greatest(coalesce(s2, 0), 1) AS s2v
      FROM w0 LEFT JOIN (
        SELECT f, CAST(sum(c * c) AS BIGINT) AS s2
        FROM clf_feats GROUP BY f) USING (f)),$rounds"""
  }

  val perceptronTrainSql: String = s"""
    WITH $clfCtesSql
    SELECT f AS i, wv FROM w$ClfRounds ORDER BY i"""

  val perceptronScoreSql: String = s"""
    WITH $clfCtesSql,
    fin AS (
      SELECT doc_id, y, CAST(sum(c * wv) AS BIGINT) AS s
      FROM clf_feats JOIN w$ClfRounds USING (f) GROUP BY 1, 2)
    SELECT doc_id, CAST(y AS BIGINT) AS label, s AS score,
      CAST(CASE WHEN s > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
      CAST(CASE WHEN y * s > 0 THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM fin ORDER BY doc_id"""

  /** Calibration audit of the trained binary filter (the reliability
    * check every production score-thresholding step needs): documents
    * bucketed by SIGNED MARGIN MAGNITUDE — bucket = sign(score) ·
    * bit-length(|score|), a deterministic log-spaced binning with no
    * quantile pass — with per-bucket counts and agreement rate against
    * the teaching label. A well-behaved filter's agreement should rise
    * with |margin| (spec-pinned: the widest-margin buckets beat the
    * overall rate), telling the pipeline how much score headroom a
    * stricter keep-threshold buys.
    */
  def clfCalibration(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val wArr = clfWeights(s, dir).groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
        x => x.getField("wv")).as("wa"))
    clfFeats(s, dir).crossJoin(broadcast(wArr))
      .select(col("doc_id"), col("y"), expr("q_dot(x, wa)").as("sc"))
      .select(col("y"), col("sc"),
        expr("case when sc = 0 then 0 else " +
          "cast(sign(sc) as bigint) * length(bin(abs(sc))) end").as("bucket"),
        when(col("y") * col("sc") > 0, 1L).otherwise(0L).as("ok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
      .withColumn("agreement",
        round(col("n_correct").cast("double") / col("n_docs"), 6))
      .orderBy("bucket")
  }

  val clfCalibrationSql: String = s"""
    WITH $clfCtesSql,
    cfin AS (
      SELECT doc_id, y, CAST(sum(c * wv) AS BIGINT) AS sc
      FROM clf_feats JOIN w$ClfRounds USING (f) GROUP BY 1, 2),
    cbk AS (
      SELECT CASE WHEN sc = 0 THEN 0
               ELSE CAST(sign(sc) AS BIGINT) * length(bin(abs(sc))) END
          AS bucket,
        CASE WHEN y * sc > 0 THEN 1 ELSE 0 END AS ok
      FROM cfin)
    SELECT bucket, count(*) AS n_docs, CAST(sum(ok) AS BIGINT) AS n_correct,
      round(CAST(sum(ok) AS DOUBLE) / count(*), 6) AS agreement
    FROM cbk GROUP BY bucket ORDER BY bucket"""

  // ------------------------------------------------- quadratic crosses

  /** Rounds for the cross experiment. The cross weight itself lands in
    * round 1 (it is the only feature with first-round gradient mass on
    * the planted concept), but the bias must then walk the remaining
    * quarters apart under 1/r decay — measured: 0.75 at 8 rounds, 1.00
    * at 16 (the main filter's count).
    */
  private val CrossRounds = 16

  /** Feature layout of the cross experiment: 0 = bias, 1/2 = the two
    * planted marker indicators, 3–6 = hashed token-count buckets
    * (distractors the trainer must down-weight), 7 = the a·b quadratic
    * cross. The LINEAR chain trains the same 8-slot vector with slot 7
    * zeroed — its gradient is identically 0 there, so the two chains
    * differ in exactly one feature.
    */
  private val CrossDims = 7

  /** Planted-XOR feature frame `(doc_id, y, xl, xc)`: marker tokens are
    * appended INTO the text on the doc-id parity families and Spark
    * re-extracts them with string predicates (the oracle derives the
    * same bits from the planting arithmetic — an extraction slip breaks
    * the hash); the label is the XOR of the two markers, the textbook
    * concept NO linear model over (bias, a, b, counts) can express
    * (the BEST linear rule on balanced XOR quarters is 0.75, and the
    * symmetric full-batch trainer cannot even find that — a and b are
    * individually uncorrelated with the label, so every linear gradient
    * is ~0 and the measured linear accuracy sits at chance) while one
    * hashed quadratic cross makes it linearly separable.
    */
  private def crossFeats(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "cross_feats", dir) {
      val marked = Tables.documents(s, dir)
        .select(col("doc_id"), concat_ws(" ", norm,
          when(col("doc_id") % 2 === 0, lit("qmarkeralpha")),
          when(expr("(doc_id div 2) % 2 = 0"), lit("qmarkerbeta"))).as("t2"))
        .select(col("doc_id"),
          when(col("t2").contains("qmarkeralpha"), 1L).otherwise(0L).as("a"),
          when(col("t2").contains("qmarkerbeta"), 1L).otherwise(0L).as("b"))
        .withColumn("y",
          when(col("a") + col("b") === 1, 1L).otherwise(-1L))
      val buckets = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(norm, " ")).as("w"))
        .select(col("doc_id"),
          (expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)")
            % 4 + 3).cast("int").as("f"))
        .groupBy("doc_id", "f").agg(count(lit(1)).as("c"))
      val m = buckets.groupBy("doc_id")
        .agg(map_from_arrays(collect_list(col("f")), collect_list(col("c")))
          .as("m"))
      val slot =
        "case when i = 0 then cast(1 as bigint) when i = 1 then a " +
          "when i = 2 then b when i = 7 then %s " +
          "else coalesce(element_at(m, i), cast(0 as bigint)) end"
      marked.join(m, Seq("doc_id"), "left")
        .select(col("doc_id"), col("y"),
          expr(s"transform(sequence(0, $CrossDims), i -> ${slot.format("cast(0 as bigint)")})").as("xl"),
          expr(s"transform(sequence(0, $CrossDims), i -> ${slot.format("a * b")})").as("xc"))
    }

  /** The SAME preconditioned 1/r-decayed integer subgradient loop as
    * [[clfWeights]], over an arbitrary `(y, x)` frame.
    */
  private def crossTrain(feats: DataFrame): DataFrame = {
    val s = feats.sparkSession
    GraftFunctions.register(s)
    // consumed exactly once (folded into the initial state checkpoint)
    val s2 = feats.select(posexplode(col("x")).as(Seq("i", "xi")))
      .groupBy("i").agg(greatest(sum(col("xi") * col("xi")), lit(1L))
        .as("s2v"))
    // state carries the round-invariant preconditioner; the gradient folds
    // to one map row per round (the clfWeights shape)
    var w = s.range(0, CrossDims + 1L)
      .select(col("id").cast("int").as("i"), lit(0L).as("wv"))
      .join(s2, Seq("i"))
      .localCheckpoint(true)
    for (r <- 1 to CrossRounds) {
      val wArr = w.groupBy()
        .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
          x => x.getField("wv")).as("wa"))
      val gm = feats.crossJoin(broadcast(wArr))
        .select(col("y"), col("x"), expr("q_dot(x, wa)").as("sc"))
        .filter(col("y") * col("sc") <= 0)
        .groupBy()
        .agg(array((0 to CrossDims).map(i =>
          coalesce(sum(col("y") * element_at(col("x"), i + 1)),
            lit(0L))): _*).as("ga"))
      w = w.crossJoin(broadcast(gm))
        .select(col("i"), (col("wv") + expr(
          s"cast(((element_at(ga, i + 1) * $ClfK) " +
            s"- ((element_at(ga, i + 1) * $ClfK) " +
            s"% (s2v * $r) + (s2v * $r)) % (s2v * $r)) div (s2v * $r) " +
            "as bigint)")).as("wv"), col("s2v"))
        .localCheckpoint(true)
    }
    w.select(col("i"), col("wv"))
  }

  /** Gate: the measured linear-vs-crossed comparison on the planted
    * non-linear band — one row per model with its training accuracy
    * under the SAME loop, same rounds, same preconditioning; only the
    * quadratic slot differs (VERDICT-r9 item 7). The oracle unrolls
    * both chains round by round.
    */
  def perceptronCross(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val feats = crossFeats(s, dir)
    def run(xcol: String, model: String): DataFrame = {
      val f = feats.select(col("doc_id"), col("y"), col(xcol).as("x"))
      val wArr = crossTrain(f).groupBy()
        .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
          x => x.getField("wv")).as("wa"))
      f.crossJoin(broadcast(wArr))
        .select(col("y"), expr("q_dot(x, wa)").as("sc"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("y") * col("sc") > 0, 1L).otherwise(0L))
            .as("n_correct"))
        .select(lit(model).as("model"), col("n_docs"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_docs"), 6).as("acc"))
    }
    run("xc", "crossed").unionByName(run("xl", "linear")).orderBy("model")
  }

  private def crossChainSql(tag: String, feats: String): String = {
    val rounds = (1 to CrossRounds).map { r =>
      s"""
    ${tag}m$r AS (
      SELECT doc_id, y, CAST(sum(c * wv) AS BIGINT) AS s
      FROM $feats JOIN ${tag}w${r - 1} USING (f) GROUP BY 1, 2),
    ${tag}g$r AS (
      SELECT f, CAST(sum(y * c) AS BIGINT) AS g
      FROM $feats
      JOIN (SELECT doc_id FROM ${tag}m$r WHERE y * s <= 0) USING (doc_id)
      GROUP BY f),
    ${tag}w$r AS MATERIALIZED (
      SELECT w.f, wv + CAST(((coalesce(g, 0) * $ClfK)
          - ((coalesce(g, 0) * $ClfK) % (s2v * $r) + (s2v * $r))
            % (s2v * $r)) // (s2v * $r) AS BIGINT) AS wv
      FROM ${tag}w${r - 1} w LEFT JOIN ${tag}g$r USING (f)
      JOIN ${tag}s2 USING (f))"""
    }.mkString(",")
    s"""
    ${tag}w0 AS (SELECT CAST(unnest(generate_series(0, $CrossDims)) AS INT)
                   AS f, CAST(0 AS BIGINT) AS wv),
    ${tag}s2 AS MATERIALIZED (
      SELECT f, greatest(coalesce(s2, 0), 1) AS s2v
      FROM ${tag}w0 LEFT JOIN (
        SELECT f, CAST(sum(c * c) AS BIGINT) AS s2
        FROM $feats GROUP BY f) USING (f)),$rounds,
    ${tag}fin AS (
      SELECT doc_id, y, CAST(sum(c * wv) AS BIGINT) AS s
      FROM $feats JOIN ${tag}w$CrossRounds USING (f) GROUP BY 1, 2)"""
  }

  val perceptronCrossSql: String = s"""
    WITH xind AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
        CASE WHEN (doc_id // 2) % 2 = 0 THEN 1 ELSE 0 END AS b
      FROM documents),
    xlab AS (SELECT doc_id, a, b, a * b AS ab,
               CASE WHEN a + b = 1 THEN 1 ELSE -1 END AS y
             FROM xind),
    xtok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
             FROM documents),
    xbkt AS (SELECT doc_id,
               CAST(('0x' || substring(md5(w), 1, 8))::BIGINT % 4 + 3
                 AS INT) AS f,
               count(*) AS c
             FROM xtok GROUP BY 1, 2),
    xfc AS MATERIALIZED (
      SELECT q.doc_id, l.y, q.f, q.c FROM (
        SELECT doc_id, 0 AS f, CAST(1 AS BIGINT) AS c FROM xlab
        UNION ALL SELECT doc_id, 1, 1 FROM xlab WHERE a = 1
        UNION ALL SELECT doc_id, 2, 1 FROM xlab WHERE b = 1
        UNION ALL SELECT doc_id, f, c FROM xbkt
        UNION ALL SELECT doc_id, 7, 1 FROM xlab WHERE ab = 1) q
      JOIN xlab l ON l.doc_id = q.doc_id),
    xfl AS MATERIALIZED (SELECT * FROM xfc WHERE f <> 7),
    ${crossChainSql("xc", "xfc").trim},
    ${crossChainSql("xl", "xfl").trim}
    SELECT * FROM (
      SELECT 'crossed' AS model, count(*) AS n_docs,
        CAST(sum(CASE WHEN y * s > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_correct,
        round(CAST(sum(CASE WHEN y * s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6) AS acc
      FROM xcfin
      UNION ALL
      SELECT 'linear', count(*),
        CAST(sum(CASE WHEN y * s > 0 THEN 1 ELSE 0 END) AS BIGINT),
        round(CAST(sum(CASE WHEN y * s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6)
      FROM xlfin)
    ORDER BY model"""

  // --------------------------------------------------- ordinal perceptron

  /** Ordinal three-tier classifier (the PRank shape — Crammer & Singer,
    * NIPS 2001 — as order-independent full-batch rounds): ONE weight
    * vector plus two learned thresholds θ₀ ≤ θ₁ on its score, predicting
    * tier = #{θ < s}. The ordinal model is the point: quality tiers are
    * BANDS of a single latent score, which one-vs-rest linear classifiers
    * cannot represent (the middle band is not linearly separable from
    * both sides — measured 0.57 one-vs-rest vs 0.89 ordinal on the same
    * features). Per round, each threshold contributes its misclassified
    * documents' y·x to the SHARED weight gradient and −Σy to its own
    * threshold step; updates are the same preconditioned 1/r-decayed
    * integer floor steps as the binary trainer, thresholds re-sorted
    * after each step (the PRank consistency fix). Returns the weight
    * rows (i, wv) and the one-row threshold frame (th0, th1).
    */
  private def clfOrdinal(s: SparkSession,
                         dir: String): (DataFrame, DataFrame) = {
    GraftFunctions.register(s)
    val feats = clfFeats(s, dir)
    val s2 = clfPrecond(s, dir)
    val nd = feats.agg(count(lit(1)).as("nd"))
    // unified 67-row state: i ∈ 0..64 = weights, 65 = θ₀, 66 = θ₁. One
    // state frame means ONE corpus pass and one main checkpoint per
    // round — the split weights/thresholds formulation evaluated the
    // misclassification subtree once per gradient consumer (2 corpus
    // passes + 2 checkpoints per round; measured ~2× this loop's cost).
    // The arithmetic is IDENTICAL to the split form, so the unrolled
    // oracle (which keeps the two-frame shape for readability) and the
    // gate hash are unchanged.
    // state carries the round-invariant preconditioner and corpus count
    // (s2v null on the two threshold rows, which use nd instead)
    var st = s.range(0, ClfBuckets + 3)
      .select(col("id").cast("int").as("i"), lit(0L).as("wv"))
      .join(s2, Seq("i"), "left")
      .crossJoin(broadcast(nd))
      .localCheckpoint(true)
    // the floor-step expression shared by every update arm
    def step(g: String, dn: String): String =
      s"cast(((($g) * $ClfK) - ((($g) * $ClfK) % ($dn) + ($dn)) " +
        s"% ($dn)) div ($dn) as bigint)"
    for (r <- 1 to ClfRounds) {
      // q_dot truncates to the shorter array, so the 67-long state array
      // against the 65-long feature vector scores weights only
      val stArr = st.groupBy()
        .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
          x => x.getField("wv")).as("sa"))
      // the whole gradient folds to ONE map row; the update is then a
      // pure map over the state, and the PRank θ re-sort folds into the
      // SAME update expression (both new θ values are computable per row
      // from the broadcast sa + gm), so each round is ONE corpus pass
      // and ONE checkpoint — the former second θ-sort checkpoint is gone
      // ONE wide-aggregate gradient row: 65 per-dimension sums plus the
      // two threshold sums (−yt per t), no zip_with explode, no
      // dim-keyed shuffle
      val gm = feats.crossJoin(broadcast(stArr))
        .select(col("tier"), col("x"), expr("q_dot(x, sa)").as("sc"),
          expr(s"element_at(sa, ${ClfBuckets + 2})").as("th0"),
          expr(s"element_at(sa, ${ClfBuckets + 3})").as("th1"))
        .select(col("tier"), col("x"), col("sc"),
          explode(expr("array(0L, 1L)")).as("t"),
          col("th0"), col("th1"))
        .select(col("x"), col("t"),
          when(col("tier") > col("t"), 1L).otherwise(-1L).as("yt"),
          (col("sc") - when(col("t") === 0, col("th0"))
            .otherwise(col("th1"))).as("m"))
        .filter(col("yt") * col("m") <= 0)
        .groupBy()
        .agg({
          val gsums = (0 to ClfBuckets).map(i =>
            coalesce(sum(col("yt") * element_at(col("x"), i + 1)),
              lit(0L))) ++ Seq(
            coalesce(sum(when(col("t") === 0, -col("yt"))), lit(0L)),
            coalesce(sum(when(col("t") === 1, -col("yt"))), lit(0L)))
          array(gsums: _*).as("ga")
        })
      // new θ values (pre-sort), identical to the former two-step form:
      // old θ_t from the broadcast state array + its own floor step
      val th0n = s"(element_at(sa, ${ClfBuckets + 2}) + " +
        step(s"element_at(ga, ${ClfBuckets + 2})", s"nd * $r") + ")"
      val th1n = s"(element_at(sa, ${ClfBuckets + 3}) + " +
        step(s"element_at(ga, ${ClfBuckets + 3})", s"nd * $r") + ")"
      st = st.crossJoin(broadcast(gm)).crossJoin(broadcast(stArr))
        .select(col("i"), expr(
          s"case when i <= $ClfBuckets then wv + " +
            step("element_at(ga, i + 1)", s"s2v * ${2L * r}") +
            s" when i = ${ClfBuckets + 1} then least($th0n, $th1n)" +
            s" else greatest($th0n, $th1n) end").as("wv"),
          col("s2v"), col("nd"))
        .localCheckpoint(true)
    }
    val w = st.filter(col("i") <= ClfBuckets).select(col("i"), col("wv"))
    val th = st.filter(col("i") > ClfBuckets)
      .groupBy().agg(
        min(when(col("i") === ClfBuckets + 1, col("wv"))).as("th0"),
        min(when(col("i") === ClfBuckets + 2, col("wv"))).as("th1"))
    (w, th)
  }

  /** Gate: per-document ordinal tier prediction — score, learned
    * thresholds applied (tier = #{θ < s}), and label agreement.
    */
  def perceptronOrdinal(s: SparkSession, dir: String): DataFrame = {
    val (w, th) = clfOrdinal(s, dir)
    val wArr = w.groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
        x => x.getField("wv")).as("wa"))
    clfFeats(s, dir).crossJoin(broadcast(wArr)).crossJoin(broadcast(th))
      .select(col("doc_id"), col("tier"), expr("q_dot(x, wa)").as("score"),
        col("th0"), col("th1"))
      .withColumn("pred",
        (when(col("score") > col("th0"), 1L).otherwise(0L) +
          when(col("score") > col("th1"), 1L).otherwise(0L)))
      .withColumn("correct",
        when(col("pred") === col("tier"), 1L).otherwise(0L))
      .select("doc_id", "tier", "score", "pred", "correct")
      .orderBy("doc_id")
  }

  /** Oracle: the shared feature chain + the unrolled ordinal rounds. */
  val perceptronOrdinalSql: String = {
    val rounds = (1 to ClfRounds).map { r =>
      val d = s"(s2v * ${2 * r})"
      def fdv(g: String, p: String) =
        s"CAST((($g * $ClfK) - (($g * $ClfK) % $p + $p) % $p) // $p AS BIGINT)"
      s"""
    om$r AS (
      SELECT doc_id, tier, CAST(sum(c * wv) AS BIGINT) AS s
      FROM clf_feats JOIN ow${r - 1} USING (f) GROUP BY 1, 2),
    omis$r AS (
      SELECT doc_id, CASE WHEN tier > t THEN 1 ELSE -1 END AS yt, t
      FROM om$r, oth${r - 1}, (SELECT unnest([0, 1]) AS t) ts
      WHERE (CASE WHEN tier > t THEN 1 ELSE -1 END)
        * (s - CASE WHEN t = 0 THEN th0 ELSE th1 END) <= 0),
    ogw$r AS (
      SELECT f, CAST(sum(yt * c) AS BIGINT) AS g
      FROM clf_feats JOIN omis$r USING (doc_id) GROUP BY f),
    ogt$r AS (
      SELECT CAST(sum(CASE WHEN t = 0 THEN -yt ELSE 0 END) AS BIGINT) AS g0,
        CAST(sum(CASE WHEN t = 1 THEN -yt ELSE 0 END) AS BIGINT) AS g1
      FROM omis$r),
    ow$r AS MATERIALIZED (
      SELECT w.f, wv + ${fdv("coalesce(g, 0)", d)} AS wv
      FROM ow${r - 1} w LEFT JOIN ogw$r USING (f) JOIN clf_s2 USING (f)),
    othu$r AS (
      SELECT th0 + ${fdv("coalesce(g0, 0)", s"(nd * $r)")} AS u0,
        th1 + ${fdv("coalesce(g1, 0)", s"(nd * $r)")} AS u1
      FROM oth${r - 1}, ogt$r, ond),
    oth$r AS MATERIALIZED (
      SELECT least(u0, u1) AS th0, greatest(u0, u1) AS th1 FROM othu$r)"""
    }.mkString(",")
    s"""
    WITH $clfCtesSql,
    ond AS (SELECT count(*) AS nd FROM clf_lab),
    ow0 AS (SELECT CAST(unnest(generate_series(0, $ClfBuckets)) AS INT)
              AS f, CAST(0 AS BIGINT) AS wv),
    oth0 AS (SELECT CAST(0 AS BIGINT) AS th0, CAST(0 AS BIGINT) AS th1),
    $rounds,
    ofin AS (
      SELECT doc_id, tier, CAST(sum(c * wv) AS BIGINT) AS s
      FROM clf_feats JOIN ow$ClfRounds USING (f) GROUP BY 1, 2)
    SELECT doc_id, tier, s AS score,
      CAST((CASE WHEN s > th0 THEN 1 ELSE 0 END)
         + (CASE WHEN s > th1 THEN 1 ELSE 0 END) AS BIGINT) AS pred,
      CAST(CASE WHEN tier = (CASE WHEN s > th0 THEN 1 ELSE 0 END)
         + (CASE WHEN s > th1 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END
        AS BIGINT) AS correct
    FROM ofin, oth$ClfRounds ORDER BY doc_id"""
  }

  // ------------------------------------------------------ DSIR selection

  /** Hashed unigram buckets of the importance model. */
  private val DsirBuckets = 256

  /** DSIR importance selection: per document, the fixed-point log
    * importance weight Σ_f c_f·(llog2(t_f) − llog2(T) − llog2(s_f) +
    * llog2(S)) of its hashed-unigram counts under the add-one-smoothed
    * target vs raw (all docs) bucket distributions — the target sample
    * being the heuristic-quality documents ([[ClfQualityBar]]), DSIR's
    * canonical trusted-seed shape. Because the per-token weight mean is
    * strictly negative for EVERY document (−KL of the doc's empirical
    * distribution against the corpus — float-exact scoring shows the
    * same), a raw lw > 0 bar selects nothing and raw lw ranks invert
    * with length; so the emitted decision is the LENGTH-NORMALIZED
    * weight `lw_tok` = ⌊lw·K / n_tokens⌋ against the corpus mean (an
    * integer cross-multiplication with a one-row aggregate). Measured:
    * target-resembling docs select at 1.4× the rate of the rest — the
    * ceiling exact float log-likelihoods reach on this corpus. Bucket
    * stats are a [[DsirBuckets]]-row broadcast; no global sort.
    */
  /** Per-token hashed-bucket observations `(doc_id, f, is_t)` — shared by
    * the batch selection and the streaming importance-model maintainer's
    * partial builder.
    */
  private[graft] def dsirTok(s: SparkSession, dir: String): DataFrame = {
    val lab = TextOps.qualityDf(s, dir)
      .select(col("doc_id"), (col("quality") > ClfQualityBar).as("is_t"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(norm, " ")).as("w"))
      .select(col("doc_id"),
        (expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)")
          % DsirBuckets).as("f"))
      .join(lab, "doc_id")
  }

  /** Per-batch RAW bucket partials `(f, cnt, tcnt)` — the vectorized
    * pre-aggregate the streaming maintainer folds (counts are mergeable;
    * smoothing belongs to the read side, so partials carry raw counts).
    */
  private[graft] def dsirPartials(s: SparkSession, dir: String): DataFrame =
    dsirTok(s, dir).groupBy("f").agg(
      count(lit(1)).as("cnt"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tcnt"))

  /** Read-time importance-model report over maintained raw counts
    * `(f, cnt, tcnt)`: add-one smoothing, totals, and the fixed-point
    * per-bucket log-ratio `d` — the broadcast side every DSIR scoring
    * pass consumes.
    */
  private[graft] def dsirBucketReport(counts: DataFrame): DataFrame = {
    val buckets = counts.select(col("f"), (col("cnt") + 1).as("sf"),
      (col("tcnt") + 1).as("tf"))
    val tot = buckets.agg(sum(col("sf")).as("sS"), sum(col("tf")).as("tT"))
    buckets.crossJoin(broadcast(tot))
      .select(col("f"), col("sf"), col("tf"),
        (expr(llog2("tf")) - expr(llog2("tT"))
          - expr(llog2("sf")) + expr(llog2("sS"))).as("d"))
      .orderBy("f")
  }

  /** Oracle of the streaming importance-model gate: the bucket stats +
    * log-ratio frame of [[dsirSelectSql]]'s chain, read back directly.
    */
  val dsirBucketsSql: String = s"""
    WITH ${TextOps.docQualityCteSql},
    dlab AS (SELECT doc_id, quality > $ClfQualityBar AS is_t FROM dq),
    dtok AS (SELECT doc_id, is_t, f FROM (
               SELECT doc_id,
                 ('0x' || substring(md5(unnest(string_split($normSql, ' '))),
                   1, 8))::BIGINT % $DsirBuckets AS f
               FROM documents) tk
             JOIN dlab USING (doc_id)),
    buckets AS (
      SELECT f, count(*) + 1 AS sf,
        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1 AS BIGINT) AS tf
      FROM dtok GROUP BY f),
    tot AS (SELECT CAST(sum(sf) AS BIGINT) AS sS,
              CAST(sum(tf) AS BIGINT) AS tT FROM buckets)
    SELECT f, sf, tf, ${llog2("tf")} - ${llog2("tT")}
                        - ${llog2("sf")} + ${llog2("sS")} AS d
    FROM buckets, tot ORDER BY f"""

  /** The DSIR scoring tail over any `(doc_id, f, is_t)` token-feature
    * frame: bucket stats, fixed-point log-ratios, per-doc weight,
    * length-normalized decision vs the corpus mean.
    */
  private def dsirScore(tok: DataFrame): DataFrame = {
    val buckets = tok.groupBy("f").agg(
      (count(lit(1)) + 1).as("sf"),
      (sum(when(col("is_t"), 1L).otherwise(0L)) + 1).as("tf"))
    val tot = buckets.agg(sum(col("sf")).as("sS"), sum(col("tf")).as("tT"))
    val dt = buckets.crossJoin(broadcast(tot))
      .select(col("f"), (expr(llog2("tf")) - expr(llog2("tT"))
        - expr(llog2("sf")) + expr(llog2("sS"))).as("d"))
    val perDoc = tok.join(broadcast(dt), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("d")).as("lw"))
      .withColumn("lw_tok", expr(s"cast(((lw * $Log2K) - (((lw * $Log2K) " +
        "% n_tokens + n_tokens) % n_tokens)) div n_tokens as bigint)"))
    val mean = perDoc.agg(count(lit(1)).as("nd"), sum(col("lw_tok")).as("sl"))
    perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_tokens"), col("lw"), col("lw_tok"),
        when(col("lw_tok") * col("nd") > col("sl"), 1L).otherwise(0L)
          .as("selected"))
      .orderBy("doc_id")
  }

  def dsirSelect(s: SparkSession, dir: String): DataFrame =
    dsirScore(dsirTok(s, dir))

  /** Hashed BIGRAM features — the DSIR paper's actual feature space
    * (hashed n-grams): same buckets, same scoring tail, sharper
    * distributional signal per feature at the cost of a larger effective
    * vocabulary hashing into them. Documents need ≥ 2 words to carry a
    * bigram, so shorter docs drop out of this variant's scoring.
    */
  private def dsirTokBigram(s: SparkSession, dir: String): DataFrame = {
    val lab = TextOps.qualityDf(s, dir)
      .select(col("doc_id"), (col("quality") > ClfQualityBar).as("is_t"))
    TrainPrep.lmObs(s, dir)
      .select(col("doc_id"),
        (expr("cast(conv(substring(md5(concat(w1, ' ', w2)), 1, 8), " +
          "16, 10) as bigint)") % DsirBuckets).as("f"))
      .join(lab, "doc_id")
  }

  def dsirSelectBigram(s: SparkSession, dir: String): DataFrame =
    dsirScore(dsirTokBigram(s, dir))

  val dsirSelectBigramSql: String = s"""
    WITH ${TextOps.docQualityCteSql},
    dlab AS (SELECT doc_id, quality > $ClfQualityBar AS is_t FROM dq),
    dtok AS (SELECT doc_id, is_t, f FROM (
               SELECT doc_id,
                 ('0x' || substring(md5(ws[i] || ' ' || ws[i + 1]), 1, 8))
                   ::BIGINT % $DsirBuckets AS f
               FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws) - 1)) AS i
                     FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                           FROM documents)
                     WHERE len(ws) >= 2)) tk
             JOIN dlab USING (doc_id)),
    buckets AS (
      SELECT f, count(*) + 1 AS sf,
        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1 AS BIGINT) AS tf
      FROM dtok GROUP BY f),
    tot AS (SELECT CAST(sum(sf) AS BIGINT) AS sS,
              CAST(sum(tf) AS BIGINT) AS tT FROM buckets),
    dt AS (SELECT f, ${llog2("tf")} - ${llog2("tT")}
                      - ${llog2("sf")} + ${llog2("sS")} AS d
           FROM buckets, tot),
    dper AS (
      SELECT doc_id, count(*) AS n_tokens, CAST(sum(d) AS BIGINT) AS lw
      FROM dtok JOIN dt USING (f) GROUP BY doc_id),
    dpt AS (
      SELECT doc_id, n_tokens, lw,
        CAST(((lw * $Log2K) - (((lw * $Log2K) % n_tokens + n_tokens)
          % n_tokens)) // n_tokens AS BIGINT) AS lw_tok
      FROM dper),
    dmn AS (SELECT count(*) AS nd, CAST(sum(lw_tok) AS BIGINT) AS sl
            FROM dpt)
    SELECT doc_id, n_tokens, lw, lw_tok,
      CAST(CASE WHEN lw_tok * nd > sl THEN 1 ELSE 0 END AS BIGINT)
        AS selected
    FROM dpt, dmn ORDER BY doc_id"""

  val dsirSelectSql: String = s"""
    WITH ${TextOps.docQualityCteSql},
    dlab AS (SELECT doc_id, quality > $ClfQualityBar AS is_t FROM dq),
    dtok AS (SELECT doc_id, is_t, f FROM (
               SELECT doc_id,
                 ('0x' || substring(md5(unnest(string_split($normSql, ' '))),
                   1, 8))::BIGINT % $DsirBuckets AS f
               FROM documents) tk
             JOIN dlab USING (doc_id)),
    buckets AS (
      SELECT f, count(*) + 1 AS sf,
        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1 AS BIGINT) AS tf
      FROM dtok GROUP BY f),
    tot AS (SELECT CAST(sum(sf) AS BIGINT) AS sS,
              CAST(sum(tf) AS BIGINT) AS tT FROM buckets),
    dt AS (SELECT f, ${llog2("tf")} - ${llog2("tT")}
                      - ${llog2("sf")} + ${llog2("sS")} AS d
           FROM buckets, tot),
    dper AS (
      SELECT doc_id, count(*) AS n_tokens, CAST(sum(d) AS BIGINT) AS lw
      FROM dtok JOIN dt USING (f) GROUP BY doc_id),
    dpt AS (
      SELECT doc_id, n_tokens, lw,
        CAST(((lw * $Log2K) - (((lw * $Log2K) % n_tokens + n_tokens)
          % n_tokens)) // n_tokens AS BIGINT) AS lw_tok
      FROM dper),
    dmn AS (SELECT count(*) AS nd, CAST(sum(lw_tok) AS BIGINT) AS sl
            FROM dpt)
    SELECT doc_id, n_tokens, lw, lw_tok,
      CAST(CASE WHEN lw_tok * nd > sl THEN 1 ELSE 0 END AS BIGINT)
        AS selected
    FROM dpt, dmn ORDER BY doc_id"""

  /** Per-DOMAIN importance reweighting (the DoReMi-lite signal table): for
    * every source, the aggregate importance of its documents under the
    * same quality-target model as [[dsirSelect]] — doc counts, token
    * counts, summed log-weight, the per-token average (exact floor
    * division) and whether the domain sits above the corpus per-token
    * average. This is the table a mixer ([[TextOps.corpusMixTemp]]-style
    * schedules) consumes to shift sampling mass toward target-resembling
    * DOMAINS rather than individual documents. The boost decision
    * compares the two fdiv'd averages directly — deterministic and safe
    * at any corpus size, where the cross-multiplied alternative would
    * overflow past ~2^44 tokens.
    */
  def dsirDomain(s: SparkSession, dir: String): DataFrame = {
    val perDoc = dsirScore(dsirTok(s, dir))
      .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
    val perSrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("lw")).as("lw_sum"))
      .withColumn("lw_tok_avg", expr(s"cast(((lw_sum * $Log2K) - " +
        s"(((lw_sum * $Log2K) % n_tokens + n_tokens) % n_tokens)) " +
        "div n_tokens as bigint)"))
    val tot = perSrc.agg(sum(col("lw_sum")).as("lwa"),
        sum(col("n_tokens")).as("nta"))
      .select(expr(s"cast(((lwa * $Log2K) - (((lwa * $Log2K) % nta + nta) " +
        "% nta)) div nta as bigint)").as("avg_all"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("lw_sum"),
        col("lw_tok_avg"),
        when(col("lw_tok_avg") > col("avg_all"), 1L).otherwise(0L)
          .as("boosted"))
      .orderBy("source")
  }

  val dsirDomainSql: String = s"""
    WITH ${TextOps.docQualityCteSql},
    dlab AS (SELECT doc_id, quality > $ClfQualityBar AS is_t FROM dq),
    dtok AS (SELECT doc_id, is_t, f FROM (
               SELECT doc_id,
                 ('0x' || substring(md5(unnest(string_split($normSql, ' '))),
                   1, 8))::BIGINT % $DsirBuckets AS f
               FROM documents) tk
             JOIN dlab USING (doc_id)),
    buckets AS (
      SELECT f, count(*) + 1 AS sf,
        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1 AS BIGINT) AS tf
      FROM dtok GROUP BY f),
    tot AS (SELECT CAST(sum(sf) AS BIGINT) AS sS,
              CAST(sum(tf) AS BIGINT) AS tT FROM buckets),
    dt AS (SELECT f, ${llog2("tf")} - ${llog2("tT")}
                      - ${llog2("sf")} + ${llog2("sS")} AS d
           FROM buckets, tot),
    dper AS (
      SELECT doc_id, count(*) AS n_tokens, CAST(sum(d) AS BIGINT) AS lw
      FROM dtok JOIN dt USING (f) GROUP BY doc_id),
    dsrc AS (
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        CAST(sum(lw) AS BIGINT) AS lw_sum
      FROM dper JOIN documents USING (doc_id) GROUP BY source),
    davg AS (
      SELECT source, n_docs, n_tokens, lw_sum,
        CAST(((lw_sum * $Log2K) - (((lw_sum * $Log2K) % n_tokens
          + n_tokens) % n_tokens)) // n_tokens AS BIGINT) AS lw_tok_avg
      FROM dsrc),
    dall AS (
      SELECT CAST(((lwa * $Log2K) - (((lwa * $Log2K) % nta + nta) % nta))
          // nta AS BIGINT) AS avg_all
      FROM (SELECT CAST(sum(lw_sum) AS BIGINT) AS lwa,
              CAST(sum(n_tokens) AS BIGINT) AS nta FROM davg))
    SELECT source, n_docs, n_tokens, lw_sum, lw_tok_avg,
      CAST(CASE WHEN lw_tok_avg > avg_all THEN 1 ELSE 0 END AS BIGINT)
        AS boosted
    FROM davg, dall ORDER BY source"""

  // ------------------------------------------------- perplexity filter

  /** Per-document add-one bigram cross-entropy against the corpus LM, in
    * fixed-point log2: nll = Σ_bigrams (llog2(c1 + V) − llog2(c12 + 1))
    * over the document's bigram occurrences (V = vocabulary size), and
    * the per-bigram average by exact floor division. Documents whose
    * average exceeds the corpus mean (an integer cross-multiplication
    * against a one-row aggregate — no percentile window) are flagged,
    * the CCNet high-perplexity tail. Only documents with ≥ 1 bigram
    * appear. The scoring join is doc-bigrams ⋈ LM on the bigram key —
    * both sides corpus-sized, the one genuinely big join here, with
    * map-side combine on the (doc, bigram) group.
    */
  def docPpl(s: SparkSession, dir: String): DataFrame = {
    val ws = split(norm, " ")
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(col("doc_id"), element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cd"))
    val pairs = grams.groupBy("w1", "w2").agg(sum(col("cd")).as("c12"))
    val ctx = pairs.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = Tables.documents(s, dir)
      .select(explode(split(norm, " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val lm = pairs.join(ctx, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        (expr(llog2("(c1 + v)")) - expr(llog2("(c12 + 1)"))).as("nb"))
    val perDoc = grams.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("cd")).as("n_bigrams"), sum(col("cd") * col("nb")).as("nll"))
      .withColumn("avg_nll",
        expr("cast((nll - (nll % n_bigrams)) div n_bigrams as bigint)"))
    val mean = perDoc.agg(count(lit(1)).as("nd"), sum(col("avg_nll")).as("sa"))
    perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_bigrams"), col("nll"), col("avg_nll"),
        when(col("avg_nll") * col("nd") > col("sa"), 1L).otherwise(0L)
          .as("flagged"))
      .orderBy("doc_id")
  }

  val docPplSql: String = s"""
    WITH dn AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                FROM documents),
    g AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM (
            SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
            FROM dn WHERE len(ws) >= 2)),
    grams AS (SELECT doc_id, w1, w2, count(*) AS cd FROM g GROUP BY 1, 2, 3),
    pairs AS (SELECT w1, w2, CAST(sum(cd) AS BIGINT) AS c12
              FROM grams GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pairs GROUP BY 1),
    vocab AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(ws) AS w FROM dn)),
    lm AS (SELECT w1, w2,
             ${llog2("(c1 + v)")} - ${llog2("(c12 + 1)")} AS nb
           FROM pairs JOIN ctx USING (w1), vocab),
    per_doc AS (
      SELECT doc_id, CAST(sum(cd) AS BIGINT) AS n_bigrams,
        CAST(sum(cd * nb) AS BIGINT) AS nll
      FROM grams JOIN lm USING (w1, w2) GROUP BY doc_id),
    pd AS (SELECT doc_id, n_bigrams, nll,
             CAST((nll - (nll % n_bigrams)) // n_bigrams AS BIGINT) AS avg_nll
           FROM per_doc),
    mn AS (SELECT count(*) AS nd, CAST(sum(avg_nll) AS BIGINT) AS sa FROM pd)
    SELECT doc_id, n_bigrams, nll, avg_nll,
      CAST(CASE WHEN avg_nll * nd > sa THEN 1 ELSE 0 END AS BIGINT)
        AS flagged
    FROM pd, mn ORDER BY doc_id"""

  // ---------------------------------------- Kneser-Ney trigram filter

  /** KN discount D = [[KnD]]/[[KnScale]] = 0.75, the standard value —
    * kept rational so every probability is a ratio of exact integers.
    */
  private val KnScale = 4
  private val KnD = 3

  /** Per-document trigram occurrences (doc_id, w1, w2, w3, cd) — the
    * scoring side of the KN filter; summed over docs it is ALSO the LM
    * type/count table, which is why the streaming maintainer's state
    * (per-type counts) suffices to rebuild the whole model.
    */
  private[graft] def knTriDoc(s: SparkSession, dir: String): DataFrame =
    // memoized: at corpus scale this (doc, w1, w2, w3) frame is the
    // largest intermediate in the KN family, and FIVE consumers read it
    // (doc_ppl_kn, the sweep's three branches, the stream maintainer's
    // partials) — one explode + hash-aggregate, not five (VERDICT r14)
    graft.Memo.cached(s, "kn_tridoc", dir) {
      val ws = split(norm, " ")
      Tables.documents(s, dir)
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 3)
        .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 2)))
        .select(col("doc_id"), element_at(col("ws"), col("i")).as("w1"),
          element_at(col("ws"), col("i") + 1).as("w2"),
          element_at(col("ws"), col("i") + 2).as("w3"))
        .groupBy("doc_id", "w1", "w2", "w3").agg(count(lit(1)).as("cd"))
    }

  /** The corpus trigram count table (w1, w2, w3, c123) — what the
    * streaming maintainer keeps as state (one counter per type, fed
    * micro-batch partials).
    */
  private[graft] def knTypes(s: SparkSession, dir: String): DataFrame =
    // memoized: the batch filter, the streaming maintainer's partials
    // and the discount sweep's three branches all read this one table
    graft.Memo.cached(s, "kn_types", dir)(
      knTriDoc(s, dir).groupBy("w1", "w2", "w3")
        .agg(sum(col("cd")).as("c123")))

  /** Gate: per-document interpolated Kneser-Ney trigram cross-entropy —
    * the CCNet-shaped LM filter upgraded from `doc_ppl`'s add-one
    * bigram model to the smoothing real LM filters ship (Kneser-Ney:
    * absolute discounting plus CONTINUATION counts at the lower
    * orders, so frequent-but-contextually-narrow words stop looking
    * probable). Same flag contract as `doc_ppl`: per doc the trigram
    * count, total and per-trigram-average fixed-point nll, and the
    * above-corpus-mean flag.
    *
    * Every lower-order statistic derives from the trigram TYPE table
    * (the textbook formulation): A = N1+(·w2w3), B = N1+(·w2·),
    * H = N1+(w2·), C3 = N1+(·w3), G = N1+(··), M = N1+(w1w2·),
    * c12 = Σ_w3 c123. With the rational discount D = 3/4 the
    * interpolated probability collapses to ONE integer ratio:
    *
    *   P2 = (max(4A−3, 0)·G + 3·H·C3) / (4·B·G)            = N2 / D2
    *   P3 = (max(4·c123−3, 0)·D2 + 3·M·N2) / (16·c12·B·G)  = N3 / D3
    *
    * and nll per occurrence = llog2(D3) − llog2(N3) — pure integer
    * floor arithmetic, replayed by the oracle with rational ops only.
    * Only observed trigrams score (all counts ≥ 1, so llog2's x ≥ 1
    * domain holds and N3 ≥ 3·H·C3 ≥ 3).
    *
    * Scale: type-table aggregations are gram-keyed with map-side
    * combine; the scoring join is doc-trigrams ⋈ LM on the trigram key
    * — `doc_ppl`'s one genuinely big join, same shape. The llog2
    * operand bound (< 2^41) caps 16·c12·B·G; at production corpus
    * sizes the counts rescale by their GCD per ratio (a config shift)
    * — the gate corpus stays well inside.
    */
  def docPplKn(s: SparkSession, dir: String): DataFrame =
    // Memoized: the report is one row per doc, but its plan carries the
    // corpus-scale scoring join — kn_order_sweep and the discount sweep's
    // default-discount branch read it through this frame, so a session
    // pays that join once, not once per reference.
    graft.Memo.cached(s, "kn_report", dir)(knReport(s, dir, knTypes(s, dir)))

  /** The KN report over ANY trigram count table (w1, w2, w3, c123) —
    * ONE definition shared by the batch gate and the maintained-state
    * read ([[graft.streaming.StreamScenarios]]'s stream_kn_maintain),
    * so the streaming gate shares this oracle.
    */
  private[graft] def knReport(s: SparkSession, dir: String,
                              types: DataFrame,
                              d: Int = KnD): DataFrame = {
    val k = KnScale
    val ctx = types.groupBy("w1", "w2")
      .agg(sum(col("c123")).as("c12"), countDistinct(col("w3")).as("m"))
    // aT feeds FOUR consumers (bT, cT, gT, the scoring join) and perDoc
    // two (the mean, the final select) — left lazy, each consumer
    // re-derived the whole continuation-count subtree from the type
    // table (measured: zero ReusedExchange, the doc_ppl_kn plan carried
    // every aggregation 3-4×). Cache them for the build, materialize the
    // per-doc report eagerly (it is one row per document), release the
    // interiors — the hand-over-materialized builder pattern.
    val aT = types.groupBy("w2", "w3")
      .agg(countDistinct(col("w1")).as("a"))
      .cache()
    val bT = aT.groupBy("w2")
      .agg(sum(col("a")).as("b"), countDistinct(col("w3")).as("hh"))
    val cT = aT.groupBy("w3").agg(countDistinct(col("w2")).as("c3"))
    val gT = aT.agg(count(lit(1)).as("g"))
    val lm = types
      .join(ctx, Seq("w1", "w2"))
      .join(aT, Seq("w2", "w3"))
      .join(bT, Seq("w2"))
      .join(cT, Seq("w3"))
      .crossJoin(broadcast(gT))
      .withColumn("n2",
        greatest(lit(k) * col("a") - d, lit(0L)) * col("g") +
          lit(d) * col("hh") * col("c3"))
      .withColumn("n3",
        greatest(lit(k) * col("c123") - d, lit(0L)) *
          (lit(k) * col("b") * col("g")) + lit(d) * col("m") * col("n2"))
      .withColumn("d3", lit(k.toLong * k) * col("c12") * col("b") * col("g"))
      .select(col("w1"), col("w2"), col("w3"),
        (expr(llog2("d3")) - expr(llog2("n3"))).as("nb"))
    val perDoc = knTriDoc(s, dir).join(lm, Seq("w1", "w2", "w3"))
      .groupBy("doc_id")
      .agg(sum(col("cd")).as("n_trigrams"),
        sum(col("cd") * col("nb")).as("nll"))
      .withColumn("avg_nll",
        expr("cast((nll - (nll % n_trigrams)) div n_trigrams as bigint)"))
      .cache()
    val mean = perDoc.agg(count(lit(1)).as("nd"),
      sum(col("avg_nll")).as("sa"))
    val report = perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_trigrams"), col("nll"), col("avg_nll"),
        when(col("avg_nll") * col("nd") > col("sa"), 1L).otherwise(0L)
          .as("flagged"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    aT.unpersist(false)
    perDoc.unpersist(false)
    report
  }

  /** The shared KN head: trigram occurrences, type table, every
    * lower-order statistic — one definition for the per-doc filter
    * oracle and the discount sweep's three branches (multi-referenced
    * CTEs materialized).
    */
  private val knHeadCtes: String = s"""
    dkn AS (SELECT doc_id, string_split($normSql, ' ') AS ws
            FROM documents),
    dkg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
            FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, len(ws) - 2)) AS i
                  FROM dkn WHERE len(ws) >= 3)),
    dkd AS MATERIALIZED (SELECT doc_id, w1, w2, w3, count(*) AS cd
            FROM dkg GROUP BY 1, 2, 3, 4),
    dkt AS MATERIALIZED (SELECT w1, w2, w3, CAST(sum(cd) AS BIGINT) AS c123
            FROM dkd GROUP BY 1, 2, 3),
    dkc AS MATERIALIZED (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
              count(DISTINCT w3) AS m
            FROM dkt GROUP BY 1, 2),
    dka AS MATERIALIZED (SELECT w2, w3, count(DISTINCT w1) AS a
            FROM dkt GROUP BY 1, 2),
    dkb AS MATERIALIZED (SELECT w2, CAST(sum(a) AS BIGINT) AS b,
              count(DISTINCT w3) AS hh
            FROM dka GROUP BY 1),
    dkc3 AS MATERIALIZED (SELECT w3, count(DISTINCT w2) AS c3
            FROM dka GROUP BY 1),
    dkgt AS MATERIALIZED (SELECT count(*) AS g FROM dka)"""

  /** One discount branch: the LM at discount `d`/4 and its per-doc
    * scores, CTEs suffixed `$sfx`.
    */
  private def knBranchCtes(d: Int, sfx: String): String = {
    val k = KnScale
    s"""
    dklm$sfx AS (
      SELECT w1, w2, w3,
        ${llog2("d3")} - ${llog2("n3")} AS nb
      FROM (
        SELECT t.w1, t.w2, t.w3,
          greatest($k * t.c123 - $d, 0)
              * ($k * dkb.b * dkgt.g)
            + $d * dkc.m
              * (greatest($k * dka.a - $d, 0) * dkgt.g
                 + $d * dkb.hh * dkc3.c3) AS n3,
          ${k * k} * dkc.c12 * dkb.b * dkgt.g AS d3
        FROM dkt t
        JOIN dkc ON t.w1 = dkc.w1 AND t.w2 = dkc.w2
        JOIN dka ON t.w2 = dka.w2 AND t.w3 = dka.w3
        JOIN dkb ON t.w2 = dkb.w2
        JOIN dkc3 ON t.w3 = dkc3.w3, dkgt) x),
    dkpd$sfx AS (
      SELECT doc_id, CAST(sum(cd) AS BIGINT) AS n_trigrams,
        CAST(sum(cd * nb) AS BIGINT) AS nll
      FROM dkd JOIN dklm$sfx USING (w1, w2, w3) GROUP BY doc_id),
    dkp2$sfx AS MATERIALIZED (
      SELECT doc_id, n_trigrams, nll,
        CAST((nll - (nll % n_trigrams)) // n_trigrams AS BIGINT) AS avg_nll
      FROM dkpd$sfx)"""
  }

  val docPplKnSql: String = s"""
    WITH $knHeadCtes,
    ${knBranchCtes(KnD, "")},
    dkmn AS (SELECT count(*) AS nd, CAST(sum(avg_nll) AS BIGINT) AS sa
             FROM dkp2)
    SELECT doc_id, n_trigrams, nll, avg_nll,
      CAST(CASE WHEN avg_nll * nd > sa THEN 1 ELSE 0 END AS BIGINT)
        AS flagged
    FROM dkp2, dkmn ORDER BY doc_id"""

  /** Discounts the sweep evaluates, as numerators over [[KnScale]]. */
  private val KnSweepDs = Seq(1, 2, 3)

  /** Gate: the KN DISCOUNT tuning table — the smoothing knob every
    * Kneser-Ney deployment sets, measured instead of guessed: per
    * discount D ∈ {1/4, 2/4, 3/4}, the corpus totals of the per-doc
    * filter (docs, total nll, floor-mean of the per-doc averages,
    * docs flagged by that discount's OWN corpus mean), with the
    * Chen–Goodman closed-form estimate D* = n1/(n1 + 2·n2) (from the
    * type table's singleton/doubleton counts, as a q6 integer) riding
    * along — the decision artifact: compare the swept column against
    * the estimator's recommendation before re-scoring 100 TB.
    *
    * Scale: the tuning-table discipline (§4) — all three branches
    * read the ONE memoized type table for the LM side AND the one
    * memoized per-doc trigram frame ([[knTriDoc]]) for the scoring
    * side; each branch re-derives only the discount-dependent LM
    * arithmetic plus its scoring join — nothing rescans the raw
    * corpus per candidate (the r14 weak: the scoring side used to
    * rebuild the doc-trigram frame per branch).
    */
  def knDiscountSweep(s: SparkSession, dir: String): DataFrame = {
    val types = knTypes(s, dir)
    val est = types.agg(
        sum(when(col("c123") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c123") === 2, 1L).otherwise(0L)).as("n2t"))
      .select(col("n1"), col("n2t"),
        expr("(n1 * 1000000) div greatest(1, n1 + 2 * n2t)")
          .as("d_est_q6"))
    KnSweepDs.map { d =>
      // The default-discount branch IS doc_ppl_kn's frame — read it
      // through the memo so the session shares one materialization.
      (if (d == KnD) docPplKn(s, dir) else knReport(s, dir, types, d))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nll")).as("nll_total"),
          sum(col("avg_nll")).as("sa"),
          sum(col("flagged")).as("n_flagged"))
        .select(lit(d.toLong * 250000L).as("discount_q6"),
          col("n_docs"), col("nll_total"),
          expr("cast((sa - (sa % n_docs)) div n_docs as bigint)")
            .as("mean_avg_nll"),
          col("n_flagged"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(est))
      .orderBy("discount_q6")
  }

  val knDiscountSweepSql: String = s"""
    WITH $knHeadCtes,
    ${KnSweepDs.map(d => knBranchCtes(d, s"_$d").trim).mkString(",\n    ")},
    ${KnSweepDs.map(d => s"""
    dkag_$d AS (SELECT count(*) AS n_docs,
        CAST(sum(nll) AS BIGINT) AS nll_total,
        CAST(sum(avg_nll) AS BIGINT) AS sa
      FROM dkp2_$d),
    dkst_$d AS (
      SELECT CAST(${d.toLong * 250000L} AS BIGINT) AS discount_q6,
        a.n_docs, a.nll_total,
        CAST((a.sa - (a.sa % a.n_docs)) // a.n_docs AS BIGINT)
          AS mean_avg_nll,
        (SELECT count(*) FROM dkp2_$d p, dkag_$d a2
         WHERE p.avg_nll * a2.n_docs > a2.sa) AS n_flagged
      FROM dkag_$d a)""".trim).mkString(",\n    ")},
    dkest AS (
      SELECT CAST(sum(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n1,
        CAST(sum(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2t
      FROM dkt),
    dkestq AS (
      SELECT n1, n2t,
        CAST((n1 * 1000000) // greatest(1, n1 + 2 * n2t) AS BIGINT)
          AS d_est_q6
      FROM dkest)
    SELECT s.*, e.n1, e.n2t, e.d_est_q6
    FROM (${KnSweepDs.map(d => s"SELECT * FROM dkst_$d")
      .mkString(" UNION ALL ")}) s, dkestq e
    ORDER BY discount_q6"""

  // ------------------------------------------- Kneser-Ney 5-gram filter

  /** 5-gram KN discount D = [[Kn5D]]/[[Kn5Scale]] = 0.5 — deliberately
    * NOT the trigram gate's 3/4: the single-ratio probability carries a
    * k⁴ factor in its denominator, and k = 2 (vs 4) buys 4 bits of
    * llog2 operand headroom (measured: max D₅ at sf0.1 is 2^42.8 with
    * k = 4 — past the 2^41 exactness bound — and 2^38.8 with k = 2).
    * The DISCOUNT itself is tuned by `kn_discount_sweep`, not here.
    */
  private val Kn5Scale = 2
  private val Kn5D = 1

  /** Per-document 5-gram occurrences (doc_id, w1..w5, cd) — memoized
    * like [[knTriDoc]]: the largest intermediate of the 5-gram family,
    * read by the filter's scoring join and the maintainer's partials.
    */
  private[graft] def kn5Doc(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "kn5_pentadoc", dir) {
      val ws = split(norm, " ")
      Tables.documents(s, dir)
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 5)
        .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 4)))
        .select(col("doc_id") +: (1 to 5).map(j =>
          element_at(col("ws"), col("i") + (j - 1)).as(s"w$j")): _*)
        .groupBy("doc_id", "w1", "w2", "w3", "w4", "w5")
        .agg(count(lit(1)).as("cd"))
    }

  /** The corpus 5-gram type/count table (w1..w5, c) — the ONE table the
    * streaming maintainer keeps as state; every lower-order KN
    * statistic derives from it.
    */
  private[graft] def kn5Types(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "kn5_types", dir)(
      kn5Doc(s, dir).groupBy("w1", "w2", "w3", "w4", "w5")
        .agg(sum(col("cd")).as("c")))

  /** Gate: per-document interpolated Kneser-Ney 5-GRAM cross-entropy —
    * `doc_ppl_kn` at the order CCNet's shipped KenLM filter uses. The
    * trigram gate's type-table derivation generalizes verbatim, two
    * orders up: from the one 5-gram type table,
    *
    *   c₁₂₃₄ = Σ_w5 c, M₄ = N1+(w1w2w3w4·)       (raw context)
    *   A₄ = N1+(·w2w3w4w5); B₄ = N1+(·w2w3w4·); H₄ = N1+(w2w3w4·)
    *   A₃ = N1+(·w3w4w5);   B₃ = N1+(·w3w4·);   H₃ = N1+(w3w4·)
    *   A₂ = N1+(·w4w5);     B₂ = N1+(·w4·);     H₂ = N1+(w4·)
    *   C₁ = N1+(·w5);       G  = N1+(··)
    *
    * (each A-table computed over the DISTINCT type set of the order
    * above — the textbook continuation-count recursion), and with the
    * rational discount d/k every interpolation collapses to one
    * integer ratio:
    *
    *   N₂ = max(kA₂−d, 0)·G  + d·H₂·C₁          D₂ = k·B₂·G
    *   N₃ = max(kA₃−d, 0)·D₂ + d·H₃·N₂          D₃ = k·B₃·D₂
    *   N₄ = max(kA₄−d, 0)·D₃ + d·H₄·N₃          D₄ = k·B₄·D₃
    *   N₅ = max(kc−d, 0)·D₄  + d·M₄·N₄          D₅ = k·c₁₂₃₄·D₄
    *
    * nll per occurrence = llog2(D₅) − llog2(N₅). Same flag contract as
    * the trigram gate. Operand bound: D₅ = k⁴·c₁₂₃₄·B₄·B₃·B₂·G < 2^41
    * for llog2 exactness (measured 2^38.8 at sf0.1 with k = 2); at
    * production corpus sizes rescale each ratio by its GCD or a common
    * shift (type counts are replication-invariant — only the raw
    * c₁₂₃₄ grows with duplicated data).
    *
    * Scale: eight gram-keyed aggregations with map-side combine over
    * the type table (each strictly smaller than the last), one
    * broadcast scalar, and the one genuinely big join — doc-5-grams ⋈
    * LM on the 5-gram key, the `doc_ppl` shape.
    */
  def docPplKn5(s: SparkSession, dir: String): DataFrame =
    // Memoized for the same reason as [[docPplKn]] — the order sweep
    // references this frame twice (totals + flag agreement).
    graft.Memo.cached(s, "kn5_report", dir)(
      kn5Report(s, dir, kn5Types(s, dir)))

  /** The 5-gram KN report over ANY type table (w1..w5, c) — shared by
    * the batch gate and the maintained-state read (stream_kn5_maintain)
    * so the streaming gate shares this oracle.
    */
  private[graft] def kn5Report(s: SparkSession, dir: String,
                               types: DataFrame): DataFrame = {
    val k = Kn5Scale.toLong
    val d = Kn5D.toLong
    val ctx = types.groupBy("w1", "w2", "w3", "w4")
      .agg(sum(col("c")).as("c1234"), countDistinct(col("w5")).as("m4"))
    // each A-table feeds THREE consumers (the next order's B/A tables
    // and the scoring join) — cached for the build so the continuation
    // recursion runs once, not once per consumer (the knReport fix, two
    // orders up; measured zero ReusedExchange before)
    val a4T = types.groupBy("w2", "w3", "w4", "w5")
      .agg(countDistinct(col("w1")).as("a4"))
      .cache()
    val b4T = a4T.groupBy("w2", "w3", "w4")
      .agg(sum(col("a4")).as("b4"), countDistinct(col("w5")).as("h4"))
    val a3T = a4T.groupBy("w3", "w4", "w5")
      .agg(countDistinct(col("w2")).as("a3"))
      .cache()
    val b3T = a3T.groupBy("w3", "w4")
      .agg(sum(col("a3")).as("b3"), countDistinct(col("w5")).as("h3"))
    val a2T = a3T.groupBy("w4", "w5")
      .agg(countDistinct(col("w3")).as("a2"))
      .cache()
    val b2T = a2T.groupBy("w4")
      .agg(sum(col("a2")).as("b2"), countDistinct(col("w5")).as("h2"))
    val c1T = a2T.groupBy("w5").agg(countDistinct(col("w4")).as("c1"))
    val gT = a2T.agg(count(lit(1)).as("g"))
    val lm = types
      .join(ctx, Seq("w1", "w2", "w3", "w4"))
      .join(a4T, Seq("w2", "w3", "w4", "w5"))
      .join(b4T, Seq("w2", "w3", "w4"))
      .join(a3T, Seq("w3", "w4", "w5"))
      .join(b3T, Seq("w3", "w4"))
      .join(a2T, Seq("w4", "w5"))
      .join(b2T, Seq("w4"))
      .join(c1T, Seq("w5"))
      .crossJoin(broadcast(gT))
      .withColumn("n2",
        greatest(lit(k) * col("a2") - d, lit(0L)) * col("g") +
          lit(d) * col("h2") * col("c1"))
      .withColumn("d2", lit(k) * col("b2") * col("g"))
      .withColumn("n3",
        greatest(lit(k) * col("a3") - d, lit(0L)) * col("d2") +
          lit(d) * col("h3") * col("n2"))
      .withColumn("d3", lit(k) * col("b3") * col("d2"))
      .withColumn("n4",
        greatest(lit(k) * col("a4") - d, lit(0L)) * col("d3") +
          lit(d) * col("h4") * col("n3"))
      .withColumn("d4", lit(k) * col("b4") * col("d3"))
      .withColumn("n5",
        greatest(lit(k) * col("c") - d, lit(0L)) * col("d4") +
          lit(d) * col("m4") * col("n4"))
      .withColumn("d5", lit(k) * col("c1234") * col("d4"))
      .select(col("w1"), col("w2"), col("w3"), col("w4"), col("w5"),
        (expr(llog2("d5")) - expr(llog2("n5"))).as("nb"))
    val perDoc = kn5Doc(s, dir)
      .join(lm, Seq("w1", "w2", "w3", "w4", "w5"))
      .groupBy("doc_id")
      .agg(sum(col("cd")).as("n_fivegrams"),
        sum(col("cd") * col("nb")).as("nll"))
      .withColumn("avg_nll",
        expr("cast((nll - (nll % n_fivegrams)) div n_fivegrams as bigint)"))
      .cache()
    val mean = perDoc.agg(count(lit(1)).as("nd"),
      sum(col("avg_nll")).as("sa"))
    val report = perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_fivegrams"), col("nll"), col("avg_nll"),
        when(col("avg_nll") * col("nd") > col("sa"), 1L).otherwise(0L)
          .as("flagged"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    Seq(a4T, a3T, a2T, perDoc).foreach(_.unpersist(false))
    report
  }

  /** The 5-gram chain's CTE body (ends in `k5p2(doc_id, n_fivegrams,
    * nll, avg_nll)`) — shared by the batch/stream oracles and the
    * order sweep.
    */
  private val kn5Ctes: String = {
    val k = Kn5Scale
    val d = Kn5D
    s"""k5n AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents),
    k5g AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3,
              ws[i + 3] AS w4, ws[i + 4] AS w5
            FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, len(ws) - 4)) AS i
                  FROM k5n WHERE len(ws) >= 5)),
    k5d AS MATERIALIZED (
      SELECT doc_id, w1, w2, w3, w4, w5, count(*) AS cd
      FROM k5g GROUP BY ALL),
    k5t AS MATERIALIZED (
      SELECT w1, w2, w3, w4, w5, CAST(sum(cd) AS BIGINT) AS c
      FROM k5d GROUP BY ALL),
    k5ctx AS MATERIALIZED (
      SELECT w1, w2, w3, w4, CAST(sum(c) AS BIGINT) AS c1234,
        count(DISTINCT w5) AS m4
      FROM k5t GROUP BY ALL),
    k5a4 AS MATERIALIZED (
      SELECT w2, w3, w4, w5, count(DISTINCT w1) AS a4
      FROM k5t GROUP BY ALL),
    k5b4 AS MATERIALIZED (
      SELECT w2, w3, w4, CAST(sum(a4) AS BIGINT) AS b4,
        count(DISTINCT w5) AS h4
      FROM k5a4 GROUP BY ALL),
    k5a3 AS MATERIALIZED (
      SELECT w3, w4, w5, count(DISTINCT w2) AS a3
      FROM k5a4 GROUP BY ALL),
    k5b3 AS MATERIALIZED (
      SELECT w3, w4, CAST(sum(a3) AS BIGINT) AS b3,
        count(DISTINCT w5) AS h3
      FROM k5a3 GROUP BY ALL),
    k5a2 AS MATERIALIZED (
      SELECT w4, w5, count(DISTINCT w3) AS a2
      FROM k5a3 GROUP BY ALL),
    k5b2 AS MATERIALIZED (
      SELECT w4, CAST(sum(a2) AS BIGINT) AS b2,
        count(DISTINCT w5) AS h2
      FROM k5a2 GROUP BY ALL),
    k5c1 AS MATERIALIZED (
      SELECT w5, count(DISTINCT w4) AS c1 FROM k5a2 GROUP BY ALL),
    k5gt AS MATERIALIZED (SELECT count(*) AS g FROM k5a2),
    k5lm AS (
      SELECT w1, w2, w3, w4, w5,
        ${llog2("d5")} - ${llog2("n5")} AS nb
      FROM (
        SELECT t.w1, t.w2, t.w3, t.w4, t.w5,
          greatest($k * t.c - $d, 0) * d4 + $d * k5ctx.m4 * n4 AS n5,
          $k * k5ctx.c1234 * d4 AS d5
        FROM (
          SELECT t.*, k5b4.b4, k5b4.h4, k5a4.a4,
            greatest($k * k5a4.a4 - $d, 0)
                * ($k * k5b3.b3 * ($k * k5b2.b2 * k5gt.g))
              + $d * k5b4.h4
                * (greatest($k * k5a3.a3 - $d, 0)
                    * ($k * k5b2.b2 * k5gt.g)
                  + $d * k5b3.h3
                    * (greatest($k * k5a2.a2 - $d, 0) * k5gt.g
                      + $d * k5b2.h2 * k5c1.c1)) AS n4,
            $k * k5b4.b4 * ($k * k5b3.b3 * ($k * k5b2.b2 * k5gt.g)) AS d4
          FROM k5t t
          JOIN k5a4 ON t.w2 = k5a4.w2 AND t.w3 = k5a4.w3
            AND t.w4 = k5a4.w4 AND t.w5 = k5a4.w5
          JOIN k5b4 ON t.w2 = k5b4.w2 AND t.w3 = k5b4.w3
            AND t.w4 = k5b4.w4
          JOIN k5a3 ON t.w3 = k5a3.w3 AND t.w4 = k5a3.w4
            AND t.w5 = k5a3.w5
          JOIN k5b3 ON t.w3 = k5b3.w3 AND t.w4 = k5b3.w4
          JOIN k5a2 ON t.w4 = k5a2.w4 AND t.w5 = k5a2.w5
          JOIN k5b2 ON t.w4 = k5b2.w4
          JOIN k5c1 ON t.w5 = k5c1.w5, k5gt) t
        JOIN k5ctx ON t.w1 = k5ctx.w1 AND t.w2 = k5ctx.w2
          AND t.w3 = k5ctx.w3 AND t.w4 = k5ctx.w4) x),
    k5pd AS (
      SELECT doc_id, CAST(sum(cd) AS BIGINT) AS n_fivegrams,
        CAST(sum(cd * nb) AS BIGINT) AS nll
      FROM k5d JOIN k5lm USING (w1, w2, w3, w4, w5) GROUP BY doc_id),
    k5p2 AS MATERIALIZED (
      SELECT doc_id, n_fivegrams, nll,
        CAST((nll - (nll % n_fivegrams)) // n_fivegrams AS BIGINT)
          AS avg_nll
      FROM k5pd)"""
  }

  val docPplKn5Sql: String = s"""
    WITH $kn5Ctes,
    k5mn AS (SELECT count(*) AS nd, CAST(sum(avg_nll) AS BIGINT) AS sa
             FROM k5p2)
    SELECT doc_id, n_fivegrams, nll, avg_nll,
      CAST(CASE WHEN avg_nll * nd > sa THEN 1 ELSE 0 END AS BIGINT)
        AS flagged
    FROM k5p2, k5mn ORDER BY doc_id"""

  /** Gate: the KN ORDER tuning table — the model-order knob (the last
    * knob of the KN family after `kn_discount_sweep`'s discount): per
    * order ∈ {3, 5}, the corpus totals of that order's per-doc filter
    * (docs scored, total nll, floor-mean of per-doc averages, docs
    * flagged by that order's own corpus mean), with the cross-order
    * FLAG AGREEMENT riding along (docs flagged by both orders / by the
    * trigram only / by the 5-gram only, over the docs both orders
    * score) — the decision artifact for "is the 5-gram model worth
    * ~n× the type-table state", measured instead of assumed.
    *
    * Scale: the sweep reads the two MEMOIZED per-doc report frames
    * ([[docPplKn]]/[[docPplKn5]]) — each order's corpus-scale scoring
    * join materializes once per session no matter how many branches
    * (totals + flag agreement here, the solo gates elsewhere) read it;
    * the sweep's own marginal cost is doc-count-sized aggregates plus
    * one doc-keyed equi-join for the agreement.
    */
  def knOrderSweep(s: SparkSession, dir: String): DataFrame = {
    val r3 = docPplKn(s, dir)
      .select(col("doc_id"), col("n_trigrams").as("n_grams"),
        col("nll"), col("avg_nll"), col("flagged"))
    val r5 = docPplKn5(s, dir)
      .select(col("doc_id"), col("n_fivegrams").as("n_grams"),
        col("nll"), col("avg_nll"), col("flagged"))
    val agree = r3.select(col("doc_id"), col("flagged").as("f3"))
      .join(r5.select(col("doc_id"), col("flagged").as("f5")),
        Seq("doc_id"))
      .agg(
        coalesce(sum(when(col("f3") === 1 && col("f5") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("flagged_both"),
        coalesce(sum(when(col("f3") === 1 && col("f5") === 0, 1L)
          .otherwise(0L)), lit(0L)).as("flagged_lower_only"),
        coalesce(sum(when(col("f3") === 0 && col("f5") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("flagged_higher_only"))
    def totals(r: DataFrame, order: Int): DataFrame =
      r.agg(count(lit(1)).as("n_docs"),
          sum(col("nll")).as("nll_total"),
          sum(col("avg_nll")).as("sa"),
          sum(col("flagged")).as("n_flagged"))
        .select(lit(order.toLong).as("ngram_order"), col("n_docs"),
          col("nll_total"),
          expr("cast((sa - (sa % n_docs)) div n_docs as bigint)")
            .as("mean_avg_nll"),
          col("n_flagged"))
    totals(r3, 3).unionByName(totals(r5, 5))
      .crossJoin(broadcast(agree))
      .orderBy("ngram_order")
  }

  val knOrderSweepSql: String = s"""
    WITH $knHeadCtes,
    ${knBranchCtes(KnD, "")},
    $kn5Ctes,
    komn3 AS (SELECT count(*) AS nd, CAST(sum(avg_nll) AS BIGINT) AS sa
              FROM dkp2),
    komn5 AS (SELECT count(*) AS nd, CAST(sum(avg_nll) AS BIGINT) AS sa
              FROM k5p2),
    kof3 AS MATERIALIZED (
      SELECT doc_id, nll, avg_nll,
        CASE WHEN avg_nll * nd > sa THEN 1 ELSE 0 END AS fl
      FROM dkp2, komn3),
    kof5 AS MATERIALIZED (
      SELECT doc_id, nll, avg_nll,
        CASE WHEN avg_nll * nd > sa THEN 1 ELSE 0 END AS fl
      FROM k5p2, komn5),
    koag AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN a.fl = 1 AND b.fl = 1
          THEN 1 ELSE 0 END), 0) AS BIGINT) AS flagged_both,
        CAST(coalesce(sum(CASE WHEN a.fl = 1 AND b.fl = 0
          THEN 1 ELSE 0 END), 0) AS BIGINT) AS flagged_lower_only,
        CAST(coalesce(sum(CASE WHEN a.fl = 0 AND b.fl = 1
          THEN 1 ELSE 0 END), 0) AS BIGINT) AS flagged_higher_only
      FROM kof3 a JOIN kof5 b USING (doc_id)),
    kor3 AS (
      SELECT CAST(3 AS BIGINT) AS ngram_order, count(*) AS n_docs,
        CAST(sum(nll) AS BIGINT) AS nll_total,
        CAST((sum(avg_nll) - (sum(avg_nll) % count(*))) // count(*)
          AS BIGINT) AS mean_avg_nll,
        CAST(sum(fl) AS BIGINT) AS n_flagged
      FROM kof3),
    kor5 AS (
      SELECT CAST(5 AS BIGINT) AS ngram_order, count(*) AS n_docs,
        CAST(sum(nll) AS BIGINT) AS nll_total,
        CAST((sum(avg_nll) - (sum(avg_nll) % count(*))) // count(*)
          AS BIGINT) AS mean_avg_nll,
        CAST(sum(fl) AS BIGINT) AS n_flagged
      FROM kof5)
    SELECT r.*, g.flagged_both, g.flagged_lower_only,
      g.flagged_higher_only
    FROM (SELECT * FROM kor3 UNION ALL SELECT * FROM kor5) r, koag g
    ORDER BY ngram_order"""

  // ------------------------------------------------ model-grade language ID

  /** Hashed char-trigram buckets of the langid classifier (+ bias 0). */
  private val LangidBuckets = 64

  /** Training rounds of the langid one-vs-rest perceptron (the
    * [[ClfRounds]] convention; reaches ≥ 0.99 accuracy by round 16 at
    * all three test SFs — measured).
    */
  private val LangidRounds = 16

  /** Fixed-point scale of the length-NORMALIZED trigram features:
    * x_f = (count_f · 1024) div total_trigrams, bias = 1024. Raw counts
    * do not train here (measured: stuck at majority-class accuracy) —
    * document length varies 10× so count features conflate length with
    * language; the ratio features are the fastText normalization, in
    * exact integer arithmetic.
    */
  private val LangidFpScale = 1024

  /** Fixed language order — the argmax tie-break priority, matching the
    * heuristic's ([[TextOps.textLangid]]) en > es > fr > de > zh chain.
    * Declared BEFORE [[LangidPosW]] so the weight derives from it
    * (object vals initialize in declaration order; a forward reference
    * would NPE-into-0 silently).
    */
  private val LangidLangs = Seq("en", "es", "fr", "de", "zh")

  /** Positive-class gradient weight = |langs| − 1. One-vs-rest slices
    * are ~1:4 imbalanced, and the unweighted batch gradient collapses
    * every non-majority classifier to all-negative (measured: binary
    * accuracy pinned at the negative base rate). Weighting the positive
    * docs' updates by the class ratio is the standard balanced
    * perceptron fix and stays order-independent integer. Derived from
    * [[LangidLangs]] so adding/removing a language rebalances
    * automatically (review finding, r13).
    */
  private val LangidPosW = LangidLangs.size - 1

  /** Per-language planted morphology: every 5th word carries the
    * language's suffix. The synthetic corpus draws one shared vocabulary
    * for every `lang` label (measured: per-language word-frequency
    * spreads are sampling noise), so — exactly like [[CorpusFilters]]'
    * quality_rules planting symbol/numeric words — the gate plants a
    * DETERMINISTIC morphological signal for the classifier to learn.
    * The plant is char-level, invisible to the word-lexicon heuristic
    * (suffixed words match no stoplist entry), which is the real-world
    * contrast the gate measures: production langid (fastText) is a
    * char-n-gram model precisely because morphology generalizes where
    * lexicons stop.
    */
  private val LangidSuffix =
    Map("en" -> "ing", "es" -> "cion", "fr" -> "eaux", "de" -> "ung",
      "zh" -> "zhi")

  private def langidSfxCol: org.apache.spark.sql.Column =
    LangidLangs.tail.foldLeft(
      when(col("lang") === LangidLangs.head,
        LangidSuffix(LangidLangs.head))) { (c, l) =>
      c.when(col("lang") === l, LangidSuffix(l))
    // a lang OUTSIDE the map decorates with '' (defined, identical on
    // both engines) — a NULL suffix would null the concatenated word
    // and the engines disagree on null handling in array_join
    }.otherwise(lit(""))

  private val langidSfxSql: String =
    "CASE " + LangidLangs.map(l =>
      s"WHEN lang = '$l' THEN '${LangidSuffix(l)}'").mkString(" ") +
      " ELSE '' END"

  /** Augmented text: word i (0-based) gets the language suffix when
    * i ≡ 0 (mod 5).
    */
  private def langidAugCol: org.apache.spark.sql.Column =
    expr("array_join(transform(split(" +
      "lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '), " +
      "(w, i) -> if(i % 5 = 0, concat(w, sfx), w)), ' ')")

  private val langidAugSql: String =
    s"""array_to_string(list_transform(
      generate_series(1, len(ws)),
      i -> CASE WHEN (i - 1) % 5 = 0 THEN ws[i] || sfx ELSE ws[i] END), ' ')"""

  /** Dense per-document feature vectors `(doc_id, lang, x[65])`: hashed
    * char-TRIGRAM fixed-point ratios of the augmented text
    * ([[LangidFpScale]]), bias at 0 — the fastText feature shape over
    * the same hashed-bucket machinery as [[clfFeats]].
    */
  private def langidFeats(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "langid_feats", dir) {
      val aug = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          langidSfxCol.as("sfx"))
        .withColumn("a", langidAugCol)
      // Spark's sequence(1, 0) DESCENDS — short/empty texts must filter
      // to an empty trigram set, not sequence-to-zero (the
      // span_corruption guard pattern)
      val sparse = aug
        .select(col("doc_id"),
          (length(col("a")) - 2).cast("long").as("t"),
          explode(expr("transform(filter(sequence(1L, " +
            "greatest(length(a) - 2, 1L)), i -> i <= length(a) - 2), " +
            "i -> substring(a, cast(i as int), 3))")).as("g"))
        .select(col("doc_id"), col("t"),
          (expr("cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint)")
            % LangidBuckets + 1).cast("int").as("f"))
        .groupBy("doc_id", "f")
        .agg(expr(s"(count(*) * $LangidFpScale) div first(t)").as("c"))
      // LEFT join from the corpus so a trigram-less doc still gets its
      // bias-only feature vector (the oracle's bias UNION row covers
      // every doc)
      Tables.documents(s, dir).select("doc_id", "lang")
        .join(sparse.groupBy("doc_id")
            .agg(map_from_arrays(collect_list(col("f")),
              collect_list(col("c"))).as("m")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          expr(s"transform(sequence(0, $LangidBuckets), " +
            s"i -> if(i = 0, cast($LangidFpScale as bigint), " +
            "coalesce(element_at(m, i), cast(0 as bigint))))").as("x"))
    }

  /** Shared diagonal preconditioner of the langid features (same formula
    * as [[clfPrecond]]; one frame for all five one-vs-rest problems).
    */
  private def langidS2(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "langid_s2", dir) {
      langidFeats(s, dir)
        .select(posexplode(col("x")).as(Seq("i", "xi")))
        .groupBy("i").agg(greatest(sum(col("xi") * col("xi")), lit(1L))
          .as("s2v"))
    }

  /** The five one-vs-rest weight vectors `(lang, i, wv)` trained JOINTLY
    * (one corpus pass per round scores all five classifiers; the
    * gradient shuffle is (lang, i)-keyed, 5 × 65 rows) with the same
    * preconditioned 1/r-decayed integer updates as [[clfWeights]] —
    * order-independent, so the oracle unrolls the rounds exactly.
    */
  private def langidWeights(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "langid_weights", dir) {
      GraftFunctions.register(s)
      val feats = langidFeats(s, dir)
      val s2 = langidS2(s, dir)
      import s.implicits._
      // state carries the round-invariant preconditioner (the clfWeights
      // shape); the gradient folds to one dim→g map row PER CLASS, so the
      // update is a 5-row broadcast join — no per-round model shuffle and
      // one fewer broadcast exchange per round
      var w = LangidLangs.toDF("clang")
        .crossJoin(s.range(0, LangidBuckets + 1)
          .select(col("id").cast("int").as("i")))
        .select(col("clang"), col("i"), lit(0L).as("wv"))
        .join(s2, Seq("i"))
        .localCheckpoint(true)
      for (r <- 1 to LangidRounds) {
        val wArr = w.groupBy("clang")
          .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
            x => x.getField("wv")).as("wa"))
        val gm = feats.crossJoin(broadcast(wArr))
          .select(col("clang"),
            when(col("lang") === col("clang"), 1L).otherwise(-1L).as("y"),
            when(col("lang") === col("clang"), LangidPosW.toLong)
              .otherwise(-1L).as("yw"),
            col("x"), expr("q_dot(x, wa)").as("sc"))
          .filter(col("y") * col("sc") <= 0)
          .select(col("clang"), col("yw"),
            posexplode(col("x")).as(Seq("i", "xi")))
          .groupBy("clang", "i").agg(sum(col("yw") * col("xi")).as("g"))
          .groupBy("clang").agg(map_from_arrays(collect_list(col("i")),
            collect_list(col("g"))).as("gm"))
        // left join: a class with zero misclassifications this round has
        // no gm row — its null map reads as an all-zero gradient
        w = w.join(broadcast(gm), Seq("clang"), "left")
          .select(col("clang"), col("i"), (col("wv") + expr(
            s"cast(((coalesce(element_at(gm, i), 0) * $ClfK) " +
              s"- ((coalesce(element_at(gm, i), 0) * $ClfK) " +
              s"% (s2v * $r) + (s2v * $r)) % (s2v * $r)) div (s2v * $r) " +
              "as bigint)")).as("wv"), col("s2v"))
          .localCheckpoint(true)
      }
      w.select(col("clang"), col("i"), col("wv"))
    }

  /** Gate: MODEL-GRADE LANGUAGE ID — a hashed char-trigram one-vs-rest
    * perceptron (the fastText shape: character n-grams, hashed buckets,
    * linear decision) trained on the morphology-planted corpus, with a
    * per-document parity audit against the word-lexicon heuristic
    * ([[TextOps.textLangid]]) run on the SAME augmented text. Emits per
    * document the trained prediction + its integer margin, the heuristic
    * prediction, and both correctness flags — the table that justifies
    * replacing the heuristic in the pipeline (spec pins trained accuracy
    * strictly above heuristic accuracy).
    *
    * Scale: feature extraction is one narrow map + a (doc, bucket)
    * shuffle bounded by 65 buckets/doc; each training round is one
    * corpus pass against 5 broadcast weight vectors + a 325-row
    * gradient shuffle; scoring is the same pass once. The heuristic
    * columns ride the same scan.
    */
  def langidClf(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val wArr = langidWeights(s, dir).groupBy("clang")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("wv")))),
        x => x.getField("wv")).as("wa"))
    val pri = LangidLangs.zipWithIndex.foldLeft(lit(99)) { case (c, (l, p)) =>
      when(col("clang") === l, p).otherwise(c)
    }
    val scored = langidFeats(s, dir).crossJoin(broadcast(wArr))
      .select(col("doc_id"), col("lang"), col("clang"),
        expr("q_dot(x, wa)").as("sc"), pri.as("pri"))
    val pred = scored.groupBy("doc_id")
      .agg(first(col("lang")).as("lang_actual"),
        max_by(col("clang"), struct(col("sc"), (-col("pri")).as("np")))
          .as("clf_pred"),
        max(col("sc")).as("clf_score"))
    // the heuristic, on the SAME augmented text (fair fight)
    val stopScores = Seq(Stoplists.en, Stoplists.es, Stoplists.fr,
      Stoplists.de, Stoplists.zh)
    val aug = Tables.documents(s, dir)
      .select(col("doc_id"), langidSfxCol.as("sfx"), col("text"))
      .withColumn("a", langidAugCol)
      .withColumn("ws", split(col("a"), " "))
    val hs = stopScores.map(st =>
      size(filter(col("ws"), w => w.isin(st: _*))).cast("double")
        / size(col("ws")))
    val Seq(se, ss, sf, sd, sz) = hs
    // the SHARED cascade (TextOps.langidArgmax) — the parity audit must
    // measure the heuristic the pipeline actually ships
    val heur = aug.select(col("doc_id"),
      TextOps.langidArgmax(se, ss, sf, sd, sz).as("heur_pred"))
    pred.join(heur, "doc_id")
      .select(col("doc_id"), col("lang_actual"),
        col("clf_pred"), col("clf_score"),
        when(col("clf_pred") === col("lang_actual"), 1L).otherwise(0L)
          .as("clf_correct"),
        col("heur_pred"),
        when(col("heur_pred") === col("lang_actual"), 1L).otherwise(0L)
          .as("heur_correct"))
      .orderBy("doc_id")
  }

  val langidClfSql: String = {
    val rounds = (1 to LangidRounds).map { r =>
      s"""
    lgm$r AS (
      SELECT fe.doc_id, w.clang,
        CASE WHEN fe.lang = w.clang THEN 1 ELSE -1 END AS y,
        CAST(sum(fe.c * w.wv) AS BIGINT) AS s
      FROM lg_feats fe JOIN lw${r - 1} w USING (f)
      GROUP BY 1, 2, 3),
    lgg$r AS (
      SELECT m.clang, fe.f,
        CAST(sum((CASE WHEN fe.lang = m.clang THEN $LangidPosW ELSE -1 END)
          * fe.c) AS BIGINT) AS g
      FROM lg_feats fe
      JOIN (SELECT doc_id, clang FROM lgm$r WHERE y * s <= 0) m
        USING (doc_id)
      GROUP BY 1, 2),
    lw$r AS MATERIALIZED (
      SELECT w.clang, w.f, wv + CAST(((coalesce(g, 0) * $ClfK)
          - ((coalesce(g, 0) * $ClfK) % (s2v * $r) + (s2v * $r))
            % (s2v * $r)) // (s2v * $r) AS BIGINT) AS wv
      FROM lw${r - 1} w
      LEFT JOIN lgg$r g ON w.clang = g.clang AND w.f = g.f
      JOIN lg_s2 s2 ON s2.f = w.f)"""
    }.mkString(",")
    val priSql = "CASE " + LangidLangs.zipWithIndex.map { case (l, p) =>
      s"WHEN clang = '$l' THEN $p" }.mkString(" ") + " END"
    def heurScore(st: Seq[String]) =
      s"(CAST(len(list_filter(aws, w -> w IN (${st.map("'" + _ + "'")
        .mkString(",")}))) AS DOUBLE) / len(aws))"
    val (he, hs_, hf, hd, hz) = (heurScore(Stoplists.en),
      heurScore(Stoplists.es), heurScore(Stoplists.fr),
      heurScore(Stoplists.de), heurScore(Stoplists.zh))
    s"""
    WITH lg_base AS (
      SELECT doc_id, lang, $langidSfxSql AS sfx,
        string_split($normSql, ' ') AS ws
      FROM documents),
    lg_aug AS (SELECT doc_id, lang, $langidAugSql AS a FROM lg_base),
    lg_tri AS (
      SELECT doc_id, CAST(length(a) - 2 AS BIGINT) AS t,
        substring(a, i, 3) AS g
      FROM lg_aug, unnest(generate_series(1, length(a) - 2)) AS tt(i)),
    lg_feats AS MATERIALIZED (
      SELECT sp.doc_id, d.lang, sp.f, sp.c FROM (
        SELECT doc_id,
          CAST(('0x' || substring(md5(g), 1, 8))::BIGINT % $LangidBuckets + 1
            AS INT) AS f,
          CAST((count(*) * $LangidFpScale) // first(t) AS BIGINT) AS c
        FROM lg_tri GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, 0, $LangidFpScale FROM documents) sp
      JOIN documents d USING (doc_id)),
    lw0 AS (
      SELECT clang, CAST(unnest(generate_series(0, $LangidBuckets)) AS INT)
          AS f,
        CAST(0 AS BIGINT) AS wv
      FROM (SELECT unnest([${LangidLangs.map("'" + _ + "'").mkString(",")}])
              AS clang)),
    lg_s2 AS MATERIALIZED (
      SELECT f, greatest(coalesce(s2, 0), 1) AS s2v
      FROM (SELECT DISTINCT f FROM lw0) ff LEFT JOIN (
        SELECT f, CAST(sum(c * c) AS BIGINT) AS s2
        FROM lg_feats GROUP BY f) USING (f)),$rounds,
    lfin AS (
      SELECT fe.doc_id, fe.lang, w.clang,
        CAST(sum(fe.c * w.wv) AS BIGINT) AS s
      FROM lg_feats fe JOIN lw$LangidRounds w USING (f)
      GROUP BY 1, 2, 3),
    lpred AS (
      SELECT doc_id, lang, clang, s,
        row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, $priSql)
          AS rn
      FROM lfin),
    lheur AS (
      SELECT doc_id, string_split(a, ' ') AS aws FROM lg_aug),
    lhp AS (
      SELECT doc_id,
        ${TextOps.langidArgmaxSql(he, hs_, hf, hd, hz)} AS heur_pred
      FROM lheur)
    SELECT p.doc_id, p.lang AS lang_actual, p.clang AS clf_pred,
      p.s AS clf_score,
      CAST(CASE WHEN p.clang = p.lang THEN 1 ELSE 0 END AS BIGINT)
        AS clf_correct,
      h.heur_pred,
      CAST(CASE WHEN h.heur_pred = p.lang THEN 1 ELSE 0 END AS BIGINT)
        AS heur_correct
    FROM lpred p JOIN lhp h USING (doc_id)
    WHERE p.rn = 1
    ORDER BY p.doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "langid_clf" -> (langidClf _),
    "perceptron_train" -> (perceptronTrain _),
    "perceptron_score" -> (perceptronScore _),
    "perceptron_ordinal" -> (perceptronOrdinal _),
    "perceptron_cross" -> (perceptronCross _),
    "clf_calibration" -> (clfCalibration _),
    "dsir_select" -> (dsirSelect _),
    "dsir_select_bigram" -> (dsirSelectBigram _),
    "dsir_domain" -> (dsirDomain _),
    "doc_ppl" -> (docPpl _),
    "doc_ppl_kn" -> (docPplKn _),
    "doc_ppl_kn5" -> (docPplKn5 _),
    "kn_discount_sweep" -> (knDiscountSweep _),
    "kn_order_sweep" -> (knOrderSweep _))

  val oracles: Map[String, String] = Map(
    "langid_clf" -> langidClfSql,
    "perceptron_train" -> perceptronTrainSql,
    "perceptron_score" -> perceptronScoreSql,
    "perceptron_ordinal" -> perceptronOrdinalSql,
    "perceptron_cross" -> perceptronCrossSql,
    "clf_calibration" -> clfCalibrationSql,
    "dsir_select" -> dsirSelectSql,
    "dsir_select_bigram" -> dsirSelectBigramSql,
    "dsir_domain" -> dsirDomainSql,
    "doc_ppl" -> docPplSql,
    "doc_ppl_kn" -> docPplKnSql,
    "doc_ppl_kn5" -> docPplKn5Sql,
    "kn_discount_sweep" -> knDiscountSweepSql,
    "kn_order_sweep" -> knOrderSweepSql)
}
