package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV) distinct-count sketch.
  *
  * The classic mergeable cardinality estimator (Bar-Yossef et al.): hash
  * every value to [0, 1), keep the k smallest hashes; with h_k the k-th
  * smallest, distinct ≈ (k−1)/h_k. Unlike HLL implementations the whole
  * sketch is deterministic md5 arithmetic, so the DuckDB oracle reproduces
  * it bit-for-bit — and at scale it is exactly a top-k: map-side partial
  * k-smallest per partition, k values to the driver, O(k) memory however
  * many billions of rows stream past. Sketches merge by unioning the
  * k-minima and re-taking the k smallest (how a 1000-executor rollup or a
  * cross-day union would combine them).
  */
object Sketch extends graft.GateModule {

  /** [0,1) hash: the first 32 md5 bits over 2^32 — identical in DuckDB. */
  private def h01(c: String): String =
    s"cast(conv(substring(md5($c), 1, 8), 16, 10) as double) / 4294967296.0"

  /** KMV estimate of `countDistinct(colName)` over `df`: returns one row
    * (k, est_distinct). Exact when fewer than k distinct values exist.
    */
  def kmvDistinct(df: DataFrame, colName: String, k: Int): DataFrame =
    df.select(col(colName)).distinct()
      .select(expr(h01(colName)).as("h"))
      .orderBy("h").limit(k)
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n"))
      .select(lit(k).as("k"),
        round(when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("hk")), 2).as("est_distinct"))

  /** Gate scenario: estimate the corpus's distinct 3-gram-shingle
    * cardinality (k = 256) next to the exact count the estimate
    * approximates — both in ONE job (the exact side joins in as a 1-row
    * aggregate, no separate driver count).
    */
  def corpusDistinctKmv(s: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val grams = Dedup.shinglesOf(s, dir).select("sh")
    val est = kmvDistinct(grams, "sh", k)
    est.crossJoin(
      grams.distinct().agg(count(lit(1)).as("exact_distinct")))
  }

  def corpusDistinctKmvSql(k: Int = 256): String = s"""
    WITH ${Dedup.shinglesSql.trim},
    d AS (SELECT DISTINCT sh FROM sh),
    hs AS (SELECT CAST(('0x' || substring(md5(sh), 1, 8))::BIGINT AS DOUBLE)
                    / 4294967296.0 AS h
           FROM d),
    topk AS (SELECT h FROM hs ORDER BY h LIMIT $k)
    SELECT $k AS k,
      round(CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
                 ELSE ${(k - 1).toDouble} / max(h) END, 2) AS est_distinct,
      (SELECT count(*) FROM d) AS exact_distinct
    FROM topk"""

  /** Grouped KMV + sketch MERGE: per-language vocabulary sketches (k
    * minima per group — a map-side WindowGroupLimit, so each task ships at
    * most k rows per group), plus an `ALL` row built by MERGING the
    * per-group sketches (union the minima, dedup, re-take the k smallest)
    * rather than rescanning the corpus. This is the property that matters
    * at 100 TB: per-partition / per-day / per-source sketches combine into
    * any rollup without touching the data again, and the merged estimate
    * is IDENTICAL to the direct global sketch (each group contributes its
    * k smallest, so the global k smallest survive the union).
    */
  /** The per-item observations the grouped KMV minimizes over: one (lang,
    * h) row per distinct (language, shingle) pair — shared with the
    * STREAMING minima maintainer ([[graft.streaming.StreamKmv]]), whose
    * state evolves by the same take-k-smallest.
    */
  private[graft] def kmvObs(s: SparkSession, dir: String): DataFrame =
    kmvWl(s, dir).select(col("lang"), expr(h01("w")).as("h"))

  /** Distinct (language, shingle) observation frame — the one expensive
    * shingle-join pass behind BOTH KMV gates — memoized per (session,
    * dir) so [[kmvObs]] (grouped sketches + the streaming maintainer's
    * batch twin) and [[kmvSetOps]] (set algebra, sizes, exact audit)
    * build it once (the ivfAsgOf/ivfCellsOf shared-builder discipline).
    * Domain: distinct 3-gram shingles per language — large enough that
    * the (k−1)/h_k estimation branch genuinely fires (the word
    * vocabulary would fall in the exact n<k branch).
    */
  private[graft] def kmvWl(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "kmv_wl", dir) {
      Dedup.shinglesOf(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
        .select(col("lang"), col("sh").as("w"))
        .distinct()
    }

  /** Read-time estimate layer shared by [[kmvByGroup]] and the streaming
    * gate: per-group estimates from the k-minima rows plus the `ALL` row
    * built by MERGING the sketches (union minima, re-take the k smallest).
    */
  private[graft] def kmvEstimates(mins: DataFrame, k: Int): DataFrame = {
    def est(n: org.apache.spark.sql.Column, hk: org.apache.spark.sql.Column) =
      round(when(n < k, n.cast("double"))
        .otherwise(lit((k - 1).toDouble) / hk), 2)
    val perLang = mins.groupBy(col("lang"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n"))
      .select(col("lang"), lit(k).as("k"),
        est(col("n"), col("hk")).as("est_distinct"))
    // merge = k smallest of the unioned minima: TakeOrdered (per-partition
    // heaps), never a single-partition window — the input is bounded at
    // k·n_groups rows but the plan shape should not rely on that
    val merged = mins.select(col("h")).distinct()
      .orderBy(col("h")).limit(k)
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n"))
      .select(lit("ALL").as("lang"), lit(k).as("k"),
        est(col("n"), col("hk")).as("est_distinct"))
    perLang.unionByName(merged).orderBy("lang")
  }

  def kmvByGroup(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = kmvObs(s, dir)
    val rn = row_number().over(Window.partitionBy(col("lang")).orderBy(col("h")))
    val mins = hs.withColumn("rn", rn).filter(col("rn") <= k).drop("rn")
    kmvEstimates(mins, k)
  }

  def kmvByGroupSql(k: Int = 64): String = s"""
    WITH ${Dedup.shinglesSql.trim},
    wl AS (
      SELECT DISTINCT d.lang, s.sh AS w
      FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
    hs AS (SELECT lang,
             CAST(('0x' || substring(md5(w), 1, 8))::BIGINT AS DOUBLE)
               / 4294967296.0 AS h
           FROM wl),
    mins AS (
      SELECT lang, h FROM (
        SELECT lang, h,
          row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM hs) WHERE rn <= $k),
    perlang AS (
      SELECT lang, CAST($k AS INT) AS k,
        round(CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
                   ELSE ${(k - 1).toDouble} / max(h) END, 2) AS est_distinct
      FROM mins GROUP BY lang),
    allmins AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM mins)) WHERE rn <= $k),
    merged AS (
      SELECT 'ALL' AS lang, CAST($k AS INT) AS k,
        round(CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
                   ELSE ${(k - 1).toDouble} / max(h) END, 2) AS est_distinct
      FROM allmins)
    SELECT lang, k, est_distinct FROM perlang
    UNION ALL SELECT lang, k, est_distinct FROM merged
    ORDER BY lang"""

  // ------------------------------------------------------------ HyperLogLog

  /** Register count m = 2^6; bucket = low 6 hash bits. */
  private val HllM = 64

  /** HyperLogLog registers over the shingle domain — the OTHER mergeable
    * cardinality sketch (Flajolet et al. 2007): per bucket, the maximum
    * leading-zero rank of the 54-bit hash suffix. Registers merge by
    * pairwise max, so per-partition/per-day register tables combine into
    * any rollup without rescanning — same property as [[kmvByGroup]], with
    * O(m) fixed memory instead of O(k) values.
    *
    * Deterministic end to end: the hash is the first 60 md5 bits (15 hex
    * chars — stays below 2^63 in both engines), the rank is
    * `55 − bitlength(suffix)` via `bin()` (minimal-width binary string in
    * BOTH Spark and DuckDB), and the whole sketch is one
    * map-side-combining max per bucket.
    */
  /** The per-item observations the register file maxes over: (bucket,
    * rank) per distinct shingle — shared with the STREAMING register
    * maintainer ([[graft.streaming.StreamHll]]), whose state evolves by
    * the same max.
    */
  private[graft] def hllObs(s: SparkSession, dir: String): DataFrame = {
    val grams = Dedup.shinglesOf(s, dir).select("sh").distinct()
    grams
      .select(expr("cast(conv(substring(md5(sh), 1, 15), 16, 10) as bigint)")
        .as("h"))
      .select((col("h") % HllM).as("bucket"),
        expr(s"h div $HllM").as("v"))
      .select(col("bucket"),
        when(col("v") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("v")))).as("rank"))
  }

  def hllRegisters(s: SparkSession, dir: String): DataFrame =
    hllObs(s, dir)
      .groupBy(col("bucket")).agg(max(col("rank")).as("maxrank"))
      .orderBy("bucket")

  val hllRegistersSql: String = s"""
    WITH ${Dedup.shinglesSql.trim},
    d AS (SELECT DISTINCT sh FROM sh),
    hs AS (SELECT ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h FROM d),
    ranked AS (
      SELECT h % $HllM AS bucket,
        CASE WHEN h // $HllM = 0 THEN 55
             ELSE 55 - length(bin(h // $HllM)) END AS rank
      FROM hs)
    SELECT bucket, CAST(max(rank) AS BIGINT) AS maxrank
    FROM ranked GROUP BY bucket ORDER BY bucket"""

  /** HLL estimate from the registers next to the exact count: the raw
    * harmonic-mean estimator α·m²/Σ2^(−M_j), with the indicator sum kept
    * EXACT as Σ2^(55−M_j) in integer arithmetic (≤ 64·2^55 = 2^61, inside
    * BIGINT) so both engines round the same value to double — no
    * order-dependent float summation. The small-range `m·ln(m/V)`
    * correction branch is deliberately not modeled: it needs libm `ln`
    * (not bit-portable) and the shingle domain sits far above 2.5m.
    * α for m = 64 is the published constant 0.709.
    */
  def hllEstimate(s: SparkSession, dir: String): DataFrame = {
    val grams = Dedup.shinglesOf(s, dir).select("sh").distinct()
    val regs = hllRegisters(s, dir)
    // full m-bucket register file: unseen buckets carry rank 0
    val full = s.range(HllM).toDF("bucket")
      .join(regs, Seq("bucket"), "left")
      .select(coalesce(col("maxrank"), lit(0L)).as("m"))
    val z = full.agg(sum(expr("cast(pow(2.0, 55 - m) as bigint)")).as("zint"))
    z.crossJoin(grams.agg(count(lit(1)).as("exact_distinct")))
      .select(lit(HllM.toLong).as("m"),
        round(lit(0.709) * lit(HllM.toDouble) * lit(HllM.toDouble) *
          lit(36028797018963968.0) / col("zint").cast("double"), 4)
          .as("est_distinct"),
        col("exact_distinct"))
      .withColumn("rel_err",
        round(abs(col("est_distinct") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double"), 4))
  }

  val hllEstimateSql: String = s"""
    WITH ${Dedup.shinglesSql.trim},
    d AS (SELECT DISTINCT sh FROM sh),
    hs AS (SELECT ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h FROM d),
    ranked AS (
      SELECT h % $HllM AS bucket,
        CASE WHEN h // $HllM = 0 THEN 55
             ELSE 55 - length(bin(h // $HllM)) END AS rank
      FROM hs),
    regs AS (SELECT bucket, max(rank) AS maxrank FROM ranked GROUP BY bucket),
    fullr AS (
      SELECT coalesce(maxrank, 0) AS m
      FROM (SELECT unnest(generate_series(0, ${HllM - 1})) AS bucket) b
      LEFT JOIN regs USING (bucket)),
    z AS (SELECT CAST(sum(CAST(pow(2.0, 55 - m) AS BIGINT)) AS BIGINT)
            AS zint FROM fullr),
    ex AS (SELECT count(*) AS exact_distinct FROM d)
    SELECT CAST($HllM AS BIGINT) AS m,
      round(CAST(0.709 AS DOUBLE) * CAST(${HllM.toDouble} AS DOUBLE) *
        CAST(${HllM.toDouble} AS DOUBLE) * 3.6028797018963968E16
        / CAST(zint AS DOUBLE), 4) AS est_distinct,
      exact_distinct,
      round(abs(round(CAST(0.709 AS DOUBLE) * CAST(${HllM.toDouble} AS DOUBLE) *
          CAST(${HllM.toDouble} AS DOUBLE) * 3.6028797018963968E16
          / CAST(zint AS DOUBLE), 4)
        - CAST(exact_distinct AS DOUBLE))
        / CAST(exact_distinct AS DOUBLE), 4) AS rel_err
    FROM z, ex"""

  // ------------------------------------------------------- heavy hitters

  /** Shard count, kept items per shard, reported items. */
  private[graft] val HhShards = 8
  private[graft] val HhM = 64
  private val HhK = 20

  /** The per-item observations the heavy-hitter sketch counts: one (shard,
    * bg) row per word-bigram occurrence — shared with the STREAMING summary
    * maintainer ([[graft.streaming.StreamTopkSketch]]), whose state evolves
    * by the same merge-and-cut.
    */
  private[graft] def hhObs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((col("doc_id") % HhShards).as("shard"),
        split(col("text"), " ").as("ws"))
      // guard: sequence(1, 0) DESCENDS in Spark — single-word docs must
      // contribute no bigram rows, as DuckDB's empty generate_series does
      .filter(size(col("ws")) >= 2)
      .select(col("shard"),
        explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))"))
          .as("bg"))

  /** Per-(shard, item) micro-batch partial counts for the streaming
    * summary maintainers — the vectorized map-side-combined pre-reduce of
    * [[hhObs]] (in production a `foreachBatch` aggregate per micro-batch),
    * so the maintainers' state partitions receive one row per distinct
    * item per batch instead of one per occurrence.
    */
  private[graft] def hhPartials(s: SparkSession, dir: String): DataFrame =
    hhObs(s, dir).groupBy(col("shard"), col("bg"))
      .agg(count(lit(1)).as("c"))

  private val hhObsSql: String = s"""
    t AS (SELECT doc_id % $HhShards AS shard, string_split(text, ' ') AS ws
          FROM documents),
    b AS (SELECT shard, ws[i] || ' ' || ws[i + 1] AS bg
          FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(i))"""

  /** Read-time merge/report layer shared by [[topkSketch]] and the
    * streaming gate: per-shard kept counts `(shard, bg, cnt)` + per-shard
    * error terms `(shard, dmax)` → global top-k with the deterministic
    * [lb, ub] bracket, exact count joined in as the self-audit column.
    */
  private[graft] def hhReport(s: SparkSession, dir: String,
                              kept: DataFrame, dmax: DataFrame): DataFrame = {
    val dtot = dmax.agg(sum(col("dmax")).as("d"))
    val agg = kept.join(broadcast(dmax), "shard")
      .groupBy(col("bg"))
      .agg(sum(col("cnt")).as("lb"), sum(col("dmax")).as("covered"))
    val topk = agg.crossJoin(broadcast(dtot))
      .select(col("bg"), col("lb"),
        (col("lb") + col("d") - col("covered")).as("ub"))
      .orderBy(col("lb").desc, col("bg")).limit(HhK)
    val exact = hhObs(s, dir).groupBy(col("bg"))
      .agg(count(lit(1)).as("exact"))
    // rank over the ≤ k-row reported frame (bounded by construction)
    import org.apache.spark.sql.expressions.Window
    topk.join(exact, "bg")
      .withColumn("rank",
        row_number().over(Window.orderBy(col("lb").desc, col("bg"))))
      .select(col("rank"), col("bg"), col("lb"), col("exact"), col("ub"))
      .orderBy("rank")
  }

  /** Mergeable heavy-hitters summary (the Misra-Gries / SpaceSaving family
    * as analyzed in Agarwal et al., "Mergeable Summaries", PODS 2012):
    * every shard keeps only its top-m items by exact local count plus ONE
    * error term — the (m+1)-th count, an upper bound on anything it
    * dropped — and the global report brackets every item's true count as
    * lb = Σ kept counts ≤ true ≤ ub = lb + Σ error terms of the shards
    * that did NOT report it. O(m) state per shard however many rows stream
    * past; summaries merge by unioning kept lists and adding error terms,
    * so per-partition / per-day summaries roll up without rescanning —
    * the frequent-items counterpart of [[kmvByGroup]]'s merge property.
    *
    * The gate reports the global top-k by lb with the exact count joined
    * in, making the guarantee auditable row by row (lb ≤ exact ≤ ub — the
    * spec asserts it for EVERY item, not just the reported ones). The
    * per-shard cut is a rank ≤ m+1 filter that Spark executes as a
    * map-side WindowGroupLimit — no shard materializes on one task.
    */
  def topkSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = hhObs(s, dir).groupBy(col("shard"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val rk = row_number().over(
      Window.partitionBy(col("shard")).orderBy(col("cnt").desc, col("bg")))
    val summ = sc.withColumn("rk", rk).filter(col("rk") <= HhM + 1)
    val kept = summ.filter(col("rk") <= HhM).select("shard", "bg", "cnt")
    val dmax = summ.groupBy(col("shard"))
      .agg(coalesce(max(when(col("rk") === HhM + 1, col("cnt"))), lit(0L))
        .as("dmax"))
    hhReport(s, dir, kept, dmax)
  }

  val topkSketchSql: String = s"""
    WITH $hhObsSql,
    sc AS (SELECT shard, bg, count(*) AS cnt FROM b GROUP BY 1, 2),
    rk AS (SELECT shard, bg, cnt,
             row_number() OVER (PARTITION BY shard
               ORDER BY cnt DESC, bg) AS rk
           FROM sc),
    kept AS (SELECT shard, bg, cnt FROM rk WHERE rk <= $HhM),
    dmax AS (SELECT shard,
               coalesce(max(CASE WHEN rk = ${HhM + 1} THEN cnt END), 0) AS dmax
             FROM rk GROUP BY shard),
    dtot AS (SELECT CAST(sum(dmax) AS BIGINT) AS d FROM dmax),
    agg AS (SELECT bg, CAST(sum(cnt) AS BIGINT) AS lb,
              CAST(sum(dmax) AS BIGINT) AS covered
            FROM kept JOIN dmax USING (shard) GROUP BY bg),
    topk AS (SELECT bg, lb, lb + d - covered AS ub,
               row_number() OVER (ORDER BY lb DESC, bg) AS rank
             FROM agg, dtot),
    ex AS (SELECT bg, count(*) AS exact FROM b GROUP BY bg)
    SELECT CAST(rank AS INT) AS rank, bg, lb, exact, ub
    FROM topk JOIN ex USING (bg)
    WHERE rank <= $HhK ORDER BY rank"""

  // ------------------------------------------- join-size estimation (F2)

  /** Join-size estimation from the mergeable heavy-hitter summary — the
    * optimizer-grade statistic behind salting and posting-list caps: the
    * self-join row count of an equi-join key equals the second frequency
    * moment F2 = Σ f_k², and the Misra-Gries summary brackets it without
    * a second scan. Domain here: the 3-gram shingle key of the dedup
    * self-join ([[Dedup.shinglesOf]]) — F2 over shingle document
    * frequencies IS `dedup_ngram_jaccard`'s candidate-pair count (both
    * orders + self pairs), the number that decides whether hot shingles
    * need salting.
    *
    * Brackets, all provable from the summary alone (spec-asserted
    * against the exact values the gate also computes):
    *  - every kept key: lb_k ≤ f_k ≤ ub_k (the `topk_sketch` bracket);
    *  - every unkept key: f_k ≤ D (the summed error terms), and the
    *    unkept mass is ≤ N − Σ lb_k;
    *  - so F2 ∈ [Σ lb_k², Σ ub_k² + D·(N − Σ lb_k)] and the hottest
    *    key ∈ [max lb_k, max(max ub_k, D)].
    *
    * One row out: the exact N / F2 / max frequency next to their sketch
    * brackets. At 100 TB the exact columns drop and the brackets come
    * from the maintained summary — this gate keeps them side by side so
    * the bracket property is verified end to end.
    */
  def joinSizeSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Dedup.shinglesOf(s, dir)
      .select((col("doc_id") % HhShards).as("shard"), col("sh"))
    val sc = obs.groupBy(col("shard"), col("sh"))
      .agg(count(lit(1)).as("cnt"))
    val rk = row_number().over(
      Window.partitionBy(col("shard")).orderBy(col("cnt").desc, col("sh")))
    val summ = sc.withColumn("rk", rk).filter(col("rk") <= HhM + 1)
    val kept = summ.filter(col("rk") <= HhM).select("shard", "sh", "cnt")
    val dmax = summ.groupBy(col("shard"))
      .agg(coalesce(max(when(col("rk") === HhM + 1, col("cnt"))), lit(0L))
        .as("dmax"))
    val dtot = dmax.agg(sum(col("dmax")).as("d"))
    val merged = kept.join(broadcast(dmax), "shard")
      .groupBy(col("sh"))
      .agg(sum(col("cnt")).as("lb"), sum(col("dmax")).as("covered"))
      .crossJoin(broadcast(dtot))
      .select(col("sh"), col("lb"),
        (col("lb") + col("d") - col("covered")).as("ub"))
    val bracket = merged.agg(
      sum(col("lb") * col("lb")).as("f2_lb"),
      sum(col("ub") * col("ub")).as("ub2"),
      sum(col("lb")).as("lbmass"),
      max(col("lb")).as("top1_lb"),
      max(col("ub")).as("ubmax"))
    val exact = obs.groupBy(col("sh")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f")).as("n_obs"),
        sum(col("f") * col("f")).as("f2_exact"),
        max(col("f")).as("top1_exact"))
    exact.crossJoin(broadcast(bracket)).crossJoin(broadcast(dtot))
      .select(col("n_obs"), col("f2_lb"), col("f2_exact"),
        (col("ub2") + col("d") * (col("n_obs") - col("lbmass")))
          .as("f2_ub"),
        col("top1_lb"), col("top1_exact"),
        greatest(col("ubmax"), col("d")).as("top1_ub"))
  }

  val joinSizeSketchSql: String = s"""
    WITH ${Dedup.shinglesSql.trim},
    obs AS (SELECT doc_id % $HhShards AS shard, sh FROM sh),
    sc AS (SELECT shard, sh, count(*) AS cnt FROM obs GROUP BY 1, 2),
    rk AS (SELECT shard, sh, cnt,
             row_number() OVER (PARTITION BY shard
               ORDER BY cnt DESC, sh) AS rk
           FROM sc),
    kept AS (SELECT shard, sh, cnt FROM rk WHERE rk <= $HhM),
    dmax AS (SELECT shard,
               coalesce(max(CASE WHEN rk = ${HhM + 1} THEN cnt END), 0)
                 AS dmax
             FROM rk GROUP BY shard),
    dtot AS (SELECT CAST(sum(dmax) AS BIGINT) AS d FROM dmax),
    merged AS (
      SELECT sh, CAST(sum(cnt) AS BIGINT) AS lb,
        CAST(sum(cnt) + d - sum(dmax) AS BIGINT) AS ub
      FROM kept JOIN dmax USING (shard), dtot
      GROUP BY sh, d),
    bracket AS (
      SELECT CAST(sum(lb * lb) AS BIGINT) AS f2_lb,
        CAST(sum(ub * ub) AS BIGINT) AS ub2,
        CAST(sum(lb) AS BIGINT) AS lbmass,
        max(lb) AS top1_lb, max(ub) AS ubmax
      FROM merged),
    ex AS (
      SELECT CAST(sum(f) AS BIGINT) AS n_obs,
        CAST(sum(f * f) AS BIGINT) AS f2_exact,
        max(f) AS top1_exact
      FROM (SELECT sh, count(*) AS f FROM obs GROUP BY sh))
    SELECT n_obs, f2_lb, f2_exact,
      CAST(ub2 + d * (n_obs - lbmass) AS BIGINT) AS f2_ub,
      top1_lb, top1_exact,
      CAST(greatest(ubmax, d) AS BIGINT) AS top1_ub
    FROM ex, bracket, dtot"""

  // ---------------------------------------------------------- Count-Min

  /** Depth (hash rows), width (buckets per row), audited items. */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 256
  private val CmsK = 20

  /** The (row, bucket) cell each observation lands in, as a SQL expression
    * over a string column — identical md5 arithmetic on both engines.
    */
  private[graft] def cmsBucket(itemCol: String, rowCol: String): String =
    s"cast(conv(substring(md5(concat(cast($rowCol as string), ':', " +
      s"$itemCol)), 1, 8), 16, 10) as bigint) % $CmsW"

  /** Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005): a
    * d×w counter matrix — every observation increments one bucket per hash
    * row, and a point query reads the MINIMUM of its d cells, an upper
    * bound on the true count that is never an undercount. The fixed-size
    * complement of [[topkSketch]]: the heavy-hitter summary answers "which
    * items are frequent", the CMS answers "how frequent is THIS item" for
    * any item, in d·w longs total however many distinct items exist.
    *
    * Build is one shuffle of d·N (item, row) pairs into d·w cells with
    * map-side combine; cells MERGE by cell-wise addition (how per-day /
    * per-partition sketches roll up — spec-proved), and the probe side
    * joins the broadcast cell matrix, never the observations.
    *
    * The gate audits the point-query guarantee end to end: the top-k items
    * by exact count, each with its CMS estimate next to the exact value
    * (`exact <= est` row by row — the spec asserts it for EVERY item).
    */
  private[graft] def cmsCells(obs: DataFrame): DataFrame =
    obs.select(col("bg"), explode(expr(s"sequence(0, ${CmsD - 1})")).as("j"))
      .select(col("j"), expr(cmsBucket("bg", "j")).as("bucket"))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Probe/report layer shared with the streaming gate: top-k items by
    * exact count, each estimated as the min of its d cells from the
    * broadcast matrix.
    */
  private[graft] def cmsReport(s: SparkSession, dir: String,
                               cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = hhObs(s, dir).groupBy(col("bg"))
      .agg(count(lit(1)).as("exact"))
    val topk = exact.orderBy(col("exact").desc, col("bg")).limit(CmsK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("exact").desc, col("bg"))))
    topk
      .select(col("rank"), col("bg"), col("exact"),
        explode(expr(s"sequence(0, ${CmsD - 1})")).as("j"))
      .withColumn("bucket", expr(cmsBucket("bg", "j")))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy(col("rank"), col("bg"), col("exact"))
      .agg(min(col("cnt")).as("est"))
      .orderBy("rank")
  }

  def cmsSketch(s: SparkSession, dir: String): DataFrame =
    cmsReport(s, dir, cmsCells(hhObs(s, dir).select(col("bg"))))

  val cmsSketchSql: String = s"""
    WITH $hhObsSql,
    obs AS (SELECT bg FROM b),
    cells AS (
      SELECT j,
        ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || bg), 1, 8))
          ::BIGINT % $CmsW AS bucket,
        count(*) AS cnt
      FROM obs, unnest(generate_series(0, ${CmsD - 1})) AS t(j)
      GROUP BY 1, 2),
    ex AS (SELECT bg, count(*) AS exact FROM obs GROUP BY bg),
    topk AS (
      SELECT bg, exact,
        row_number() OVER (ORDER BY exact DESC, bg) AS rank
      FROM ex ORDER BY exact DESC, bg LIMIT $CmsK),
    pr AS (
      SELECT rank, bg, exact, j,
        ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || bg), 1, 8))
          ::BIGINT % $CmsW AS bucket
      FROM topk, unnest(generate_series(0, ${CmsD - 1})) AS t(j))
    SELECT CAST(rank AS INT) AS rank, bg, exact, min(cnt) AS est
    FROM pr JOIN cells USING (j, bucket)
    GROUP BY 1, 2, 3 ORDER BY rank"""

  // ------------------------------------------------------ KMV set algebra

  /** Minima kept per language sketch in the set-algebra gate. */
  private val SetOpsK = 64

  /** Gate: KMV/Theta SET ALGEBRA — union, intersection, and Jaccard
    * estimates for every language PAIR computed purely from the
    * per-language sketches (the Theta-sketch framework: θ = the smaller
    * k-th minimum; S = the union's minima below θ; est_union = |S|/θ,
    * est_inter = |S_A∩B|/θ, est_jaccard = |S_A∩B|/|S|), with the exact
    * answers joined in as the self-audit columns. This is the missing
    * half of sketching: [[kmvByGroup]] showed sketches MERGE (union);
    * set algebra is why engines ship Theta sketches — cross-source /
    * cross-day overlap questions ("how much of crawl B is already in
    * A?") answered from O(k) state per source without touching data.
    *
    * Scale: sketch side is k rows per language (the same minima frame
    * the grouped gate keeps); all pair algebra runs over ≤ k·|langs|
    * rows. The EXACT side — one shingle-keyed equi-self-join — is the
    * audit only; at 100 TB production reads the sketch columns and the
    * exact join is exactly the cost the sketches exist to avoid.
    */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SetOpsK
    // four consumers here (minima, sizes, both sides of the exact audit)
    // plus kmv_by_group read the ONE memoized frame (§4 discipline)
    val wl = kmvWl(s, dir)
    val hs = wl.select(col("lang"), expr(h01("w")).as("h"))
    val rn = row_number().over(Window.partitionBy(col("lang")).orderBy(col("h")))
    val mins = hs.withColumn("rn", rn).filter(col("rn") <= k).drop("rn")
    val th = mins.groupBy(col("lang"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n"))
      .select(col("lang"),
        when(col("n") < k, lit(1.0)).otherwise(col("hk")).as("theta"))
    // |langs|-row frames under a non-equi condition: broadcast so the
    // planner emits a broadcast nested loop, never a cartesian
    val pairs = th.alias("a")
      .join(broadcast(th.alias("b")), col("a.lang") < col("b.lang"))
      .select(col("a.lang").as("la"), col("b.lang").as("lb"),
        least(col("a.theta"), col("b.theta")).as("th"))
    def side(key: String, tag: Int) = pairs
      .join(mins.withColumnRenamed("lang", key), key)
      .select(col("la"), col("lb"), col("th"), col("h"),
        lit(tag).as("side"))
    val comb = side("la", 0).unionByName(side("lb", 1))
      .groupBy(col("la"), col("lb"), col("th"), col("h"))
      .agg(max(when(col("side") === 0, 1).otherwise(0)).as("ina"),
        max(when(col("side") === 1, 1).otherwise(0)).as("inb"))
    val est = comb.filter(col("h") < col("th"))
      .groupBy(col("la"), col("lb"))
      .agg(max(col("th")).as("th"), count(lit(1)).as("ns"),
        sum(when(col("ina") === 1 && col("inb") === 1, 1L).otherwise(0L))
          .as("ni"))
    val sz = wl.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val itx = wl.alias("x")
      .join(wl.alias("y"),
        col("x.w") === col("y.w") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.lang").as("ila"), col("y.lang").as("ilb"))
      .agg(count(lit(1)).as("xi"))
    val exUnion = col("na") + col("nb") - coalesce(col("xi"), lit(0L))
    est
      .join(sz.select(col("lang").as("la"), col("n").as("na")), "la")
      .join(sz.select(col("lang").as("lb"), col("n").as("nb")), "lb")
      .join(itx, col("la") === col("ila") && col("lb") === col("ilb"), "left")
      .select(col("la").as("lang_a"), col("lb").as("lang_b"),
        round(col("ns").cast("double") / col("th"), 2).as("est_union"),
        round(col("ni").cast("double") / col("th"), 2).as("est_inter"),
        round(col("ni").cast("double") / col("ns").cast("double"), 6)
          .as("est_jaccard"),
        exUnion.as("exact_union"),
        coalesce(col("xi"), lit(0L)).as("exact_inter"),
        round(coalesce(col("xi"), lit(0L)).cast("double")
          / exUnion.cast("double"), 6).as("exact_jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  val kmvSetOpsSql: String = {
    val k = SetOpsK
    s"""
    WITH ${Dedup.shinglesSql.trim},
    wl AS (
      SELECT DISTINCT d.lang, s.sh AS w
      FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
    hs AS (SELECT lang,
             CAST(('0x' || substring(md5(w), 1, 8))::BIGINT AS DOUBLE)
               / 4294967296.0 AS h
           FROM wl),
    mins AS (
      SELECT lang, h FROM (
        SELECT lang, h,
          row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM hs) WHERE rn <= $k),
    tha AS (
      SELECT lang, CASE WHEN count(*) < $k THEN 1.0 ELSE max(h) END AS theta
      FROM mins GROUP BY lang),
    prs AS (
      SELECT a.lang AS la, b.lang AS lb, least(a.theta, b.theta) AS th
      FROM tha a JOIN tha b ON a.lang < b.lang),
    sides AS (
      SELECT la, lb, th, h, 0 AS side FROM prs JOIN mins m ON m.lang = la
      UNION ALL
      SELECT la, lb, th, h, 1 AS side FROM prs JOIN mins m ON m.lang = lb),
    comb AS (
      SELECT la, lb, th, h,
        max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ina,
        max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS inb
      FROM sides GROUP BY la, lb, th, h),
    est AS (
      SELECT la, lb, max(th) AS th, count(*) AS ns,
        CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS ni
      FROM comb WHERE h < th GROUP BY la, lb),
    sz AS (SELECT lang, count(*) AS n FROM wl GROUP BY lang),
    itx AS (
      SELECT x.lang AS ila, y.lang AS ilb, count(*) AS xi
      FROM wl x JOIN wl y ON x.w = y.w AND x.lang < y.lang
      GROUP BY 1, 2)
    SELECT la AS lang_a, lb AS lang_b,
      round(CAST(ns AS DOUBLE) / th, 2) AS est_union,
      round(CAST(ni AS DOUBLE) / th, 2) AS est_inter,
      round(CAST(ni AS DOUBLE) / CAST(ns AS DOUBLE), 6) AS est_jaccard,
      CAST(sa.n + sb.n - coalesce(xi, 0) AS BIGINT) AS exact_union,
      CAST(coalesce(xi, 0) AS BIGINT) AS exact_inter,
      round(CAST(coalesce(xi, 0) AS DOUBLE)
        / CAST(sa.n + sb.n - coalesce(xi, 0) AS DOUBLE), 6) AS exact_jaccard
    FROM est
    JOIN sz sa ON est.la = sa.lang
    JOIN sz sb ON est.lb = sb.lang
    LEFT JOIN itx ON est.la = itx.ila AND est.lb = itx.ilb
    ORDER BY lang_a, lang_b"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmv_set_ops" -> (kmvSetOps _),
    "corpus_distinct_kmv" -> (corpusDistinctKmv(_, _)),
    "kmv_by_group" -> (kmvByGroup(_, _)),
    "hll_registers" -> (hllRegisters _),
    "hll_estimate" -> (hllEstimate _),
    "topk_sketch" -> (topkSketch _),
    "cms_sketch" -> (cmsSketch _),
    "join_size_sketch" -> (joinSizeSketch _))

  val oracles: Map[String, String] = Map(
    "kmv_set_ops" -> kmvSetOpsSql,
    "corpus_distinct_kmv" -> corpusDistinctKmvSql(),
    "kmv_by_group" -> kmvByGroupSql(),
    "hll_registers" -> hllRegistersSql,
    "hll_estimate" -> hllEstimateSql,
    "topk_sketch" -> topkSketchSql,
    "cms_sketch" -> cmsSketchSql,
    "join_size_sketch" -> joinSizeSketchSql)
}
