package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable approximate-quantile sketch with a deterministic distributed
  * construction — the missing piece next to the exact [[Queries.qQuantiles]]
  * (exact percentiles sort every group; a 100 TB column needs a bounded
  * summary).
  *
  * Construction (the classic merge of per-partition quantile summaries —
  * Greenwald–Khanna's merge lemma over evenly-spaced weighted order
  * statistics, the same family as Spark's own `approxQuantile`):
  *
  *  1. every row hashes to one of P shards (deterministic md5 — the gate's
  *     replayable stand-in for physical partitions; P scales with the
  *     cluster, the error bound below scales gracefully with it);
  *  2. within each shard, rows sort once and every ⌈n_s/S⌉-th order
  *     statistic is kept, weighted by its gap (plus the shard maximum with
  *     the remainder weight) — an S-point summary whose weighted CDF is
  *     within stride_s = ⌈n_s/S⌉ of the shard's true CDF at every value;
  *  3. summaries UNION (that is the merge — weighted samples concatenate;
  *     rank errors add), giving ≤ P·(S+1) rows with total rank error
  *     bounded by Σ_s stride_s ≤ n/S + P.
  *
  * Querying rank t walks the merged summary's cumulative weight to the
  * first item with cw ≥ t. The returned value v* then satisfies
  * `rank_hi(v*) ≥ t` and `rank_lo(v*) < t + Σ stride_s` — both ranks are
  * emitted by the gate and the bound is spec-asserted, so the guarantee is
  * measured, not argued.
  *
  * Everything is integer arithmetic over deterministic hashes and exact
  * cent values — both engines replay the sketch bit-for-bit (no libm, no
  * float summation). At scale: one shuffle to shard (or none, summarizing
  * physical partitions in place), a per-shard local sort (what any
  * sort-within-partitions pass does), and a bounded summary thereafter —
  * query cost never touches the data again.
  */
object Quantile extends graft.GateModule {

  private val Shards = 32
  private val Samples = 64

  /** Deterministic shard + tiebreak key from the row's unique key columns. */
  private def keyed(df: DataFrame, key: Seq[String], shards: Int): DataFrame = {
    val cat = key.map(c => s"cast($c as string)").mkString(", ':', ")
    df.withColumn("k", expr(s"concat($cat)"))
      .withColumn("shard",
        expr(s"cast(conv(substring(md5(k), 1, 8), 16, 10) as bigint)") %
          shards)
  }

  /** The summary construction over an already-keyed frame (shardCols…, v,
    * k) — shared with the STREAMING summary maintainer
    * ([[graft.streaming.StreamQuantile]]), whose single-batch compaction
    * reproduces these exact picks, and with [[DistRank]]'s boundary pick,
    * which summarizes per (stratum, shard).
    */
  private[graft] def summarizeKeyed(base: DataFrame,
                                    samples: Int = Samples,
                                    shardCols: Seq[String] = Seq("shard"))
      : DataFrame = {
    val parts = shardCols.map(col)
    val wRank = Window.partitionBy(parts: _*).orderBy(col("v"), col("k"))
    val wAll = Window.partitionBy(parts: _*)
    base
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("ns", count(lit(1)).over(wAll))
      .withColumn("stride", expr(s"(ns + ${samples - 1}) div $samples"))
      .filter(col("rn") % col("stride") === 0 || col("rn") === col("ns"))
      .withColumn("w",
        when(col("rn") % col("stride") === 0, col("stride"))
          .otherwise(col("rn") % col("stride")))
      .select(parts ++ Seq(col("v"), col("k"), col("stride"), col("w")): _*)
  }

  /** S-point weighted summary per shard: rows (shard, v, k, stride, w).
    * `key` must uniquely identify rows (the sort tiebreak). Mergeable by
    * plain union with summaries of DISJOINT data (relabel shards first if
    * they collide); total weight = row count, Σ distinct (shard, stride)
    * bounds the rank error.
    */
  def summarize(df: DataFrame, v: String, key: Seq[String],
                shards: Int = Shards, samples: Int = Samples): DataFrame =
    summarizeKeyed(
      keyed(df.select((col(v).as("v") +: key.map(col)): _*), key, shards)
        .select(col("shard"), col("v"), col("k")),
      samples)

  /** Quarter-quantiles (q4/4 for q4 ∈ quarters) from a summary: one row per
    * quarter with the summary's pick, the target rank, total weight and the
    * construction's rank-error bound. The cumulative walk runs over the
    * BOUNDED summary (≤ P·(S+1) rows — the literal partition key keeps the
    * single-partition window intentional and the logs clean).
    */
  def quantiles(summary: DataFrame, quarters: Seq[Int]): DataFrame = {
    val s = summary.sparkSession
    import s.implicits._
    val meta = summary.agg(sum(col("w")).as("n")).crossJoin(
      summary.select(col("shard"), col("stride")).distinct()
        .agg(sum(col("stride")).as("err_bound")))
    val wCum = Window.partitionBy(lit(0)).orderBy(col("v"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = summary.withColumn("cw", sum(col("w")).over(wCum))
    quarters.toDF("q4")
      .crossJoin(broadcast(meta))
      .withColumn("target_rank", expr("(q4 * n + 3) div 4"))
      .join(cum, col("cw") >= col("target_rank"))
      .groupBy(col("q4"), col("n"), col("target_rank"), col("err_bound"))
      .agg(min_by(col("v"), col("cw")).as("approx_v"))
      .select(col("q4"), col("n"), col("target_rank"), col("approx_v"),
        col("err_bound"))
  }

  /** The gate's value frame: lineitem price in cents + the unique key. */
  private[graft] def lineitemBase(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(expr("cast(round(l_extendedprice * 100) as bigint)").as("v"),
        col("l_orderkey"), col("l_linenumber"))

  /** The gate's keyed observations (shard, v, k) — the frame both the
    * batch summary and the streaming maintainer consume.
    */
  private[graft] def lineitemObs(s: SparkSession, dir: String): DataFrame =
    keyed(lineitemBase(s, dir), Seq("l_orderkey", "l_linenumber"), Shards)
      .select(col("shard"), col("v"), col("k"))

  /** The gate tail shared with the streaming twin: picks from the summary,
    * then each pick's exact rank window (strictly-below / at-or-below
    * counts) measured over the value frame against the target.
    */
  private[graft] def sketchReport(values: DataFrame,
                                  summary: DataFrame): DataFrame = {
    val picks = quantiles(summary, Seq(1, 2, 3))
    values.select(col("v").as("bv"))
      .join(broadcast(picks), lit(true))
      .groupBy(col("q4"), col("n"), col("target_rank"), col("approx_v"),
        col("err_bound"))
      .agg(sum(when(col("bv") < col("approx_v"), 1L).otherwise(0L))
          .as("rank_lo"),
        sum(when(col("bv") <= col("approx_v"), 1L).otherwise(0L))
          .as("rank_hi"))
      .select(col("q4"), col("n"), col("target_rank"),
        col("approx_v").as("approx_cents"), col("rank_lo"), col("rank_hi"),
        col("err_bound"))
      .orderBy("q4")
  }

  /** Gate: quarter-quantiles of the lineitem price in cents via the
    * sketch, with the pick's exact rank window (strictly-below / at-or-
    * below counts) measured against the target — the DuckDB oracle replays
    * shard hash → per-shard order statistics → merged walk bit-for-bit.
    */
  def qQuantilesSketch(s: SparkSession, dir: String): DataFrame =
    sketchReport(lineitemBase(s, dir), summarizeKeyed(lineitemObs(s, dir)))

  val qQuantilesSketchSql: String = s"""
    WITH base AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)
          AS k
      FROM lineitem),
    sharded AS (
      SELECT v, k,
        ('0x' || substring(md5(k), 1, 8))::BIGINT % $Shards AS shard
      FROM base),
    ranked AS (
      SELECT shard, v, k,
        row_number() OVER (PARTITION BY shard ORDER BY v, k) AS rn,
        count(*) OVER (PARTITION BY shard) AS ns
      FROM sharded),
    summ AS (
      SELECT shard, v, k, (ns + ${Samples - 1}) // $Samples AS stride,
        CASE WHEN rn % ((ns + ${Samples - 1}) // $Samples) = 0
             THEN (ns + ${Samples - 1}) // $Samples
             ELSE rn % ((ns + ${Samples - 1}) // $Samples) END AS w
      FROM ranked
      WHERE rn % ((ns + ${Samples - 1}) // $Samples) = 0 OR rn = ns),
    meta AS (
      SELECT CAST((SELECT sum(w) FROM summ) AS BIGINT) AS n,
        CAST((SELECT sum(stride) FROM
          (SELECT DISTINCT shard, stride FROM summ)) AS BIGINT) AS err_bound),
    cum AS (
      SELECT v, k, w,
        sum(w) OVER (ORDER BY v, k ROWS UNBOUNDED PRECEDING) AS cw
      FROM summ),
    tgt AS (
      SELECT q4, n, err_bound, (q4 * n + 3) // 4 AS target_rank
      FROM (SELECT unnest([1, 2, 3]) AS q4), meta),
    pick AS (
      SELECT t.q4, t.n, t.target_rank, t.err_bound,
        min_by(c.v, c.cw) AS approx_v
      FROM tgt t JOIN cum c ON c.cw >= t.target_rank
      GROUP BY 1, 2, 3, 4)
    SELECT p.q4, p.n, p.target_rank, p.approx_v AS approx_cents,
      CAST(sum(CASE WHEN b.v < p.approx_v THEN 1 ELSE 0 END) AS BIGINT)
        AS rank_lo,
      CAST(sum(CASE WHEN b.v <= p.approx_v THEN 1 ELSE 0 END) AS BIGINT)
        AS rank_hi,
      p.err_bound
    FROM pick p, base b
    GROUP BY p.q4, p.n, p.target_rank, p.approx_v, p.err_bound
    ORDER BY q4"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quantiles_sketch" -> (qQuantilesSketch _))

  val oracles: Map[String, String] = Map(
    "q_quantiles_sketch" -> qQuantilesSketchSql)
}
