package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Range (interval-containment) join — points against `[lo, hi)` intervals
  * — without the pairwise inequality join Spark would otherwise plan (a
  * broadcast nested loop or cartesian filtered after the fact).
  *
  * The scalable shape: quantize time into fixed-width bins; an interval
  * registers in every bin it overlaps (explode factor =
  * ⌈length/binWidth⌉ + 1, bounded when the bin width is chosen near the
  * typical interval length), a point lives in exactly one bin, and the
  * join becomes an *equi-join* on (key, bin) followed by the exact
  * containment filter. One shuffle on (key, bin); hot bins are ordinary
  * skew (AQE/salting), never a cross product.
  */
object RangeJoin extends graft.GateModule {

  /** Join `points` (with instant column `t`) to `intervals` (with bounds
    * `lo` ≤ t < `hi`) sharing `key`. `binSecs` is the quantization width.
    * Returns point rows + the interval's `payload` columns, one output row
    * per (point, containing interval).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, key: String,
                t: String, lo: String, hi: String, payload: Seq[String],
                binSecs: Long): DataFrame = {
    val pBin = (unix_timestamp(col(t)) / binSecs).cast("long")
    val loS = unix_timestamp(col(lo))
    val hiS = unix_timestamp(col(hi))
    val iv = intervals
      .withColumn("_bin",
        explode(sequence((loS / binSecs).cast("long"),
          // hi is exclusive, but a partial last bin still overlaps
          ((hiS - 1) / binSecs).cast("long"))))
    points.withColumn("_bin", pBin)
      .join(iv, Seq(key, "_bin"))
      .filter(col(t) >= col(lo) && col(t) < col(hi))
      .drop("_bin")
  }

  /** Gate scenario: per-user one-day "promotion windows" derived from
    * orders by arithmetic (day offset = o_orderkey mod 30 into the events'
    * January-2024 span, so windows and events genuinely overlap); each
    * event joins every window of its user that contains it. The oracle is
    * the plain inequality join — proving the bin trick changes the plan,
    * not the result.
    */
  def rangeJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("tss"))
    val iv = Tables.orders(s, dir)
      .withColumn("lo", expr(
        "timestampadd(DAY, cast(o_orderkey % 30 as int), timestamp'2024-01-01 00:00:00')"))
      .groupBy(col("o_custkey").as("user_id"), col("lo"))
      .agg(max(col("o_orderkey")).as("in_orderkey"))
      .withColumn("hi", expr("timestampadd(DAY, 1, lo)"))
    rangeJoin(e, iv, "user_id", "tss", "lo", "hi", Seq("in_orderkey"),
      binSecs = 86400L)
      .select("event_id", "user_id", "tss", "in_orderkey")
      .orderBy("event_id", "in_orderkey")
  }

  val rangeJoinSql: String = """
    WITH e AS (
      SELECT event_id, user_id, date_trunc('second', ts) AS tss FROM events),
    iv AS (
      SELECT o_custkey,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL (o_orderkey % 30) DAY AS lo,
             max(o_orderkey) AS in_orderkey
      FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, e.tss, iv.in_orderkey
    FROM e JOIN iv
      ON e.user_id = iv.o_custkey AND e.tss >= iv.lo
         AND e.tss < iv.lo + INTERVAL 1 DAY
    ORDER BY e.event_id, iv.in_orderkey"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "range_join" -> (rangeJoinQuery _))

  val oracles: Map[String, String] = Map(
    "range_join" -> rangeJoinSql)
}
