package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark has no native form of.
  * For each left row, attach the payload of the most recent right row with
  * `rightTime <= leftTime` for the same key (inclusive), or nulls if none
  * precedes it.
  *
  * The naive formulation is a range join (`l.key = r.key AND r.t <= l.t`
  * plus a per-row argmax), which explodes to left×history pairs before
  * pruning. The scalable plan used here: stack both sides, one
  * key-partitioned window ordered by (time, side) with right rows sorting
  * first at equal times, and carry each payload forward with
  * `last(ignoreNulls)` — ONE shuffle on the key and a linear scan per key,
  * independent of history depth. This is the standard Spark-native as-of
  * recipe (the union-window trick); at 100 TB both sides shuffle once on
  * the key and nothing is ever materialized per (left, candidate) pair.
  *
  * The right side must be unique per (key, rightTime) — pre-aggregate ties
  * (e.g. `max` of the payload) — which also makes the result
  * deterministic, unlike an unconstrained as-of over duplicate timestamps.
  */
object AsOf extends graft.GateModule {

  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               payload: Seq[String]): DataFrame = {
    val leftData = left.columns.toSeq.filter(_ != key)
    val l = left.select(
      (Seq(col(key), col(leftTime).as("_t"), lit(1).as("_side")) ++
        leftData.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p))): _*)
    val r = right.select(
      (Seq(col(key), col(rightTime).as("_t"), lit(0).as("_side")) ++
        leftData.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col)): _*)
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // Carry ONE struct set only on right rows, so `last(ignoreNulls)` keys
    // on row recency, not payload non-nullity: a right row whose payload is
    // legitimately NULL still wins over older rows (its NULL is returned,
    // as a true as-of join would).
    val carried = l.unionByName(r)
      .withColumn("_carry",
        when(col("_side") === 0, struct(payload.map(col): _*)))
      .withColumn("_carry", last(col("_carry"), ignoreNulls = true).over(w))
    val unpacked = payload.foldLeft(carried) { (df, p) =>
      df.withColumn(p, col("_carry").getField(p))
    }
    unpacked.filter(col("_side") === 1).drop("_t", "_side", "_carry")
  }

  /** Gate scenario: each event picks up the key of the most recent order
    * the same user placed at-or-before the event (orders pre-aggregated to
    * one row per (customer, day): the max order key). The oracle is
    * DuckDB's native ASOF LEFT JOIN.
    */
  def asofJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("tss"))
    val r = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("asof_orderkey"))
    asofJoin(e, r, "user_id", "tss", "o_orderdate", Seq("asof_orderkey"))
      .orderBy("event_id")
  }

  val asofJoinSql: String = """
    WITH e AS (
      SELECT event_id, user_id, date_trunc('second', ts) AS tss FROM events),
    r AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS asof_orderkey
      FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, e.tss, r.asof_orderkey
    FROM e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.tss >= r.o_orderdate
    ORDER BY e.event_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_join" -> (asofJoinQuery _))

  val oracles: Map[String, String] = Map(
    "asof_join" -> asofJoinSql)
}
