package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys.
  *
  * AQE's skew-join splitting (on in every graft session) covers sort-merge
  * joins; this utility covers the remaining case — a replicated ("salted")
  * broadcast-style join where one side has pathological key frequency (the
  * stop-shingle / stop-fingerprint shape from the dedup pipelines).
  *
  * The big side gets a deterministic salt derived from the full row hash
  * (stable under re-execution, unlike `rand()` — a retried task must land
  * rows in the same salt bucket); the small side is replicated `factor`
  * times. The join key becomes (key, salt), fanning each hot key's rows
  * across `factor` reducers.
  */
object Skew extends graft.GateModule {

  /** Inner equi-join `big ⋈ small` on `key`, salted `factor` ways. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 factor: Int): DataFrame = {
    require(factor > 0)
    val saltCol: Column =
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(factor))
    val salted = big.withColumn("_salt", saltCol)
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Gate query: lineitem ⋈ part through the salted path, rolled up per
    * brand. The oracle is the *plain* join — proving the salt fan-out and
    * replication change the physical distribution only, never the result.
    */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("key"), col("l_quantity"))
    val small = Tables.part(s, dir)
      .select(col("p_partkey").as("key"), col("p_brand"))
    saltedJoin(big, small, "key", factor = 8)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), Exact.sumD(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }

  val skewSaltedJoinSql: String = s"""
    SELECT p_brand, COUNT(*) AS n, ${Exact.sqlSum("l_quantity")} AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_salted_join" -> (skewSaltedJoin _))

  val oracles: Map[String, String] = Map(
    "skew_salted_join" -> skewSaltedJoinSql)
}
