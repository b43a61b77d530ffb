package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third tranche of TPC-H-shaped analytics: the remaining classic query
  * shapes (Q2/Q6/Q8/Q9/Q12/Q21), adapted to the harness star schema — no
  * partsupp table and no commitdate/receiptdate/shipmode columns, so
  * "supply cost" derives from part.p_retailprice and "lateness" from
  * shipdate − orderdate (reference behavior to emulate: the LINZ uploader
  * has no analytics of its own beyond counts; these are the
  * warehouse-style queries its PostgreSQL consumers run over the loaded
  * tables — cf. `sql/bde_control_functions.sql` table stats).
  *
  * Scale notes, per shape:
  *  - Q6 is the pushdown showcase: every predicate reaches the parquet
  *    scan (`PushedFilters`), the projection is 2 columns, zero shuffle
  *    to a single-row aggregate;
  *  - Q8/Q9 keep ONE fact shuffle (lineitem⋈orders on orderkey); all
  *    dimension sides are broadcast *filtered projections*;
  *  - Q12 pre-aggregates map-side (CASE-WHEN counts combine);
  *  - Q21's EXISTS/NOT-EXISTS pair collapses into per-(order,supplier)
  *    flags aggregated once on the orderkey shuffle, then a per-order
  *    rollup joined back — no repeated correlated probes of the fact;
  *  - Q2's "min-cost supplier per part" correlated subquery becomes a
  *    part-keyed window rank (map-side WindowGroupLimit keeps only one
  *    row per part per map task before the exchange).
  */
object TpchFill extends graft.GateModule {

  // ---------------------------------------------------------- Q6 forecast

  /** Revenue-change forecast (TPC-H Q6 shape): discount revenue from
    * small-quantity lineitems in one ship-year. All three predicates and
    * the 2-column projection push into the parquet scan; one partial
    * aggregate, one single-row exchange.
    */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.04 && col("l_discount") <= 0.08 &&
        col("l_quantity") < 24)
      .agg(Exact.sumD(col("l_extendedprice") * col("l_discount"))
        .as("revenue"))

  val q6ForecastSql: String = s"""
    SELECT ${Exact.sqlSum("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.04 AND l_discount <= 0.08
      AND l_quantity < 24"""

  // ------------------------------------------------------ Q8 market share

  /** National market share (TPC-H Q8 shape): within one customer region's
    * order revenue per year, the share supplied by one nation. Numerator
    * and denominator are exact decimal sums over the SAME joined scan
    * (a conditional sum, not a second pass); the share is one double
    * division of two exactly-summed operands — deterministic on both
    * engines.
    */
  def q8Share(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"),
        "left_semi")
      .select("c_custkey")
    val suppNation = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name"))),
        col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val vol = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .select(year(col("o_orderdate")).as("o_year"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("volume"),
        col("supp_nation"))
    vol.groupBy(col("o_year"))
      .agg(
        Exact.sumDec(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(lit(0.0))).as("nat_dec"),
        Exact.sumDec(col("volume")).as("tot_dec"))
      .select(col("o_year"),
        (col("nat_dec").cast("double") / col("tot_dec").cast("double"))
          .as("mkt_share"))
      .orderBy("o_year")
  }

  val q8ShareSql: String = """
    WITH vol AS (
      SELECT year(o_orderdate) AS o_year,
        l_extendedprice * (1.0 - l_discount) AS volume,
        ns.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND o_custkey IN (
          SELECT c_custkey FROM customer
          JOIN nation nc ON c_nationkey = nc.n_nationkey
          JOIN region ON nc.n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'))
    SELECT o_year,
      CAST(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
                              ELSE 0.0 END AS DECIMAL(30,10))) AS VARCHAR)
          AS DOUBLE)
        / CAST(CAST(SUM(CAST(volume AS DECIMAL(30,10))) AS VARCHAR)
          AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year"""

  // ---------------------------------------------------------- Q9 profit

  /** Product-type profit by supplier nation and year (TPC-H Q9 shape).
    * With no partsupp table, unit supply cost proxies as 10% of
    * p_retailprice. One fact shuffle; part and supplier→nation are
    * broadcast projections; profit per line stays in one fixed IEEE
    * expression order before the exact decimal sum.
    */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_name").contains("red"))
      .select("p_partkey", "p_retailprice")
    val sn = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "nation")
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("l_shipdate")).as("o_year"))
      .agg(Exact.sumD(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          (col("l_quantity") * col("p_retailprice")) * lit(0.1))
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProfitSql: String = s"""
    SELECT n_name AS nation, year(l_shipdate) AS o_year,
      ${Exact.sqlSum(
        "l_extendedprice * (1.0 - l_discount) - (l_quantity * p_retailprice) * 0.1")}
        AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC"""

  // ------------------------------------------------------- Q12 lateness

  /** Shipping-lateness priority audit (TPC-H Q12 shape; the shipmode
    * column doesn't exist, so lines bucket by how late they shipped
    * after the order date). High- vs low-priority order counts per
    * bucket; the CASE-WHEN counts combine map-side, so the exchange
    * carries two rows per bucket per task.
    */
  def q12Lateness(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_bucket",
        when(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) <= 30, "ON_TIME")
          .when(datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")) <= 60, "LATE")
          .otherwise("VERY_LATE"))
      .groupBy(col("delay_bucket"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy("delay_bucket")
  }

  val q12LatenessSql: String = """
    SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 30 THEN 'ON_TIME'
                WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 60 THEN 'LATE'
                ELSE 'VERY_LATE' END AS delay_bucket,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1"""

  // --------------------------------------------------- Q21 waiting supps

  /** Suppliers who alone held up multi-supplier orders (TPC-H Q21 shape;
    * "late" = shipped more than 90 days after the order date). The
    * classic EXISTS (another supplier) / NOT EXISTS (another LATE
    * supplier) pair is re-expressed as one aggregation pipeline: flags
    * per (order, supplier) on the orderkey shuffle, a per-order rollup,
    * and a broadcast join back — the fact table is scanned once.
    */
  def q21Waiting(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val perOS = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > 90, 1L).otherwise(0L))
        .as("late"))
    // bounded: one row per order, two small aggregate columns
    val perOrder = perOS.groupBy(col("l_orderkey").as("ok"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name")
    perOS.filter(col("late") === 1L)
      .join(perOrder, col("l_orderkey") === col("ok"))
      .filter(col("n_supp") > 1 && col("n_late") === 1L)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q21WaitingSql: String = """
    WITH per_os AS (
      SELECT l_orderkey, l_suppkey,
        max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) > 90
            THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY 1, 2),
    per_order AS (
      SELECT l_orderkey AS ok, count(*) AS n_supp,
        CAST(sum(late) AS BIGINT) AS n_late
      FROM per_os GROUP BY 1)
    SELECT s_name, count(*) AS numwait
    FROM per_os
    JOIN per_order ON l_orderkey = ok
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE late = 1 AND n_supp > 1 AND n_late = 1
    GROUP BY s_name ORDER BY numwait DESC, s_name"""

  // --------------------------------------------------- Q2 min-cost supp

  /** Cheapest supplier per part (TPC-H Q2 shape). With no partsupp
    * table, the offered unit price is l_extendedprice / l_quantity (one
    * double division — deterministic); the correlated
    * `= (SELECT min(...))` becomes a part-keyed window rank with a
    * supplier-key tiebreak. row_number()<=1 compiles to a
    * WindowGroupLimit, so each map task forwards at most one row per
    * part into the rank exchange.
    */
  def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_size") >= 45)
      .select("p_partkey", "p_brand", "p_size")
    val offers = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("unit_price"), col("l_suppkey"))
    offers.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_name", "s_acctbal")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("s_name"), col("unit_price"))
      .orderBy("p_partkey")
  }

  val q2MinCostSql: String = """
    WITH offers AS (
      SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
      FROM lineitem),
    ranked AS (
      SELECT p_partkey, p_brand, p_size, l_suppkey, unit_price,
        row_number() OVER (PARTITION BY p_partkey
                           ORDER BY unit_price, l_suppkey) AS rn
      FROM offers JOIN part ON l_partkey = p_partkey
      WHERE p_size >= 45)
    SELECT p_partkey, p_brand, p_size, s_name, unit_price
    FROM ranked JOIN supplier ON l_suppkey = s_suppkey
    WHERE rn = 1 ORDER BY p_partkey"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q6_forecast" -> (q6Forecast _),
    "q8_share" -> (q8Share _),
    "q9_profit" -> (q9Profit _),
    "q12_lateness" -> (q12Lateness _),
    "q21_waiting" -> (q21Waiting _),
    "q2_mincost" -> (q2MinCost _))

  val oracles: Map[String, String] = Map(
    "q6_forecast" -> q6ForecastSql,
    "q8_share" -> q8ShareSql,
    "q9_profit" -> q9ProfitSql,
    "q12_lateness" -> q12LatenessSql,
    "q21_waiting" -> q21WaitingSql,
    "q2_mincost" -> q2MinCostSql)
}
