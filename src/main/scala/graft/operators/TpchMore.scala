package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second tranche of TPC-H-shaped analytics width (Q7/Q10/Q11/Q13/Q17/Q19
  * adapted to the harness star schema — no partsupp table, no comment or
  * shipmode columns, so predicates use the columns that exist).
  *
  * Scale notes, per shape:
  *  - the fact scan (lineitem/orders) is never broadcast; every dimension
  *    side is an explicit `broadcast()` of a *projected, filtered plan*;
  *  - multi-way joins put the orderkey shuffle first so AQE sees the
  *    biggest exchange once; all aggregates are map-side combinable;
  *  - "correlated subquery" shapes (Q11's global total, Q17's per-part
  *    average) become single-row / per-key aggregates broadcast back —
  *    Spark never rescans per outer row the way the SQL form suggests;
  *  - money math runs in decimal(30,10) (`Exact`), comparisons and ratios
  *    happen on exact decimals or in one fixed IEEE expression, so every
  *    query hash-matches DuckDB.
  */
object TpchMore extends graft.GateModule {

  // ------------------------------------------------------------ Q7 volume

  /** Shipping volume between nation pairs by year (TPC-H Q7 shape, all
    * pairs kept: output is bounded by nations² × years, independent of
    * scale). lineitem⋈orders is the one big shuffle; supplier, customer
    * and nation are broadcast dims.
    */
  def q7Volume(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7VolumeSql: String = s"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      year(l_shipdate) AS l_year,
      ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ----------------------------------------------------------- Q10 returns

  /** Top 20 customers by revenue lost to returned items in one quarter
    * (TPC-H Q10 shape). The rank key is the exact decimal revenue with a
    * custkey tie-break, so the LIMIT frontier is deterministic; Spark
    * executes orderBy+limit as TakeOrderedAndProject (per-partition heaps,
    * no global sort).
    */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(Exact.sumDec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev_dec"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev_dec").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("rev_dec").cast("double").as("revenue"))
  }

  val q10ReturnsSql: String = """
    WITH rev AS (
      SELECT o_custkey,
        SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10)))
          AS rev_dec
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY o_custkey)
    SELECT c_custkey, c_name, n_name, c_acctbal,
      CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue
    FROM rev
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY rev_dec DESC, c_custkey LIMIT 20"""

  // ------------------------------------------------------ Q11 revenue share

  /** Suppliers whose revenue exceeds 0.1% of the total (TPC-H Q11 shape:
    * HAVING against a global scalar). The scalar is a one-row aggregate
    * broadcast back over the per-supplier rollup, and the threshold test
    * multiplies decimals (`rev·1000 > total`) instead of dividing, so it
    * is exact — no float comparison at the cut line.
    */
  def q11Share(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(Exact.sumDec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev_dec"))
    val total = rev.agg(sum(col("rev_dec")).as("total_dec"))
    // ×1000 with an explicit decimal(4,0) factor: an int literal would
    // promote to decimal(10,0) and push the product past precision 38,
    // where Spark silently rounds — the cut line must stay exact
    rev.join(broadcast(total))
      .filter(col("rev_dec") * lit(1000).cast("decimal(4,0)") >
        col("total_dec"))
      .select(col("l_suppkey").as("s_suppkey"),
        col("rev_dec").cast("double").as("revenue"),
        round(lit(100.0) * (col("rev_dec").cast("double") /
          col("total_dec").cast("double")), 6).as("share_pct"))
      .orderBy("s_suppkey")
  }

  val q11ShareSql: String = """
    WITH rev AS (
      SELECT l_suppkey AS s_suppkey,
        SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10)))
          AS rev_dec
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(rev_dec) AS total_dec FROM rev)
    SELECT s_suppkey, CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
      round(100.0 * (CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
        / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE)), 6) AS share_pct
    FROM rev, tot WHERE rev_dec * CAST(1000 AS DECIMAL(4,0)) > total_dec
    ORDER BY s_suppkey"""

  // --------------------------------------------------------- Q13 custdist

  /** Distribution of customers by order count (TPC-H Q13 shape): LEFT join
    * so zero-order customers land in the c_count=0 bucket, then a second
    * rollup over the counts. Two shuffles, both map-side combining.
    */
  def q13Custdist(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    val perCust = Tables.customer(s, dir).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13CustdistSql: String = """
    WITH pc AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
    FROM pc GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

  // -------------------------------------------------------- Q17 small-qty

  /** Average yearly revenue lost if small-quantity orders of one brand
    * were not taken (TPC-H Q17 shape). The correlated per-part average
    * becomes a per-part aggregate broadcast back onto the scan; the
    * threshold `0.2·avg(qty)` is computed in one fixed IEEE order on both
    * engines (decimal sum → double, one divide, one multiply), so the
    * filter frontier is bit-identical.
    */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir).filter(col("p_brand") === "Brand#9")
      .select("p_partkey")
    val l = Tables.lineitem(s, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
    val avgq = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((Exact.sumDec(col("l_quantity")).cast("double") /
        count(lit(1)).cast("double")).as("avg_qty"))
    l.join(broadcast(avgq), col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(Exact.sumDec(col("l_extendedprice")).cast("double") / 7.0, 2)
        .as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  val q17SmallQtySql: String = """
    WITH l AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#9'),
    a AS (
      SELECT l_partkey AS ap_partkey,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR)
          AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty
      FROM l GROUP BY 1)
    SELECT
      round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
        AS VARCHAR) AS DOUBLE) / 7.0, 2) AS avg_yearly,
      count(*) AS n_small
    FROM l JOIN a ON l_partkey = ap_partkey
    WHERE l_quantity < 0.2 * avg_qty"""

  // ------------------------------------------------------ Q19 disjunctive

  /** Revenue under an OR-of-ANDs predicate (TPC-H Q19 shape) — the classic
    * test that a disjunction of brand/size/quantity conjuncts still
    * executes as one broadcast join + one scan (no union of three
    * subqueries), with the part-side conjuncts pushed to the dimension
    * scan. Grouped by brand so the output shows each disjunct's arm.
    */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#13", "Brand#20"))
      .select("p_partkey", "p_brand", "p_size")
    val l = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val arm1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val arm2 = col("p_brand") === "Brand#13" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
    val arm3 = col("p_brand") === "Brand#20" &&
      col("p_size").between(20, 50) && col("l_quantity").between(20, 45)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("p_brand")
  }

  val q19DisjunctiveSql: String = s"""
    SELECT p_brand, count(*) AS n,
      ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 45)
    GROUP BY p_brand ORDER BY p_brand"""

  // --------------------------------------------------- Q20 above-average

  /** Suppliers whose revenue beats their nation's per-supplier average
    * (TPC-H Q20's nested-aggregate shape). The nation average is a
    * per-nation aggregate broadcast back; the comparison multiplies
    * decimals (`rev·n > nation_total`) instead of dividing, so the cut
    * line is exact. The supplier-count factor is cast decimal(6,0) —
    * enough for any per-nation supplier population this side of 10^6;
    * wider deployments widen the cast, not the logic.
    */
  def q20Semi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(Exact.sumDec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev_dec"))
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_name", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
    val nat = rev.groupBy(col("s_nationkey").as("nk"))
      .agg(sum(col("rev_dec")).as("nat_dec"),
        count(lit(1)).cast("decimal(6,0)").as("n_sup"))
    rev.join(broadcast(nat), col("s_nationkey") === col("nk"))
      .filter(col("rev_dec") * col("n_sup") > col("nat_dec"))
      .select(col("s_suppkey"), col("s_name"),
        col("s_nationkey").cast("int").as("s_nationkey"),
        col("rev_dec").cast("double").as("revenue"))
      .orderBy("s_suppkey")
  }

  val q20SemiSql: String = """
    WITH rev AS (
      SELECT s_suppkey, s_name, s_nationkey,
        SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10)))
          AS rev_dec
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2, 3),
    nat AS (
      SELECT s_nationkey AS nk, SUM(rev_dec) AS nat_dec,
        CAST(count(*) AS DECIMAL(6,0)) AS n_sup
      FROM rev GROUP BY 1)
    SELECT s_suppkey, s_name, s_nationkey,
      CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue
    FROM rev JOIN nat ON s_nationkey = nk
    WHERE rev_dec * n_sup > nat_dec
    ORDER BY s_suppkey"""

  // ------------------------------------------------------- event paths

  /** Top-10 three-step behavioural paths across the event stream: per-user
    * time-ordered event-type trigrams, counted globally. One user-keyed
    * shuffle feeds both lead windows; the global top-10 is a
    * TakeOrdered, not a sort. Timestamps truncate to seconds on both
    * engines (the parquet nanos rule), with event_id as the within-second
    * tie-break so the sequence order is total and identical.
    */
  def eventsPaths(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(date_trunc("second", col("ts")), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  val eventsPathsSql: String = """
    WITH seq AS (
      SELECT user_id, event_type AS step1,
        lead(event_type, 1) OVER w AS step2,
        lead(event_type, 2) OVER w AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id))
    SELECT step1, step2, step3, count(*) AS n
    FROM seq WHERE step3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, step1, step2, step3 LIMIT 10"""

  // ---------------------------------------------------- GROUPING SETS

  /** Arbitrary GROUPING SETS — the general form rollup/cube specialize:
    * per-status, per-priority, and grand-total aggregates in ONE shuffle
    * (Spark expands the sets before the partial aggregate, so each set
    * still combines map-side; no UNION of three scans).
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
    s.sql(s"""
      SELECT CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
          AS gid,
        COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
          AS sum_price
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY gid, status, priority""")
  }

  val qGroupingSetsSql: String = """
    SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      COALESCE(o_orderstatus, 'ALL') AS status,
      COALESCE(o_orderpriority, 'ALL') AS priority,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR)
        AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY gid, status, priority"""

  // -------------------------------------------------------- market lift

  /** Market-basket-style affinity: for each (customer segment, part type),
    * the lift P(type | segment) / P(type) — which part categories each
    * segment over/under-buys. Exact-integer probability ratios in one
    * fixed IEEE order; output bounded by |segments|·|types| regardless of
    * scale. One fact shuffle; segment/type marginals are single-row /
    * tiny aggregates broadcast back.
    */
  def partAffinity(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .select(col("c_mktsegment").as("segment"), col("p_type").as("ptype"))
    val cells = f.groupBy(col("segment"), col("ptype"))
      .agg(count(lit(1)).as("n_st"))
    val seg = cells.groupBy(col("segment")).agg(sum(col("n_st")).as("n_s"))
    val typ = cells.groupBy(col("ptype")).agg(sum(col("n_st")).as("n_t"))
    val tot = cells.agg(sum(col("n_st")).as("n"))
    cells.join(broadcast(seg), "segment").join(broadcast(typ), "ptype")
      .join(broadcast(tot))
      .select(col("segment"), col("ptype"), col("n_st"),
        round((col("n_st").cast("double") / col("n_s").cast("double")) /
          (col("n_t").cast("double") / col("n").cast("double")), 6)
          .as("lift"))
      .orderBy("segment", "ptype")
  }

  val partAffinitySql: String = """
    WITH f AS (
      SELECT c_mktsegment AS segment, p_type AS ptype
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part ON l_partkey = p_partkey),
    cells AS (SELECT segment, ptype, count(*) AS n_st FROM f GROUP BY 1, 2),
    seg AS (SELECT segment, CAST(sum(n_st) AS BIGINT) AS n_s
            FROM cells GROUP BY 1),
    typ AS (SELECT ptype, CAST(sum(n_st) AS BIGINT) AS n_t
            FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM cells)
    SELECT segment, ptype, n_st,
      round((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
        / (CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS lift
    FROM cells JOIN seg USING (segment) JOIN typ USING (ptype), tot
    ORDER BY segment, ptype"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grouping_sets" -> (qGroupingSets _),
    "part_affinity" -> (partAffinity _),
    "q20_semi" -> (q20Semi _),
    "events_paths" -> (eventsPaths _),
    "q7_volume" -> (q7Volume _),
    "q10_returns" -> (q10Returns _),
    "q11_share" -> (q11Share _),
    "q13_custdist" -> (q13Custdist _),
    "q17_small_qty" -> (q17SmallQty _),
    "q19_disjunctive" -> (q19Disjunctive _))

  val oracles: Map[String, String] = Map(
    "q_grouping_sets" -> qGroupingSetsSql,
    "part_affinity" -> partAffinitySql,
    "q20_semi" -> q20SemiSql,
    "events_paths" -> eventsPathsSql,
    "q7_volume" -> q7VolumeSql,
    "q10_returns" -> q10ReturnsSql,
    "q11_share" -> q11ShareSql,
    "q13_custdist" -> q13CustdistSql,
    "q17_small_qty" -> q17SmallQtySql,
    "q19_disjunctive" -> q19DisjunctiveSql)
}
