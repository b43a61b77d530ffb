package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics headliners: the query-engine surface of the reference re-run as
  * declarative Spark plans (TPC-H-shaped over the harness tables).
  *
  * Scale notes: every dimension side is explicitly `broadcast()`; aggregates
  * are map-side combinable; filters sit directly on the scans so they reach
  * the parquet reader as PushedFilters.
  */
object Queries extends graft.GateModule {

  /** Pricing summary (TPC-H Q1 shape): single scan, hash aggregate. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.sumD(col("l_quantity")).as("sum_qty"),
        Exact.sumD(col("l_extendedprice")).as("sum_base_price"),
        Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        Exact.avgD(col("l_quantity")).as("avg_qty"),
        Exact.avgD(col("l_extendedprice")).as("avg_price"),
        Exact.avgD(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${Exact.sqlSum("l_quantity")} AS sum_qty,
      ${Exact.sqlSum("l_extendedprice")} AS sum_base_price,
      ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
      ${Exact.sqlAvg("l_quantity")} AS avg_qty,
      ${Exact.sqlAvg("l_extendedprice")} AS avg_price,
      ${Exact.sqlAvg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Unshipped-orders revenue (TPC-H Q3 shape): broadcast dim, two joins. */
  def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-03-15").cast("timestamp")
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q3JoinSql: String = s"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
      ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10"""

  /** Local-supplier volume (TPC-H Q5 shape): star join, broadcast dims. */
  def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5MultiJoinSql: String = s"""
    SELECT n_name,
      ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** Top orders per market segment: rank window after a broadcast join. */
  def topkWindow(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val topkWindowSql: String = """
    SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey) t
    WHERE rn <= 3
    ORDER BY c_mktsegment, rn"""

  /** Gap-based sessionization: 30-minute inactivity closes a session.
    * lag + running sum of session-start flags; the batch shape of what
    * `graft.streaming` does with state.
    */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tss"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"),
        col("value"))
    e.withColumn("prev", lag(unix_timestamp(col("tss")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_timestamp(col("tss")) - col("prev") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("tss")).as("session_start"),
        count(lit(1)).as("n_events"),
        Exact.sumD(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val eventsSessionizeSql: String = s"""
    WITH e AS (
      SELECT user_id, date_trunc('second', ts) AS tss, value FROM events),
    flagged AS (
      SELECT user_id, tss, value,
        CASE WHEN epoch(tss) - LAG(epoch(tss)) OVER
            (PARTITION BY user_id ORDER BY tss) > 1800
          OR LAG(epoch(tss)) OVER (PARTITION BY user_id ORDER BY tss) IS NULL
          THEN 1 ELSE 0 END AS new_sess
      FROM e),
    sess AS (
      SELECT user_id, tss, value,
        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tss
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      MIN(tss) AS session_start,
      COUNT(*) AS n_events, ${Exact.sqlSum("value")} AS sum_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""

  /** Tumbling-window event rollup (batch analog of the streaming op). */
  def eventsWindowAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sum_value"))
      .orderBy(col("win"), col("event_type"))
  }

  val eventsWindowAggSql: String = s"""
    SELECT date_trunc('hour', ts) AS win, event_type,
      COUNT(*) AS n, ${Exact.sqlSum("value")} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY win, event_type"""

  /** Hierarchical totals (ROLLUP over returnflag → linestatus): subtotal
    * rows carry an `ALL` label and the grouping-set id, so the output is
    * null-free and sort-stable across engines. One shuffle: Spark expands
    * the grouping sets before the partial aggregate, so every set still
    * map-side combines.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        Exact.sumD(col("l_quantity")).as("sum_qty"),
        Exact.sumD(col("l_extendedprice")).as("sum_price"))
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"), col("sum_price"))
      .orderBy("gid", "rflag", "lstatus")
  }

  val qRollupSql: String = s"""
    SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      coalesce(l_returnflag, 'ALL') AS rflag,
      coalesce(l_linestatus, 'ALL') AS lstatus,
      COUNT(*) AS n,
      ${Exact.sqlSum("l_quantity")} AS sum_qty,
      ${Exact.sqlSum("l_extendedprice")} AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, rflag, lstatus"""

  /** Exact interpolated quartiles of order quantity per return flag.
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * p·(n−1) linear-interpolation definition; on integer-valued doubles
    * with binary-fraction percentiles both are exact, so the gate is
    * hash-tight. At scale the exact percentile is a single sort-based
    * aggregation per group; the approximate path (`percentile_approx`)
    * trades that for a mergeable sketch with the same plan shape.
    */
  def qQuantiles(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p75"),
        col("n"))
      .orderBy("l_returnflag")
  }

  val qQuantilesSql: String = """
    SELECT l_returnflag,
      round(qs[1], 6) AS p25, round(qs[2], 6) AS p50, round(qs[3], 6) AS p75, n
    FROM (
      SELECT l_returnflag,
        quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qs,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag)
    ORDER BY l_returnflag"""

  /** Hour-over-hour user retention: of the users active in hour h, how many
    * are also active in h+1. One distinct pass + one lead window keyed by
    * user — no self-join of the events table.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val uh = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
    uh.withColumn("next_h", lead(col("h"), 1).over(w))
      .withColumn("retained",
        when(col("next_h") === col("h") + expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_active"), sum(col("retained")).as("n_retained"))
      .withColumn("retention",
        round(col("n_retained").cast("double") / col("n_active").cast("double"), 6))
      .orderBy("h")
  }

  val eventsRetentionSql: String = """
    WITH uh AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events),
    flagged AS (
      SELECT user_id, h,
        CASE WHEN LEAD(h) OVER (PARTITION BY user_id ORDER BY h)
               = h + INTERVAL 1 HOUR THEN 1 ELSE 0 END AS retained
      FROM uh)
    SELECT h, COUNT(*) AS n_active,
      CAST(SUM(retained) AS BIGINT) AS n_retained,
      round(CAST(CAST(SUM(retained) AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS retention
    FROM flagged GROUP BY h ORDER BY h"""

  /** Semi-structured extraction: the `props` JSON column parsed in-plan
    * (`get_json_object` is codegen'd — no UDF) and aggregated per event
    * type. Integer payloads keep the gate exact; the avg divides two exact
    * integers, deterministic IEEE on both engines.
    */
  def eventsJson(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("avg_k",
        round(col("sum_k").cast("double") / col("n").cast("double"), 6))
      .orderBy("event_type")
  }

  val eventsJsonSql: String = """
    WITH e AS (
      SELECT event_type,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
      round(CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        AS avg_k
    FROM e GROUP BY event_type ORDER BY event_type"""

  /** Ordered conversion funnel view → click → purchase: each stage is the
    * earliest qualifying event strictly after the previous stage's, per
    * user. Three user-keyed aggregations — the shuffle key is always
    * user_id, so the funnel runs in the events table's natural
    * partitioning; no self-join of the raw stream. Timestamps are
    * second-truncated on both engines so nanos-vs-micros precision can't
    * flip a strict comparison.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"),
        col("event_type"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tss")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tss") > col("t_view"))
      .groupBy("user_id").agg(min(col("tss")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tss") > col("t_click"))
      .groupBy("user_id").agg(min(col("tss")).as("t_buy"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_buy")).as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view").cast("double"), 6)
          .as("view_to_click"),
        round(col("n_purchase").cast("double") / col("n_click").cast("double"), 6)
          .as("click_to_purchase"))
  }

  val eventsFunnelSql: String = """
    WITH e AS (
      SELECT user_id, date_trunc('second', ts) AS tss, event_type FROM events),
    v AS (SELECT user_id, min(tss) AS t_view FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(tss) AS t_click
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE event_type = 'click' AND tss > t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(tss) AS t_buy
          FROM e JOIN c ON e.user_id = c.user_id
          WHERE event_type = 'purchase' AND tss > t_click GROUP BY e.user_id)
    SELECT count(*) AS n_view,
      count(t_click) AS n_click,
      count(t_buy) AS n_purchase,
      round(CAST(count(t_click) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS view_to_click,
      round(CAST(count(t_buy) AS DOUBLE) / CAST(count(t_click) AS DOUBLE), 6)
        AS click_to_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""

  /** RANGE-framed moving window: per customer, order count and exact
    * revenue over the trailing 30 days of each order (value-based frame,
    * not row-based — the frame is defined on the day offset, so ties and
    * gaps behave correctly). The window is key-partitioned: one shuffle on
    * customer, linear scan per customer.
    */
  def ordersMovingRevenue(s: SparkSession, dir: String): DataFrame = {
    val d = datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-30, 0)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), d.as("d"),
        col("o_totalprice"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("rev_30d",
        sum(col("o_totalprice").cast(graft.Exact.wide)).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "d", "n_30d", "rev_30d")
      .orderBy("o_orderkey")
  }

  val ordersMovingRevenueSql: String = """
    SELECT o_orderkey, o_custkey, d,
      count(*) OVER w AS n_30d,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER w AS VARCHAR)
        AS DOUBLE) AS rev_30d
    FROM (
      SELECT o_orderkey, o_custkey,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
        o_totalprice
      FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey"""

  /** Pivoted cross-tab: order counts and exact revenue per status,
    * priorities as columns. Spark's `pivot` with explicit values keeps the
    * plan a single groupBy (no distinct-values pre-query); the oracle
    * mirrors it with FILTER aggregates.
    */
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def ordersPivot(s: SparkSession, dir: String): DataFrame = {
    val agged = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Priorities)
      .agg(count(lit(1)))
    val renamed = Priorities.zipWithIndex.foldLeft(agged) {
      case (df, (p, i)) =>
        val n = s"n_p${i + 1}"
        // pivot yields NULL for an empty (status, priority) cell where the
        // oracle's count(*) FILTER yields 0 — align on 0
        df.withColumnRenamed(p, n).withColumn(n, coalesce(col(n), lit(0L)))
    }
    renamed.orderBy("o_orderstatus")
  }

  val ordersPivotSql: String = s"""
    SELECT o_orderstatus,
      ${Priorities.zipWithIndex.map { case (p, i) =>
        s"count(*) FILTER (WHERE o_orderpriority = '$p') AS n_p${i + 1}"
      }.mkString(",\n      ")}
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Sliding-window active users: distinct users per 3-hour window sliding
    * hourly (each event lands in 3 overlapping windows — Spark's `window`
    * with slide < length). The dedup keys the shuffle by (window, user);
    * the count is then a map-side-combining rollup. Overlap factor =
    * length/slide is the replication cost at scale, the knob every
    * sliding-window job trades against freshness.
    */
  def eventsActiveSliding(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(window(col("ts"), "3 hours", "1 hour").as("w"), col("user_id"))
      .select(col("w.start").as("win_start"), col("user_id"))
      .distinct()
      .groupBy(col("win_start"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("win_start")
  }

  val eventsActiveSlidingSql: String = """
    WITH e AS (
      SELECT date_trunc('hour', ts) AS h, user_id FROM events),
    w AS (
      SELECT DISTINCT h - to_hours(k) AS win_start, user_id
      FROM e, UNNEST(generate_series(0, 2)) AS u(k))
    SELECT win_start, COUNT(*) AS n_users
    FROM w GROUP BY 1 ORDER BY win_start"""

  /** First-order Markov transitions over each user's event sequence:
    * P(next type | type) from a per-user lead window (one user-keyed
    * shuffle, no self-join) and one (from, to) rollup. The probability is
    * a single division of two exact integer counts — bit-identical IEEE
    * on both engines. The n-gram-over-sessions shape behind funnel mining
    * and next-event prediction features.
    */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tss"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("tss"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  val eventsMarkovSql: String = """
    WITH seq AS (
      SELECT event_type,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY date_trunc('second', ts), event_id) AS next_type
      FROM events),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
      FROM pairs GROUP BY 1)
    SELECT from_type, to_type, n,
      round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
    FROM pairs JOIN totals USING (from_type)
    ORDER BY from_type, to_type"""

  /** Fixed-width histogram of order totals: bucket = floor(price / 500) —
    * one narrow scan + one shuffle, the plan every profiling/EDA histogram
    * should have (no windows, no sort until the bounded output). Bucket
    * arithmetic is floor of a double quotient of exact inputs — identical
    * in both engines.
    */
  def ordersHistogram(s: SparkSession, dir: String): DataFrame = {
    val bucket = floor(col("o_totalprice") / lit(500.0)).cast("long")
    Tables.orders(s, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), Exact.sumD(col("o_totalprice")).as("sum_price"))
      .withColumn("lo", (col("bucket") * 500).cast("double"))
      .select(col("bucket"), col("lo"), col("n"), col("sum_price"))
      .orderBy("bucket")
  }

  val ordersHistogramSql: String = s"""
    SELECT CAST(floor(o_totalprice / 500.0) AS BIGINT) AS bucket,
      CAST(CAST(floor(o_totalprice / 500.0) AS BIGINT) * 500 AS DOUBLE) AS lo,
      COUNT(*) AS n, ${Exact.sqlSum("o_totalprice")} AS sum_price
    FROM orders GROUP BY 1, 2 ORDER BY bucket"""

  /** Customer spend deciles within each market segment. There are only ~5
    * segments, so a segment-partitioned NTILE window would hash the whole
    * customer aggregate to ~5 reducers; instead the decile comes from a
    * [[DistRank.rowNumber]] two-phase rank (balanced range slices) fed
    * through [[DistRank.ntileFromRank]] — NTILE(10) reconstructed
    * bit-exactly from (rank, segment count) with no stratum-partitioned
    * window anywhere in the plan. Spend is an exact decimal, so the
    * decile ordering (spend desc, custkey) is total and
    * engine-independent.
    */
  def customerDeciles(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(Exact.sumDec(col("o_totalprice")).as("spend_dec"))
    val seg = spend.join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_custkey").as("custkey"), col("spend_dec"))
    // spend ranks descending — exact decimal negation keeps DistRank's
    // ascending total order
    val ranked = DistRank.rowNumber(seg, "segment",
      Seq(-col("spend_dec"), col("custkey")), "custkey", "__rn")
    val counts = seg.groupBy(col("segment")).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(counts), "segment")
      .withColumn("decile", DistRank.ntileFromRank(10, col("__rn"), col("__n")))
      .groupBy(col("segment"), col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("spend_dec")).as("sum_dec"))
      .select(col("segment"), col("decile").cast("long").as("decile"),
        col("n"), col("sum_dec").cast("double").as("sum_spend"))
      .orderBy("segment", "decile")
  }

  val customerDecilesSql: String = """
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS spend_dec
      FROM orders GROUP BY 1),
    seg AS (
      SELECT c_mktsegment AS segment, o_custkey AS custkey, spend_dec
      FROM spend JOIN customer ON o_custkey = c_custkey),
    d AS (
      SELECT segment, custkey, spend_dec,
        ntile(10) OVER (PARTITION BY segment
          ORDER BY spend_dec DESC, custkey) AS decile
      FROM seg)
    SELECT segment, CAST(decile AS BIGINT) AS decile, COUNT(*) AS n,
      CAST(CAST(SUM(spend_dec) AS VARCHAR) AS DOUBLE) AS sum_spend
    FROM d GROUP BY 1, 2 ORDER BY segment, decile"""

  /** CUBE over (status, priority): all four grouping sets in ONE shuffle —
    * Spark expands the sets before the partial aggregate, so every set
    * still map-side combines; subtotal rows carry `ALL` labels and the
    * grouping-set id, keeping the output null-free and sort-stable.
    */
  def ordersCube(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        Exact.sumD(col("o_totalprice")).as("sum_price"))
      .select(col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))
      .orderBy("gid", "status", "priority")
  }

  val ordersCubeSql: String = s"""
    SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      COALESCE(o_orderstatus, 'ALL') AS status,
      COALESCE(o_orderpriority, 'ALL') AS priority,
      COUNT(*) AS n, ${Exact.sqlSum("o_totalprice")} AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority"""

  /** TPC-H Q14-shaped promotion-revenue share per ship month: two exact
    * decimal sums over one broadcast-joined scan, ratio taken once at the
    * end in a fixed operation order (exact-decimal totals → double →
    * one multiply, one divide), so the percentage matches DuckDB
    * bit-for-bit.
    */
  def promoShare(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(
        Exact.sumD(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_rev"),
        Exact.sumD(rev).as("total_rev"))
      .withColumn("promo_pct",
        round((lit(100.0) * col("promo_rev")) / col("total_rev"), 6))
      .orderBy("month")
  }

  val promoShareSql: String = s"""
    WITH m AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS month,
        ${Exact.sqlSum(
          "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
          AS promo_rev,
        ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1)
    SELECT month, promo_rev, total_rev,
      round((100.0 * promo_rev) / total_rev, 6) AS promo_pct
    FROM m ORDER BY month"""

  /** TPC-H Q15-shaped "top supplier": per-supplier revenue over a shipdate
    * window, returning every supplier achieving the maximum (the classic
    * correlated-subquery query, rewritten Spark-first: the max is a
    * single-row aggregate broadcast back over the per-supplier rollup — no
    * correlated rescan, no global window). Revenue is a per-row double
    * product folded into an exact decimal sum, so the max-equality filter
    * compares exact decimals, never floats.
    */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(Exact.sumDec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev_dec"))
    val best = rev.agg(max(col("rev_dec")).as("best_dec"))
    rev.join(broadcast(best), col("rev_dec") === col("best_dec"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val topSupplierSql: String = s"""
    WITH rev AS (
      SELECT l_suppkey,
        SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10)))
          AS rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
      CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
    ORDER BY s_suppkey"""

  /** Statistical anomaly detection over the event stream: hours whose
    * per-type event count deviates from that type's mean by more than 3
    * standard deviations. The z-score is computed as
    * `(c·n − S) / sqrt(n·S2 − S²)` — numerator and radicand are exact
    * integer aggregates (S = Σc, S2 = Σc² over the type's n hours), so the
    * single division and sqrt are correctly-rounded IEEE ops that match
    * DuckDB bit-for-bit. Two shuffles: the (type, hour) count and the
    * per-type moment rollup; the stats side is one row per type, so the
    * re-join broadcasts.
    */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hc = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hc.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nh"), sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
    val den = col("nh") * col("s2") - col("s1") * col("s1")
    val z = when(den === 0, lit(0.0)).otherwise(
      (col("cnt") * col("nh") - col("s1")).cast("double") /
        sqrt(den.cast("double")))
    hc.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hr"), col("cnt"),
        round(z, 6).as("z"),
        when(abs(z) > 3.0, 1L).otherwise(0L).as("anomaly"))
      .orderBy("event_type", "hr")
  }

  val eventsAnomalySql: String = """
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, COUNT(*) AS nh,
        CAST(sum(cnt) AS BIGINT) AS s1,
        CAST(sum(cnt * cnt) AS BIGINT) AS s2
      FROM hc GROUP BY 1),
    z AS (
      SELECT event_type, hr, cnt,
        CASE WHEN nh * s2 - s1 * s1 = 0 THEN 0.0
          ELSE CAST(cnt * nh - s1 AS DOUBLE)
            / sqrt(CAST(nh * s2 - s1 * s1 AS DOUBLE)) END AS z_raw
      FROM hc JOIN stats USING (event_type))
    SELECT event_type, hr, cnt, round(z_raw, 6) AS z,
      CASE WHEN abs(z_raw) > 3.0 THEN 1 ELSE 0 END AS anomaly
    FROM z ORDER BY event_type, hr"""

  /** Cohort analysis: users grouped by their first-active hour, activity
    * matrix of distinct active users per (cohort, age-in-hours). One
    * user-keyed shuffle computes both the distinct (user, hour) grid and
    * the per-user cohort (a full-partition min window on the same key —
    * no second exchange); the matrix rollup is the only other shuffle.
    */
  def eventsCohort(s: SparkSession, dir: String): DataFrame = {
    val eh = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .dropDuplicates("user_id", "hr")
    val w = Window.partitionBy(col("user_id"))
    eh.withColumn("cohort", min(col("hr")).over(w))
      .withColumn("age",
        expr("(unix_timestamp(hr) - unix_timestamp(cohort)) div 3600"))
      .groupBy(col("cohort"), col("age"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "age")
  }

  val eventsCohortSql: String = """
    WITH eh AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr FROM events),
    c AS (
      SELECT user_id, hr,
        min(hr) OVER (PARTITION BY user_id) AS cohort
      FROM eh)
    SELECT cohort,
      CAST(epoch(hr) - epoch(cohort) AS BIGINT) // 3600 AS age,
      COUNT(*) AS n_users
    FROM c GROUP BY 1, 2 ORDER BY cohort, age"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q3_join" -> (q3Join _),
    "q5_multijoin" -> (q5MultiJoin _),
    "q_rollup" -> (qRollup _),
    "q_quantiles" -> (qQuantiles _),
    "topk_window" -> (topkWindow _),
    "events_sessionize" -> (eventsSessionize _),
    "events_window_agg" -> (eventsWindowAgg _),
    "events_retention" -> (eventsRetention _),
    "events_json" -> (eventsJson _),
    "events_funnel" -> (eventsFunnel _),
    "orders_moving_revenue" -> (ordersMovingRevenue _),
    "orders_pivot" -> (ordersPivot _),
    "events_anomaly" -> (eventsAnomaly _),
    "events_cohort" -> (eventsCohort _),
    "top_supplier" -> (topSupplier _),
    "orders_cube" -> (ordersCube _),
    "promo_share" -> (promoShare _),
    "customer_deciles" -> (customerDeciles _),
    "events_markov" -> (eventsMarkov _),
    "orders_histogram" -> (ordersHistogram _),
    "events_active_sliding" -> (eventsActiveSliding _))

  val oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q3_join" -> q3JoinSql,
    "q5_multijoin" -> q5MultiJoinSql,
    "q_rollup" -> qRollupSql,
    "q_quantiles" -> qQuantilesSql,
    "topk_window" -> topkWindowSql,
    "events_sessionize" -> eventsSessionizeSql,
    "events_window_agg" -> eventsWindowAggSql,
    "events_retention" -> eventsRetentionSql,
    "events_json" -> eventsJsonSql,
    "events_funnel" -> eventsFunnelSql,
    "orders_moving_revenue" -> ordersMovingRevenueSql,
    "orders_pivot" -> ordersPivotSql,
    "events_anomaly" -> eventsAnomalySql,
    "events_cohort" -> eventsCohortSql,
    "top_supplier" -> topSupplierSql,
    "orders_cube" -> ordersCubeSql,
    "promo_share" -> promoShareSql,
    "customer_deciles" -> customerDecilesSql,
    "events_markov" -> eventsMarkovSql,
    "orders_histogram" -> ordersHistogramSql,
    "events_active_sliding" -> eventsActiveSlidingSql)
}
