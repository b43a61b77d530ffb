package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{CachedLeaf, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table reshaping and series-completion operators: unpivot (the inverse
  * of `orders_pivot`'s cross-tab), time-series gap filling against a
  * generated calendar, and relative ranking.
  */
object Reshape extends graft.GateModule {

  /** Unpivot (melt) the lineitem money columns into (measure, value) rows,
    * then aggregate per measure. The melt is a single `stack` projection —
    * one scan, rows×3 narrow tuples, no shuffle until the 3-group rollup —
    * which is why melting 100 TB is cheap while its inverse (pivot)
    * needs a shuffle. Exact decimal sums keep the totals order-independent.
    */
  def lineitemUnpivot(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select(expr(
        """stack(3,
          |  'extendedprice', l_extendedprice,
          |  'discount', l_discount,
          |  'tax', l_tax) AS (measure, value)""".stripMargin))
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("total"))
      .orderBy("measure")
  }

  val lineitemUnpivotSql: String = s"""
    WITH melted AS (
      SELECT 'extendedprice' AS measure, l_extendedprice AS value FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'tax', l_tax FROM lineitem)
    SELECT measure, COUNT(*) AS n, ${Exact.sqlSum("value")} AS total
    FROM melted GROUP BY measure ORDER BY measure"""

  /** Time-series gap filling: the complete (event_type × hour) grid over
    * the stream's span, with missing hours filled as zero — the
    * prerequisite for any windowed model over event streams (a silent
    * missing hour corrupts a moving average more than a wrong one).
    * The calendar is GENERATED (one aggregated bounds row broadcast into a
    * per-type `sequence` explode), never materialized as a table; the only
    * wide operation is the left join of the grid onto the hourly counts,
    * keyed on (type, hour).
    */
  def eventsGapfill(s: SparkSession, dir: String): DataFrame = {
    val hr = date_trunc("hour", col("ts"))
    val e = Tables.events(s, dir)
    val counts = e.groupBy(col("event_type"), hr.as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = e.agg(min(hr).as("lo"), max(hr).as("hi"))
    val grid = e.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
          .as("hr"))
    grid.join(counts, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("event_type", "hr")
  }

  val eventsGapfillSql: String = """
    WITH b AS (
      SELECT min(date_trunc('hour', ts)) AS lo,
             max(date_trunc('hour', ts)) AS hi FROM events),
    g AS (
      SELECT event_type,
        unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM (SELECT DISTINCT event_type FROM events), b),
    c AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT g.event_type, g.hr, COALESCE(cnt, 0) AS cnt
    FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr
    ORDER BY g.event_type, g.hr"""

  /** Relative standing of every customer inside their market segment:
    * `percent_rank` over balance. TPC-H has FIVE market segments, so a
    * segment-partitioned window would hash every customer to ~5 reducers —
    * the scale-killer the r6 verdict flagged. Instead the rank comes from
    * [[DistRank.rowNumber]] (range-sliced two-phase rank, every reducer
    * sees a balanced slice), tie groups collapse to SQL RANK semantics by
    * a min-over-equal-keys join (high-cardinality key, balanced), and
    * percent_rank is reconstructed as the same single correctly-rounded
    * division (rank−1)/(n−1) of exact integers the window function
    * performs — identical double bit pattern, no rounding needed.
    */
  def customerPctRank(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val rn = DistRank.rowNumber(cust, "c_mktsegment",
      Seq(col("c_acctbal"), col("c_custkey")), "c_custkey", "__rn")
    val rankOfTies = rn.groupBy(col("c_mktsegment"), col("c_acctbal"))
      .agg(min(col("__rn")).as("__rank"))
    val counts = cust.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("__n"))
    rn.join(rankOfTies, Seq("c_mktsegment", "c_acctbal"))
      .join(broadcast(counts), "c_mktsegment")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("__rank") - 1).cast("double") /
            (col("__n") - 1).cast("double"))
          .as("bal_pct_rank"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  val customerPctRankSql: String = """
    SELECT c_custkey, c_mktsegment, c_acctbal,
      percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal)
        AS bal_pct_rank
    FROM customer
    ORDER BY c_mktsegment, c_custkey"""

  /** RFM segmentation (recency / frequency / monetary), the classic
    * customer-scoring reshape: per customer, days since last order
    * (against the fixed corpus horizon), order count, and exact-decimal
    * spend; each scored into within-segment quintiles (recent/often/big
    * = 1). The quintiles are NOT ntile windows — a segment-partitioned
    * window single-tasks each of the 5 segments at scale — but three
    * [[DistRank.rowNumber]] two-phase ranks (one per metric's total
    * order) fed through [[DistRank.ntileFromRank]], which reconstructs
    * NTILE(5) bit-exactly from (rank, segment count). Output is the
    * (segment, r, f, m) cell census, bounded at 5³ rows per segment
    * however many customers exist. Ties in every quintile sort break on
    * the customer key, so the cell boundaries replay exactly.
    */
  def customerRfm(s: SparkSession, dir: String): DataFrame = {
    val horizon = lit("1998-12-31").cast("date")
    // customer-sized but consumed by FIVE branches (three rank passes —
    // each with DistRank's boundary action — the segment census, and
    // the final join spine): materialize once instead of re-running the
    // orders aggregation per consumer
    val rfm0 = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(datediff(horizon, max(to_date(col("o_orderdate"))))
          .cast("bigint").as("recency"),
        count(lit(1)).as("frequency"),
        Exact.sumDec(col("o_totalprice")).as("monetary"))
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_custkey").as("ck"),
        col("recency"), col("frequency"), col("monetary"))
    val rfm = CachedLeaf.checkpoint(rfm0)
    // DistRank orders ascend; the frequency/monetary quintiles rank
    // descending, expressed by exact negation (bigint count / decimal sum).
    // The three ranks are mutually INDEPENDENT (each orders the base rfm
    // frame), so they run as three parallel passes joined back on the
    // unique customer key — a fold would nest each pass's plan inside the
    // next and re-evaluate the chain once per downstream branch
    val ranked = Seq[(String, Seq[Column])](
      ("__rr", Seq(col("recency"), col("ck"))),
      ("__fr", Seq(-col("frequency"), col("ck"))),
      ("__mr", Seq(-col("monetary"), col("ck"))))
      .map { case (out, order) =>
        DistRank.rowNumber(rfm, "segment", order, "ck", out)
          .select(col("ck"), col(out))
      }
      .foldLeft(rfm) { (acc, r) => acc.join(r, Seq("ck")) }
    val counts = rfm.groupBy(col("segment")).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(counts), "segment")
      .withColumn("r", DistRank.ntileFromRank(5, col("__rr"), col("__n")))
      .withColumn("f", DistRank.ntileFromRank(5, col("__fr"), col("__n")))
      .withColumn("m", DistRank.ntileFromRank(5, col("__mr"), col("__n")))
      .groupBy(col("segment"), col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        Exact.sumDec(col("monetary")).cast("double").as("cell_spend"))
      .orderBy("segment", "r", "f", "m")
  }

  val customerRfmSql: String = s"""
    WITH rfm AS (
      SELECT c_mktsegment AS segment, o_custkey AS ck,
        date_diff('day', max(CAST(o_orderdate AS DATE)), DATE '1998-12-31')
          AS recency,
        count(*) AS frequency,
        SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS monetary
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    scored AS (
      SELECT segment, ck, monetary,
        ntile(5) OVER (PARTITION BY segment ORDER BY recency, ck) AS r,
        ntile(5) OVER (PARTITION BY segment ORDER BY frequency DESC, ck) AS f,
        ntile(5) OVER (PARTITION BY segment ORDER BY monetary DESC, ck) AS m
      FROM rfm)
    SELECT segment, CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
      CAST(m AS BIGINT) AS m, count(*) AS n_customers,
      CAST(CAST(SUM(monetary) AS VARCHAR) AS DOUBLE) AS cell_spend
    FROM scored GROUP BY 1, 2, 3, 4
    ORDER BY segment, r, f, m"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lineitem_unpivot" -> (lineitemUnpivot _),
    "events_gapfill" -> (eventsGapfill _),
    "customer_pct_rank" -> (customerPctRank _),
    "customer_rfm" -> (customerRfm _))

  val oracles: Map[String, String] = Map(
    "lineitem_unpivot" -> lineitemUnpivotSql,
    "events_gapfill" -> eventsGapfillSql,
    "customer_pct_rank" -> customerPctRankSql,
    "customer_rfm" -> customerRfmSql)
}
