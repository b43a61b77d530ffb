package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decision-support join strategies the analytics surface was still
  * missing: semi-join (EXISTS), anti-join against a scalar-subquery
  * threshold (NOT EXISTS + above-average), HAVING-driven join-back,
  * distinct-aggregate with an exclusion list, and a set-difference.
  *
  * These are the plan shapes a query engine must pick correctly at 100 TB:
  * an EXISTS that materializes the inner side is dead on arrival — it must
  * become a (shuffle or broadcast) left-semi hash join; a NOT IN must
  * become an anti join, never a per-row subquery. Declaring them with the
  * DataFrame API (`"left_semi"` / `"left_anti"` join types) guarantees
  * Catalyst sees the intent directly instead of having to de-correlate.
  */
object JoinShapes extends graft.GateModule {

  /** Order-priority count for orders with at least one lineitem shipped
    * after the order date (TPC-H Q4 shape; the synthetic schema has no
    * commitdate/receiptdate, so shipdate-vs-orderdate stands in for the
    * late-delivery predicate). The EXISTS is a left-semi join on the order
    * key with a residual date comparison: both sides shuffle on the key
    * once, the semi join emits each order at most once (no row explosion
    * from multi-lineitem orders), and the priority rollup is map-side
    * combinable.
    */
  def q4Semijoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4SemijoinSql: String = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** Large-volume orders (TPC-H Q18 shape): orders whose total lineitem
    * quantity exceeds a threshold, joined back to customer/order detail.
    * The HAVING side reduces lineitem to one exact-decimal sum per order
    * BEFORE any join (map-side combine, then the threshold filter drops
    * ~99% of groups), so the join-back probes with a tiny build side —
    * broadcast after AQE sees the post-filter size.
    */
  def q18Having(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(Exact.sumDec(col("l_quantity")).as("qty_dec"))
      .filter(col("qty_dec") > lit(250))
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("qty_dec").cast("double").as("total_qty"))
      .orderBy("o_orderkey")
  }

  val q18HavingSql: String = """
    WITH big AS (
      SELECT l_orderkey,
        SUM(CAST(l_quantity AS DECIMAL(30,10))) AS qty_dec
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,10))) > 250)
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      CAST(CAST(qty_dec AS VARCHAR) AS DOUBLE) AS total_qty
    FROM orders JOIN big ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey"""

  /** Dormant high-balance customers (TPC-H Q22 shape): customers whose
    * balance exceeds the positive-balance average and who placed no order
    * since 2000, rolled up per nation. The scalar subquery is one
    * aggregated row broadcast over the customer scan; the above-average
    * comparison stays in exact decimals (`bal · n > Σbal` — no division,
    * so no cross-engine rounding surface); the NOT EXISTS is a left-anti
    * join on the customer key against only the date-filtered orders
    * (filter pushed below the anti join — the probe side shrinks before
    * it shuffles).
    */
  def q22Anti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val stats = c.filter(col("c_acctbal") > 0)
      .agg(Exact.sumDec(col("c_acctbal")).as("tot"), count(lit(1)).as("n"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    c.crossJoin(broadcast(stats))
      .filter(col("c_acctbal").cast(Exact.wide) * col("n") > col("tot"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        Exact.sumD(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val q22AntiSql: String = s"""
    WITH s AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS tot, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey, COUNT(*) AS numcust,
      ${Exact.sqlSum("c_acctbal")} AS totacctbal
    FROM customer, s
    WHERE CAST(c_acctbal AS DECIMAL(30,10)) * n > tot
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""

  /** Supplier diversity per part attribute (TPC-H Q16 shape): distinct
    * suppliers per (brand, type, size), excluding a denylist (suppliers in
    * arrears — the synthetic stand-in for Q16's complaint filter). The
    * part dim and the denylist broadcast; `countDistinct` runs as the
    * two-phase distinct-aggregate expand (partial distinct per partition,
    * then the merge), so no (group, supplier) pair list ever concentrates
    * on one node.
    */
  def q16Distinct(s: SparkSession, dir: String): DataFrame = {
    val links = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
    val p = Tables.part(s, dir)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    links
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q16DistinctSql: String = """
    SELECT p_brand, p_type, p_size,
      COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** Churned buyers: customers who ordered in 1995-H1 but not in 1995-H2 —
    * the relational set difference, declared with `except` so Catalyst
    * plans it as aggregate + left-anti join rather than anything bespoke.
    * Both sides are distinct key sets (the dedup happens map-side before
    * the shuffle); at scale this is two narrow scans and one key-wise
    * shuffle.
    */
  def ordersExcept(s: SparkSession, dir: String): DataFrame = {
    def buyers(lo: String, hi: String) = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
        col("o_orderdate") < lit(hi).cast("timestamp"))
      .select("o_custkey").distinct()
    buyers("1995-01-01", "1995-07-01")
      .except(buyers("1995-07-01", "1996-01-01"))
      .orderBy("o_custkey")
  }

  val ordersExceptSql: String = """
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    ORDER BY o_custkey"""

  // ------------------------------------------------- Bloom-filter join prune

  private val BloomM = 8192 // filter bits
  private val BloomK = 3    // probes per key

  /** Bloom-filter semi-join pruning with an exactness audit — the runtime
    * row-filtering trick every warehouse ships (Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter.*` builds the same artifact
    * implicitly): hash the (small) key side into an m-bit filter, probe
    * the big side's join keys, and only rows passing all k probes reach
    * the real join. The audit runs the exact semi-join next to the pruned
    * one and reports the false-positive rate — the statistic that sizes m
    * for a target prune ratio.
    *
    * Scale shape: the bit set is O(k·|keys|) positions — a broadcast dim;
    * the big side probes via its DISTINCT key set (the per-key decision is
    * key-functional, so the row-level filter is a semi-join against the
    * passed keys, never a per-row recompute); nothing about the big side
    * ever shuffles for the filter itself. Zero false negatives by
    * construction: every true key's probes are in the filter.
    */
  private def posSql(c: String, i: Int): String =
    s"(cast(conv(substring(md5(concat(cast($c as string), ':$i')), " +
      s"1, 8), 16, 10) as bigint) % $BloomM)"

  /** The filter as ONE broadcastable row: `bloom` maps 64-bit word index →
    * OR of the set bits in that word (≤ m/64 entries — 8192 bits pack into
    * ≤128 map entries). Built by a tiny word-keyed `bit_or` aggregation
    * over the key side's probe positions; the big side never participates.
    */
  private[operators] def bloomMask(keys: DataFrame, c: String): DataFrame =
    keys.select(explode(array((0 until BloomK).map(i =>
        expr(posSql(c, i))): _*)).as("p"))
      .select(expr("p div 64").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("mask"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("mask"))))
        .as("bloom"))

  /** Per-key set-bit observations for the STREAMING mask maintainer
    * ([[graft.streaming.StreamBloom]]): (32-bit word index, bit mask) per
    * probe of the gate's key set. 32-bit words keep every mask value
    * positive, so the OR algebra is portable through DuckDB's BIGINT
    * `bit_or` without sign games.
    */
  private[graft] def bloomObs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("k"))
      .select(explode(array((0 until BloomK).map(i =>
        expr(posSql("k", i))): _*)).as("p"))
      .select(expr("p div 32").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").as("m"))

  /** Oracle for the streaming mask gate: the same word → OR-of-bits table
    * built directly in SQL.
    */
  val streamBloomSql: String = s"""
    WITH keys AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 = 0),
    probes AS (SELECT unnest(generate_series(0, ${BloomK - 1})) AS i),
    pos AS (
      SELECT
        ('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || i), 1, 8))::BIGINT
          % $BloomM AS p
      FROM keys, probes)
    SELECT p // 32 AS w,
      CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS BIGINT)
        AS mask
    FROM pos GROUP BY 1 ORDER BY w"""

  /** All-probes-set row predicate over the packed mask column `bloom`. */
  private def probeSql(c: String): String =
    (0 until BloomK).map { i =>
      val p = posSql(c, i)
      s"((shiftright(coalesce(element_at(bloom, $p div 64), " +
        s"cast(0 as bigint)), cast($p % 64 as int)) & 1) = 1)"
    }.mkString(" AND ")

  /** The production pruning path: rows of `big` whose `keyCol` passes all
    * k probes against the packed broadcast bitmask — a per-row bit-test
    * expression (what Spark's own runtime bloom filter injects as
    * `might_contain`), NOT a key-set semi-join. The probe side does zero
    * shuffle work for the filter: one broadcast of the 1-row mask and a
    * codegen'd predicate in the scan's filter. Zero false negatives by
    * construction; false positives are the audited fp rate.
    */
  def bloomPruneRows(big: DataFrame, keyCol: String,
                     keys: DataFrame, keysCol: String): DataFrame =
    big.crossJoin(broadcast(bloomMask(keys, keysCol)))
      .filter(expr(probeSql(keyCol)))
      .drop("bloom")

  def bloomPrune(s: SparkSession, dir: String): DataFrame = {
    def posCol(c: String, i: Int) = expr(posSql(c, i))
    val keys = Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("k"))
    val bits = keys.select(explode(
        array((0 until BloomK).map(i => posCol("k", i)): _*)).as("p"))
      .distinct()
    val li = Tables.lineitem(s, dir)
    val cand = li.select(col("l_orderkey").as("ck")).distinct()
    val passed = cand.select(col("ck"), explode(
        array((0 until BloomK).map(i => posCol("ck", i)): _*)).as("p"))
      .join(broadcast(bits), "p")
      .groupBy(col("ck")).agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === BloomK).select("ck")
    val exact = cand.join(keys, cand("ck") === keys("k"), "left_semi")
    // rows through the ROW-LEVEL path — same pass/fail decision per key as
    // the key-set audit above (a key passes iff all k probe bits are set),
    // but with the at-scale plan: no distinct, no shuffle on the fact side
    val rowsPassed = bloomPruneRows(li, "l_orderkey", keys, "k")
    val rowsExact = li.join(keys, li("l_orderkey") === keys("k"), "left_semi")
    keys.agg(count(lit(1)).as("n_keys"))
      .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand_keys")))
      .crossJoin(passed.agg(count(lit(1)).as("n_passed_keys")))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact_keys")))
      .crossJoin(rowsPassed.agg(count(lit(1)).as("n_rows_passed")))
      .crossJoin(rowsExact.agg(count(lit(1)).as("n_rows_exact")))
      .select(col("n_keys"), col("bits_set"), col("n_cand_keys"),
        col("n_passed_keys"), col("n_exact_keys"),
        (col("n_passed_keys") - col("n_exact_keys")).as("n_fp_keys"),
        col("n_rows_passed"), col("n_rows_exact"),
        // guard: every candidate being a true key leaves no negatives to
        // measure a false-positive rate over — report 0.0, not NULL/NaN
        when(col("n_cand_keys") === col("n_exact_keys"), lit(0.0))
          .otherwise(
            round((col("n_passed_keys") - col("n_exact_keys")).cast("double") /
              (col("n_cand_keys") - col("n_exact_keys")).cast("double"), 6))
          .as("fp_rate"))
  }

  val bloomPruneSql: String = s"""
    WITH keys AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 = 0),
    probes AS (SELECT unnest(generate_series(0, ${BloomK - 1})) AS i),
    bits AS (
      SELECT DISTINCT
        ('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || i), 1, 8))::BIGINT
          % $BloomM AS p
      FROM keys, probes),
    cand AS (SELECT DISTINCT l_orderkey AS ck FROM lineitem),
    cpos AS (
      SELECT ck,
        ('0x' || substring(md5(CAST(ck AS VARCHAR) || ':' || i), 1, 8))::BIGINT
          % $BloomM AS p
      FROM cand, probes),
    passed AS (
      SELECT ck FROM cpos JOIN bits USING (p)
      GROUP BY ck HAVING count(*) = $BloomK),
    exact AS (SELECT ck FROM cand WHERE ck IN (SELECT k FROM keys)),
    agg AS (
      SELECT
        (SELECT count(*) FROM keys) AS n_keys,
        (SELECT count(*) FROM bits) AS bits_set,
        (SELECT count(*) FROM cand) AS n_cand_keys,
        (SELECT count(*) FROM passed) AS n_passed_keys,
        (SELECT count(*) FROM exact) AS n_exact_keys,
        (SELECT count(*) FROM lineitem
         WHERE l_orderkey IN (SELECT ck FROM passed)) AS n_rows_passed,
        (SELECT count(*) FROM lineitem
         WHERE l_orderkey IN (SELECT k FROM keys)) AS n_rows_exact)
    SELECT n_keys, bits_set, n_cand_keys, n_passed_keys, n_exact_keys,
      n_passed_keys - n_exact_keys AS n_fp_keys,
      n_rows_passed, n_rows_exact,
      CASE WHEN n_cand_keys = n_exact_keys THEN 0.0
           ELSE round(CAST(n_passed_keys - n_exact_keys AS DOUBLE) /
             CAST(n_cand_keys - n_exact_keys AS DOUBLE), 6) END AS fp_rate
    FROM agg"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q4_semijoin" -> (q4Semijoin _),
    "q18_having" -> (q18Having _),
    "q22_anti" -> (q22Anti _),
    "q16_distinct" -> (q16Distinct _),
    "orders_except" -> (ordersExcept _),
    "bloom_prune" -> (bloomPrune _))

  val oracles: Map[String, String] = Map(
    "q4_semijoin" -> q4SemijoinSql,
    "q18_having" -> q18HavingSql,
    "q22_anti" -> q22AntiSql,
    "q16_distinct" -> q16DistinctSql,
    "orders_except" -> ordersExceptSql,
    "bloom_prune" -> bloomPruneSql)
}
