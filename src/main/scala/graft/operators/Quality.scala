package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint checking — the generalization of the
  * reference's row-count sanity gate (`_bde_CheckTableCount`) to the rule
  * families an ETL engine runs after every load: domain/range rules,
  * primary-key uniqueness, referential integrity, and cross-column
  * (temporal) consistency.
  *
  * Scale design (100 TB): rules are grouped by what they scan —
  * - all DOMAIN/RANGE rules on a table fuse into ONE conditional-aggregate
  *   pass (`count(when(violation, 1))` columns stacked to rows afterward);
  *   adding a rule adds a column to the same scan, not a scan;
  * - UNIQUENESS is one map-side-combining groupBy on the key;
  * - REFERENTIAL integrity is one anti-join (broadcast when the parent is
  *   dimension-sized, shuffle otherwise);
  * - CROSS-TABLE rules ride the same join the query layer would use.
  * Each family contributes one scalar row per rule — the output is O(rules),
  * never O(data).
  */
object Quality extends graft.GateModule {

  private val OrderStatusDomain = Seq("O", "F", "P")

  /** The DQ report for the harness schema: six rules across four families.
    * `lineitem_ship_before_order` genuinely fails on the synthetic data —
    * the gate proves failing rules are counted, not just detected.
    */
  def dqCheck(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)

    // domain/range family: ONE pass per table for all its scan rules
    val ordersScan = o.agg(
      count(when(!col("o_orderstatus").isin(OrderStatusDomain: _*), 1))
        .as("orders_status_domain"),
      count(when(col("o_totalprice") <= 0.0, 1)).as("orders_price_positive"))
    val lineitemScan = l.agg(
      count(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1))
        .as("lineitem_qty_range"))

    // uniqueness family: one groupBy on the key; violations = extra rows
    val pk = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt") - 1), lit(0L)).as("n_violations"))
      .select(lit("orders_pk_unique").as("check_name"), col("n_violations"))

    // referential family: one anti-join child → parent
    val fk = l.join(o.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_fk_orders").as("check_name"), col("n_violations"))

    // cross-table family: the same join the query layer uses
    val temporal = l.join(o,
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(when(col("l_shipdate") < col("o_orderdate"), 1))
        .as("n_violations"))
      .select(lit("lineitem_ship_before_order").as("check_name"),
        col("n_violations"))

    def stack(agged: DataFrame): DataFrame = {
      val names = agged.columns
      agged.select(expr(s"stack(${names.length}, " +
        names.map(c => s"'$c', $c").mkString(", ") +
        ") as (check_name, n_violations)"))
    }

    stack(ordersScan).unionByName(stack(lineitemScan))
      .unionByName(pk).unionByName(fk).unionByName(temporal)
      .withColumn("status",
        when(col("n_violations") === 0, "ok").otherwise("fail"))
      .orderBy("check_name")
  }

  val dqCheckSql: String = """
    WITH checks AS (
      SELECT 'orders_status_domain' AS check_name,
        count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
          AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders_price_positive',
        count(*) FILTER (WHERE o_totalprice <= 0.0) FROM orders
      UNION ALL
      SELECT 'lineitem_qty_range',
        count(*) FILTER (WHERE l_quantity < 1.0 OR l_quantity > 50.0)
      FROM lineitem
      UNION ALL
      SELECT 'orders_pk_unique',
        CAST(coalesce(sum(cnt - 1), 0) AS BIGINT)
      FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'lineitem_fk_orders', count(*)
      FROM lineitem WHERE NOT EXISTS
        (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      UNION ALL
      SELECT 'lineitem_ship_before_order',
        count(*) FILTER (WHERE l_shipdate < o_orderdate)
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT check_name, n_violations,
      CASE WHEN n_violations = 0 THEN 'ok' ELSE 'fail' END AS status
    FROM checks ORDER BY check_name"""

  // ----------------------------------------------------- table profiling

  /** The profiled columns of `lineitem` and how their min/max stringify
    * deterministically on both engines: `dec` casts through DECIMAL(18,2)
    * (the data is exact cents, so the decimal round-trip is lossless and
    * sidesteps double→string formatting differences), everything else
    * casts directly.
    */
  private val ProfCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
    "l_linenumber" -> "int", "l_quantity" -> "dec",
    "l_extendedprice" -> "dec", "l_discount" -> "dec", "l_tax" -> "dec",
    "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "ts")

  /** ANALYZE-style per-column profile of the fact table — the statistics
    * collection pass a catalog/optimizer runs before planning 100-TB
    * queries (and the raw inputs to [[dqCheck]]-style rules): per column,
    * row count, non-null count, EXACT distinct count, and min/max (as
    * portable strings). Two scale-honest plan shapes, no per-column jobs:
    *
    *  - count/min/max for ALL columns ride ONE full-scan aggregate (a
    *    single 1-row map-side-combined pass, however many columns);
    *  - exact distincts stack the table into (column, value) rows and
    *    dedup with a two-level shuffle — (column, value) then column —
    *    so a hot column cannot skew a reducer, and swapping the exact
    *    dedup for [[Sketch]]'s KMV/HLL per group is a one-line change
    *    when exactness stops being worth the shuffle.
    *
    * min/max are computed on the TYPED column (never on the string form,
    * which would order lexicographically) and stringified after.
    */
  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def strOf(c: org.apache.spark.sql.Column, kind: String) = kind match {
      case "dec" => c.cast("decimal(18,2)").cast("string")
      case _     => c.cast("string")
    }
    val aggCols = ProfCols.flatMap { case (c, k) =>
      Seq(count(col(c)).as(s"nn_$c"),
        strOf(min(col(c)), k).as(s"mn_$c"),
        strOf(max(col(c)), k).as(s"mx_$c"))
    }
    val w = li.agg(count(lit(1)).as("n_rows"), aggCols: _*)
    val stacked = w.select(col("n_rows"),
      expr(s"stack(${ProfCols.size}, " +
        ProfCols.map { case (c, _) => s"'$c', nn_$c, mn_$c, mx_$c" }
          .mkString(", ") +
        ") as (cname, n_nonnull, min_s, max_s)"))
    val vals = li.select(ProfCols.map { case (c, k) =>
      strOf(col(c), k).as(c) }: _*)
      .select(expr(s"stack(${ProfCols.size}, " +
        ProfCols.map { case (c, _) => s"'$c', $c" }.mkString(", ") +
        ") as (cname, v)"))
    val nd = vals.filter(col("v").isNotNull).distinct()
      .groupBy("cname").agg(count(lit(1)).as("n_distinct"))
    stacked.join(nd, "cname")
      .select(col("cname"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy("cname")
  }

  private def sqlStrOf(x: String, kind: String) = kind match {
    case "dec" => s"CAST(CAST($x AS DECIMAL(18,2)) AS VARCHAR)"
    case _     => s"CAST($x AS VARCHAR)"
  }

  /** The one-pass wide-aggregate CTE + its unpivot, shared by the batch
    * profile oracle and the streaming maintainer's oracle.
    */
  private val ProfStatsSql: String = {
    val w = ProfCols.flatMap { case (c, k) =>
      Seq(s"count($c) AS nn_$c",
        s"${sqlStrOf(s"min($c)", k)} AS mn_$c",
        s"${sqlStrOf(s"max($c)", k)} AS mx_$c")
    }.mkString(",\n      ")
    val st = ProfCols.map { case (c, _) =>
      s"SELECT '$c' AS cname, nn_$c AS n_nonnull, mn_$c AS min_s, " +
        s"mx_$c AS max_s, n_rows FROM w"
    }.mkString("\n      UNION ALL ")
    s"""w AS (
      SELECT count(*) AS n_rows,
      $w
      FROM lineitem),
    st AS (
      $st)"""
  }

  val tableProfileSql: String = {
    val nd = ProfCols.map { case (c, k) =>
      s"SELECT '$c' AS cname, " +
        s"count(DISTINCT ${sqlStrOf(c, k)}) AS n_distinct FROM lineitem"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH $ProfStatsSql,
    nd AS (
      $nd)
    SELECT cname, n_rows, n_nonnull, n_distinct, min_s, max_s
    FROM st JOIN nd USING (cname)
    ORDER BY cname"""
  }

  /** Oracle of the STREAMING profile maintainer: the monotone/additive
    * half of the profile (no distinct counts — those are the sketch
    * maintainers' job).
    */
  val profileStatsSql: String = s"""
    WITH $ProfStatsSql
    SELECT cname, n_nonnull, min_s, max_s FROM st ORDER BY cname"""

  /** Shard count of the streaming profile state: min/max/count are
    * algebraic, so each column's state splits across shards that fold in
    * parallel and MERGE at read time — without this every row of the
    * table would funnel through one state partition per column (11 keys
    * total — measured as the slowest query in the whole bench before
    * sharding).
    */
  val ProfShards = 32

  /** Per-(shard, column) PARTIAL profiles of one batch — the vectorized
    * map-side-combined pre-aggregation the streaming profile maintainer
    * folds ([[graft.streaming.StreamProfile]]); in production this is the
    * per-micro-batch `foreachBatch` aggregate. Shape matters: all 11
    * columns' five aggregates ride ONE per-shard pass over the UNEXPLODED
    * table and the 32 result rows are stacked to (shard, column) rows
    * afterwards — the explode-then-group formulation sorts rows×columns
    * observation rows for the string-buffer SortAggregate (measured 15 s
    * at sf0.1 vs ~2 s for this shape). `count(str)` counts non-null
    * cells (both value forms are null exactly together).
    */
  def profilePartials(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val aggs = ProfCols.flatMap { case (c, k) =>
      val num = k match {
        case "int" | "dec" => col(c).cast("double")
        case _             => lit(null).cast("double")
      }
      val str = k match {
        case "dec" => col(c).cast("decimal(18,2)").cast("string")
        case _     => col(c).cast("string")
      }
      Seq(count(str).as(s"nn_$c"),
        min(num).as(s"mnn_$c"), max(num).as(s"mxn_$c"),
        min(str).as(s"mns_$c"), max(str).as(s"mxs_$c"))
    }
    li.groupBy((col("l_orderkey") % ProfShards).as("shard"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("shard"), expr(s"stack(${ProfCols.size}, " +
        ProfCols.map { case (c, k) =>
          s"'$c', '$k', nn_$c, mnn_$c, mxn_$c, mns_$c, mxs_$c"
        }.mkString(", ") +
        ") as (cname, kind, n_nonnull, min_num, max_num, min_str, max_str)"))
  }

  // -------------------------------------------------------------- data card

  /** Gate: the per-source DATA CARD — the datasheet table every corpus
    * release ships (Gebru et al., "Datasheets for Datasets"): per
    * source, volume (docs/tokens/languages), fixed-point mean quality,
    * near-dup exposure (members of any VERIFIED MinHash-LSH pair — the
    * memoized pair frame the dedup gates share), and PII exposure
    * (documents where any [[TextOps.textPii]] detector fires). Spark
    * detects PII by REGEX over the text while the oracle derives the
    * same flag from the planting arithmetic — an extraction slip on
    * either side breaks the hash, the `domain_blocklist` discipline.
    *
    * Scale: one conditional-aggregate pass over the document scan
    * joined with two doc-keyed signal frames (quality is computed
    * in-scan; the near-dup id set scales with corpus DUPLICATION, so
    * the join is left unhinted — AQE broadcasts it only when it
    * actually fits); the output is O(sources).
    */
  def sourceCard(s: SparkSession, dir: String): DataFrame = {
    import TextNorm.norm
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(norm, " ")).cast("long").as("n_tokens"))
    val nd = Dedup.minhashPairsOf(s, dir)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_nd", lit(true))
    val q = TextOps.qualityDf(s, dir)
      .select(col("doc_id"),
        expr("cast(round(quality * 1000000) as bigint)").as("q6"))
    val pii = TextOps.textPii(s, dir)
      .select(col("doc_id"),
        (col("n_emails") + col("n_urls") + col("n_phones") +
          col("n_ips") + col("n_ids") > 0).as("has_pii"))
    // no broadcast hint on the near-dup member set: it scales with
    // corpus duplication (often tens of percent of a web crawl) — a
    // plain equi-join lets AQE broadcast only when it actually fits
    base.join(nd, Seq("doc_id"), "left")
      .join(q, "doc_id").join(pii, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        expr("sum(q6) div count(1)").as("mean_quality_q6"),
        sum(when(col("is_nd"), 1L).otherwise(0L)).as("n_neardup_docs"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("mean_quality_q6"), col("n_neardup_docs"),
        col("n_pii_docs"),
        round(col("n_neardup_docs").cast("double") / col("n_docs"), 6)
          .as("pct_neardup"),
        round(col("n_pii_docs").cast("double") / col("n_docs"), 6)
          .as("pct_pii"))
      .orderBy("source")
  }

  val sourceCardSql: String = {
    import TextNorm.normSql
    s"""
    WITH ${Dedup.minhashPairsCtesSql.trim},
    ${TextOps.docQualityCteSql.trim},
    scb AS (SELECT doc_id, source, lang,
              len(string_split($normSql, ' ')) AS n_tokens
            FROM documents),
    scnd AS (SELECT DISTINCT doc_id FROM (
              SELECT id_a AS doc_id FROM mh_pairs
              UNION ALL SELECT id_b FROM mh_pairs)),
    scpi AS (SELECT doc_id,
               (doc_id % 7 = 0 OR doc_id % 5 = 0 OR doc_id % 9 = 0
                OR doc_id % 11 = 0) AS has_pii
             FROM documents)
    SELECT s.source, count(*) AS n_docs,
      CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens,
      CAST(count(DISTINCT s.lang) AS BIGINT) AS n_langs,
      CAST(sum(CAST(round(dq.quality * 1000000) AS BIGINT)) // count(*)
        AS BIGINT) AS mean_quality_q6,
      CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_neardup_docs,
      CAST(sum(CASE WHEN pi.has_pii THEN 1 ELSE 0 END) AS BIGINT)
        AS n_pii_docs,
      round(CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        AS DOUBLE) / count(*), 6) AS pct_neardup,
      round(CAST(sum(CASE WHEN pi.has_pii THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS pct_pii
    FROM scb s
    JOIN dq ON dq.doc_id = s.doc_id
    LEFT JOIN scnd nd ON nd.doc_id = s.doc_id
    JOIN scpi pi ON pi.doc_id = s.doc_id
    GROUP BY s.source ORDER BY s.source"""
  }

  // ------------------------------------------------------- quality drift

  /** Per-bucket (n_ref, n_cur) counts over the quality-decile buckets —
    * the MERGEABLE partials the streaming maintainer
    * ([[graft.streaming.StreamDrift]]) folds; both counters are plain
    * adds. Bucket = min(9, q6 div 100000); the reference/current split
    * is the deterministic doc-id parity (a stand-in for the production
    * split, which is by ingest window).
    */
  private[graft] def driftCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityDf(s, dir)
      .select(col("doc_id"),
        least(lit(9L), expr("cast(round(quality * 1000000) as bigint)" +
          " div 100000")).as("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_cur"))

  /** The read-time drift report over (maintained or one-shot) bucket
    * counters: all ten buckets emitted (zero-filled), reference/current
    * shares, and the Pearson χ² contribution per bucket — the drift
    * alarm statistic, chosen over PSI/KL because it is RATIONAL
    * arithmetic (no log), so both engines agree bit-for-bit.
    */
  private[graft] def driftReport(counters: DataFrame): DataFrame = {
    val s = counters.sparkSession
    val grid = s.range(10).select(col("id").as("k"))
    val full = grid.join(counters, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = full.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    val e = (col("t_cur") * col("n_ref")).cast("double") /
      col("t_ref").cast("double")
    val curD = col("n_cur").cast("double")
    full.crossJoin(broadcast(tot))
      .select(col("k"), col("n_ref"), col("n_cur"),
        round(col("n_ref").cast("double") / col("t_ref").cast("double"), 6)
          .as("ref_share"),
        round(curD / col("t_cur").cast("double"), 6).as("cur_share"),
        when(col("n_ref") > 0,
          round(((curD - e) * (curD - e)) / e, 6)).otherwise(lit(0.0))
          .as("chi2_term"),
        (col("n_ref") === 0).as("no_ref"))
      .orderBy("k")
  }

  /** Gate: the quality-distribution DRIFT MONITOR — the filter-health
    * alarm a production pipeline watches: per quality-decile bucket,
    * the reference window's share vs the current window's, and the
    * Pearson χ² contribution ((cur − e)²/e with e the count expected
    * under the reference shares). A rising Σχ² means the incoming
    * corpus no longer looks like the corpus the quality thresholds
    * were tuned on — the signal to re-tune `quality_tradeoff` /
    * `quality_rules` before the filters silently mis-cut. Buckets with
    * no reference mass are flagged (`no_ref`), not divided by zero.
    *
    * Scale: ONE conditional-aggregate corpus pass (10 buckets × 2
    * counters); the report is arithmetic over a 10-row frame with a
    * broadcast scalar total. The streaming twin keeps the same 20
    * longs of state current per ingest batch.
    */
  def qualityDrift(s: SparkSession, dir: String): DataFrame =
    driftReport(driftCounts(s, dir))

  val qualityDriftSql: String = s"""
    WITH ${TextOps.docQualityCteSql.trim},
    qdb AS (SELECT doc_id,
              least(9, CAST(round(quality * 1000000) AS BIGINT) // 100000)
                AS k
            FROM dq),
    qdc AS (SELECT k,
              CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ref,
              CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cur
            FROM qdb GROUP BY k),
    qdf AS (SELECT g.k, coalesce(n_ref, 0) AS n_ref,
              coalesce(n_cur, 0) AS n_cur
            FROM (SELECT unnest(generate_series(0, 9)) AS k) g
            LEFT JOIN qdc ON g.k = qdc.k),
    qdt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
              CAST(sum(n_cur) AS BIGINT) AS t_cur
            FROM qdf)
    SELECT CAST(k AS BIGINT) AS k, n_ref, n_cur,
      round(CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE), 6) AS ref_share,
      round(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE), 6) AS cur_share,
      CASE WHEN n_ref > 0 THEN
        round(((CAST(n_cur AS DOUBLE)
                 - CAST(t_cur * n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE))
              * (CAST(n_cur AS DOUBLE)
                 - CAST(t_cur * n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)))
          / (CAST(t_cur * n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)), 6)
      ELSE 0.0 END AS chi2_term,
      n_ref = 0 AS no_ref
    FROM qdf, qdt ORDER BY k"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_check" -> (dqCheck(_, _)),
    "table_profile" -> (tableProfile(_, _)),
    "quality_drift" -> (qualityDrift _),
    "source_card" -> (sourceCard _))

  val oracles: Map[String, String] = Map(
    "dq_check" -> dqCheckSql,
    "table_profile" -> tableProfileSql,
    "quality_drift" -> qualityDriftSql,
    "source_card" -> sourceCardSql)
}
