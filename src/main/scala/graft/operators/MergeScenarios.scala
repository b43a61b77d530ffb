package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic merge/changeset scenarios over the harness `orders` table,
  * exposed through the driver's correctness gate. The scenario frames are
  * built with arithmetic predicates so the DuckDB oracle can reconstruct
  * them exactly; the Spark side runs the generic [[Merge]] operators.
  *
  * Scenario: the current table is `orders` minus keys ending in 3 (each row
  * extended with a synthetic unique column `o_uniq = 2*o_orderkey`). A
  * level-5 dataset then announces inserts (keys ending in 3 divisible by
  * 3), updates (keys ending in 0/4 divisible by 7, price+10), no-op images
  * (keys ending in 5/6 divisible by 7), unique-column changes (keys ending
  * in 9 divisible by 9, `o_uniq := -key`) and deletes (keys ending in 2
  * divisible by 11, announced without an image).
  */
object MergeScenarios extends graft.GateModule {

  /** The scenario's table registry in the reference `tables.conf` format
    * (`BdeUpload.pm:125 _read_config`): the key column driving
    * `apply_changeset` and the row tolerances driving `row_count_check`
    * come from here, not from code — declaring a new table is a config
    * edit, as in the reference. `row_tol=e,w` is (error, warning).
    */
  private val RegistryConf = """
    # graft gate registry (reference tables.conf format)
    TABLE l5_change_table                                  files xaud
    TABLE orders    key=o_orderkey  row_tol=0.15,0.02      files ord
    TABLE lineitem  key=l_orderkey  row_tol=0.20,0.95      files lin1 lin2
  """

  private[graft] val registry: Map[String, graft.sources.BdeTableDef] =
    graft.sources.BdeConfig.parseTables(RegistryConf).map(t => t.name -> t).toMap

  private val ordersDef = registry("orders")
  private val OrdersKey = ordersDef.keyColumn.get

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).withColumn("o_uniq", col("o_orderkey") * 2)

  def cur(s: SparkSession, dir: String): DataFrame =
    base(s, dir).filter(col("o_orderkey") % 10 =!= 3)

  def incoming(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val k = col("o_orderkey")
    val inserts = b.filter(k % 10 === 3 && k % 3 === 0)
    val updates = b.filter((k % 10).isin(0, 4) && k % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    val noops = b.filter((k % 10).isin(5, 6) && k % 7 === 0)
    val uniqChanges = b.filter(k % 10 === 9 && k % 9 === 0)
      .withColumn("o_uniq", -k)
    inserts.unionByName(updates).unionByName(noops).unionByName(uniqChanges)
  }

  def changeKeys(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    incoming(s, dir).select("o_orderkey")
      .unionByName(base(s, dir).filter(k % 10 === 2 && k % 11 === 0)
        .select("o_orderkey"))
  }

  /** Shared oracle CTE prefix mirroring the scenario frames. */
  private val Ctes = """
    WITH base AS (SELECT *, o_orderkey * 2 AS o_uniq FROM orders),
    cur AS (SELECT * FROM base WHERE o_orderkey % 10 <> 3),
    inc AS (
      SELECT * FROM base WHERE o_orderkey % 10 = 3 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0,
             o_orderdate, o_orderpriority, o_uniq
        FROM base WHERE o_orderkey % 10 IN (0, 4) AND o_orderkey % 7 = 0
      UNION ALL
      SELECT * FROM base WHERE o_orderkey % 10 IN (5, 6) AND o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, -o_orderkey
        FROM base WHERE o_orderkey % 10 = 9 AND o_orderkey % 9 = 0),
    chg AS (
      SELECT o_orderkey FROM inc
      UNION
      SELECT o_orderkey FROM base
        WHERE o_orderkey % 10 = 2 AND o_orderkey % 11 = 0)"""

  private val EqCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_uniq")
  private def eqSql(a: String, b: String): String =
    EqCols.map(c => s"$a.$c IS NOT DISTINCT FROM $b.$c").mkString(" AND ")

  /** Level-0 incremental diff: snapshot = a modified copy of orders
    * (keys ending in 7 dropped, every 5th price bumped) diffed against
    * `cur`; one action row per key.
    */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val snapshot = base(s, dir).filter(k % 10 =!= 7)
      .withColumn("o_totalprice",
        col("o_totalprice") + when(k % 5 === 0, 1.0).otherwise(0.0))
    Merge.diffActions(cur(s, dir), snapshot, "o_orderkey")
      .orderBy("o_orderkey")
  }

  val tableDiffSql: String = s"""$Ctes,
    snap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END
          AS o_totalprice,
        o_orderdate, o_orderpriority, o_uniq
      FROM base WHERE o_orderkey % 10 <> 7)
    SELECT COALESCE(cur.o_orderkey, snap.o_orderkey) AS o_orderkey,
      CASE WHEN snap.o_orderkey IS NULL THEN 'D'
           WHEN cur.o_orderkey IS NULL THEN 'I'
           WHEN ${eqSql("cur", "snap")} THEN '0'
           ELSE 'U' END AS action
    FROM cur FULL OUTER JOIN snap ON cur.o_orderkey = snap.o_orderkey
    ORDER BY o_orderkey"""

  /** Level-5 apply: classify against announced keys, apply, dump the merged
    * table. The scenario frames are cached: `cur`/`incoming`/`actions` each
    * appear several times in the apply plan, and without persistence the
    * whole derivation subtree is re-scanned at every appearance (~150
    * parquet scans for this one query).
    */
  // the scenario frames appear several times in each apply plan and across
  // three gate queries — cached once per (session, dir) via Memo (without
  // persistence the whole derivation subtree re-scans at every appearance:
  // ~150 parquet scans for the apply alone)
  private def curC(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "merge_cur", dir)(cur(s, dir))
  private def incomingC(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "merge_incoming", dir)(incoming(s, dir))
  private def actionsC(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "merge_actions", dir)(
      Merge.changesetActions(curC(s, dir), incomingC(s, dir),
        changeKeys(s, dir), OrdersKey, uniqueCols = Seq("o_uniq")))

  def applyChangeset(s: SparkSession, dir: String): DataFrame =
    Merge.applyActions(curC(s, dir), incomingC(s, dir), actionsC(s, dir),
      OrdersKey).orderBy(OrdersKey)

  // Merged result = cur minus every announced key that leaves (deletes and
  // replaced images) plus every incoming image: for '0' keys the image is
  // row-identical to cur, so replacing is equivalent to retaining.
  val applyChangesetSql: String = s"""$Ctes
    SELECT * FROM cur
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
    UNION ALL
    SELECT * FROM inc
    ORDER BY o_orderkey"""

  /** Roll back the level-5 apply: the merged table minus the inverted
    * changeset must be byte-identical to the pre-apply table. The Spark
    * side goes the long way (classify → apply → invert → re-apply with the
    * old images); the oracle reconstructs the pre-apply table directly, so
    * a hash match proves apply ∘ invert = identity.
    */
  def changesetInvert(s: SparkSession, dir: String): DataFrame = {
    val applied = graft.Memo.cachedLeaf(s, "merge_applied", dir)(
      Merge.applyActions(curC(s, dir), incomingC(s, dir), actionsC(s, dir),
        OrdersKey))
    Merge.applyActions(applied, curC(s, dir),
        Merge.invertActions(actionsC(s, dir)), OrdersKey)
      .orderBy(OrdersKey)
  }

  val changesetInvertSql: String = s"""$Ctes
    SELECT * FROM cur ORDER BY o_orderkey"""

  /** Per-action counts of the level-5 classification (the reference's
    * insert/update/null-update/delete bookkeeping).
    */
  def mergeCounts(s: SparkSession, dir: String): DataFrame =
    Merge.counts(actionsC(s, dir))

  val mergeCountsSql: String = s"""$Ctes,
    c AS (SELECT * FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM chg)),
    i AS (SELECT * FROM inc WHERE o_orderkey IN (SELECT o_orderkey FROM chg)),
    acts AS (
      SELECT CASE WHEN i.o_orderkey IS NULL THEN 'D'
                  WHEN c.o_orderkey IS NULL THEN 'I'
                  WHEN ${eqSql("c", "i")} THEN '0'
                  WHEN NOT (c.o_uniq IS NOT DISTINCT FROM i.o_uniq) THEN 'X'
                  ELSE 'U' END AS action
      FROM c FULL OUTER JOIN i ON c.o_orderkey = i.o_orderkey)
    SELECT action, COUNT(*) AS n FROM acts GROUP BY action ORDER BY action"""

  /** Bookkeeping of an actual apply (`_bde_RecordDatasetLoaded` shape): the
    * level-5 classification above, aggregated to the per-(dataset, table)
    * stats row the reference persists after every load. The oracle
    * recomputes the same classification and counts independently.
    */
  def applyBookkeeping(s: SparkSession, dir: String): DataFrame =
    Merge.bookkeeping(actionsC(s, dir),
      dataset = "20260101000000", table = "orders")

  val applyBookkeepingSql: String = s"""$Ctes,
    c AS (SELECT * FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM chg)),
    i AS (SELECT * FROM inc WHERE o_orderkey IN (SELECT o_orderkey FROM chg)),
    acts AS (
      SELECT CASE WHEN i.o_orderkey IS NULL THEN 'D'
                  WHEN c.o_orderkey IS NULL THEN 'I'
                  WHEN ${eqSql("c", "i")} THEN '0'
                  WHEN NOT (c.o_uniq IS NOT DISTINCT FROM i.o_uniq) THEN 'X'
                  ELSE 'U' END AS action
      FROM c FULL OUTER JOIN i ON c.o_orderkey = i.o_orderkey)
    SELECT '20260101000000' AS dataset, 'orders' AS tablename,
      COUNT(*) FILTER (WHERE action IN ('I', 'X')) AS n_insert,
      COUNT(*) FILTER (WHERE action = 'U') AS n_update,
      COUNT(*) FILTER (WHERE action = '0') AS n_null_update,
      COUNT(*) FILTER (WHERE action IN ('D', 'X')) AS n_delete
    FROM acts"""

  /** Missed-key repair: incoming images that re-key existing rows (same
    * `o_uniq`, different key) force the old keys into the change set.
    */
  def fixChangedIncKeys(s: SparkSession, dir: String): DataFrame = {
    val b = graft.Memo.cachedLeaf(s, "merge_base", dir)(base(s, dir))
    val rekeyed = b.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000)
    Merge.missedKeyChanges(b, rekeyed, rekeyed.select("o_orderkey"),
      "o_orderkey", uniqueCols = Seq("o_uniq"))
      .orderBy("o_orderkey")
  }

  val fixChangedIncKeysSql: String = """
    WITH base AS (SELECT *, o_orderkey * 2 AS o_uniq FROM orders),
    rekeyed AS (
      SELECT o_orderkey + 1000000 AS o_orderkey, o_uniq FROM base
      WHERE o_orderkey % 13 = 0)
    SELECT DISTINCT base.o_orderkey AS o_orderkey
    FROM rekeyed JOIN base ON rekeyed.o_uniq = base.o_uniq
      AND rekeyed.o_orderkey <> base.o_orderkey
    WHERE base.o_orderkey NOT IN (SELECT o_orderkey FROM rekeyed)
    ORDER BY o_orderkey"""

  /** Count-tolerance validation over three derived table pairs: identical
    * (ok), ~10% shrink (warn), ~33% shrink (error) — thresholds from the
    * registry's `row_tol` for `orders` (error 0.15, warning 0.02).
    */
  def rowCountCheck(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val checks =
      o.agg(count(lit(1)).as("n")).select(
        lit("orders_identical").as("check_name"),
        col("n").as("expected_count"), col("n").as("actual_count"))
        .unionByName(o.agg(count(lit(1)).as("e"),
          count(when(col("o_orderkey") % 10 =!= 3, 1)).as("a"))
          .select(lit("orders_drop_mod10").as("check_name"),
            col("e").as("expected_count"), col("a").as("actual_count")))
        .unionByName(o.agg(count(lit(1)).as("e"),
          count(when(col("o_orderkey") % 3 =!= 0, 1)).as("a"))
          .select(lit("orders_drop_mod3").as("check_name"),
            col("e").as("expected_count"), col("a").as("actual_count")))
    Merge.rowCountChecks(checks,
      warnTol = ordersDef.rowTolWarning.get, errTol = ordersDef.rowTolError.get)
      .orderBy("check_name")
  }

  val rowCountCheckSql: String = """
    WITH checks AS (
      SELECT 'orders_identical' AS check_name, COUNT(*) AS expected_count,
             COUNT(*) AS actual_count FROM orders
      UNION ALL
      SELECT 'orders_drop_mod10', COUNT(*),
             COUNT(*) FILTER (WHERE o_orderkey % 10 <> 3) FROM orders
      UNION ALL
      SELECT 'orders_drop_mod3', COUNT(*),
             COUNT(*) FILTER (WHERE o_orderkey % 3 <> 0) FROM orders)
    SELECT check_name, expected_count, actual_count,
      CAST(actual_count AS DOUBLE) / CAST(expected_count AS DOUBLE) AS ratio,
      CASE WHEN ABS(CAST(actual_count AS DOUBLE) / CAST(expected_count AS DOUBLE) - 1.0) > 0.15 THEN 'error'
           WHEN ABS(CAST(actual_count AS DOUBLE) / CAST(expected_count AS DOUBLE) - 1.0) > 0.02 THEN 'warn'
           ELSE 'ok' END AS status
    FROM checks ORDER BY check_name"""

  /** Incremental aggregate maintenance across the level-5 apply: the
    * post-apply per-status (count, exact price sum) computed from the
    * pre-apply aggregate state plus the changeset ONLY — the oracle
    * recomputes the same aggregate directly over the merged table, so a
    * hash match proves the incremental path is exactly equivalent to a
    * full rescan.
    */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val oldState = Merge.aggState(curC(s, dir), "o_orderstatus", "o_totalprice")
    Merge.incrementalAgg(oldState, curC(s, dir), incomingC(s, dir),
        actionsC(s, dir), OrdersKey, "o_orderstatus", "o_totalprice")
      .select(col("o_orderstatus"), col("n"),
        col("sum_dec").cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val incrementalAggSql: String = s"""$Ctes,
    merged AS (
      SELECT * FROM cur
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
      UNION ALL
      SELECT * FROM inc)
    SELECT o_orderstatus, COUNT(*) AS n,
      ${graft.Exact.sqlSum("o_totalprice")} AS sum_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Incremental maintenance of the `orders ⋈ customer` materialized join
    * under the level-5 apply: departing keys anti-join out of the old
    * result, entering images join the (broadcast) dimension — the fact
    * table is never rescanned. The oracle recomputes the join over the
    * merged table directly, so a hash match proves the delta rule exact.
    */
  def incrementalJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    val old = graft.Memo.cachedLeaf(s, "merge_join_old", dir) {
      val f = curC(s, dir)
      f.join(broadcast(dim), f("o_custkey") === dim("c_custkey"))
        .select((f.columns.map(col) :+ col("c_mktsegment")).toIndexedSeq: _*)
    }
    Merge.incrementalJoin(old, incomingC(s, dir), actionsC(s, dir), OrdersKey,
        dim, "c_custkey", "o_custkey")
      .orderBy(OrdersKey)
  }

  val incrementalJoinSql: String = s"""$Ctes,
    merged AS (
      SELECT * FROM cur
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
      UNION ALL
      SELECT * FROM inc)
    SELECT m.*, c_mktsegment
    FROM merged m JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey"""

  /** Increment-key validation (`bde_TableKeyIsValid`
    * `sql/02-bde_control_functions.sql.in:2839`; `_bde_GetValidIncrementKey`
    * `:1538` nulls the key and refuses incremental mode when it fails): the
    * reference accepts only a single NOT NULL integer/bigint column under a
    * plain unique index. Parquet has no index catalog, so the audit runs on
    * the data itself — each candidate column must be integer-typed,
    * null-free and fully distinct. One corpus scan: the candidates are
    * exploded into a (column, value) stream and all three statistics come
    * from one aggregation keyed by column name (distinct-count is exact, as
    * the reference's uniqueness requirement demands; at 100 TB the shuffle
    * key is (column, value), so no column concentrates on one task).
    */
  private val KeyCandidates = Seq("o_orderkey", "o_uniq", "o_custkey",
    "o_orderstatus")
  // the oracle's EXPECTED integer columns; the Spark side derives the same
  // set from the live schema (below), as the reference reads the catalog
  private val IntCandidates = Seq("o_orderkey", "o_uniq", "o_custkey")

  def validIncKey(s: SparkSession, dir: String): DataFrame = {
    val c = curC(s, dir)
    // int_type from the actual DataFrame schema — the analog of the
    // reference reading pg_attribute/format_type — so the type leg of the
    // audit observes the real table; the SQL oracle pins the expected set
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val intCols = c.schema.fields.collect {
      case f if KeyCandidates.contains(f.name) &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) =>
        f.name
    }.toSeq
    val kv = c.select(explode(array(KeyCandidates.map(n =>
        struct(lit(n).as("key_column"), col(n).cast("string").as("v"))): _*))
        .as("kv"))
      .select(col("kv.key_column").as("key_column"), col("kv.v").as("v"))
    kv.groupBy("key_column")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        countDistinct(col("v")).as("n_distinct"))
      .withColumn("int_type", col("key_column").isin(intCols: _*))
      .withColumn("is_valid",
        col("int_type") && col("n_null") === 0 &&
          col("n_distinct") === col("n_rows"))
      .orderBy("key_column")
  }

  val validIncKeySql: String = {
    val ints = IntCandidates.map("'" + _ + "'").mkString(", ")
    s"""$Ctes,
    kv AS (
      SELECT 'o_orderkey' AS key_column, CAST(o_orderkey AS VARCHAR) AS v FROM cur
      UNION ALL SELECT 'o_uniq', CAST(o_uniq AS VARCHAR) FROM cur
      UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM cur
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM cur)
    SELECT key_column, count(*) AS n_rows,
      count(*) - count(v) AS n_null,
      count(DISTINCT v) AS n_distinct,
      key_column IN ($ints) AS int_type,
      key_column IN ($ints) AND count(*) = count(v)
        AND count(DISTINCT v) = count(*) AS is_valid
    FROM kv GROUP BY key_column ORDER BY key_column"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "table_diff" -> (tableDiff _),
    "valid_inc_key" -> (validIncKey _),
    "incremental_join" -> (incrementalJoin _),
    "apply_changeset" -> (applyChangeset _),
    "apply_bookkeeping" -> (applyBookkeeping _),
    "merge_counts" -> (mergeCounts _),
    "fix_changed_inc_keys" -> (fixChangedIncKeys _),
    "row_count_check" -> (rowCountCheck _),
    "incremental_agg" -> (incrementalAgg _),
    "changeset_invert" -> (changesetInvert _))

  val oracles: Map[String, String] = Map(
    "table_diff" -> tableDiffSql,
    "valid_inc_key" -> validIncKeySql,
    "incremental_join" -> incrementalJoinSql,
    "apply_changeset" -> applyChangesetSql,
    "apply_bookkeeping" -> applyBookkeepingSql,
    "merge_counts" -> mergeCountsSql,
    "fix_changed_inc_keys" -> fixChangedIncKeysSql,
    "row_count_check" -> rowCountCheckSql,
    "incremental_agg" -> incrementalAggSql,
    "changeset_invert" -> changesetInvertSql)
}
