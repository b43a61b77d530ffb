package graft.sources

import graft.Tables
import graft.operators.Merge
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated scenarios for the upload pipeline's bookkeeping tail:
  * post-load hooks (`bde_ApplyPostLevel0Functions` /
  * `bde_ApplyPostUploadFunctions`), `bde_TablesAffected` and
  * `bde_RemoveOldJobData` — the reference's orchestration seam re-expressed
  * over the real [[Upload]] loop and bookkeeping frames.
  *
  * The changeset scenario deliberately mirrors
  * [[graft.operators.MergeScenarios]] minus the unique column (the upload
  * loop's change-table path derives I/U/D/0 only), so every oracle is a
  * small CTE prefix over `orders`.
  */
object UploadScenarios extends graft.GateModule {

  private val D0 = "20240101000000"
  private val D1 = "20240102000000"

  private val Key = "o_orderkey"

  private def cur(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).filter(col(Key) % 10 =!= 3)

  private def incoming(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(s, dir)
    val k = col(Key)
    b.filter(k % 10 === 3 && k % 3 === 0)
      .unionByName(b.filter((k % 10).isin(0, 4) && k % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0))
      .unionByName(b.filter((k % 10).isin(5, 6) && k % 7 === 0))
  }

  private def changeKeys(s: SparkSession, dir: String): DataFrame = {
    val k = col(Key)
    incoming(s, dir).select(Key)
      .unionByName(Tables.orders(s, dir)
        .filter(k % 10 === 2 && k % 11 === 0).select(Key))
      .distinct()
  }

  /** Shared oracle CTE prefix (cur / inc / chg / acts on `orders`). */
  private val Ctes: String = """
    cur AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 3),
    inc AS (
      SELECT * FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0,
             o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 IN (0, 4) AND o_orderkey % 7 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 10 IN (5, 6) AND o_orderkey % 7 = 0),
    chg AS (
      SELECT o_orderkey FROM inc
      UNION
      SELECT o_orderkey FROM orders
        WHERE o_orderkey % 10 = 2 AND o_orderkey % 11 = 0),
    c AS (SELECT * FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM chg)),
    i AS (SELECT * FROM inc WHERE o_orderkey IN (SELECT o_orderkey FROM chg)),
    acts AS (
      SELECT COALESCE(c.o_orderkey, i.o_orderkey) AS o_orderkey,
        CASE WHEN i.o_orderkey IS NULL THEN 'D'
             WHEN c.o_orderkey IS NULL THEN 'I'
             WHEN c.o_custkey IS NOT DISTINCT FROM i.o_custkey
              AND c.o_orderstatus IS NOT DISTINCT FROM i.o_orderstatus
              AND c.o_totalprice IS NOT DISTINCT FROM i.o_totalprice
              AND c.o_orderdate IS NOT DISTINCT FROM i.o_orderdate
              AND c.o_orderpriority IS NOT DISTINCT FROM i.o_orderpriority
             THEN '0' ELSE 'U' END AS action
      FROM c FULL OUTER JOIN i ON c.o_orderkey = i.o_orderkey)"""

  // ------------------------------------------------------ post-load hooks

  private val RegistryConf = s"""
    TABLE l5_change_table                       files xaud
    TABLE orders  key=$Key  row_tol=0.9,0.9    files ord
  """

  /** Materialize the scenario as an actual BDE repository (level-0 snapshot
    * + level-5 incremental with its change table) so the gate exercises the
    * REAL `Upload.run` loop — reader, dataset ordering, apply, hooks.
    */
  private val repoBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildRepo(s: SparkSession, dir: String): String =
    // the repo content is a pure function of `dir` — build once per JVM so
    // the two hook gates (and both bench passes' Memo rebuilds) share it
    repoBuilt.computeIfAbsent(dir, _ => buildRepoAt(s, dir))

  private def buildRepoAt(s: SparkSession, dir: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft-upload-scn/" +
      new java.io.File(dir).getName
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    BdeWriter.writeFile(cur(s, dir), s"$root/level_0/$D0", "ord", "orders")
    BdeWriter.writeFile(incoming(s, dir), s"$root/level_5/$D1", "ord", "orders")
    val chgTable = changeKeys(s, dir).select(
      col(Key).as("id"), lit("orders").as("tablename"),
      col(Key).as("tablekeyvalue"), lit("U").as("action"),
      expr("timestamp_ntz '2024-01-02 00:00:01'").as("timestamp"))
    BdeWriter.writeFile(chgTable, s"$root/level_5/$D1", "xaud", "cbe_data")
    root
  }

  /** Post-load-hook maintenance, end to end: `Upload.run` over the
    * materialized repo with a registered `postApply` hook that initializes
    * a per-status aggregate at the level-0 load and maintains it through
    * the level-5 apply via [[Merge.incrementalAgg]] — the merged table is
    * never rescanned. The oracle recomputes the aggregate directly over
    * the merged result, so a hash match proves the hook seam delivered
    * exactly the inputs incremental maintenance needs.
    */
  def uploadHookAgg(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "upload_hook_agg", dir) {
      val root = buildRepo(s, dir)
      var state: DataFrame = null
      val maintain: Upload.PostApplyHook = ev =>
        state =
          if (ev.level == 0)
            Merge.aggState(ev.current, "o_orderstatus", "o_totalprice")
          else
            Merge.incrementalAgg(state, ev.previous.get, ev.incoming.get,
              ev.actions.get, Key, "o_orderstatus", "o_totalprice")
      Upload.run(s, root, BdeConfig.parseTables(RegistryConf),
        postApply = Seq(maintain))
      state.select(col("o_orderstatus"), col("n"),
        col("sum_dec").cast("double").as("sum_price"))
    }.orderBy("o_orderstatus")

  val uploadHookAggSql: String = s"""
    WITH $Ctes,
    merged AS (
      SELECT * FROM cur
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
      UNION ALL
      SELECT * FROM inc)
    SELECT o_orderstatus, COUNT(*) AS n,
      ${graft.Exact.sqlSum("o_totalprice")} AS sum_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** The join twin: a `postApply` hook maintaining the materialized
    * `orders ⋈ customer` join through the upload — initialized at the
    * level-0 load, updated by [[Merge.incrementalJoin]]'s delta rule at the
    * level-5 apply (departing keys anti-join out, entering images join the
    * broadcast dimension; the fact table is never rescanned).
    */
  def uploadHookJoin(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "upload_hook_join", dir) {
      val root = buildRepo(s, dir)
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      var state: DataFrame = null
      val maintain: Upload.PostApplyHook = ev =>
        state =
          if (ev.level == 0)
            ev.current.join(broadcast(dim),
                ev.current("o_custkey") === dim("c_custkey"))
              .select((ev.current.columns.map(col) :+
                col("c_mktsegment")).toIndexedSeq: _*)
          else
            Merge.incrementalJoin(state, ev.incoming.get, ev.actions.get,
              Key, dim, "c_custkey", "o_custkey")
      Upload.run(s, root, BdeConfig.parseTables(RegistryConf),
        postApply = Seq(maintain))
      state
    }.orderBy(Key)

  val uploadHookJoinSql: String = s"""
    WITH $Ctes,
    merged AS (
      SELECT * FROM cur
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
      UNION ALL
      SELECT * FROM inc)
    SELECT m.*, c_mktsegment
    FROM merged m JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey"""

  // ------------------------------------------------------- tables affected

  /** The scenario bookkeeping store: per-(dataset, table) apply stats for
    * two tables — `orders` genuinely changes in dataset [[D1]]; `lineitem`
    * is re-delivered identical (all null-updates). Shared by
    * [[tablesAffected]] and the GC gate.
    */
  private def bookStore(s: SparkSession, dir: String): DataFrame = {
    val actions = Merge.changesetActions(cur(s, dir), incoming(s, dir),
      changeKeys(s, dir), Key)
    val li = Tables.lineitem(s, dir)
    Merge.bookkeeping(cur(s, dir).select(lit("I").as(Merge.Action)), D0, "orders")
      .unionByName(Merge.bookkeeping(actions, D1, "orders"))
      .unionByName(Merge.bookkeeping(
        li.select(lit("I").as(Merge.Action)), D0, "lineitem"))
      .unionByName(Merge.bookkeeping(
        li.select(lit("0").as(Merge.Action)), D1, "lineitem"))
  }

  /** `bde_TablesAffected` (`sql/02-bde_control_functions.sql.in:2722`):
    * which tables saw REAL changes (inserts/updates/deletes — null-updates
    * don't count, as in the reference's criteria) since a given dataset.
    * One aggregate over the bookkeeping store; at scale the store is a tiny
    * metadata table partitioned by dataset, so the since-filter prunes.
    */
  def tablesAffected(s: SparkSession, dir: String): DataFrame =
    bookStore(s, dir).filter(col("dataset") > D0)
      .groupBy(col("tablename"))
      .agg((sum(col("n_insert")) + sum(col("n_update")) + sum(col("n_delete")))
        .as("n_changes"))
      .select(col("tablename"),
        (col("n_changes") > 0).cast("bigint").as("affected"),
        col("n_changes"))
      .orderBy("tablename")

  val tablesAffectedSql: String = s"""
    WITH $Ctes,
    oc AS (SELECT COUNT(*) FILTER (WHERE action <> '0') AS n_changes FROM acts)
    SELECT * FROM (
      SELECT 'lineitem' AS tablename, CAST(0 AS BIGINT) AS affected,
        CAST(0 AS BIGINT) AS n_changes
      UNION ALL
      SELECT 'orders',
        CAST(CASE WHEN n_changes > 0 THEN 1 ELSE 0 END AS BIGINT),
        CAST(n_changes AS BIGINT)
      FROM oc)
    ORDER BY tablename"""

  // --------------------------------------------------- bookkeeping GC

  private val GcCutoff = D0

  /** `bde_RemoveOldJobData` (`sql/02-bde_control_functions.sql.in:217`):
    * age out bookkeeping rows from datasets at or before the retention
    * cutoff, but NEVER a table's most recent row (the reference keeps
    * active/latest jobs regardless of age). A pure filter + per-table max —
    * with a dataset-partitioned store the drop is partition pruning.
    */
  def removeOldJobData(store: DataFrame, cutoff: String): DataFrame = {
    val latest = store.groupBy(col("tablename"))
      .agg(max(col("dataset")).as("latest_ds"))
    store.join(broadcast(latest), "tablename")
      .filter(col("dataset") > cutoff || col("dataset") === col("latest_ds"))
      .drop("latest_ds")
  }

  /** Gate: GC at cutoff [[D0]] keeps exactly the [[D1]] rows (the latest
    * per table survives the cutoff on both rules), with their stats intact.
    */
  def bookkeepingGc(s: SparkSession, dir: String): DataFrame =
    removeOldJobData(bookStore(s, dir), GcCutoff)
      .select(col("dataset"), col("tablename"), col("n_insert"),
        col("n_update"), col("n_null_update"), col("n_delete"))
      .orderBy("tablename")

  val bookkeepingGcSql: String = s"""
    WITH $Ctes
    SELECT * FROM (
      SELECT '$D1' AS dataset, 'lineitem' AS tablename,
        CAST(0 AS BIGINT) AS n_insert, CAST(0 AS BIGINT) AS n_update,
        (SELECT COUNT(*) FROM lineitem) AS n_null_update,
        CAST(0 AS BIGINT) AS n_delete
      UNION ALL
      SELECT '$D1', 'orders',
        COUNT(*) FILTER (WHERE action = 'I'),
        COUNT(*) FILTER (WHERE action = 'U'),
        COUNT(*) FILTER (WHERE action = '0'),
        COUNT(*) FILTER (WHERE action = 'D')
      FROM acts)
    ORDER BY tablename"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "upload_hook_agg" -> (uploadHookAgg _),
    "upload_hook_join" -> (uploadHookJoin _),
    "tables_affected" -> (tablesAffected _),
    "bookkeeping_gc" -> (bookkeepingGc _))

  val oracles: Map[String, String] = Map(
    "upload_hook_agg" -> uploadHookAggSql,
    "upload_hook_join" -> uploadHookJoinSql,
    "tables_affected" -> tablesAffectedSql,
    "bookkeeping_gc" -> bookkeepingGcSql)
}
