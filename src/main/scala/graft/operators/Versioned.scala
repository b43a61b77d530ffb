package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table versioning: the `postgresql-tableversion` semantics the reference
  * builds on (every apply creates a revision; any revision is
  * reconstructable; changesets between revisions are derivable), re-expressed
  * as SCD2 over Spark windows.
  *
  * A versioned table is rows + `_ver_created` / `_ver_expired` revision
  * bounds. [[build]] turns a sequence of snapshots into that form with one
  * key-partitioned window pass (a single shuffle); [[atRevision]] is a pure
  * filter (partition-prunable when the store is written partitioned by
  * `_ver_created`); [[diff]] reuses the level-0 classifier on two
  * reconstructions.
  *
  * Every store writer (`Upload`, [[appendRevision]], `CdcToVersioned`)
  * takes one step per apply over its delta ([[Merge.diffDelta]]):
  * [[close]], [[advance]], then the [[store]] layout.
  *
  * Scale: the window is partitioned by key — no global ordering anywhere; a
  * 100 TB history shuffles once on the key and scans linearly per key. The
  * append-only store pattern means each new revision only appends rows whose
  * version closed or opened.
  */
object Versioned {

  val Created = "_ver_created"
  val Expired = "_ver_expired"

  /** Collapse `(rev, row)` snapshots into versioned rows. A version opens
    * when a key appears, reappears after a gap, or its image changes; it
    * expires at the first revision it no longer holds.
    */
  def build(snapshots: Seq[(Int, DataFrame)], key: String): DataFrame = {
    require(snapshots.nonEmpty)
    val maxRev = snapshots.map(_._1).max
    val stacked = snapshots.map { case (r, df) => df.withColumn("_rev", lit(r)) }
      .reduce(_ unionByName _)
    val dataCols = stacked.columns.filter(c => c != key && c != "_rev").toSeq
    val w = Window.partitionBy(col(key)).orderBy(col("_rev"))
    val changed: Column = dataCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val gap = lag(col("_rev"), 1).over(w).isNull ||
      lag(col("_rev"), 1).over(w) =!= col("_rev") - 1
    val grouped = stacked
      .withColumn("_new_ver", when(gap || changed, 1).otherwise(0))
      .withColumn("_ver_grp",
        sum(col("_new_ver")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    grouped
      .groupBy((Seq(key, "_ver_grp") ++ dataCols).map(col): _*)
      .agg(min(col("_rev")).as(Created), max(col("_rev")).as("_last_rev"))
      .withColumn(Expired,
        when(col("_last_rev") === maxRev, lit(null).cast("int"))
          .otherwise(col("_last_rev") + 1))
      .drop("_ver_grp", "_last_rev")
  }

  /** The versions an apply closes: the delta's `leaving` images (with
    * their `_ver_created`), stamped `_ver_expired = rev`.
    */
  def close(delta: DataFrame, rev: Int): DataFrame =
    delta.filter(col(Merge.Leaving).isNotNull).select(col(s"${Merge.Leaving}.*"))
      .withColumn(Expired, lit(rev))

  /** The open rows after an apply (`bde_ApplyLevel5Update`'s
    * `table_version` step): `open` without the delta's leaving keys, plus
    * its `entering` images stamped `_ver_created = rev`.
    */
  def advance(open: DataFrame, delta: DataFrame, key: String, rev: Int): DataFrame = {
    val leaving = delta.filter(col(Merge.Leaving).isNotNull).select(key)
    open.join(leaving, Seq(key), "left_anti")
      .unionByName(delta.filter(col(Merge.Entering).isNotNull)
        .select(col(s"${Merge.Entering}.*"))
        .withColumn(Created, lit(rev)))
  }

  /** Closed versions and open rows (`_ver_expired` null) in [[build]]'s
    * column order and int types.
    */
  def store(closed: Seq[DataFrame], open: DataFrame, key: String): DataFrame = {
    val cols = (key +: open.columns.filter(c => c != key && c != Created).toSeq :+ Created).map(col)
    (closed.map(_.select(cols :+ col(Expired): _*)) :+
      open.select(cols :+ lit(null).cast("int").as(Expired): _*)).reduce(_ union _)
  }

  /** Incrementally append one revision to an existing store — the
    * reference's actual apply path (`table_version` never rebuilds a
    * table's history; `ver_apply_table_differences` closes and opens
    * versions in place). One [[Merge.diffDelta]] of the open rows against
    * the snapshot, then the same [[close]] / [[advance]] / [[store]] step
    * `Upload` runs per apply: D/U keys close, I/U images open, `0` keys
    * are untouched, and the closed history is carried through unchanged.
    *
    * At 100 TB this is the whole point of the store: a dataset load costs
    * one diff of open rows vs the snapshot — O(table), not O(history) —
    * and with the store partitioned by `_ver_created`, the historical
    * partitions aren't even read. The result is row-identical to
    * [[build]] over the extended snapshot sequence (the gate proves it).
    */
  def appendRevision(store: DataFrame, snapshot: DataFrame, rev: Int,
                     key: String): DataFrame = {
    val open = store.filter(col(Expired).isNull).drop(Expired)
    val delta = Merge.diffDelta(open, snapshot, key)
    Versioned.store(Seq(store.filter(col(Expired).isNotNull), close(delta, rev)),
      advance(open, delta, key, rev), key)
  }

  /** Retention vacuum: drop every version that expired at or before the
    * retention revision `r` — after it, revisions < r are no longer
    * reconstructable, revisions ≥ r are untouched (the lake-format VACUUM
    * analog; the reference keeps all history, which at 100 TB of multi-year
    * daily loads is exactly what operators vacuum). A pure filter: with the
    * store partitioned by `_ver_created` the rewrite prunes to the
    * partitions that contain expired rows.
    */
  def vacuum(versioned: DataFrame, r: Int): DataFrame =
    versioned.filter(col(Expired).isNull || col(Expired) > r)

  /** The table as of revision `r`: a pure filter over the versioned store. */
  def atRevision(versioned: DataFrame, r: Int): DataFrame =
    versioned
      .filter(col(Created) <= r && (col(Expired).isNull || col(Expired) > r))
      .drop(Created, Expired)

  /** Changeset between two revisions: I/U/D actions (no-ops dropped), via
    * the same classifier the level-0 loader uses.
    */
  def diff(versioned: DataFrame, r1: Int, r2: Int, key: String): DataFrame =
    Merge.diffActions(atRevision(versioned, r1), atRevision(versioned, r2), key)
      .filter(col(Merge.Action) =!= "0")
}

/** Versioning + upload-bookkeeping scenarios for the correctness gate,
  * over arithmetically-derived revisions of `orders` (so the DuckDB oracle
  * reconstructs them exactly).
  *
  * Revisions: r1 = orders; r2 drops keys ≡9 (mod 10) and bumps price by 5
  * for keys ≡0 (mod 7); r3 further drops keys ≡0 (mod 13), bumps price by 3
  * for keys ≡0 (mod 11), and re-inserts dropped ≡9 keys divisible by 3 at
  * price+100 (exercising delete → re-insert version gaps).
  */
object VersionedScenarios extends graft.GateModule {

  private val RevSqls = """
    r1 AS (SELECT * FROM orders),
    r2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 5.0 ELSE 0.0 END
          AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 9),
    r3 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 5.0 ELSE 0.0 END
                     + CASE WHEN o_orderkey % 11 = 0 THEN 3.0 ELSE 0.0 END
          AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 9 AND o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100.0,
        o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 9 AND o_orderkey % 3 = 0)"""

  def r1(s: SparkSession, dir: String): DataFrame = Tables.orders(s, dir)

  def r2(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, dir).filter(k % 10 =!= 9)
      .withColumn("o_totalprice",
        col("o_totalprice") + when(k % 7 === 0, 5.0).otherwise(0.0))
  }

  def r3(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val survivors = Tables.orders(s, dir)
      .filter(k % 10 =!= 9 && k % 13 =!= 0)
      .withColumn("o_totalprice",
        col("o_totalprice") + when(k % 7 === 0, 5.0).otherwise(0.0)
          + when(k % 11 === 0, 3.0).otherwise(0.0))
    val reinserts = Tables.orders(s, dir)
      .filter(k % 10 === 9 && k % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
    survivors.unionByName(reinserts)
  }

  // built+cached once per (session, dir): versioned_table,
  // table_at_revision, version_diff and DatasetRevScenarios' orders all
  // read the same store, as production reads would
  private[operators] def store(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "versioned_store", dir) {
      Versioned.build(
        Seq(1 -> r1(s, dir), 2 -> r2(s, dir), 3 -> r3(s, dir)), "o_orderkey")
    }

  /** Full versioned store dump. */
  def versionedTable(s: SparkSession, dir: String): DataFrame =
    store(s, dir).orderBy(col("o_orderkey"), col(Versioned.Created))

  // The oracle rebuilds SCD2 with the same window recipe: a version opens on
  // a revision gap or any column change (IS DISTINCT FROM), closes at the
  // next revision after its run.
  val versionedTableSql: String = s"""
    WITH $RevSqls,
    stacked AS (
      SELECT *, 1 AS _rev FROM r1
      UNION ALL SELECT *, 2 FROM r2
      UNION ALL SELECT *, 3 FROM r3),
    flagged AS (
      SELECT *,
        CASE WHEN lag(_rev) OVER w IS NULL
               OR lag(_rev) OVER w <> _rev - 1
               OR lag(o_custkey) OVER w IS DISTINCT FROM o_custkey
               OR lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
               OR lag(o_totalprice) OVER w IS DISTINCT FROM o_totalprice
               OR lag(o_orderdate) OVER w IS DISTINCT FROM o_orderdate
               OR lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
          THEN 1 ELSE 0 END AS _new_ver
      FROM stacked
      WINDOW w AS (PARTITION BY o_orderkey ORDER BY _rev)),
    grouped AS (
      SELECT *, sum(_new_ver) OVER
          (PARTITION BY o_orderkey ORDER BY _rev
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _ver_grp
      FROM flagged),
    versions AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        o_orderpriority,
        CAST(min(_rev) AS INT) AS _ver_created,
        CASE WHEN max(_rev) = 3 THEN NULL
             ELSE CAST(max(_rev) + 1 AS INT) END AS _ver_expired
      FROM grouped
      GROUP BY o_orderkey, _ver_grp, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority)
    SELECT * FROM versions ORDER BY o_orderkey, _ver_created"""

  /** Reconstruct revision 2 from the store — must equal r2 exactly. */
  def tableAtRevision(s: SparkSession, dir: String): DataFrame =
    Versioned.atRevision(store(s, dir), 2).orderBy("o_orderkey")

  val tableAtRevisionSql: String = s"""
    WITH $RevSqls SELECT * FROM r2 ORDER BY o_orderkey"""

  /** Changeset r1 → r3 (I/U/D). */
  def versionDiff(s: SparkSession, dir: String): DataFrame =
    Versioned.diff(store(s, dir), 1, 3, "o_orderkey").orderBy("o_orderkey")

  val versionDiffSql: String = s"""
    WITH $RevSqls
    SELECT COALESCE(r1.o_orderkey, r3.o_orderkey) AS o_orderkey,
      CASE WHEN r3.o_orderkey IS NULL THEN 'D'
           WHEN r1.o_orderkey IS NULL THEN 'I'
           ELSE 'U' END AS action
    FROM r1 FULL OUTER JOIN r3 ON r1.o_orderkey = r3.o_orderkey
    WHERE r3.o_orderkey IS NULL OR r1.o_orderkey IS NULL
       OR r1.o_custkey IS DISTINCT FROM r3.o_custkey
       OR r1.o_orderstatus IS DISTINCT FROM r3.o_orderstatus
       OR r1.o_totalprice IS DISTINCT FROM r3.o_totalprice
       OR r1.o_orderdate IS DISTINCT FROM r3.o_orderdate
       OR r1.o_orderpriority IS DISTINCT FROM r3.o_orderpriority
    ORDER BY o_orderkey"""

  /** Upload bookkeeping (`_bde_RecordDatasetLoaded` / `bde_LastUploadStats`
    * / `bde_EventDuration` shape): per-dataset (day) and stream
    * (event_type) row counts, distinct actors and load duration.
    */
  def uploadStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dataset_day"),
        col("event_type"), col("user_id"), col("value"),
        date_trunc("second", col("ts")).as("tss"))
      .groupBy("dataset_day", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumD(col("value")).as("sum_value"),
        (unix_timestamp(max(col("tss"))) - unix_timestamp(min(col("tss"))))
          .as("duration_secs"))
      .orderBy("dataset_day", "event_type")

  val uploadStatsSql: String = s"""
    SELECT strftime(ts, '%Y-%m-%d') AS dataset_day, event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users,
      ${Exact.sqlSum("value")} AS sum_value,
      CAST(epoch(date_trunc('second', max(ts)))
         - epoch(date_trunc('second', min(ts))) AS BIGINT) AS duration_secs
    FROM events GROUP BY 1, 2 ORDER BY dataset_day, event_type"""

  /** Incremental append gate: build the store through r2, then APPEND r3
    * with [[Versioned.appendRevision]] — checked against the SAME oracle
    * as the from-scratch 3-revision build, so a hash match proves the
    * incremental path reproduces the rebuild row-for-row.
    */
  def versionedAppend(s: SparkSession, dir: String): DataFrame = {
    // the pre-append store is what production reads from disk — memoized,
    // so the gate/bench measure the append, not a from-scratch rebuild
    val store12 = graft.Memo.cachedLeaf(s, "versioned_store12", dir)(
      Versioned.build(Seq(1 -> r1(s, dir), 2 -> r2(s, dir)), "o_orderkey"))
    Versioned.appendRevision(store12, r3(s, dir), 3, "o_orderkey")
      .orderBy(col("o_orderkey"), col(Versioned.Created))
  }

  /** SCD2 dimension lookup: each fact row (key, rev) joins the dimension
    * VERSION valid at its revision — the classic as-of-revision lookup
    * over the versioned store (equi-join on the key carries the shuffle;
    * the version-range predicate is a cheap residual filter, never a range
    * join). Facts derive a revision arithmetically (key mod 3 + 1) so the
    * oracle can reconstruct the expected version WITHOUT re-deriving SCD2:
    * it joins each fact straight to the r1/r2/r3 snapshot it names — an
    * independent path to the same rows.
    */
  def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir)
      .select(col("o_orderkey"), (col("o_orderkey") % 3 + 1).cast("int").as("rev"))
    val st = store(s, dir)
    facts.join(st,
        facts("o_orderkey") === st("o_orderkey") &&
          st(Versioned.Created) <= facts("rev") &&
          (st(Versioned.Expired).isNull || st(Versioned.Expired) > facts("rev")))
      .select(facts("o_orderkey"), facts("rev"), st("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val scd2LookupSql: String = s"""
    WITH $RevSqls,
    facts AS (
      SELECT o_orderkey, CAST(o_orderkey % 3 + 1 AS INT) AS rev FROM orders)
    SELECT f.o_orderkey, f.rev, r.o_totalprice
    FROM facts f JOIN r1 r ON f.rev = 1 AND f.o_orderkey = r.o_orderkey
    UNION ALL
    SELECT f.o_orderkey, f.rev, r.o_totalprice
    FROM facts f JOIN r2 r ON f.rev = 2 AND f.o_orderkey = r.o_orderkey
    UNION ALL
    SELECT f.o_orderkey, f.rev, r.o_totalprice
    FROM facts f JOIN r3 r ON f.rev = 3 AND f.o_orderkey = r.o_orderkey
    ORDER BY o_orderkey"""

  /** Vacuum gate: drop history expired at or before revision 2, dump the
    * surviving store. The oracle rebuilds the full SCD2 chain and applies
    * the same retention predicate independently; a follow-up spec proves
    * reconstruction at revisions ≥ 2 is unchanged.
    */
  def versionVacuum(s: SparkSession, dir: String): DataFrame =
    Versioned.vacuum(store(s, dir), 2)
      .orderBy(col("o_orderkey"), col(Versioned.Created))

  val versionVacuumSql: String =
    versionedTableSql.replace("SELECT * FROM versions",
      "SELECT * FROM versions WHERE _ver_expired IS NULL OR _ver_expired > 2")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "versioned_table" -> (versionedTable _),
    "version_vacuum" -> (versionVacuum _),
    "scd2_lookup" -> (scd2Lookup _),
    "versioned_append" -> (versionedAppend _),
    "table_at_revision" -> (tableAtRevision _),
    "version_diff" -> (versionDiff _),
    "upload_stats" -> (uploadStats _))

  val oracles: Map[String, String] = Map(
    "versioned_table" -> versionedTableSql,
    "version_vacuum" -> versionVacuumSql,
    "scd2_lookup" -> scd2LookupSql,
    "versioned_append" -> versionedTableSql,
    "table_at_revision" -> tableAtRevisionSql,
    "version_diff" -> versionDiffSql,
    "upload_stats" -> uploadStatsSql)
}
