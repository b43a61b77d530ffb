package graft.sources

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated scenario for PERSISTED-STATE upload resume — the
  * reference's normal daily mode: run #1 loads the level-0 era and
  * publishes its state; run #2 sees ONLY a later level-5 dataset (the
  * table is registered `l5_only` — no level-0 exists in its repository)
  * and must seed from the published store, exactly as
  * `bde_ApplyLevel5Update` applies a changeset to the PREVIOUSLY UPLOADED
  * live table (`sql/02-bde_control_functions.sql.in:1576`;
  * `GetLevel5Updates` selects only datasets after the last upload,
  * `lib/LINZ/BdeUpload.pm:653`).
  *
  * The gate runs the REAL two-run sequence — `Upload.run` #1 over the
  * level-0 repo, `Upload.publishState` through the [[ManifestStore]]
  * atomic pointer, `Upload.seedFrom`, `Upload.run` #2 over a repo holding
  * only the newer level-5 — and hash-matches the final table against a
  * DuckDB oracle that replays BOTH applies in one CTE chain. A hash match
  * therefore proves the published state round-tripped exactly and run #2
  * applied precisely the one new dataset.
  *
  * Scale: the published state is the table's parquet plus an O(bytes)
  * pointer; a resumed run reads the seed once and shuffles only the new
  * changesets — O(|day's changes|), never O(history). This is the seam
  * that makes daily incrementals possible without replaying the level-0
  * era in-process.
  */
object ResumeScenarios extends graft.GateModule {

  private val D0 = "20240101000000"
  private val D1 = "20240103000000"
  private val D2 = "20240105000000"

  private val Key = "o_orderkey"

  // --- run #1 inputs: level-0 snapshot + first incremental -------------

  private def cur0(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).filter(col(Key) % 7 =!= 2)

  private def inc1(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(s, dir)
    val k = col(Key)
    b.filter(k % 7 === 2 && k % 3 === 0)
      .unionByName(b.filter((k % 7).isin(0, 1) && k % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 5.0))
      .unionByName(b.filter(k % 7 === 3 && k % 5 === 0))
  }

  private def chg1(s: SparkSession, dir: String): DataFrame = {
    val k = col(Key)
    inc1(s, dir).select(Key)
      .unionByName(Tables.orders(s, dir)
        .filter(k % 7 === 4 && k % 11 === 0).select(Key))
      .distinct()
  }

  // --- run #2 inputs: second incremental, applied onto the seed --------

  private def inc2(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(s, dir)
    val k = col(Key)
    b.filter(k % 7 === 2 && k % 3 === 1)
      .unionByName(b.filter((k % 7).isin(5, 6) && k % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 7.0))
      .unionByName(b.filter(k % 7 === 3 && k % 5 === 0))
  }

  private def chg2(s: SparkSession, dir: String): DataFrame = {
    val k = col(Key)
    inc2(s, dir).select(Key)
      .unionByName(Tables.orders(s, dir)
        .filter(k % 7 === 0 && k % 13 === 0).select(Key))
      .distinct()
  }

  /** Oracle CTE chain replaying both applies: `m1` = level-0 era result
    * (what run #1 published), `m2` = the resumed run's final table. Every
    * announced key takes the incoming image (I/U/0) or leaves (D), so the
    * merge is `kept ∪ incoming` per apply, as in [[UploadScenarios]].
    */
  private val Ctes: String = """
    cur0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 2),
    inc1 AS (
      SELECT * FROM orders WHERE o_orderkey % 7 = 2 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 5.0,
             o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 IN (0, 1) AND o_orderkey % 5 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 5 = 0),
    chg1 AS (
      SELECT o_orderkey FROM inc1
      UNION
      SELECT o_orderkey FROM orders
        WHERE o_orderkey % 7 = 4 AND o_orderkey % 11 = 0),
    m1 AS (
      SELECT * FROM cur0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg1)
      UNION ALL
      SELECT * FROM inc1),
    inc2 AS (
      SELECT * FROM orders WHERE o_orderkey % 7 = 2 AND o_orderkey % 3 = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 7.0,
             o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 IN (5, 6) AND o_orderkey % 5 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 5 = 0),
    chg2 AS (
      SELECT o_orderkey FROM inc2
      UNION
      SELECT o_orderkey FROM orders
        WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 = 0),
    m2 AS (
      SELECT * FROM m1
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg2)
      UNION ALL
      SELECT * FROM inc2)"""

  private val Run1Conf = s"""
    TABLE l5_change_table                       files xaud
    TABLE orders  key=$Key  row_tol=0.9,0.9    files ord
  """

  // run #2 registers orders as l5_only: its repo has NO level-0 era
  private val Run2Conf = s"""
    TABLE l5_change_table                       files xaud
    TABLE orders  l5_only  key=$Key  row_tol=0.9,0.9  files ord
  """

  /** Filesystem preparation, once per JVM per sf-dir (the artifacts —
    * two BDE repositories and the published store — are pure functions of
    * `dir` and live on disk, so later sessions reuse them): build the
    * level-0-era repo (D0 + D1) and the resume repo (D2 only), run the
    * FIRST upload, and publish its state. Returns (resumeRepo, storeRoot).
    */
  private val prepared =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def prepare(s: SparkSession, dir: String): (String, String) =
    prepared.computeIfAbsent(dir, _ => prepareAt(s, dir))

  private def prepareAt(s: SparkSession, dir: String): (String, String) = {
    val base = s"${sys.props("java.io.tmpdir")}/graft-resume-scn/" +
      new java.io.File(dir).getName
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val repoA = s"$base/repoA"
    val repoB = s"$base/repoB"
    val store = s"$base/store"
    def chgTable(keys: DataFrame, ts: String): DataFrame =
      keys.select(col(Key).as("id"), lit("orders").as("tablename"),
        col(Key).as("tablekeyvalue"), lit("U").as("action"),
        expr(s"timestamp_ntz '$ts'").as("timestamp"))
    BdeWriter.writeFile(cur0(s, dir), s"$repoA/level_0/$D0", "ord", "orders")
    BdeWriter.writeFile(inc1(s, dir), s"$repoA/level_5/$D1", "ord", "orders")
    BdeWriter.writeFile(chgTable(chg1(s, dir), "2024-01-03 00:00:01"),
      s"$repoA/level_5/$D1", "xaud", "cbe_data")
    BdeWriter.writeFile(inc2(s, dir), s"$repoB/level_5/$D2", "ord", "orders")
    BdeWriter.writeFile(chgTable(chg2(s, dir), "2024-01-05 00:00:01"),
      s"$repoB/level_5/$D2", "xaud", "cbe_data")
    // run #1: the level-0 era, then publish its state for run #2
    val r1 = Upload.run(s, repoA, BdeConfig.parseTables(Run1Conf))
    Upload.publishState(r1("orders").current, D1, store)
    (repoB, store)
  }

  /** The resumed run, memoized per session: seed from the store, apply
    * only the D2 changeset. Returns the final table (`upload_resume`);
    * [[resumeStats]] reruns the same loop for its bookkeeping frame.
    */
  private def resumed(s: SparkSession, dir: String): Map[String, UploadedTable] = {
    val (repoB, store) = prepare(s, dir)
    Upload.run(s, repoB, BdeConfig.parseTables(Run2Conf),
      seeds = Map("orders" -> Upload.seedFrom(s, store)))
  }

  /** Gate: run #2's final table — hash-equal to replaying BOTH applies
    * from scratch iff the publish/seed roundtrip is exact and the seeded
    * run applied exactly the one new dataset.
    */
  def uploadResume(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "upload_resume", dir)(resumed(s, dir)("orders").current)
      .orderBy(Key)

  val uploadResumeSql: String = s"""
    WITH $Ctes
    SELECT * FROM m2 ORDER BY o_orderkey"""

  /** Gate: run #2's bookkeeping — exactly ONE row (dataset D2; the seed
    * is not an apply of this run), with I/U/0/D counts re-derived by the
    * oracle's classification of inc2 against the level-0-era result.
    */
  def resumeStats(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "upload_resume_stats", dir)(
      resumed(s, dir)("orders").bookkeeping)
      .orderBy("dataset")

  val resumeStatsSql: String = s"""
    WITH $Ctes,
    c2 AS (SELECT * FROM m1
           WHERE o_orderkey IN (SELECT o_orderkey FROM chg2)),
    i2 AS (SELECT * FROM inc2
           WHERE o_orderkey IN (SELECT o_orderkey FROM chg2)),
    acts2 AS (
      SELECT CASE WHEN i2.o_orderkey IS NULL THEN 'D'
                  WHEN c2.o_orderkey IS NULL THEN 'I'
                  WHEN c2.o_custkey IS NOT DISTINCT FROM i2.o_custkey
                   AND c2.o_orderstatus IS NOT DISTINCT FROM i2.o_orderstatus
                   AND c2.o_totalprice IS NOT DISTINCT FROM i2.o_totalprice
                   AND c2.o_orderdate IS NOT DISTINCT FROM i2.o_orderdate
                   AND c2.o_orderpriority IS NOT DISTINCT FROM i2.o_orderpriority
                  THEN '0' ELSE 'U' END AS action
      FROM c2 FULL OUTER JOIN i2 ON c2.o_orderkey = i2.o_orderkey)
    SELECT '$D2' AS dataset, 'orders' AS tablename,
      COUNT(*) FILTER (WHERE action = 'I') AS n_insert,
      COUNT(*) FILTER (WHERE action = 'U') AS n_update,
      COUNT(*) FILTER (WHERE action = '0') AS n_null_update,
      COUNT(*) FILTER (WHERE action = 'D') AS n_delete
    FROM acts2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "upload_resume" -> (uploadResume _),
    "upload_resume_stats" -> (resumeStats _))

  val oracles: Map[String, String] = Map(
    "upload_resume" -> uploadResumeSql,
    "upload_resume_stats" -> resumeStatsSql)
}
