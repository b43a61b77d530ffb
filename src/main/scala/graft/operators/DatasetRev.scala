package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-scoped revision bracketing — the reference's
  * `bde_CreateDatasetRevision` / `bde_CompleteDatasetRevision`
  * (`sql/02-bde_control_functions.sql.in:2880,2929`): ALL tables' applies
  * for one dataset commit under ONE shared revision number, so "the
  * database as of dataset D" is cross-table consistent even though each
  * dataset touches only some tables.
  *
  * The Spark-side form: a run-level `dataset → revision` map (1-based, in
  * dataset-name order — the reference's sequence allocation), and
  * per-table versioned stores whose snapshots are stamped with the SHARED
  * revision of the dataset that changed them. A table untouched by dataset
  * D simply has no rows created/expired at `rev(D)` — its open versions
  * span the gap, so [[Versioned.atRevision]] at `rev(D)` reconstructs
  * every table at the same consistent point without per-table revision
  * arithmetic.
  *
  * Scale: the map is O(datasets) driver metadata (the reference keeps it
  * in `bde.upload` rows); each table's store stays an independent
  * key-partitioned SCD2 frame — bracketing adds no join, no shuffle, no
  * cross-table barrier beyond agreeing on the revision number up front.
  */
object DatasetRev {

  /** Shared revision per dataset: 1-based rank in dataset-name order (the
    * names are `YYYYMMDDhhmmss` timestamps, so name order = time order).
    */
  def revisionMap(datasets: Seq[String]): Map[String, Int] =
    datasets.distinct.sorted.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap

  /** Build one table's store from its `(dataset, snapshot)` applies using
    * the shared map: one [[Versioned.build]] over the snapshots indexed
    * 1..n in dataset-name order, relabelled to the datasets' revisions (a
    * version spans the datasets the table skips). `revOf` must name every
    * dataset and increase in dataset-name order.
    */
  def buildBracketed(snaps: Seq[(String, DataFrame)],
                     revOf: Map[String, Int], key: String): DataFrame = {
    require(snaps.nonEmpty, "a bracketed store needs at least one apply")
    val sorted = snaps.sortBy(_._1)
    val revs = sorted.map { case (ds, _) =>
      revOf.getOrElse(ds, throw new IllegalArgumentException(s"dataset $ds has no revision")) }
    for (i <- revs.indices.tail) require(revs(i - 1) < revs(i),
      s"dataset ${sorted(i)._1} has revision ${revs(i)}, not above ${sorted(i - 1)._1}'s ${revs(i - 1)}")
    // element_at with a null index need not return NULL: guard open rows
    def relabel(c: String) = when(col(c).isNotNull, element_at(typedLit(revs), col(c)))
    Versioned.build(sorted.zipWithIndex.map { case ((_, df), i) => (i + 1) -> df }, key)
      .withColumn(Versioned.Created, relabel(Versioned.Created))
      .withColumn(Versioned.Expired, relabel(Versioned.Expired))
  }

  /** The table as of dataset `d` — a pure filter at the shared revision. */
  def atDataset(store: DataFrame, revOf: Map[String, Int], d: String): DataFrame =
    Versioned.atRevision(store, revOf(d))
}

/** Gate scenario: three datasets, two tables with DIFFERENT change
  * cadences — `orders` changes in all three (the [[VersionedScenarios]]
  * r1/r2/r3 derivations), `customer` only in the first and third. The
  * gate reconstructs BOTH tables as of the MIDDLE dataset and joins them:
  * orders must show its second apply while customer must still show its
  * first (its open versions span the middle dataset's revision) — exactly
  * the cross-table consistency the reference's dataset revision brackets
  * guarantee. The DuckDB oracle recomputes both reconstructions from the
  * arithmetic derivations and replays the join.
  */
object DatasetRevScenarios extends graft.GateModule {

  private val DA = "20240101000000"
  private val DB = "20240102000000"
  private val DC = "20240103000000"

  /** customer's first apply: the base table. */
  private def c1(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)

  /** customer's second apply (dataset [[DC]]): bump acctbal by 2 for keys
    * ≡0 (mod 4), drop keys ≡0 (mod 9).
    */
  private def c3(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, dir).filter(k % 9 =!= 0)
      .withColumn("c_acctbal",
        col("c_acctbal") + when(k % 4 === 0, 2.0).otherwise(0.0))
  }

  private def stores(s: SparkSession, dir: String): (DataFrame, DataFrame, Map[String, Int]) = {
    val revOf = DatasetRev.revisionMap(Seq(DA, DB, DC))
    // orders changes in ALL three datasets, so its bracketed store IS the
    // shared `versioned_store` artifact (revisions 1..3); the bracketing
    // content — a table whose applies SKIP a revision — is customer's.
    val ord = VersionedScenarios.store(s, dir)
    val cust = graft.Memo.cachedLeaf(s, "dsrev_customer", dir)(
      DatasetRev.buildBracketed(
        Seq(DA -> c1(s, dir), DC -> c3(s, dir)), revOf, "c_custkey"))
    (ord, cust, revOf)
  }

  /** Gate: per-mktsegment order count and exact revenue over the
    * consistent as-of-[[DB]] reconstruction of both tables. A hash match
    * proves orders came back at its DB state AND customer at its DA state
    * from a store that was already written through DC.
    */
  def datasetRevision(s: SparkSession, dir: String): DataFrame = {
    val (ord, cust, revOf) = stores(s, dir)
    val o = DatasetRev.atDataset(ord, revOf, DB)
    val c = DatasetRev.atDataset(cust, revOf, DB)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumD(col("o_totalprice")).as("revenue"),
        Exact.sumD(col("c_acctbal")).as("sum_acctbal"))
      .orderBy("c_mktsegment")
  }

  val datasetRevisionSql: String = s"""
    WITH r2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 5.0 ELSE 0.0 END
          AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 9)
    SELECT c_mktsegment, COUNT(*) AS n_orders,
      ${Exact.sqlSum("o_totalprice")} AS revenue,
      ${Exact.sqlSum("c_acctbal")} AS sum_acctbal
    FROM r2 JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Gate: the changeset each table contributed between datasets [[DB]]
    * and [[DC]] under the SHARED revision map — the cross-table view of
    * "what dataset DC changed" that the reference gets from bracketing all
    * tables' applies in one dataset revision: per table, I/U/D counts from
    * [[Versioned.diff]] between the shared revisions. customer's diff
    * spans a revision it never wrote at (rev 2), exercising the gap.
    */
  def datasetRevDiff(s: SparkSession, dir: String): DataFrame = {
    val (ord, cust, revOf) = stores(s, dir)
    val rB = revOf(DB)
    val rC = revOf(DC)
    def counts(store: DataFrame, key: String, name: String): DataFrame =
      Versioned.diff(store, rB, rC, key)
        .groupBy(col(Merge.Action).as("action"))
        .agg(count(lit(1)).as("n"))
        .select(lit(name).as("tablename"), col("action"), col("n"))
    counts(ord, "o_orderkey", "orders")
      .unionByName(counts(cust, "c_custkey", "customer"))
      .orderBy("tablename", "action")
  }

  val datasetRevDiffSql: String = s"""
    WITH r2 AS (
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
      FROM orders WHERE o_orderkey % 10 = 9 AND o_orderkey % 3 = 0),
    c3 AS (
      SELECT c_custkey, c_name, c_nationkey,
        c_acctbal + CASE WHEN c_custkey % 4 = 0 THEN 2.0 ELSE 0.0 END
          AS c_acctbal,
        c_mktsegment
      FROM customer WHERE c_custkey % 9 <> 0),
    od AS (
      SELECT CASE WHEN r3.o_orderkey IS NULL THEN 'D'
                  WHEN r2.o_orderkey IS NULL THEN 'I'
                  ELSE 'U' END AS action
      FROM r2 FULL OUTER JOIN r3 ON r2.o_orderkey = r3.o_orderkey
      WHERE r3.o_orderkey IS NULL OR r2.o_orderkey IS NULL
         OR r2.o_custkey IS DISTINCT FROM r3.o_custkey
         OR r2.o_orderstatus IS DISTINCT FROM r3.o_orderstatus
         OR r2.o_totalprice IS DISTINCT FROM r3.o_totalprice
         OR r2.o_orderdate IS DISTINCT FROM r3.o_orderdate
         OR r2.o_orderpriority IS DISTINCT FROM r3.o_orderpriority),
    cd AS (
      SELECT CASE WHEN c3.c_custkey IS NULL THEN 'D'
                  WHEN c.c_custkey IS NULL THEN 'I'
                  ELSE 'U' END AS action
      FROM customer c FULL OUTER JOIN c3 ON c.c_custkey = c3.c_custkey
      WHERE c3.c_custkey IS NULL OR c.c_custkey IS NULL
         OR c.c_name IS DISTINCT FROM c3.c_name
         OR c.c_nationkey IS DISTINCT FROM c3.c_nationkey
         OR c.c_acctbal IS DISTINCT FROM c3.c_acctbal
         OR c.c_mktsegment IS DISTINCT FROM c3.c_mktsegment)
    SELECT * FROM (
      SELECT 'customer' AS tablename, action, COUNT(*) AS n
      FROM cd GROUP BY action
      UNION ALL
      SELECT 'orders', action, COUNT(*) FROM od GROUP BY action)
    ORDER BY tablename, action"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dataset_revision" -> (datasetRevision _),
    "dataset_rev_diff" -> (datasetRevDiff _))

  val oracles: Map[String, String] = Map(
    "dataset_revision" -> datasetRevisionSql,
    "dataset_rev_diff" -> datasetRevDiffSql)
}
