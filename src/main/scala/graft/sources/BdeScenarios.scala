package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BDE ingest operators exposed through the correctness gate.
  *
  * - `bde_read`: parquet → BDE files (gzip, escaped, per-partition headers)
  *   → DataFrame roundtrip, checked against a direct SELECT of the source
  *   table — exercising writer and reader as one inverse pair.
  * - `bde_select_columns`: `bde_SelectValidColumns` semantics
  *   (`sql/02-bde_control_functions.sql.in:1336`): intersect the file's
  *   column list with the target table, preserving file order,
  *   case-insensitive, rejecting an empty result.
  * - `bde_datasets`: dataset discovery/ordering
  *   (`lib/LINZ/BdeUpload.pm:612/653`): newest level-0 plus all later
  *   level-5 datasets in name order, with the `CheckStartDate`
  *   (`:1070`) start-time continuity flag.
  */
object BdeScenarios extends graft.GateModule {

  /** File-order ∩ target, case-insensitive (reference keeps file order). */
  def selectValidColumns(fileCols: Seq[String], targetCols: Seq[String]): Seq[String] = {
    val valid = fileCols.filter(c => targetCols.exists(_.equalsIgnoreCase(c)))
    require(valid.nonEmpty,
      s"no file columns [${fileCols.mkString(",")}] match the target table")
    valid
  }

  // ------------------------------------------------------------- roundtrip

  private def roundtripDir(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-bde/${new java.io.File(dir).getName}/orders"

  /** Write `orders` as gzipped BDE, read it back, return it key-ordered.
    * Any writer/reader asymmetry (escaping, types, timestamps, nulls)
    * breaks the hash match with the plain-SQL oracle.
    */
  def bdeRead(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir)
    BdeWriter.write(Tables.orders(s, dir), out, "orders", gzip = true)
    BdeReader.read(s, BdeReader.listFiles(out)).orderBy("o_orderkey")
  }

  val bdeReadSql: String = "SELECT * FROM orders ORDER BY o_orderkey"

  // --------------------------------------------------------- column select

  /** The file announces columns (including two the target lacks, mixed
    * case); the valid intersection then drives a real projection of the
    * table — the same shape the reference builds its COPY statement with.
    */
  def bdeSelectColumns(s: SparkSession, dir: String): DataFrame = {
    val fileCols = Seq("o_orderkey", "O_ORDERDATE", "o_legacy_flag",
      "o_totalprice", "o_rowversion")
    val target = Tables.orders(s, dir)
    val valid = selectValidColumns(fileCols, target.columns.toSeq)
    target.select(valid.map(c => col(c.toLowerCase)): _*)
      .orderBy("o_orderkey")
  }

  val bdeSelectColumnsSql: String =
    "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders ORDER BY o_orderkey"

  // ------------------------------------------------------------- datasets

  /** Generic apply-plan operator: given datasets (name, level, start, end),
    * keep the newest level-0 and every later level-5 in name order, and
    * flag start-time continuity (each L5 must start exactly where the
    * previous dataset ended).
    */
  def applyPlan(datasets: DataFrame): DataFrame = {
    val latestL0 = datasets.filter(col("level") === 0)
      .agg(max(col("name")).as("l0_name"))
    // partitioned by the L0 generation: every selected dataset shares the
    // one l0_name, so the ordering is total where it must be, while the
    // window spec stays partitioned (one apply plan per L0 generation; the
    // frame is bounded by the dataset count, not the data volume)
    val w = Window.partitionBy(col("l0_name")).orderBy(col("name"))
    datasets.join(broadcast(latestL0),
        col("name") >= col("l0_name") &&
          (col("level") === 5 || col("name") === col("l0_name")))
      .withColumn("apply_order", row_number().over(w))
      .withColumn("continuity_ok",
        coalesce(lag(col("end_time"), 1).over(w) === col("start_time"),
          lit(true)))
      .select("apply_order", "name", "level", "start_time", "end_time",
        "continuity_ok")
  }

  /** Scenario: one dataset per event-hour (`YYYYMMDDhhmmss` names, as the
    * reference derives from directory names); midnight datasets are full
    * level-0 extracts, the rest level-5 increments; end = start + 1 h.
    */
  def bdeDatasets(s: SparkSession, dir: String): DataFrame = {
    val ds = Tables.events(s, dir)
      .select(date_trunc("hour", col("ts")).as("start_time"))
      .distinct()
      .select(
        date_format(col("start_time"), "yyyyMMddHHmmss").as("name"),
        when(hour(col("start_time")) === 0, 0).otherwise(5).as("level"),
        col("start_time"),
        (col("start_time") + expr("INTERVAL 1 HOUR")).as("end_time"))
    applyPlan(ds).orderBy("apply_order")
  }

  val bdeDatasetsSql: String = """
    WITH ds AS (
      SELECT strftime(h, '%Y%m%d%H%M%S') AS name,
             CASE WHEN hour(h) = 0 THEN 0 ELSE 5 END AS level,
             h AS start_time, h + INTERVAL 1 HOUR AS end_time
      FROM (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events)),
    l0 AS (SELECT max(name) AS l0_name FROM ds WHERE level = 0),
    sel AS (
      SELECT ds.* FROM ds, l0
      WHERE name >= l0_name AND (level = 5 OR name = l0_name)),
    plan AS (
      SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS apply_order,
        name, level, start_time, end_time,
        coalesce(lag(end_time) OVER (ORDER BY name) = start_time, TRUE)
          AS continuity_ok
      FROM sel)
    SELECT * FROM plan ORDER BY apply_order"""

  // --------------------------------------------------------- spatial fixup

  /** `bde_copy`'s spatial fixups (`conf/linz_bde_uploader.conf:384-390`):
    * geometry arrives as WKT text; leading digits/spaces are stripped, the
    * configured `wkt_prefix` (an SRID tag) is prepended, and
    * `longitude_offset` is added to every longitude (the reference shifts
    * by 160 so the 180° meridian doesn't split the dataset).
    *
    * The harness tables carry no geometry, so the scenario synthesizes a
    * WKT POINT per order from key arithmetic; the operator itself is the
    * real fixup: regex strip + prefix + numeric shift, all codegen'd
    * column expressions over the WKT.
    */
  def bdeSpatialFixup(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val lon = (k % 160).cast("double") / 2.0
    val lat = ((col("o_custkey") % 180).cast("double") / 2.0) - 45.0
    val raw = concat(lit("00 POINT("), lon, lit(" "), lat, lit(")"))
    val stripped = regexp_replace(raw, "^[0-9 ]+", "")
    val shifted = regexp_replace(stripped, "^POINT\\(", "")
    Tables.orders(s, dir)
      .select(k.as("o_orderkey"), raw.as("wkt_raw"),
        concat(lit("SRID=4167;POINT("),
          split(shifted, " ").getItem(0).cast("double") + 160.0,
          lit(" "),
          regexp_replace(split(shifted, " ").getItem(1), "\\)$", "")
            .cast("double"),
          lit(")")).as("wkt_fixed"))
      .orderBy("o_orderkey")
  }

  val bdeSpatialFixupSql: String = """
    WITH g AS (
      SELECT o_orderkey,
        '00 POINT(' || CAST(CAST(o_orderkey % 160 AS DOUBLE) / 2.0 AS VARCHAR)
          || ' ' ||
          CAST(CAST(o_custkey % 180 AS DOUBLE) / 2.0 - 45.0 AS VARCHAR) || ')'
          AS wkt_raw,
        regexp_replace(
          regexp_replace(
            '00 POINT(' || CAST(CAST(o_orderkey % 160 AS DOUBLE) / 2.0 AS VARCHAR)
              || ' ' ||
              CAST(CAST(o_custkey % 180 AS DOUBLE) / 2.0 - 45.0 AS VARCHAR) || ')',
            '^[0-9 ]+', ''),
          '^POINT\(', '') AS body
      FROM orders)
    SELECT o_orderkey, wkt_raw,
      'SRID=4167;POINT(' ||
        CAST(CAST(string_split(body, ' ')[1] AS DOUBLE) + 160.0 AS VARCHAR)
        || ' ' ||
        CAST(CAST(regexp_replace(string_split(body, ' ')[2], '\)$', '')
          AS DOUBLE) AS VARCHAR)
        || ')' AS wkt_fixed
    FROM g ORDER BY o_orderkey"""

  /** Per-table statement generation through [[SqlTemplate]]
    * (`bde_ExpandTemplate` `sql/02-bde_control_functions.sql.in:2090`; the
    * reference expands one template per maintained table, e.g. the
    * `_bde_CreateIncDeletes` insert at `:1695`): one statement per nation
    * row, every `%i%` marker — including a repeated one — substituted by
    * the same sequential REPLACE chain the reference runs. Pure codegen
    * string work on the executors; nothing collects.
    */
  private val StmtTemplate =
    "INSERT INTO %1%_hist SELECT * FROM %1% WHERE n_regionkey = %2% -- ds %3%"

  def templateExpand(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      col("n_nationkey"),
      SqlTemplate.expandCol(lit(StmtTemplate),
        Seq(lower(col("n_name")), col("n_regionkey").cast("string"),
          lit("20260101000000"))).as("sql_text"))
      .orderBy("n_nationkey")

  val templateExpandSql: String = s"""
    SELECT n_nationkey,
      replace(replace(replace('$StmtTemplate',
        '%1%', lower(n_name)),
        '%2%', CAST(n_regionkey AS VARCHAR)),
        '%3%', '20260101000000') AS sql_text
    FROM nation ORDER BY n_nationkey"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bde_read" -> (bdeRead _),
    "bde_select_columns" -> (bdeSelectColumns _),
    "bde_datasets" -> (bdeDatasets _),
    "bde_spatial_fixup" -> (bdeSpatialFixup _),
    "template_expand" -> (templateExpand _))

  val oracles: Map[String, String] = Map(
    "bde_read" -> bdeReadSql,
    "bde_select_columns" -> bdeSelectColumnsSql,
    "bde_datasets" -> bdeDatasetsSql,
    "bde_spatial_fixup" -> bdeSpatialFixupSql,
    "template_expand" -> templateExpandSql)
}
