package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-level exact dedup — the crawl stage that
  * runs BEFORE any content stage: a crawler sees the same page under
  * many surface forms (case-shifted host/scheme, explicit default port,
  * trailing slash, tracking parameters), and deduplicating on the
  * canonical URL collapses them without reading a byte of content.
  * Composes with the site-level deny list ([[GraphOps.domainBlocklist]])
  * — blocklist drops whole sites, this collapses page aliases within
  * the kept sites.
  *
  * The harness corpus carries no URLs, so the gate synthesizes each
  * document's raw URL deterministically from its doc_id ([[rawUrlSql]],
  * the same planting arithmetic both engines evaluate): alias families
  * are doc_ids ≡ (mod 100) — same site (doc_id % 20) and page
  * (doc_id % 50) — wearing four query-string variants, two host cases,
  * optional `:443`, and an optional trailing slash. Canonicalization
  * must collapse every family to ONE canonical string; the oracle
  * re-implements the canonicalizer in DuckDB's function dialect
  * (list_filter/list_sort vs filter/array_sort — an independent
  * formulation, not a mirror), so a normalization slip on either side
  * breaks the hash.
  *
  * Scale design (100 TB): canonicalization is a narrow per-row map over
  * the scan (regex + array ops, all codegen'd — no UDF); the dedup is
  * one groupBy keyed by the canonical string (high-cardinality — page
  * URLs don't concentrate), with map-side combine. Nothing else
  * shuffles; the per-site audit rides the same aggregate.
  */
object UrlOps extends graft.GateModule {

  /** The synthetic raw URL (shared SQL text — evaluated by Spark's
    * `expr` AND pasted into the DuckDB oracle, so the planted surface
    * forms are identical by construction).
    */
  private[graft] val rawUrlSql: String = """
    CASE WHEN doc_id % 2 = 0
      THEN 'https://www.site' || (doc_id % 20) || '.example'
      ELSE 'HTTPS://WWW.Site' || (doc_id % 20) || '.EXAMPLE' END
    || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
    || '/p/' || (doc_id % 50)
    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
    || CASE doc_id % 4
         WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 50)
         WHEN 1 THEN '?id=' || (doc_id % 50) || '&utm_campaign=spring'
         WHEN 2 THEN '?id=' || (doc_id % 50)
         ELSE '?ref=rss&id=' || (doc_id % 50) END"""

  /** Tracking-parameter predicate: drop `utm_*`, `ref=`, `fbclid=`,
    * `gclid=` — the standard strip list.
    */
  private def isTracking(x: Column): Column =
    substring(x, 1, 4) === "utm_" || substring(x, 1, 4) === "ref=" ||
      substring(x, 1, 7) === "fbclid=" || substring(x, 1, 6) === "gclid="

  /** The canonicalizer, as pure codegen'd column expressions over a
    * `url` string column: lowercase scheme+authority (ONLY the
    * authority — path/query case is significant), strip the scheme's
    * default port, strip trailing slashes from the path, drop tracking
    * parameters and SORT the survivors (param order is not semantic).
    */
  private[graft] def canonOf(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val auth0 = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1))
    val auth = when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .otherwise(auth0)
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    val qs = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(qs, "&"),
      x => x =!= "" && !isTracking(x)))
    concat(scheme, lit("://"), auth, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** (doc_id, url, canon_url) over the corpus. */
  private def urls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(rawUrlSql.trim).as("url"))
      .withColumn("canon_url", canonOf(col("url")))

  /** Gate: per-document canonicalization — raw and canonical URL side
    * by side (the transform itself; the hash catches any normalization
    * divergence on any document).
    */
  def urlCanonicalize(s: SparkSession, dir: String): DataFrame =
    urls(s, dir).orderBy("doc_id")

  /** The DuckDB canonicalizer over CTE `u(doc_id, url)` — list_filter/
    * list_sort dialect, independently formulated.
    */
  private val canonCteSql: String = """
    uparts AS (SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS auth0,
        regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
          '/+$', '') AS path,
        regexp_extract(url, '\?([^#]*)', 1) AS qs
      FROM u),
    ucanon AS (SELECT doc_id, url,
        scheme || '://' ||
        CASE WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
             WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
             ELSE auth0 END
        || path ||
        CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
             ELSE '' END AS canon_url
      FROM (SELECT doc_id, url, scheme, auth0, path,
              list_sort(list_filter(string_split(qs, '&'),
                x -> x <> '' AND NOT (substr(x, 1, 4) IN ('utm_', 'ref=')
                  OR substr(x, 1, 7) = 'fbclid='
                  OR substr(x, 1, 6) = 'gclid='))) AS kept
            FROM uparts))"""

  private def preludeSql: String = s"""
    u AS (SELECT doc_id, ${rawUrlSql.trim} AS url FROM documents),
    $canonCteSql"""

  val urlCanonicalizeSql: String = s"""
    WITH $preludeSql
    SELECT doc_id, url, canon_url FROM ucanon ORDER BY doc_id"""

  /** Per-batch partials for the streaming canonical-URL registry
    * ([[graft.streaming.StreamUrlDedup]]): per canonical URL, the
    * batch's min doc_id, member count, and distinct surface forms —
    * one map-side-combining pass, the pre-aggregation `foreachBatch`
    * would run in production.
    */
  private[graft] def urlPartials(s: SparkSession, dir: String): DataFrame =
    urls(s, dir)
      .groupBy(col("canon_url").as("cu"))
      .agg(min(col("doc_id")).as("min_doc"),
        count(lit(1)).as("nd"),
        collect_set(col("url")).as("surfaces"))

  /** Gate: exact URL-level dedup on the canonical key — one row per
    * canonical URL with its site, member count, DISTINCT surface-form
    * count, and the kept document (global-min doc_id — the crawl-order
    * winner). The planted alias families (5 members per canonical at
    * 100-doc period) must collapse; Spark derives the site from the
    * planting arithmetic (group-constant by construction) while the
    * oracle re-extracts it from the canonical string — agreement is
    * part of the check.
    */
  def dedupUrl(s: SparkSession, dir: String): DataFrame =
    urls(s, dir)
      .groupBy(col("canon_url"))
      .agg(concat(lit("site"), min(col("doc_id") % 20).cast("string"))
          .as("site"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_surfaces"),
        min(col("doc_id")).as("keep_doc"))
      .orderBy("canon_url")

  val dedupUrlSql: String = s"""
    WITH $preludeSql
    SELECT canon_url,
      'site' || regexp_extract(canon_url, 'www\\.site([0-9]+)\\.', 1)
        AS site,
      count(*) AS n_docs,
      CAST(count(DISTINCT url) AS BIGINT) AS n_surfaces,
      min(doc_id) AS keep_doc
    FROM ucanon GROUP BY canon_url ORDER BY canon_url"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "url_canonicalize" -> (urlCanonicalize _),
    "dedup_url" -> (dedupUrl _))

  val oracles: Map[String, String] = Map(
    "url_canonicalize" -> urlCanonicalizeSql,
    "dedup_url" -> dedupUrlSql)
}
