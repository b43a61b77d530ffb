package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Line-level boilerplate removal — the CCNet/RefinedWeb stage a crawl
  * pipeline runs before almost everything else: lines repeated across
  * many documents (navigation chrome, cookie banners, copyright footers)
  * are counted corpus-wide and stripped from EVERY document (no
  * first-occurrence exemption — unlike span dedup, a boilerplate line is
  * noise wherever it appears; content that merely repeats is the span
  * pipeline's job).
  *
  * The harness corpus is newline-free, so the gate corpus synthesizes
  * multi-line structure deterministically: each document's normalized
  * token stream re-chunks into [[LineLen]]-token lines, and known
  * boilerplate lines are planted on arithmetic document-id families —
  * the same plant-then-replay pattern as [[SubstringDedup]]'s span
  * copies, giving both engines identical known-positive lines.
  *
  * Scale design (100 TB): the census is one pass keyed by the line hash
  * (high-cardinality — no document concentrates) with map-side combine;
  * the flagged set is boilerplate-sized by construction, so the strip is
  * a BROADCAST anti-join over the corpus scan — the 100 TB side never
  * shuffles. Per-document reassembly folds inside the document row
  * (collect_list over an exploded frame grouped by doc_id — bounded by
  * document length).
  */
object LineDedup extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Tokens per synthesized line. */
  private val LineLen = 10

  /** A line in ≥ DfBar distinct documents is boilerplate. */
  private val DfBar = 3

  /** The planted boilerplate lines and the doc-id families that carry
    * them (prepended/appended so they sit at realistic positions).
    */
  private val PlantHead = "all rights reserved copyright notice"
  private val PlantTail = "subscribe to our newsletter for updates"

  /** The multi-line gate corpus: (doc_id, lines) where `lines` is the
    * document's line array — chunked content plus the planted
    * boilerplate on the % 5 / % 7 families.
    */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    linesOf(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** The corpus construction over any (doc_id, text) frame — the spec's
    * entry point for planted fixtures.
    */
  private[graft] def linesOf(docs: DataFrame): DataFrame = {
    val ws = split(norm, " ")
    docs
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 1)
      .withColumn("body", expr(
        s"""transform(sequence(0, (size(ws) + ${LineLen - 1}) div $LineLen - 1),
            i -> array_join(slice(ws, i * $LineLen + 1, $LineLen), ' '))"""))
      .select(col("doc_id"), concat(
        when(col("doc_id") % 5 === 0, array(lit(PlantHead)))
          .otherwise(array().cast("array<string>")),
        col("body"),
        when(col("doc_id") % 7 === 0, array(lit(PlantTail)))
          .otherwise(array().cast("array<string>"))).as("lines"))
  }

  private[graft] val corpusSql: String = s"""
    lw AS (SELECT doc_id, string_split($normSql, ' ') AS ws
           FROM documents WHERE len(string_split($normSql, ' ')) >= 1),
    lbody AS (SELECT doc_id,
                list_transform(
                  generate_series(0, (len(ws) + ${LineLen - 1}) // $LineLen - 1),
                  i -> array_to_string(ws[i * $LineLen + 1 : i * $LineLen + $LineLen], ' ')) AS body
              FROM lw),
    ldocs AS (SELECT doc_id,
                list_concat(list_concat(
                  CASE WHEN doc_id % 5 = 0 THEN ['$PlantHead']
                       ELSE [] END,
                  body),
                  CASE WHEN doc_id % 7 = 0 THEN ['$PlantTail']
                       ELSE [] END) AS lines
              FROM lbody)"""

  /** One row per line occurrence: (doc_id, ln, line) — 1-based position. */
  private def occ(lines: DataFrame): DataFrame =
    lines
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("l0", "line")))
      .select(col("doc_id"), (col("l0") + 1).as("ln"), col("line"))

  private val occSql: String =
    """locc AS (SELECT doc_id, ln, lines[ln] AS line
                FROM ldocs, unnest(generate_series(1, len(lines))) AS u(ln))"""

  /** The corpus-wide line frequency table, flagged at [[DfBar]]. */
  private def census(lines: DataFrame): DataFrame =
    occ(lines).groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))

  /** Per-batch partials for the streaming census maintainer
    * ([[graft.streaming.StreamLineCensus]]): per line HASH (the state
    * key — lines can be long; the state never stores line text), the
    * batch's distinct-document and occurrence counts. One map-side-
    * combining pass over the batch, the same pre-aggregation
    * `foreachBatch` would run in production.
    */
  private[graft] def linePartials(s: SparkSession, dir: String): DataFrame =
    occ(corpus(s, dir)).groupBy(md5(col("line")).as("lh"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("no"))

  /** The census DfBar threshold, shared with the streaming gate. */
  private[graft] val DfBarT = DfBar

  /** Gate: the boilerplate census — every line in ≥ [[DfBar]] distinct
    * documents, hashed (lines can be long), with document and occurrence
    * counts. The planted lines must surface with their family sizes.
    */
  def lineCensus(s: SparkSession, dir: String): DataFrame =
    census(corpus(s, dir))
      .filter(col("n_docs") >= DfBar)
      .select(md5(col("line")).as("line_hash"), col("n_docs"), col("n_occ"))
      .orderBy(col("n_docs").desc, col("line_hash"))

  val lineCensusSql: String = s"""
    WITH $corpusSql,
    $occSql,
    lcns AS (SELECT line, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occ
             FROM locc GROUP BY line)
    SELECT md5(line) AS line_hash, n_docs, n_occ
    FROM lcns WHERE n_docs >= $DfBar
    ORDER BY n_docs DESC, line_hash"""

  /** Gate: the strip — remove every flagged line from every document;
    * one row per AFFECTED document with kept/removed line counts and the
    * md5 of the cleaned text (kept lines re-joined in order). The
    * flagged set is boilerplate-sized, so the exclusion is a broadcast
    * anti-join against the corpus scan.
    */
  def lineStrip(s: SparkSession, dir: String): DataFrame = {
    val lines = corpus(s, dir)
    val flagged = census(lines).filter(col("n_docs") >= DfBar).select("line")
    val o = occ(lines)
    val rem = o.join(broadcast(flagged), "line")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    val kept = o.join(broadcast(flagged), Seq("line"), "left_anti")
    val keptagg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("ln"), col("line")))),
            x => x.getField("line")), "\n")).as("clean_hash"))
    rem.join(keptagg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_removed"), coalesce(col("clean_hash"), md5(lit("")))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  val lineStripSql: String = s"""
    WITH $corpusSql,
    $occSql,
    lcns AS (SELECT line, count(DISTINCT doc_id) AS n_docs
             FROM locc GROUP BY line),
    lflag AS (SELECT line FROM lcns WHERE n_docs >= $DfBar),
    lrem AS (SELECT doc_id, count(*) AS n_removed
             FROM locc JOIN lflag USING (line) GROUP BY doc_id),
    lkept AS (SELECT doc_id, ln, line FROM locc k WHERE NOT EXISTS
               (SELECT 1 FROM lflag f WHERE f.line = k.line)),
    lka AS (SELECT doc_id, count(*) AS n_kept,
              md5(string_agg(line, chr(10) ORDER BY ln)) AS clean_hash
            FROM lkept GROUP BY doc_id)
    SELECT r.doc_id, coalesce(k.n_kept, 0) AS n_kept, r.n_removed,
      coalesce(k.clean_hash, md5('')) AS clean_hash
    FROM lrem r LEFT JOIN lka k USING (doc_id) ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "line_census" -> (lineCensus _),
    "line_strip" -> (lineStrip _))

  val oracles: Map[String, String] = Map(
    "line_census" -> lineCensusSql,
    "line_strip" -> lineStripSql)
}
