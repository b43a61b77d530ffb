package graft.operators

import graft.Tables
import org.apache.spark.sql.{CachedLeaf, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring deduplication — find-and-REMOVE duplicated token spans
  * of length ≥ k shared ACROSS documents (the suffix-array dedup family of
  * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better", re-expressed as distributed sorted-k-gram grouping). The
  * document-level dedup ops ([[Dedup]]) drop whole near-identical
  * documents; this one excises the duplicated SPANS — boilerplate,
  * licenses, templated passages — that survive document-level filters, the
  * highest-value dedup step for a production LLM corpus.
  *
  * Construction (all md5 so DuckDB replays bit-for-bit; xxhash64 at
  * production scale by swapping one expression):
  *
  *  1. every token position emits its k-gram hash — one row per (doc,
  *     pos), linear in the corpus;
  *  2. grams group by hash; a gram in ≥ 2 distinct docs is DUPLICATED.
  *     Crucially the occurrence stream joins back to this per-gram
  *     AGGREGATE (one row per gram), never to the other occurrences —
  *     posting lists of hot boilerplate grams cannot go quadratic the way
  *     a pair self-join would;
  *  3. per document, adjacent duplicated positions merge into MAXIMAL
  *     spans by gaps-and-islands (`pos − row_number` over a per-doc
  *     window — the partition key is doc_id, high-cardinality by nature);
  *  4. the removal transform keeps each gram's GLOBAL FIRST occurrence
  *     (min (doc_id, pos) — deterministic) and strips every token covered
  *     only by later occurrences, re-joining the survivors in order.
  *
  * Scale: one shuffle keyed by gram hash (step 2), one keyed by (doc,
  * pos) (steps 3-4); per-doc windows and per-doc folds are bounded by
  * document length. No pair join, no collect, no window over a
  * low-cardinality key.
  *
  * Ref for the gate-corpus pattern (planted duplicates the oracle
  * replays): linz_bde_uploader seeds fixture rows the same way its tests
  * verify incremental loads (`t/` fixtures).
  */
object SubstringDedup extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Minimum duplicated run, in tokens: spans shorter than K never match. */
  private val K = 8

  /** Planted copies: every 13th doc re-contributes this many tokens
    * starting here under doc_id+200000, so known cross-doc duplicated
    * spans exist on both engines.
    */
  private val PlantFrom = 3
  private val PlantLen = 20

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(norm, " ").as("ws"))

  /** The gate corpus: documents plus planted cross-doc span copies, each
    * with a unique tail so the planted doc is NOT a whole-document
    * duplicate (that's [[Dedup.dedupExact]]'s job).
    */
  private[operators] def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val planted = tokens(d)
      .filter(col("doc_id") % 13 === 0 &&
        size(col("ws")) >= PlantFrom + PlantLen - 1)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(concat_ws(" ", slice(col("ws"), PlantFrom, PlantLen)),
          lit(" planted tail "), col("doc_id").cast("string")).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(planted)
  }

  private[operators] val corpusSql: String = s"""
    w0 AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents),
    plant AS (
      SELECT doc_id + 200000 AS pid,
        array_to_string(ws[$PlantFrom:${PlantFrom + PlantLen - 1}], ' ')
          || ' planted tail ' || CAST(doc_id AS VARCHAR) AS ptext
      FROM w0
      WHERE doc_id % 13 = 0 AND len(ws) >= ${PlantFrom + PlantLen - 1}),
    alltok AS (
      SELECT doc_id, ws FROM w0
      UNION ALL
      SELECT pid AS doc_id,
        string_split(lower(trim(regexp_replace(ptext, '\\s+', ' ', 'g'))),
          ' ') AS ws
      FROM plant)"""

  /** One row per k-gram occurrence: (doc_id, p, g). */
  private[graft] def gramsOf(docs: DataFrame, k: Int): DataFrame =
    tokens(docs)
      .withColumn("p", explode(sequence(lit(1), size(col("ws")))))
      .filter(col("p") + (k - 1) <= size(col("ws")))
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", slice(col("ws"), col("p"), lit(k)))).as("g"))

  private def gramsSql(k: Int): String = s"""
    pos AS (SELECT doc_id, ws,
              unnest(generate_series(1, len(ws) - ${k - 1})) AS p
            FROM alltok),
    grams AS (SELECT doc_id, p,
                md5(array_to_string(ws[p:p+${k - 1}], ' ')) AS g
              FROM pos)"""

  /** Grams duplicated across ≥ 2 documents, with their doc counts. */
  private def dupGrams(grams: DataFrame): DataFrame =
    grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)

  private val dupGramsSql: String = """
    dupg AS (SELECT g, count(DISTINCT doc_id) AS n_docs
             FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2)"""

  /** Maximal duplicated spans per document: (doc_id, span_start, span_end,
    * n_grams, n_docs) where [span_start, span_end] are 1-based inclusive
    * token indices and n_docs = min over the span's grams of the gram's
    * distinct-document count (how widely the narrowest piece is shared).
    */
  private[graft] def spansOf(docs: DataFrame, k: Int): DataFrame = {
    val grams = gramsOf(docs, k)
    val dpos = grams.join(dupGrams(grams), "g")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    dpos.withColumn("isl", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"),
        min(col("n_docs")).as("n_docs"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"), col("n_docs"))
      .orderBy("doc_id", "span_start")
  }

  /** The removal transform: strip every token covered only by NON-FIRST
    * occurrences of duplicated grams (global first = min (doc_id, pos) per
    * gram — the first-occurrence span survives verbatim). One row per
    * AFFECTED document: kept/removed token counts and the md5 of the
    * cleaned text (survivors re-joined in order).
    */
  private[graft] def stripOf(docs: DataFrame, k: Int): DataFrame = {
    val grams = gramsOf(docs, k)
    val dpos = grams.join(dupGrams(grams).select("g"), "g")
    val okey = col("doc_id").cast("long") * 1000000L + col("p")
    val own = dpos.groupBy(col("g")).agg(min(okey).as("okey"))
    val rem = dpos.join(own, "g")
      .filter(okey =!= col("okey"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("t"))
      .distinct()
    stripTail(docs, rem)
  }

  /** The strip tail over a computed removed-token frame (doc_id, t) —
    * shared with the STREAMING gram-state maintainer
    * ([[graft.streaming.StreamGrams]]), whose maintained per-gram
    * (min_okey, doc_lo, doc_hi) state derives the identical frame.
    */
  private[graft] def stripTail(docs: DataFrame, rem: DataFrame): DataFrame = {
    // the output contract is AFFECTED documents only (one row per doc
    // with a removal), so the reassembly prunes the corpus to the
    // affected-doc set FIRST — an equi-join on the doc id;
    // without it, the per-doc md5 rebuild runs over the whole corpus
    // and the final join throws all but the affected rows away
    // (measured: the full-corpus rebuild dominated the strip's cost
    // while removals touched < 1% of documents — the realistic shape).
    // `rem` is removal-sized but its PLAN is the whole upstream strip
    // head, and three consumers read it (the affected set, the removal
    // counts, the anti-join) — materialize once.
    val remM = CachedLeaf.checkpoint(rem)
    // NO broadcast hint on the affected set: it is data-dependent and
    // unbounded — on a heavily duplicated corpus (the exact target of a
    // substring strip) it can approach corpus size, and a forced
    // broadcast would OOM instead of degrading to a shuffle join. AQE
    // sees the materialized (localCheckpoint'd) size at runtime and
    // broadcasts exactly when it actually fits.
    val affected = remM.select(col("doc_id")).distinct()
    val toks = tokens(docs)
      .join(affected, "doc_id")
      .withColumn("t", explode(sequence(lit(1), size(col("ws")))))
      .select(col("doc_id"), col("t"), element_at(col("ws"), col("t")).as("tok"))
    val kept = toks.join(remM, Seq("doc_id", "t"), "left_anti")
    val remc = remM.groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    val keptagg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("t"), col("tok")))),
            x => x.getField("tok")), " ")).as("clean_hash"))
    remc.join(keptagg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_removed"), coalesce(col("clean_hash"), md5(lit("")))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- streaming composition

  /** The gate corpus's gram occurrences (doc_id, p, g) — the observation
    * stream the streaming maintainer consumes.
    */
  private[graft] def gramObs(s: SparkSession, dir: String): DataFrame =
    gramsOf(corpus(s, dir), K)

  /** The strip gate recomputed from a MAINTAINED per-gram state frame
    * (g, min_okey, doc_lo, doc_hi): dup ⇔ doc_lo ≠ doc_hi (≥ 2 distinct
    * docs), keeper ⇔ okey = min_okey — the identical predicates the batch
    * path derives, so the result checks against the SAME oracle.
    */
  private[graft] def stripFromState(s: SparkSession, dir: String,
                                    st: DataFrame): DataFrame = {
    val okey = col("doc_id").cast("long") * 1000000L + col("p")
    val rem = gramObs(s, dir).join(st, "g")
      .filter(col("doc_lo") =!= col("doc_hi") && okey =!= col("min_okey"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (K - 1))).as("t"))
      .distinct()
    stripTail(corpus(s, dir), rem)
  }

  // ------------------------------------------------------------------ gates

  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    spansOf(corpus(s, dir), K)

  val dedupSubstringSql: String = s"""
    WITH $corpusSql,
    ${gramsSql(K)},
    $dupGramsSql,
    dpos AS (SELECT gr.doc_id, gr.p, d.n_docs
             FROM grams gr JOIN dupg d USING (g)),
    isl AS (SELECT doc_id, p, n_docs,
              p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS isl
            FROM dpos)
    SELECT doc_id, min(p) AS span_start, max(p) + ${K - 1} AS span_end,
      count(*) AS n_grams, min(n_docs) AS n_docs
    FROM isl GROUP BY doc_id, isl ORDER BY doc_id, span_start"""

  def dedupSubstringStrip(s: SparkSession, dir: String): DataFrame =
    stripOf(corpus(s, dir), K)

  val dedupSubstringStripSql: String = s"""
    WITH $corpusSql,
    ${gramsSql(K)},
    $dupGramsSql,
    dpos AS (SELECT gr.doc_id, gr.p, gr.g FROM grams gr JOIN dupg USING (g)),
    own AS (SELECT g, min(CAST(doc_id AS BIGINT) * 1000000 + p) AS okey
            FROM dpos GROUP BY g),
    remdup AS (SELECT doc_id, p FROM dpos JOIN own USING (g)
               WHERE CAST(doc_id AS BIGINT) * 1000000 + p <> okey),
    rem0 AS (SELECT doc_id, unnest(generate_series(p, p + ${K - 1})) AS t
             FROM remdup),
    rem AS (SELECT DISTINCT doc_id, t FROM rem0),
    toks0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS t
              FROM alltok),
    toks AS (SELECT doc_id, t, ws[t] AS tok FROM toks0),
    kept AS (SELECT doc_id, t, tok FROM toks k WHERE NOT EXISTS
              (SELECT 1 FROM rem r WHERE r.doc_id = k.doc_id AND r.t = k.t)),
    remc AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
    keptagg AS (SELECT doc_id, count(*) AS n_kept,
                  md5(string_agg(tok, ' ' ORDER BY t)) AS clean_hash
                FROM kept GROUP BY doc_id)
    SELECT r.doc_id, coalesce(k.n_kept, 0) AS n_kept, r.n_removed,
      coalesce(k.clean_hash, md5('')) AS clean_hash
    FROM remc r LEFT JOIN keptagg k USING (doc_id) ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> (dedupSubstring _),
    "dedup_substring_strip" -> (dedupSubstringStrip _))

  val oracles: Map[String, String] = Map(
    "dedup_substring" -> dedupSubstringSql,
    "dedup_substring_strip" -> dedupSubstringStripSql)
}
