package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-hygiene filters for training-data pipelines: intra-document
  * repetition signals (the Gopher-style quality gate that catches boilerplate
  * and degenerate generations) and benchmark decontamination (remove
  * training documents that share n-grams with an evaluation set).
  *
  * Scale design (100 TB):
  * - `text_repetition` is two narrow passes per n-gram order: explode →
  *   (doc, gram) count with map-side combine → per-doc aggregate. The
  *   shuffle key is (doc_id, gram), so hot grams never concentrate (each
  *   document's grams stay in that document's groups); no joins against
  *   corpus-wide state.
  * - `decontaminate` joins the corpus shingle table against the DISTINCT
  *   shingles of the eval set — the eval side is tiny by construction
  *   (benchmarks are human-sized), so it broadcasts as a filtered plan and
  *   the "join" is a broadcast semi-probe over the corpus scan: no shuffle
  *   of the 100 TB side at all.
  */
object CorpusFilters extends graft.GateModule {

  import TextNorm.{norm, normSql}

  // ------------------------------------------------------------ repetition

  /** Gopher-style thresholds: a doc whose single most frequent bigram
    * covers ≥ 18% of bigram slots, or whose duplicated trigrams cover
    * ≥ 30% of trigram slots, is flagged repetitive.
    */
  private val TopBigramMax = 0.18
  private val DupTrigramMax = 0.30

  /** Word n-grams WITH multiplicity (unlike [[Dedup]]'s distinct shingles —
    * repetition is exactly what multiplicity measures).
    */
  private def grams(docs: DataFrame, n: Int): DataFrame = {
    val ws = split(norm, " ")
    docs.select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= math.max(3, n))
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - (n - 1))))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(k =>
          element_at(col("ws"), col("i") + k)): _*).as("g"))
  }

  private def gramsSql(n: Int): String = {
    val parts = (0 until n).map(k => s"ws[i + $k]").mkString(" || ' ' || ")
    s"""(SELECT doc_id, $parts AS g FROM (
          SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${n - 1})) AS i
          FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                FROM documents)
          WHERE len(ws) >= ${math.max(3, n)}))"""
  }

  /** Per-document repetition signals: total bigram slots, the top bigram's
    * share of them, and the share of trigram slots occupied by trigrams
    * appearing more than once.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bg = grams(docs, 2).groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top"))
      .withColumn("top_bigram_frac",
        col("top").cast("double") / col("n_bigrams").cast("double"))
    val tg = grams(docs, 3).groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"),
        sum(col("c")).as("n_tri"))
      .withColumn("dup_trigram_frac",
        col("dup").cast("double") / col("n_tri").cast("double"))
    bg.join(tg, "doc_id")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("top_bigram_frac"), 6).as("top_bigram_frac"),
        round(col("dup_trigram_frac"), 6).as("dup_trigram_frac"),
        (col("top_bigram_frac") >= TopBigramMax ||
          col("dup_trigram_frac") >= DupTrigramMax).as("repetitive"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String = s"""
    WITH bgc AS (
      SELECT doc_id, g, count(*) AS c FROM ${gramsSql(2)} GROUP BY 1, 2),
    bstat AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
          AS top_bigram_frac
      FROM bgc GROUP BY doc_id),
    tgc AS (
      SELECT doc_id, g, count(*) AS c FROM ${gramsSql(3)} GROUP BY 1, 2),
    tstat AS (
      SELECT doc_id,
        CAST(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS DOUBLE)
          / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS dup_trigram_frac
      FROM tgc GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
      round(top_bigram_frac, 6) AS top_bigram_frac,
      round(dup_trigram_frac, 6) AS dup_trigram_frac,
      top_bigram_frac >= $TopBigramMax OR dup_trigram_frac >= $DupTrigramMax
        AS repetitive
    FROM bstat JOIN tstat USING (doc_id)
    ORDER BY doc_id"""

  // ------------------------------------------------------------ boilerplate

  /** A word [[BoilerN]]-gram present in ≥ [[BoilerDf]] distinct documents
    * counts as corpus boilerplate (headers, footers, license blurbs — the
    * signal RefinedWeb-style line-dedup keys on; word n-grams are the
    * line-free analog for corpora whose text carries no newlines). The df
    * threshold is an absolute count here because the harness corpus is
    * fixed-size; at production scale it becomes a per-mille of corpus
    * cardinality (the df pass already computes the denominator).
    */
  private val BoilerN = 3
  private val BoilerDf = 5

  /** Cross-document boilerplate audit: per document, the number of n-gram
    * slots, how many are occupied by corpus-boilerplate grams, and the
    * boilerplate fraction.
    *
    * Scale: pass 1 derives each gram's document frequency via
    * (doc, gram)-distinct then a gram-keyed count — both map-side-combining
    * aggregations over the exploded gram stream, shuffle-keyed by gram so
    * no document concentrates anywhere; pass 2 re-joins the stream against
    * the df-filtered boilerplate set, which shrinks with the threshold
    * (broadcastable in practice — AQE decides from its measured size).
    * Documents too short for a [[BoilerN]]-gram re-enter through the left
    * join with zero slots rather than silently dropping.
    */
  def corpusBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val g = grams(docs, BoilerN)
    val boiler = g.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerDf)
      .select(col("g").as("bg"))
    val perDoc = g.join(boiler, col("g") === col("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("bg")).as("n_boiler"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_boiler").cast("double") /
            col("n_grams").cast("double")), 6).as("boiler_frac"))
      .orderBy("doc_id")
  }

  val corpusBoilerplateSql: String = s"""
    WITH boiler AS (
      SELECT g FROM (
        SELECT g, count(DISTINCT doc_id) AS df FROM ${gramsSql(BoilerN)} t
        GROUP BY g)
      WHERE df >= $BoilerDf),
    pd AS (
      SELECT t.doc_id, count(*) AS n_grams, count(b.g) AS n_boiler
      FROM ${gramsSql(BoilerN)} t LEFT JOIN boiler b ON t.g = b.g
      GROUP BY t.doc_id)
    SELECT d.doc_id,
      coalesce(pd.n_grams, 0) AS n_grams,
      coalesce(pd.n_boiler, 0) AS n_boiler,
      round(CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0.0
            ELSE CAST(pd.n_boiler AS DOUBLE) / CAST(pd.n_grams AS DOUBLE) END,
        6) AS boiler_frac
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    ORDER BY d.doc_id"""

  // -------------------------------------------------------- decontamination

  /** Documents whose id ≡ 0 (mod 101) stand in for the evaluation set. */
  private[operators] val EvalMod = 101

  /** A training doc sharing ≥ this many distinct 3-gram shingles with the
    * eval set is contaminated.
    */
  private val ContaminationMin = 3

  /** Benchmark decontamination: per training document, the number of
    * distinct 3-gram shingles shared with ANY eval document, for documents
    * with at least one shared shingle. Anti-joining `contaminated` out of
    * the corpus is the production step; the gate surfaces the overlap
    * counts so the threshold is auditable.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shinglesOf(s, dir)
    val evalSh = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("sh")).distinct()
    sh.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalSh), "sh")
      .groupBy("doc_id")
      // shingles are distinct per doc, so count(*) counts distinct shares
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("doc_id"), col("n_overlap"),
        (col("n_overlap") >= ContaminationMin).as("contaminated"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String = s"""
    WITH ${Dedup.shinglesSql},
    ev AS (SELECT DISTINCT t.sh FROM sh t WHERE t.doc_id % $EvalMod = 0)
    SELECT t.doc_id, count(*) AS n_overlap,
           count(*) >= $ContaminationMin AS contaminated
    FROM sh t JOIN ev ON t.sh = ev.sh
    WHERE t.doc_id % $EvalMod <> 0
    GROUP BY t.doc_id
    ORDER BY t.doc_id"""

  // --------------------------------------------- span-level decontamination

  /** Gram width of the span decontamination (3 so the synthetic corpus
    * has natural train/eval overlap — production uses 8–13-token grams,
    * one constant).
    */
  private[operators] val SpanK = 3

  /** Span-level eval decontamination — the PaLM/GPT-3 contamination
    * handling that REMOVES the overlapping span instead of dropping the
    * document ([[decontaminate]] flags whole docs; dropping a 2000-token
    * doc for one shared sentence wastes the other 1990 tokens): every
    * training-doc position whose [[SpanK]]-gram appears ANYWHERE in the
    * eval set is stripped, overlapping matches union into spans, and the
    * cleaned text is reassembled. One row per affected training doc with
    * kept/removed counts and the cleaned-text md5 (the
    * `dedup_substring_strip` output contract — same reassembly tail,
    * shared code).
    *
    * Scale: gram emission is linear in the corpus; the eval gram set is
    * tiny by construction (benchmarks are human-sized) so it broadcasts
    * as a filtered plan and the probe is a broadcast semi-join over the
    * gram stream — the 100 TB side never shuffles for candidate
    * generation; the reassembly prunes to affected docs first
    * ([[SubstringDedup.stripTail]]'s discipline).
    */
  def decontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val grams = SubstringDedup.gramsOf(docs, SpanK)
    val evalG = grams.filter(col("doc_id") % EvalMod === 0)
      .select(col("g")).distinct()
    val rem = grams.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalG), "g")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (SpanK - 1))).as("t"))
      .distinct()
    SubstringDedup.stripTail(docs.filter(col("doc_id") % EvalMod =!= 0), rem)
  }

  val decontaminateSpansSql: String = s"""
    WITH dsw AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents),
    dsg AS (
      SELECT doc_id, p, md5(array_to_string(ws[p:p+${SpanK - 1}], ' ')) AS g
      FROM (SELECT doc_id, ws,
              unnest(generate_series(1, len(ws) - ${SpanK - 1})) AS p
            FROM dsw)),
    evg AS (SELECT DISTINCT g FROM dsg WHERE doc_id % $EvalMod = 0),
    remdup AS (SELECT doc_id, p FROM dsg JOIN evg USING (g)
               WHERE doc_id % $EvalMod <> 0),
    rem0 AS (SELECT doc_id, unnest(generate_series(p, p + ${SpanK - 1})) AS t
             FROM remdup),
    rem AS (SELECT DISTINCT doc_id, t FROM rem0),
    dstoks AS (SELECT doc_id, t, ws[t] AS tok
               FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws))) AS t
                     FROM dsw WHERE doc_id % $EvalMod <> 0)),
    dskept AS (SELECT doc_id, t, tok FROM dstoks k WHERE NOT EXISTS
                (SELECT 1 FROM rem r WHERE r.doc_id = k.doc_id
                 AND r.t = k.t)),
    dsremc AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
    dskeptagg AS (SELECT doc_id, count(*) AS n_kept,
                    md5(string_agg(tok, ' ' ORDER BY t)) AS clean_hash
                  FROM dskept GROUP BY doc_id)
    SELECT r.doc_id, coalesce(k.n_kept, 0) AS n_kept, r.n_removed,
      coalesce(k.clean_hash, md5('')) AS clean_hash
    FROM dsremc r LEFT JOIN dskeptagg k USING (doc_id) ORDER BY doc_id"""

  // --------------------------------------------- decontamination K sweep

  /** Gram widths the decontamination sweep prices. The published
    * pipelines disagree on K — 8-gram (PaLM), 13-gram (the GPT-3/MMLU
    * convention) — and 4 anchors the aggressive end; the knob is
    * exactly the tuning-table discipline: measure each candidate's
    * blast radius before re-stripping 100 TB.
    */
  private[operators] val DecontKs = Seq(4, 8, 13)

  /** Gate: the decontamination GRAM-LENGTH tuning table — per K ∈
    * {4, 8, 13}, the distinct eval-set K-grams, how many of them occur
    * in the training corpus, the training documents a K-strip would
    * touch, and the token positions it would remove (overlapping
    * matches unioned, [[decontaminateSpans]]' span semantics). Shorter
    * K strips aggressively (more false-positive collateral); longer K
    * only verbatim leakage — the table is the decision artifact.
    *
    * Scale: ONE shared gram pass — a single position explode emits all
    * three gram hashes as parallel columns (three hashes per position,
    * not three corpus scans), persisted for the six branch reads; each
    * branch is then a broadcast eval-gram semi-probe + bounded scalar
    * aggregates, the [[decontaminate]] shape. Nothing rescans the raw
    * corpus per candidate (the `kn_discount_sweep` discipline).
    */
  def decontaminateKSweep(s: SparkSession, dir: String): DataFrame = {
    val minK = DecontKs.min
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"), split(norm, " ").as("ws"))
      .filter(size(col("ws")) >= minK)
      .withColumn("p", explode(sequence(lit(1),
        size(col("ws")) - (minK - 1))))
    val gcols = DecontKs.map(k =>
      when(col("p") + (k - 1) <= size(col("ws")),
        md5(concat_ws(" ", slice(col("ws"), col("p"), lit(k)))))
        .as(s"g$k"))
    val grams = pos.select(col("doc_id") +: col("p") +: gcols: _*).persist()
    val res = DecontKs.map { k =>
      val gk = grams.select(col("doc_id"), col("p"), col(s"g$k").as("g"))
        .filter(col("g").isNotNull)
      val evalG = gk.filter(col("doc_id") % EvalMod === 0)
        .select(col("g")).distinct()
      val hit = gk.filter(col("doc_id") % EvalMod =!= 0)
        .join(broadcast(evalG), "g")
      val rem = hit.select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (k - 1))).as("t"))
        .distinct()
      val remAgg = rem.agg(countDistinct(col("doc_id")).as("n_docs_touched"),
        count(lit(1)).as("n_tokens_stripped"))
      val evAgg = evalG.agg(count(lit(1)).as("n_eval_grams"))
      val mAgg = hit.select(col("g")).distinct()
        .agg(count(lit(1)).as("n_matched_grams"))
      remAgg.crossJoin(broadcast(evAgg)).crossJoin(broadcast(mAgg))
        .select(lit(k.toLong).as("gram_k"), col("n_eval_grams"),
          col("n_matched_grams"), col("n_docs_touched"),
          col("n_tokens_stripped"))
    }.reduce(_.unionByName(_)).orderBy("gram_k").localCheckpoint(true)
    grams.unpersist(false)
    res
  }

  val decontaminateKSweepSql: String = {
    val branches = DecontKs.map { k =>
      s"""
    dkev_$k AS MATERIALIZED (
      SELECT DISTINCT g$k AS g FROM dksg
      WHERE doc_id % $EvalMod = 0 AND g$k IS NOT NULL),
    dkhit_$k AS MATERIALIZED (
      SELECT d.doc_id, d.p, d.g$k AS g
      FROM dksg d JOIN dkev_$k e ON d.g$k = e.g
      WHERE d.doc_id % $EvalMod <> 0),
    dkrem0_$k AS (SELECT doc_id,
        unnest(generate_series(p, p + ${k - 1})) AS t
      FROM dkhit_$k),
    dkrem_$k AS MATERIALIZED (SELECT DISTINCT doc_id, t FROM dkrem0_$k),
    dkrow_$k AS (
      SELECT CAST($k AS BIGINT) AS gram_k,
        (SELECT count(*) FROM dkev_$k) AS n_eval_grams,
        (SELECT count(DISTINCT g) FROM dkhit_$k) AS n_matched_grams,
        (SELECT count(DISTINCT doc_id) FROM dkrem_$k) AS n_docs_touched,
        (SELECT count(*) FROM dkrem_$k) AS n_tokens_stripped)""".trim
    }.mkString(",\n    ")
    val minK = DecontKs.min
    val gsel = DecontKs.map(k =>
      s"CASE WHEN p + ${k - 1} <= len(ws) THEN " +
        s"md5(array_to_string(ws[p:p+${k - 1}], ' ')) END AS g$k")
      .mkString(",\n        ")
    s"""
    WITH dksw AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                  FROM documents),
    dksg AS MATERIALIZED (
      SELECT doc_id, p,
        $gsel
      FROM (SELECT doc_id, ws,
              unnest(generate_series(1, len(ws) - ${minK - 1})) AS p
            FROM dksw WHERE len(ws) >= $minK)),
    $branches
    SELECT * FROM (${DecontKs.map(k => s"SELECT * FROM dkrow_$k")
      .mkString(" UNION ALL ")})
    ORDER BY gram_k"""
  }

  // ------------------------------------------------------------- C4 cleaning

  /** Words per synthetic line (the corpus carries no newlines, so the
    * gate plants deterministic sentence structure: 7-word chunks,
    * terminal period on every chunk except where (doc_id + i) ≡ 0
    * (mod 4), a "lorem ipsum" line on docs ≡ 0 (mod 31), a code line
    * with braces on docs ≡ 0 (mod 37) — every rule fires both ways).
    */
  private val C4LineWords = 7

  /** Gate: C4-style cleaning (Raffel et al. 2020 §2.2): LINE level, keep
    * only lines with ≥ 3 words ending in terminal punctuation; DOCUMENT
    * level, drop any document containing "lorem ipsum" or a curly brace
    * (placeholder text and leftover code). Two deviations from the
    * paper, both harness-tuned knobs (the [[RuleMinWords]] convention):
    * the line-word floor is 3, not the paper's 5, because the synthetic
    * lines are 7 words and a floor of 5 would fire on the tail chunk
    * only; and the paper's remaining page-level rules (≥ 3 sentences,
    * bad-words list) are carried by their own gates
    * ([[qualityRules]]' word window; the blocklist joins in
    * [[graft.operators.GraphOps]]) rather than duplicated here. Emits
    * per document the line census, the drop
    * verdict with its reason flags, kept-word accounting, and the
    * cleaned-text md5 (kept lines re-joined in order; empty-string md5
    * for dropped docs).
    *
    * Scale: the whole operator is ONE narrow per-row map over the scan
    * — line construction, both rule families, and the reassembly are
    * higher-order array expressions (transform/filter/aggregate), no
    * explode, no shuffle, no state. On real crawl text the line
    * splitter is `split(text, '\\n')` and everything downstream is
    * unchanged.
    */
  def c4Filters(s: SparkSession, dir: String): DataFrame = {
    val k = C4LineWords
    val chunkLines = expr(
      s"""transform(sequence(1, (size(split($normExprSql, ' ')) + ${k - 1}) div $k),
          i -> concat(
            array_join(slice(split($normExprSql, ' '), (i - 1) * $k + 1,
              least(i * $k, size(split($normExprSql, ' '))) - (i - 1) * $k), ' '),
            case when (doc_id + i) % 4 = 0 then '' else '.' end))""")
    val lines = concat(chunkLines,
      when(col("doc_id") % 31 === 0,
        array(lit("lorem ipsum dolor sit amet.")))
        .otherwise(array().cast("array<string>")),
      when(col("doc_id") % 37 === 0,
        array(lit("function() { return 0; }")))
        .otherwise(array().cast("array<string>")))
    Tables.documents(s, dir)
      .select(col("doc_id"), lines.as("lines"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        expr(s"filter(lines, l -> size(split(l, ' ')) >= 3 AND l LIKE '%.')")
          .as("kept"),
        expr("exists(lines, l -> l LIKE '%lorem ipsum%')").as("has_lorem"),
        expr("exists(lines, l -> contains(l, '{'))").as("has_brace"))
      .withColumn("doc_dropped", col("has_lorem") || col("has_brace"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept_lines"),
        col("has_lorem"), col("has_brace"), col("doc_dropped"),
        when(col("doc_dropped"), 0L)
          .otherwise(expr(
            "aggregate(kept, 0L, (a, l) -> a + size(split(l, ' ')))"))
          .cast("long").as("n_kept_words"),
        when(col("doc_dropped"), md5(lit("")))
          .otherwise(md5(expr("array_join(kept, ' ')"))).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** The normalization as a raw SQL-expression string (for nesting inside
    * higher-order lambdas where a Column can't be spliced).
    */
  private def normExprSql: String =
    "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"

  val c4FiltersSql: String = {
    val k = C4LineWords
    s"""
    WITH c4w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents),
    c4l AS (
      SELECT doc_id,
        list_transform(generate_series(1, (len(ws) + ${k - 1}) // $k),
          i -> array_to_string(ws[(i - 1) * $k + 1 : least(i * $k, len(ws))],
                 ' ')
               || CASE WHEN (doc_id + i) % 4 = 0 THEN '' ELSE '.' END)
        || CASE WHEN doc_id % 31 = 0
             THEN ['lorem ipsum dolor sit amet.']
             ELSE CAST([] AS VARCHAR[]) END
        || CASE WHEN doc_id % 37 = 0
             THEN ['function() ' || chr(123) || ' return 0; ' || chr(125)]
             ELSE CAST([] AS VARCHAR[]) END AS lines
      FROM c4w),
    c4k AS (
      SELECT doc_id, lines,
        list_filter(lines,
          l -> len(string_split(l, ' ')) >= 3 AND l LIKE '%.') AS kept,
        len(list_filter(lines, l -> l LIKE '%lorem ipsum%')) > 0
          AS has_lorem,
        len(list_filter(lines, l -> contains(l, chr(123)))) > 0 AS has_brace
      FROM c4l)
    SELECT doc_id,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(kept) AS BIGINT) AS n_kept_lines,
      has_lorem, has_brace,
      (has_lorem OR has_brace) AS doc_dropped,
      CAST(CASE WHEN has_lorem OR has_brace THEN 0
        ELSE coalesce(list_sum(list_transform(kept,
               l -> len(string_split(l, ' ')))), 0) END AS BIGINT)
        AS n_kept_words,
      CASE WHEN has_lorem OR has_brace THEN md5('')
        ELSE md5(array_to_string(kept, ' ')) END AS clean_hash
    FROM c4k ORDER BY doc_id"""
  }

  // ----------------------------------------------------------- novelty curve

  /** Gram order of the novelty census (3 so the synthetic vocabulary
    * saturates and the decay is visible; production uses 8+ with the
    * same plan).
    */
  private val NoveltyN = 3

  /** Crawl windows the corpus splits into (by doc-id decile — the
    * stand-in for crawl batches).
    */
  private val NoveltyWindows = 10

  /** Gate: the corpus NOVELTY CURVE — per crawl window, how many of its
    * distinct n-grams were never seen in ANY earlier window. This is
    * the diminishing-returns table behind the "is another crawl worth
    * it" decision (data-scaling studies measure exactly this decay):
    * when `n_new_grams / n_grams_distinct` collapses, additional
    * same-source data stops adding information and the budget should
    * move to new sources — the acquisition-side complement of
    * [[graft.operators.Quality.qualityDrift]]'s filter-side monitor.
    *
    * Scale: one gram emission pass; everything after is gram-keyed
    * aggregation (first-seen window = min over the gram's windows —
    * map-side combining, no posting-list joins, no pair joins) plus
    * window-keyed counts. Output is O(windows).
    */
  /** The gram-occurrence observation stream (doc_id, g, w) the novelty
    * census aggregates — shared with the STREAMING maintainer
    * ([[graft.streaming.StreamNovelty]]), whose per-gram
    * (first-window, window-bitmask) state derives the identical
    * report.
    */
  private[graft] def noveltyObs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val maxId = docs.agg(max(col("doc_id")).as("mx"))
    grams(docs, NoveltyN)
      .crossJoin(broadcast(maxId))
      .withColumn("w",
        least(lit(NoveltyWindows - 1),
          expr(s"(doc_id * $NoveltyWindows) div (mx + 1)")))
      .select(col("doc_id"), col("g"), col("w"))
  }

  /** The read-time novelty report over per-gram states (g, first_w,
    * wmask) + per-window occurrence counters (w, n_docs, n_occ) —
    * distinct-gram counts come from the window BITMASK, first-seen
    * counts from `first_w`; values identical to the one-shot census,
    * so the streaming gate shares `corpus_novelty`'s oracle.
    */
  /** The shared report tail: per-window counters ⋈ distinct-gram counts
    * ⋈ first-seen counts → the 6-column curve. ONE definition for the
    * one-shot census and the maintained-state path, so the
    * "streaming gate shares the oracle" invariant cannot drift.
    */
  private def noveltyTail(counters: DataFrame, dist: DataFrame,
                          fresh: DataFrame): DataFrame =
    // LEFT join from counters: once a production crawl rolls the 64-bit
    // mask past base_w, windows older than the horizon still have
    // counter rows but no surviving mask bits. An inner join would
    // silently DROP those rows; the left join keeps them with NULL
    // n_grams_distinct / novelty_rate — the explicit rolled-out marker
    // (review finding, r13). Within the horizon (every gate corpus)
    // dist covers every counted window, so no NULLs appear and the
    // one-shot census hash is unchanged.
    counters.join(dist, Seq("w"), "left").join(fresh, Seq("w"), "left")
      .select(col("w"), col("n_docs"), col("n_occ"),
        col("n_grams_distinct"),
        coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"),
        round(coalesce(col("n_new_grams"), lit(0L)).cast("double")
          / col("n_grams_distinct").cast("double"), 6).as("novelty_rate"))
      .orderBy("w")

  private[graft] def noveltyReport(gstate: DataFrame,
                                   counters: DataFrame): DataFrame = {
    // the maintained mask is a ROLLING horizon (bit i = window
    // base_w + i); with ≤ 64 windows base_w is 0 and this reduces to
    // the fixed-horizon read the oracle replays. The SET bits extract
    // INSIDE the row (higher-order filter) before the explode, so the
    // census costs rows = set bits per gram, not 64 × grams (review
    // finding, r13).
    val dist = gstate
      .select(explode(expr("filter(transform(sequence(0, 63), " +
        "i -> if(((wmask >> i) & 1) = 1, base_w + i, null)), " +
        "v -> v is not null)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_grams_distinct"))
    val fresh = gstate.groupBy(col("first_w"))
      .agg(count(lit(1)).as("n_new_grams"))
      .select(col("first_w").as("w"), col("n_new_grams"))
    noveltyTail(counters, dist, fresh)
  }

  def corpusNovelty(s: SparkSession, dir: String): DataFrame = {
    val g = noveltyObs(s, dir)
    val occ = g.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
    val gw = g.select(col("w"), col("g")).distinct()
    val dist = gw.groupBy(col("w")).agg(count(lit(1)).as("n_grams_distinct"))
    val fresh = gw.groupBy(col("g")).agg(min(col("w")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_new_grams"))
    noveltyTail(occ, dist, fresh)
  }

  val corpusNoveltySql: String = s"""
    WITH cnm AS (SELECT max(doc_id) AS mx FROM documents),
    cng AS (
      SELECT doc_id, g,
        least(${NoveltyWindows - 1},
          (doc_id * $NoveltyWindows) // (mx + 1)) AS w
      FROM ${gramsSql(NoveltyN)} t, cnm),
    cnocc AS (
      SELECT w, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
      FROM cng GROUP BY w),
    cngw AS (SELECT DISTINCT w, g FROM cng),
    cndist AS (SELECT w, count(*) AS n_grams_distinct FROM cngw GROUP BY w),
    cnfresh AS (
      SELECT w, count(*) AS n_new_grams FROM (
        SELECT g, min(w) AS w FROM cngw GROUP BY g)
      GROUP BY w)
    SELECT w, CAST(n_docs AS BIGINT) AS n_docs,
      CAST(n_occ AS BIGINT) AS n_occ,
      CAST(n_grams_distinct AS BIGINT) AS n_grams_distinct,
      CAST(coalesce(n_new_grams, 0) AS BIGINT) AS n_new_grams,
      round(CAST(coalesce(n_new_grams, 0) AS DOUBLE)
        / CAST(n_grams_distinct AS DOUBLE), 6) AS novelty_rate
    FROM cnocc JOIN cndist USING (w) LEFT JOIN cnfresh USING (w)
    ORDER BY w"""

  // --------------------------------------------------------- HTML extract

  /** HTML → text extraction — the crawl-processing stage (WET-record
    * production) that precedes every other filter in a web-corpus
    * pipeline: drop `<script>`/`<style>` blocks (content and all), strip
    * the remaining tags, decode the core entities (`&lt; &gt; &quot;
    * &amp;` — amp LAST, the standard order, so `&amp;lt;` decodes to the
    * literal `&lt;`), collapse whitespace. Patterns stay inside the
    * regex dialect Spark (java.util.regex) and DuckDB (RE2) share: lazy
    * quantifiers and `(?s)`, NO backreferences (RE2 has none — script
    * and style get separate patterns instead of a `</\\1>` trick).
    *
    * The gate wraps each document in a deterministic synthetic page
    * (title + h1 + styled paragraph + a script with a `</p>` inside a
    * string literal — the classic naive-stripper trap — plus planted
    * entities), extracts, and emits size/tag-density stats with a
    * per-document ROUNDTRIP flag against the exactly-known expected
    * text. Scale shape: one narrow map over the scan, no shuffle, no
    * state — the 100 TB version is the same expressions over real WARC
    * payload columns.
    */
  def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>doc "), col("doc_id"),
      lit("</title><style>p{margin:0}</style></head><body><h1>doc "),
      col("doc_id"),
      lit("</h1><p class=\"t\">&lt;"), norm,
      lit(" &amp; tail&gt;</p><script type=\"x\">if (a<b) { var s=\"</p>\"; }"),
      lit("</script></body></html>"))
    val noScript = regexp_replace(col("page"),
      "(?s)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", "")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&amp;", "&")
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    val expected = concat(lit("doc "), col("doc_id"), lit(" doc "),
      col("doc_id"), lit(" <"), norm, lit(" & tail>"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), page.as("page"))
      .select(col("doc_id"),
        length(col("page")).as("n_html_chars"),
        length(clean).as("n_text_chars"),
        round((length(col("page")) - length(clean)).cast("double")
          / length(col("page")), 6).as("tag_ratio"),
        when(clean === expected, 1L).otherwise(0L).as("roundtrip"))
      .orderBy("doc_id")
  }

  val htmlExtractSql: String = s"""
    WITH d AS (
      SELECT doc_id, $normSql AS nt FROM documents),
    pg AS (
      SELECT doc_id, nt,
        '<html><head><title>doc ' || doc_id ||
        '</title><style>p{margin:0}</style></head><body><h1>doc ' ||
        doc_id || '</h1><p class="t">&lt;' || nt ||
        ' &amp; tail&gt;</p><script type="x">if (a<b) { var s="</p>"; }'
        || '</script></body></html>' AS page
      FROM d),
    ex AS (
      SELECT doc_id, nt, page,
        trim(regexp_replace(
          replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(page, '(?s)<script[^>]*>.*?</script>', '',
                  'g'),
                '(?s)<style[^>]*>.*?</style>', '', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS clean
      FROM pg)
    SELECT doc_id, length(page) AS n_html_chars,
      length(clean) AS n_text_chars,
      round(CAST(length(page) - length(clean) AS DOUBLE) / length(page), 6)
        AS tag_ratio,
      CAST(CASE WHEN clean = 'doc ' || doc_id || ' doc ' || doc_id ||
        ' <' || nt || ' & tail>' THEN 1 ELSE 0 END AS BIGINT) AS roundtrip
    FROM ex ORDER BY doc_id"""

  // ----------------------------------------------------------- rule suite

  /** Gopher-rule bounds (Rae et al. 2021 §A1.1, the thresholds FineWeb /
    * Dolma ship nearly verbatim): word-count window, mean-word-length
    * window, symbol-to-word ceiling, alphabetic-word floor, minimum
    * stop-word hits. Three constants are harness-tuned (production
    * values are config knobs): the word window's lower bound is 25 (not
    * the paper's 50) so the harness corpus (10–99 words/doc) exercises
    * the rule both ways; the symbol ceiling is 0.05 (paper 0.1) and the
    * alpha floor 0.9 (paper 0.8) so the planted 6-symbol / 12-numeric
    * augmentations fire against the corpus's word-count range.
    */
  private[operators] val RuleMinWords = 25
  private[operators] val RuleMaxWords = 100000
  private[operators] val RuleMeanLo = 3.0
  private[operators] val RuleMeanHi = 10.0
  private[operators] val RuleSymMax = 0.05
  private[operators] val RuleAlphaMin = 0.9
  private[operators] val RuleStopMin = 2

  /** Gate: the Gopher-style RULE-SUITE keep decision — the per-document
    * filter verdict production quality gates ship (distinct from
    * [[graft.operators.TextOps.textQuality]]'s continuous score: a rule
    * suite is auditable per rule, and a doc is dropped for a REASON).
    * Every rule is evaluated on a deterministically AUGMENTED text —
    * docs with id ≡ 0 (mod 7) carry six planted `#` symbol words and
    * docs with id ≡ 0 (mod 13) twelve planted numeric words — because
    * the synthetic corpus is pure lowercase alpha and the symbol/alpha
    * rules would otherwise never fire. Emits the five per-rule flags,
    * the failure count, and the keep verdict; the three continuous
    * signals ride along rounded to 6dp so threshold drift is visible,
    * not just the flags.
    *
    * Scale: one narrow codegen'd map over the scan (split + three array
    * filters), no shuffle, no state — the same expressions run on real
    * crawl text at 100 TB. Double comparisons are safe cross-engine:
    * every signal is one IEEE division of exact integers, so both
    * engines compare identical doubles.
    */
  def qualityRules(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(norm,
      when(col("doc_id") % 7 === 0, lit(" # # # # # #")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit(" 0 1 2 3 4 5 6 7 8 9 10 11")).otherwise(lit("")))
    val ws = split(col("aug"), " ")
    val n = size(ws)
    val meanW = length(regexp_replace(col("aug"), " ", ""))
      .cast("double") / n
    val symRatio = size(filter(ws, w => w === "#")).cast("double") / n
    val alphaFrac = size(filter(ws, w => w.rlike("[a-z]")))
      .cast("double") / n
    val stopHits = size(filter(ws, w => w.isin(Stoplists.en: _*)))
    Tables.documents(s, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        n.cast("long").as("n_words"),
        round(meanW, 6).as("mean_word_len"),
        round(symRatio, 6).as("symbol_ratio"),
        round(alphaFrac, 6).as("alpha_frac"),
        stopHits.cast("long").as("stop_hits"),
        n.between(RuleMinWords, RuleMaxWords).as("r_words"),
        (meanW >= RuleMeanLo && meanW <= RuleMeanHi).as("r_mean_len"),
        (symRatio <= RuleSymMax).as("r_symbols"),
        (alphaFrac >= RuleAlphaMin).as("r_alpha"),
        (stopHits >= RuleStopMin).as("r_stopwords"))
      .withColumn("n_failed",
        (lit(5) - Seq("r_words", "r_mean_len", "r_symbols", "r_alpha",
          "r_stopwords").map(c => when(col(c), 1).otherwise(0))
          .reduce(_ + _)).cast("long"))
      .withColumn("keep", col("n_failed") === 0)
      .orderBy("doc_id")
  }

  val qualityRulesSql: String = {
    val stop = Stoplists.en.map("'" + _ + "'").mkString(",")
    s"""
    WITH qra AS (
      SELECT doc_id,
        $normSql
        || CASE WHEN doc_id % 7 = 0 THEN ' # # # # # #' ELSE '' END
        || CASE WHEN doc_id % 13 = 0
                THEN ' 0 1 2 3 4 5 6 7 8 9 10 11' ELSE '' END AS aug
      FROM documents),
    qrs AS (
      SELECT doc_id,
        len(ws) AS n,
        CAST(length(replace(aug, ' ', '')) AS DOUBLE) / len(ws) AS mean_w,
        CAST(len(list_filter(ws, w -> w = '#')) AS DOUBLE) / len(ws)
          AS sym_ratio,
        CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
          AS DOUBLE) / len(ws) AS alpha_frac,
        len(list_filter(ws, w -> w IN ($stop))) AS stop_hits
      FROM (SELECT doc_id, aug, string_split(aug, ' ') AS ws FROM qra)),
    qrf AS (
      SELECT doc_id, n, mean_w, sym_ratio, alpha_frac, stop_hits,
        n BETWEEN $RuleMinWords AND $RuleMaxWords AS r_words,
        mean_w >= $RuleMeanLo AND mean_w <= $RuleMeanHi AS r_mean_len,
        sym_ratio <= $RuleSymMax AS r_symbols,
        alpha_frac >= $RuleAlphaMin AS r_alpha,
        stop_hits >= $RuleStopMin AS r_stopwords
      FROM qrs)
    SELECT doc_id, CAST(n AS BIGINT) AS n_words,
      round(mean_w, 6) AS mean_word_len,
      round(sym_ratio, 6) AS symbol_ratio,
      round(alpha_frac, 6) AS alpha_frac,
      CAST(stop_hits AS BIGINT) AS stop_hits,
      r_words, r_mean_len, r_symbols, r_alpha, r_stopwords,
      CAST(5 - (CASE WHEN r_words THEN 1 ELSE 0 END
              + CASE WHEN r_mean_len THEN 1 ELSE 0 END
              + CASE WHEN r_symbols THEN 1 ELSE 0 END
              + CASE WHEN r_alpha THEN 1 ELSE 0 END
              + CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
        AS n_failed,
      (r_words AND r_mean_len AND r_symbols AND r_alpha AND r_stopwords)
        AS keep
    FROM qrf ORDER BY doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_rules" -> (qualityRules _),
    "html_extract" -> (htmlExtract _),
    "text_repetition" -> (textRepetition(_, _)),
    "corpus_boilerplate" -> (corpusBoilerplate(_, _)),
    "decontaminate" -> (decontaminate(_, _)),
    "decontaminate_spans" -> (decontaminateSpans _),
    "decontaminate_k_sweep" -> (decontaminateKSweep _),
    "corpus_novelty" -> (corpusNovelty _),
    "c4_filters" -> (c4Filters _))

  val oracles: Map[String, String] = Map(
    "c4_filters" -> c4FiltersSql,
    "corpus_novelty" -> corpusNoveltySql,
    "decontaminate_spans" -> decontaminateSpansSql,
    "decontaminate_k_sweep" -> decontaminateKSweepSql,
    "quality_rules" -> qualityRulesSql,
    "html_extract" -> htmlExtractSql,
    "text_repetition" -> textRepetitionSql,
    "corpus_boilerplate" -> corpusBoilerplateSql,
    "decontaminate" -> decontaminateSql)
}
