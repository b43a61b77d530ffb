package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: quality scoring, token counting, heuristic language
  * identification, exact dedup and winnowing-style fingerprints.
  *
  * All ops are single-scan, narrow transformations (no shuffle except the
  * final groupBy where one is semantically required), expressed with
  * codegen'd built-ins and higher-order array functions — no UDFs. Ratios are
  * computed with an identical arithmetic shape in the Spark plan and the
  * DuckDB oracle so the doubles match bit-for-bit, then rounded to 6dp.
  */
/** The shared text normalization, in its own object so `TextOps` and
  * `Dedup` (which reference each other: corpus_clean composes the LSH
  * dedup; the dedup shingles build on the normalization) both depend only
  * on this leaf — keeping object initialization acyclic regardless of
  * which operator is touched first.
  */
object TextNorm {
  /** Whitespace-collapsed lowercase text. */
  val norm: Column = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
  val normSql: String = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
}

object TextOps extends graft.GateModule {

  val norm: Column = TextNorm.norm
  val normSql: String = TextNorm.normSql

  private def words: Column = split(norm, " ")

  private def hits(stop: Seq[String]): Column =
    size(filter(words, w => w.isin(stop: _*)))
  private def hitsSql(stop: Seq[String]): String =
    s"len(list_filter(ws, w -> w IN (${stop.map("'" + _ + "'").mkString(",")})))"

  // ---------------------------------------------------------------- quality

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length, and a composite score. The composite multiplies a capped word
    * count with cleanliness and stopword terms — deterministic rational
    * arithmetic only (no exp/log) so both engines agree exactly.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val stop = Stoplists.en
    val nWords = size(words)
    val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
    val punctRatio = punct.cast("double") / length(col("text"))
    val stopRatio = hits(stop).cast("double") / nWords
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_txt"),
        nWords.as("n_words"),
        round(length(regexp_replace(norm, " ", "")).cast("double") / nWords, 6)
          .as("mean_word_len"),
        round(punctRatio, 6).as("punct_ratio"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(least(lit(1.0), nWords.cast("double") / 100.0)
          * (lit(1.0) - punctRatio) * (lit(0.5) + lit(0.5) * stopRatio), 6)
          .as("quality"))
      .orderBy("doc_id")
  }

  val textQualitySql: String = {
    val stop = hitsSql(Stoplists.en)
    s"""
    WITH d AS (SELECT doc_id, text, string_split($normSql, ' ') AS ws
               FROM documents)
    SELECT doc_id,
      length(text) AS n_chars_txt,
      len(ws) AS n_words,
      round(CAST(length(replace($normSql, ' ', '')) AS DOUBLE) / len(ws), 6)
        AS mean_word_len,
      round(CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
          AS DOUBLE) / length(text), 6) AS punct_ratio,
      round(CAST($stop AS DOUBLE) / len(ws), 6) AS stopword_ratio,
      round(least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
        * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
            AS DOUBLE) / length(text))
        * (0.5 + 0.5 * (CAST($stop AS DOUBLE) / len(ws))), 6) AS quality
    FROM d ORDER BY doc_id"""
  }

  /** Just `(doc_id, quality)` — the [[textQuality]] composite (same
    * formula, kept in sync) as a joinable frame for downstream canonical
    * selection ([[Clustering]]'s keep-best dedup).
    */
  private[operators] def qualityDf(s: SparkSession, dir: String): DataFrame =
    // memoized LEAF: the composite is a regex-heavy corpus pass consumed
    // by a dozen gates (keep-best, every composed pipeline, the
    // classifier labels, the layout audits) — each used to re-run it
    graft.Memo.cachedLeaf(s, "doc_quality", dir) {
      val nWords = size(words)
      val punctRatio =
        length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
          .cast("double") / length(col("text"))
      val stopRatio = hits(Stoplists.en).cast("double") / nWords
      Tables.documents(s, dir).select(col("doc_id"),
        round(least(lit(1.0), nWords.cast("double") / 100.0)
          * (lit(1.0) - punctRatio) * (lit(0.5) + lit(0.5) * stopRatio), 6)
          .as("quality"))
    }

  /** Oracle twin of [[qualityDf]]: CTE `dq(doc_id, quality)`. */
  private[operators] val docQualityCteSql: String = {
    val stop = hitsSql(Stoplists.en)
    s"""dq AS (
      SELECT doc_id,
        round(least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
          * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
              AS DOUBLE) / length(text))
          * (0.5 + 0.5 * (CAST($stop AS DOUBLE) / len(ws))), 6) AS quality
      FROM (SELECT doc_id, text, string_split($normSql, ' ') AS ws
            FROM documents))"""
  }

  // ----------------------------------------------------------------- tokens

  /** Token counting two ways: whitespace words and a BPE-ish regex lex
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(words).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"))
      .orderBy("doc_id")

  val tokenCountSql: String = s"""
    SELECT doc_id,
      len(string_split($normSql, ' ')) AS n_ws_tokens,
      len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
        AS n_bpe_tokens
    FROM documents ORDER BY doc_id"""

  // ----------------------------------------------------------------- langid

  /** The lexicon-score argmax with the fixed en > es > fr > de > zh
    * priority — ONE definition shared by [[textLangid]] and the
    * model-grade classifier's parity audit ([[Filtering]]'s
    * `langid_clf`), so the audit can never drift from the heuristic it
    * claims to measure.
    */
  private[operators] def langidArgmax(
      se: org.apache.spark.sql.Column, ss: org.apache.spark.sql.Column,
      sf: org.apache.spark.sql.Column, sd: org.apache.spark.sql.Column,
      sz: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(se >= ss && se >= sf && se >= sd && se >= sz, "en")
      .when(ss >= sf && ss >= sd && ss >= sz, "es")
      .when(sf >= sd && sf >= sz, "fr")
      .when(sd >= sz, "de")
      .otherwise("zh")

  /** SQL twin of [[langidArgmax]]. */
  private[operators] def langidArgmaxSql(e: String, s_ : String, f: String,
                                         d: String, z: String): String =
    s"""CASE WHEN $e >= $s_ AND $e >= $f AND $e >= $d AND $e >= $z THEN 'en'
           WHEN $s_ >= $f AND $s_ >= $d AND $s_ >= $z THEN 'es'
           WHEN $f >= $d AND $f >= $z THEN 'fr'
           WHEN $d >= $z THEN 'de'
           ELSE 'zh' END"""

  /** Heuristic language ID: per-language lexicon hit ratios with a fixed
    * argmax priority (en > es > fr > de > zh). The lexicons are demo
    * keyword lists over the harness vocabulary — the operator's value is the
    * distributed shape (single scan, array intersections, no shuffle).
    */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(words)
    def score(stop: Seq[String]): Column = hits(stop).cast("double") / nWords
    val se = score(Stoplists.en); val ss = score(Stoplists.es)
    val sf = score(Stoplists.fr); val sd = score(Stoplists.de)
    val sz = score(Stoplists.zh)
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("lang").as("lang_actual"),
        round(se, 6).as("score_en"), round(ss, 6).as("score_es"),
        round(sf, 6).as("score_fr"), round(sd, 6).as("score_de"),
        round(sz, 6).as("score_zh"),
        langidArgmax(se, ss, sf, sd, sz).as("lang_pred"))
      .orderBy("doc_id")
  }

  val textLangidSql: String = {
    def sc(l: Seq[String]) = s"(CAST(${hitsSql(l)} AS DOUBLE) / len(ws))"
    val (e, s_, f, d, z) = (sc(Stoplists.en), sc(Stoplists.es),
      sc(Stoplists.fr), sc(Stoplists.de), sc(Stoplists.zh))
    s"""
    WITH t AS (SELECT doc_id, lang, string_split($normSql, ' ') AS ws
               FROM documents)
    SELECT doc_id, lang AS lang_actual,
      round($e, 6) AS score_en, round($s_, 6) AS score_es,
      round($f, 6) AS score_fr, round($d, 6) AS score_de,
      round($z, 6) AS score_zh,
      ${langidArgmaxSql(e, s_, f, d, z)} AS lang_pred
    FROM t ORDER BY doc_id"""
  }

  // ----------------------------------------------------------- fingerprints

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex32(b: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((b(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Unsigned lexicographic compare of two 16-byte digests — equals the
    * lexicographic order of their lowercase-hex forms.
    */
  private def digestLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Winnowing-style document fingerprints: md5 over sliding char 8-grams of
    * the normalized text, min-hash per block of 16 positions. Near-identical
    * documents share most fingerprints; the (doc_id, block, fp) output is
    * joinable for containment detection.
    *
    * Block minima are computed *inside the row* by a per-partition kernel
    * (normalization stays a Catalyst expression): one md5 per position, the
    * running 16-byte minimum kept per block, only the winning digest
    * hex-encoded. Zero shuffle and no n_chars-fold explode — the round-1
    * plan shuffled one row per character into a groupBy (≈100× the corpus
    * at 100 TB); this one is a pure map over the scan, emitting
    * n_chars/16 rows.
    */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gram = 8; val block = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("t")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val nPos = t.length - (gram - 1)
          (0 until nPos by block).iterator.map { b0 =>
            var best: Array[Byte] = null
            var i = b0
            val end = math.min(b0 + block, nPos)
            while (i < end) {
              val d = md.digest(t.substring(i, i + gram).getBytes("UTF-8"))
              if (best == null || digestLt(d, best)) best = d
              i += 1
            }
            (id, (b0 / block).toLong, hex32(best))
          }
        }
      }
      .toDF("doc_id", "block", "fp")
      .orderBy("doc_id", "block")
  }

  val docFingerprintSql: String = s"""
    WITH d AS (SELECT doc_id, $normSql AS t FROM documents),
    pos AS (SELECT doc_id, t,
              unnest(generate_series(1, length(t) - 7)) AS i FROM d)
    SELECT doc_id, CAST(floor((i - 1) / 16) AS BIGINT) AS block,
           min(md5(substring(t, i, 8))) AS fp
    FROM pos GROUP BY doc_id, block ORDER BY doc_id, block"""

  // ------------------------------------------------------------ winnowing

  /** Word k-gram size and window width of [[docWinnow]]. */
  private val WinK = 4
  private val WinW = 4

  /** TRUE winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): hash every word [[WinK]]-gram, slide a [[WinW]]-wide
    * window over the hash sequence and select each window's minimum
    * (rightmost on ties — the canonical rule). Unlike [[docFingerprint]]'s
    * fixed block tiling (whose minima shift when a copy starts at a
    * different block offset), the overlapping windows give the GUARANTEE:
    * any shared run of ≥ k+w−1 = ${4 + 4 - 1} words between two documents
    * shares at least one selected fingerprint, at an expected index size
    * of 2/(w+1) of the gram count — the standard local-algorithm
    * trade between a full gram index and tiled sampling.
    *
    * Emits the per-document census (gram count, selected-fingerprint
    * count, and the number of OTHER documents sharing a fingerprint).
    * Scale shape: the window-min rank partitions by (doc, window) — tiny
    * partitions whose count grows with the corpus; the partner census is
    * a fingerprint-keyed equi-join over the 2/(w+1)-thinned selection,
    * exactly the index winnowing exists to shrink.
    */
  /** The memoized winnowing selection frame `(doc_id, p, h)` — shared by
    * [[docWinnow]]'s three plan branches and the winnow-indexed
    * incremental dedup ([[Dedup.dedupIncrementalWinnow]]).
    */
  private[operators] def winnowSel(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), split(norm, " ").as("ws"))
      .withColumn("n", size(col("ws")) - (WinK - 1))
    val grams = d.filter(col("n") >= 1)
      .select(col("doc_id"), col("n"), explode(expr("sequence(1, n)")).as("p"),
        col("ws"))
      .select(col("doc_id"), col("n"), col("p"),
        expr(s"cast(conv(substring(md5(concat_ws(' ', slice(ws, p, $WinK)))" +
          ", 1, 8), 16, 10) as bigint)").as("h"))
    val wins = grams.select(col("doc_id"), col("p"), col("h"),
      explode(expr(s"sequence(greatest(1, p - ${WinW - 1}), " +
        s"least(p, greatest(1, n - ${WinW - 1})))")).as("j"))
    val rn = row_number().over(
      Window.partitionBy("doc_id", "j").orderBy(col("h").asc, col("p").desc))
    // memoized: the selection feeds three plan branches (census + both
    // sides of the partner join) and Spark re-evaluates uncached subtrees
    // per branch — measured as 3 full gram/window recomputes in .explain
    graft.Memo.cachedLeaf(s, "winnow_sel", dir) {
      wins.withColumn("rn", rn).filter(col("rn") === 1)
        .select("doc_id", "p", "h").distinct()
    }
  }

  /** The winnow CTE chain up to `sel` — shared oracle text of
    * [[docWinnowSql]] and the winnow-indexed incremental dedup oracle.
    */
  private[operators] val winnowSelCtesSql: String = s"""
    dwn AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents),
    dn AS (SELECT doc_id, ws, len(ws) - ${WinK - 1} AS n FROM dwn),
    g AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS p, ws
          FROM dn WHERE n >= 1),
    gh AS (SELECT doc_id, n, p,
             ('0x' || substring(md5(${(0 until WinK).map(o =>
               s"ws[p + $o]").mkString(" || ' ' || ")}), 1, 8))::BIGINT AS h
           FROM g),
    wins AS (SELECT doc_id, p, h,
               unnest(generate_series(greatest(1, p - ${WinW - 1}),
                 least(p, greatest(1, n - ${WinW - 1})))) AS j
             FROM gh),
    selr AS (SELECT doc_id, p, h,
               row_number() OVER (PARTITION BY doc_id, j
                 ORDER BY h, p DESC) AS rn
             FROM wins),
    sel AS (SELECT DISTINCT doc_id, p, h FROM selr WHERE rn = 1)"""

  def docWinnow(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), split(norm, " ").as("ws"))
      .withColumn("n", size(col("ws")) - (WinK - 1))
    val sel = winnowSel(s, dir)
    val fp = sel.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val sh2 = sel.select("doc_id", "h").distinct()
    val partners = sh2.alias("a")
      .join(sh2.select(col("doc_id").as("od"), col("h")).alias("b"), Seq("h"))
      .filter(col("doc_id") =!= col("od"))
      .groupBy("doc_id").agg(countDistinct(col("od")).as("n_partners"))
    d.select(col("doc_id"),
        greatest(col("n"), lit(0)).cast("bigint").as("n_grams"))
      .join(fp, Seq("doc_id"), "left")
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
      .orderBy("doc_id")
  }

  val docWinnowSql: String = s"""
    WITH dwn AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents),
    dn AS (SELECT doc_id, ws, len(ws) - ${WinK - 1} AS n FROM dwn),
    g AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS p, ws
          FROM dn WHERE n >= 1),
    gh AS (SELECT doc_id, n, p,
             ('0x' || substring(md5(${(0 until WinK).map(o =>
               s"ws[p + $o]").mkString(" || ' ' || ")}), 1, 8))::BIGINT AS h
           FROM g),
    wins AS (SELECT doc_id, p, h,
               unnest(generate_series(greatest(1, p - ${WinW - 1}),
                 least(p, greatest(1, n - ${WinW - 1})))) AS j
             FROM gh),
    selr AS (SELECT doc_id, p, h,
               row_number() OVER (PARTITION BY doc_id, j
                 ORDER BY h, p DESC) AS rn
             FROM wins),
    sel AS (SELECT DISTINCT doc_id, p, h FROM selr WHERE rn = 1),
    fp AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY doc_id),
    sh2 AS (SELECT DISTINCT doc_id, h FROM sel),
    pt AS (SELECT a.doc_id, count(DISTINCT b.doc_id) AS n_partners
           FROM sh2 a JOIN sh2 b ON a.h = b.h AND a.doc_id <> b.doc_id
           GROUP BY a.doc_id)
    SELECT dn.doc_id, CAST(greatest(n, 0) AS BIGINT) AS n_grams,
      CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
      CAST(coalesce(n_partners, 0) AS BIGINT) AS n_partners
    FROM dn LEFT JOIN fp USING (doc_id) LEFT JOIN pt USING (doc_id)
    ORDER BY dn.doc_id"""

  // ------------------------------------------------------------ containment

  /** Containment detection over the winnowing fingerprints: document pairs
    * sharing ≥ `minShared` distinct fingerprint values (near-copies and
    * partial inclusions both surface here; the fingerprint value is the
    * join key, so candidates come from an equi-join, never a cross
    * product).
    */
  def docContainment(s: SparkSession, dir: String,
                     minShared: Int = 8, maxDf: Int = 20): DataFrame = {
    val all = docFingerprint(s, dir)
      .select(col("doc_id"), col("fp")).distinct()
    // drop stop-fingerprints (shared by > maxDf docs): they carry no
    // containment signal and are exactly the posting lists that go
    // quadratic in the self-join
    val rare = all.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    // the memo key carries maxDf: a later call with a different cap must
    // not be served the frame built with the other one
    val fp = graft.Memo.cachedLeaf(s, s"containment_fp_$maxDf", dir)(
      all.join(rare, "fp"))
    fp.alias("a")
      .join(fp.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("id_a", "id_b")
  }

  val docContainmentSql: String = s"""
    WITH d AS (SELECT doc_id, $normSql AS t FROM documents),
    pos AS (SELECT doc_id, t,
              unnest(generate_series(1, length(t) - 7)) AS i FROM d),
    fps AS (SELECT doc_id, CAST(floor((i - 1) / 16) AS BIGINT) AS block,
              min(md5(substring(t, i, 8))) AS fp
            FROM pos GROUP BY doc_id, block),
    allfp AS (SELECT DISTINCT doc_id, fp FROM fps),
    rare AS (SELECT fp FROM allfp GROUP BY fp HAVING count(*) <= 20),
    fp AS (SELECT doc_id, allfp.fp FROM allfp JOIN rare ON allfp.fp = rare.fp),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 8
    ORDER BY id_a, id_b"""

  // ------------------------------------------------------------ corpus stats

  /** Corpus vocabulary statistics: term frequency, document frequency and
    * df-ratio per word — the wordcount shape (one explode, one shuffle,
    * map-side combined).
    */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    // the corpus total joins in as a 1-row aggregate (broadcast), keeping
    // the whole thing one job — no separate driver-side count action
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("_total"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(norm, " ")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(broadcast(total))
      .withColumn("df_ratio",
        round(col("n_docs").cast("double") / col("_total").cast("double"), 6))
      .drop("_total")
      .orderBy("w")
  }

  val corpusStatsSql: String = s"""
    WITH w AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
               FROM documents),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT w, count(*) AS n_occurrences,
      count(DISTINCT doc_id) AS n_docs,
      round(CAST(count(DISTINCT doc_id) AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot), 6)
        AS df_ratio
    FROM w GROUP BY w ORDER BY w"""

  // --------------------------------------------------------------- sampling

  /** Deterministic stratified sampling for data mixing: each document's md5
    * maps to a stable per-mille bucket, and per-language quotas keep or drop
    * it. A pure narrow filter — no shuffle, no RNG state, reproducible
    * across runs and engines, and the sample of a 100 TB corpus costs one
    * scan.
    */
  def corpusSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr(
      "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 1000)")
    val rate = when(col("lang") === "en", 500).otherwise(250)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")
  }

  val corpusSampleSql: String = """
    WITH b AS (
      SELECT doc_id, lang,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
          AS bucket,
        CASE WHEN lang = 'en' THEN 500 ELSE 250 END AS rate
      FROM documents)
    SELECT doc_id, lang, bucket FROM b WHERE bucket < rate
    ORDER BY doc_id"""

  /** Quota-binned sequence packing: documents are assigned to fixed
    * token-budget training sequences by cumulative token count within each
    * language stratum (a deterministic approximation of greedy packing).
    * The corpus has only a handful of languages, so a lang-partitioned
    * running-sum window would funnel each language's entire corpus through
    * one reducer; [[DistRank.runningSum]] computes the identical inclusive
    * cumulative sum with balanced range slices + broadcast slice offsets
    * instead — no stratum-partitioned window in the plan.
    */
  def packSequences(s: SparkSession, dir: String,
                    budget: Int = 2048,
                    tokenCounts: Option[DataFrame] = None): DataFrame = {
    // tokenCounts: optional trained-tokenizer counts (doc_id, n_tokens) —
    // e.g. [[Bpe.tokenizeBpe]]'s n_bpe_tokens — replacing the regex
    // estimate; the default path is unchanged (gate hash identical)
    val docs = tokenCounts match {
      case Some(tc) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"))
        .join(tc.select(col("doc_id"), col("n_tokens")), "doc_id")
      case None => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(norm, " ")).as("n_tokens"))
    }
    DistRank.runningSum(docs, "lang", Seq(col("doc_id")), "doc_id",
        col("n_tokens"), "cum")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / budget).as("seq_id"))
      .orderBy("lang", "doc_id")
  }

  val packSequencesSql: String = s"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split($normSql, ' ')) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT doc_id, lang, n_tokens,
      CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS seq_id
    FROM c ORDER BY lang, doc_id"""

  /** Gate: per packed sequence, the VARLEN ATTENTION layout — the
    * (start:length) span of every document inside its bin, in pack
    * order. This is the `cu_seqlens` input a flash-attention varlen
    * kernel (or a block-diagonal mask builder) consumes: document
    * boundaries inside a packed sequence must mask cross-document
    * attention, and a pipeline that packs without emitting this table
    * trains with context bleed. Derived purely from the running pack
    * sum ([[packSequences]]' assignment — one shared definition):
    * start = (cum − n_tokens) − seq_id·budget; the overflow document
    * of each bin (packing is cumulative, not capacity-strict) shows as
    * a span crossing the budget edge, and `n_tokens` per bin audits
    * exactly that. One groupBy over the pack frame — no extra corpus
    * pass.
    */
  def packAttentionSpans(s: SparkSession, dir: String,
                         budget: Int = 2048): DataFrame =
    DistRank.runningSum(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          size(split(norm, " ")).as("n_tokens")),
        "lang", Seq(col("doc_id")), "doc_id", col("n_tokens"), "cum")
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / budget))
      .withColumn("start",
        col("cum") - col("n_tokens") - col("seq_id") * budget)
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        max(col("n_tokens")).cast("long").as("max_span"),
        array_join(transform(
          array_sort(collect_list(struct(col("start"), col("n_tokens")))),
          x => concat(x.getField("start"), lit(":"), x.getField("n_tokens"))),
          ",").as("spans"))
      .orderBy("lang", "seq_id")

  val packAttentionSpansSql: String = s"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split($normSql, ' ')) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t),
    sp AS (
      SELECT lang, CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS seq_id,
        cum - n_tokens
          - CAST(floor((cum - n_tokens) / 2048) AS BIGINT) * 2048 AS start,
        n_tokens
      FROM c)
    SELECT lang, seq_id, count(*) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      CAST(max(n_tokens) AS BIGINT) AS max_span,
      string_agg(start || ':' || n_tokens, ',' ORDER BY start) AS spans
    FROM sp GROUP BY lang, seq_id ORDER BY lang, seq_id"""

  // -------------------------------------------------------------------- PII

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\+[0-9]{1,3}-[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}"
  private val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private val IdRe = "[a-z]{2}[0-9]{6,8}"
  private val CardRe = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
  private val Ipv6Re = "([0-9a-f]{1,4}:){7}[0-9a-f]{1,4}"
  private val MacRe = "([0-9a-f]{2}:){5}[0-9a-f]{2}"

  /** The planted card's 15-digit payload (engine-identical). */
  private val CardPay = "lpad(cast(doc_id as string), 15, '5')"

  /** Luhn sum of the payload: left-position i sits at 17−i from the
    * right of the full 16-digit number, so ODD left positions double.
    */
  private val CardSum15 =
    s"""aggregate(sequence(1, 15), 0, (acc, i) -> acc +
       (case when i % 2 = 1
          then if(2 * cast(substring($CardPay, i, 1) as int) > 9,
                  2 * cast(substring($CardPay, i, 1) as int) - 9,
                  2 * cast(substring($CardPay, i, 1) as int))
          else cast(substring($CardPay, i, 1) as int) end))"""

  /** PII detection + scrubbing — the redaction pass every training-corpus
    * pipeline runs before tokenization. Counts and redacts email / URL /
    * phone / IPv4 / ID-number / payment-card / IPv6 / MAC matches per
    * document with codegen'd regex expressions (one narrow scan, no
    * shuffle; patterns restricted to constructs Java regex and RE2
    * interpret identically so the oracle matches — bounded quantifiers,
    * no backreferences or lookaround). Card matches are additionally
    * validated by the LUHN checksum — `n_card_like` counts the regex
    * shape, `n_cards` only checksum-valid numbers — computed per match
    * by a nested higher-order fold (no UDF). The scenario plants
    * deterministic PII per class on coprime moduli (email+URL every 7th
    * doc, phone 5th, ID 9th, IPv4 11th, a LUHN-VALID card 13th whose
    * check digit both engines derive by the same planting arithmetic, a
    * NEAR-MISS card 17th — check digit +5 mod 10 — that the shape count
    * sees and the validator must reject, MAC 19th, IPv6 23rd) so every
    * class provably fires both ways, alone and in combination; the
    * redacted text is emitted as its md5. Redaction is conservative:
    * card-LIKE numbers scrub whether or not the checksum passes.
    */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val a0 = when(id % 7 === 0,
      concat(col("text"), lit(" contact user"), id,
        lit("@example.com via http://ex.com/doc/"), id))
      .otherwise(col("text"))
    val a1 = when(id % 5 === 0,
      concat(a0, lit(" call +64-21-555-"), id.cast("string"))).otherwise(a0)
    val a2 = when(id % 9 === 0,
      concat(a1, lit(" ref qz"), lpad(id.cast("string"), 6, "0")))
      .otherwise(a1)
    val a3 = when(id % 11 === 0,
      concat(a2, lit(" from 192.168."), (id % 256).cast("string"),
        lit("."), (id % 100).cast("string"))).otherwise(a2)
    def cardFrom(chk: String) = expr(
      s"""concat_ws('-',
        substring(concat($CardPay, cast($chk as string)), 1, 4),
        substring(concat($CardPay, cast($chk as string)), 5, 4),
        substring(concat($CardPay, cast($chk as string)), 9, 4),
        substring(concat($CardPay, cast($chk as string)), 13, 4))""")
    val chkOk = s"((10 - (($CardSum15) % 10)) % 10)"
    val a4 = when(id % 13 === 0,
      concat(a3, lit(" card "), cardFrom(chkOk))).otherwise(a3)
    val a5 = when(id % 17 === 0,
      concat(a4, lit(" card "), cardFrom(s"(($chkOk + 5) % 10)")))
      .otherwise(a4)
    val a6 = when(id % 19 === 0,
      concat(a5, lit(" nic de:ad:be:ef:"),
        lpad(lower(hex(id % 256)), 2, "0"), lit(":"),
        lpad(lower(hex(id % 100)), 2, "0"))).otherwise(a5)
    val a7 = when(id % 23 === 0,
      concat(a6, lit(" node 2001:0db8:0000:0000:0000:0000:"),
        lpad(lower(hex(id % 65536)), 4, "0"), lit(":"),
        lpad(lower(hex(id % 4096)), 4, "0"))).otherwise(a6)
    val low = lower(a7)
    val redacted = Seq(EmailRe -> "<EMAIL>", UrlRe -> "<URL>",
      PhoneRe -> "<PHONE>", IpRe -> "<IP>", IdRe -> "<ID>",
      CardRe -> "<CARD>", Ipv6Re -> "<IPV6>", MacRe -> "<MAC>")
      .foldLeft(low) { case (c, (re, tag)) => regexp_replace(c, re, tag) }
    // per-match Luhn validation: a fold over the 16 digits of each
    // regex match (position p from the right doubles when p is even)
    val luhnValid = (m: String) =>
      s"""aggregate(sequence(1, 16), 0, (acc, i) -> acc +
         (case when (17 - i) % 2 = 0
            then if(2 * cast(substring(replace($m, '-', ''), i, 1) as int) > 9,
                    2 * cast(substring(replace($m, '-', ''), i, 1) as int) - 9,
                    2 * cast(substring(replace($m, '-', ''), i, 1) as int))
            else cast(substring(replace($m, '-', ''), i, 1) as int) end))
         % 10 = 0"""
    Tables.documents(s, dir)
      .withColumn("__low", low)
      .select(col("doc_id"),
        size(regexp_extract_all(col("__low"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("__low"), lit(UrlRe), lit(0)))
          .as("n_urls"),
        size(regexp_extract_all(col("__low"), lit(PhoneRe), lit(0)))
          .as("n_phones"),
        size(regexp_extract_all(col("__low"), lit(IpRe), lit(0)))
          .as("n_ips"),
        size(regexp_extract_all(col("__low"), lit(IdRe), lit(0)))
          .as("n_ids"),
        size(regexp_extract_all(col("__low"), lit(CardRe), lit(0)))
          .as("n_card_like"),
        expr(s"size(filter(regexp_extract_all(__low, '$CardRe', 0), " +
          s"m -> ${luhnValid("m")}))").as("n_cards"),
        size(regexp_extract_all(col("__low"), lit(Ipv6Re), lit(0)))
          .as("n_ipv6"),
        size(regexp_extract_all(col("__low"), lit(MacRe), lit(0)))
          .as("n_macs"),
        md5(redacted).as("redacted_hash"))
      .orderBy("doc_id")
  }

  val textPiiSql: String = {
    def luhnDigit(src: String): String =
      s"""CASE WHEN 2 * CAST(substring($src, i, 1) AS INTEGER) > 9
            THEN 2 * CAST(substring($src, i, 1) AS INTEGER) - 9
            ELSE 2 * CAST(substring($src, i, 1) AS INTEGER) END"""
    s"""
    WITH p0 AS (
      SELECT doc_id, text, lpad(CAST(doc_id AS VARCHAR), 15, '5') AS pay
      FROM documents),
    p1 AS (
      SELECT doc_id, text, pay,
        CAST((10 - (CAST(list_sum(list_transform(generate_series(1, 15),
          i -> CASE WHEN i % 2 = 1 THEN ${luhnDigit("pay")}
               ELSE CAST(substring(pay, i, 1) AS INTEGER) END))
          AS BIGINT) % 10)) % 10 AS INTEGER) AS chk
      FROM p0),
    p2 AS (
      SELECT doc_id, text,
        substring(pay || CAST(chk AS VARCHAR), 1, 4) || '-'
          || substring(pay || CAST(chk AS VARCHAR), 5, 4) || '-'
          || substring(pay || CAST(chk AS VARCHAR), 9, 4) || '-'
          || substring(pay || CAST(chk AS VARCHAR), 13, 4) AS cardok,
        substring(pay || CAST((chk + 5) % 10 AS VARCHAR), 1, 4) || '-'
          || substring(pay || CAST((chk + 5) % 10 AS VARCHAR), 5, 4) || '-'
          || substring(pay || CAST((chk + 5) % 10 AS VARCHAR), 9, 4) || '-'
          || substring(pay || CAST((chk + 5) % 10 AS VARCHAR), 13, 4)
          AS cardbad
      FROM p1),
    a AS (
      SELECT doc_id, cardok, cardbad,
        CASE WHEN doc_id % 7 = 0
          THEN text || ' contact user' || doc_id
               || '@example.com via http://ex.com/doc/' || doc_id
          ELSE text END AS a0
      FROM p2),
    b AS (SELECT doc_id, cardok, cardbad,
            CASE WHEN doc_id % 5 = 0
              THEN a0 || ' call +64-21-555-' || CAST(doc_id AS VARCHAR)
              ELSE a0 END AS a1
          FROM a),
    c AS (SELECT doc_id, cardok, cardbad,
            CASE WHEN doc_id % 9 = 0
              THEN a1 || ' ref qz' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
              ELSE a1 END AS a2
          FROM b),
    d0 AS (SELECT doc_id, cardok, cardbad,
             CASE WHEN doc_id % 11 = 0
               THEN a2 || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST(doc_id % 100 AS VARCHAR)
               ELSE a2 END AS a3
           FROM c),
    d1 AS (SELECT doc_id, cardbad,
             CASE WHEN doc_id % 13 = 0 THEN a3 || ' card ' || cardok
               ELSE a3 END AS a4
           FROM d0),
    d2 AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN a4 || ' card ' || cardbad
               ELSE a4 END AS a5
           FROM d1),
    d3 AS (SELECT doc_id,
             CASE WHEN doc_id % 19 = 0
               THEN a5 || ' nic de:ad:be:ef:'
                    || lpad(lower(to_hex(doc_id % 256)), 2, '0') || ':'
                    || lpad(lower(to_hex(doc_id % 100)), 2, '0')
               ELSE a5 END AS a6
           FROM d2),
    d AS (SELECT doc_id,
            lower(CASE WHEN doc_id % 23 = 0
              THEN a6 || ' node 2001:0db8:0000:0000:0000:0000:'
                   || lpad(lower(to_hex(doc_id % 65536)), 4, '0') || ':'
                   || lpad(lower(to_hex(doc_id % 4096)), 4, '0')
              ELSE a6 END) AS low
          FROM d3)
    SELECT doc_id,
      len(regexp_extract_all(low, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
        AS n_emails,
      len(regexp_extract_all(low, 'https?://[^\\s]+')) AS n_urls,
      len(regexp_extract_all(low, '\\+[0-9]{1,3}-[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}'))
        AS n_phones,
      len(regexp_extract_all(low, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS n_ips,
      len(regexp_extract_all(low, '[a-z]{2}[0-9]{6,8}')) AS n_ids,
      len(regexp_extract_all(low, '$CardRe')) AS n_card_like,
      len(list_filter(regexp_extract_all(low, '$CardRe'),
        m -> CAST(list_sum(list_transform(generate_series(1, 16),
          i -> CASE WHEN (17 - i) % 2 = 0
                 THEN ${luhnDigit("replace(m, '-', '')")}
                 ELSE CAST(substring(replace(m, '-', ''), i, 1) AS INTEGER)
               END)) AS BIGINT) % 10 = 0)) AS n_cards,
      len(regexp_extract_all(low, '$Ipv6Re')) AS n_ipv6,
      len(regexp_extract_all(low, '$MacRe')) AS n_macs,
      md5(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(low,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\\s]+', '<URL>', 'g'),
          '\\+[0-9]{1,3}-[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}', '<PHONE>', 'g'),
          '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
          '[a-z]{2}[0-9]{6,8}', '<ID>', 'g'),
          '$CardRe', '<CARD>', 'g'),
          '$Ipv6Re', '<IPV6>', 'g'),
          '$MacRe', '<MAC>', 'g')) AS redacted_hash
    FROM d ORDER BY doc_id"""
  }

  // ----------------------------------------------------------------- mixing

  /** Weighted deterministic corpus mixing: each source contributes to the
    * training stream proportionally to its weight (even-numbered sources
    * 3×, odd 1× here; production plugs in a weight table). A document's
    * `mix_pos` = its per-source rank divided by the source weight — the
    * water-filling position — so sorting by `mix_pos` interleaves sources
    * at the configured ratio. The per-source rank comes from
    * [[DistRank.rowNumber]] (two-phase distributed rank over balanced
    * range slices), not a source-partitioned window — sources number in
    * the single digits, so a window keyed on them alone would single-task
    * each source's rank at scale. `mix_pos` itself is the global sort key
    * consumers range-partition on. Reproducible across runs and engines
    * (no RNG).
    */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val weight = when(expr("cast(substring(source, 4) as int) % 2 = 0"), 3.0)
      .otherwise(1.0)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    DistRank.rowNumber(docs, "source", Seq(col("doc_id")), "doc_id", "__rn")
      .withColumn("rn", col("__rn").cast("int"))
      .withColumn("mix_pos", round(col("rn").cast("double") / weight, 6))
      .select(col("doc_id"), col("source"), col("rn"), col("mix_pos"))
      .orderBy("mix_pos", "source", "doc_id")
  }

  val corpusMixSql: String = """
    WITH w AS (
      SELECT doc_id, source,
        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
    SELECT doc_id, source, CAST(rn AS INT) AS rn,
      round(CAST(rn AS DOUBLE) /
        (CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
              THEN 3.0 ELSE 1.0 END), 6) AS mix_pos
    FROM w ORDER BY mix_pos, source, doc_id"""

  /** Fixed-point position scale of the temperature-mixed schedule. */
  private val MixTempK = 1048576L

  /** TEMPERATURE-based source mixing (the UniMax / mT5 knob): each
    * source's sampling rate is proportional to n_s^(1/2) — temperature
    * τ = 2 — so low-resource sources are upweighted relative to their
    * raw share without the fixed hand-tuned weights of [[corpusMix]].
    * Deterministic and integer-exact: the rate divisor is
    * isqrt(n_s) = ⌊√n_s⌋ (IEEE sqrt is correctly rounded, so the floor
    * is identical on both engines for n < 2^52) and the schedule
    * position of a source's rn-th document is ⌊rn·K / isqrt(n_s)⌋ —
    * interleaving sources in sqrt-proportion. Per-source ranks ride the
    * same two-phase [[DistRank]] as the other schedule builders; the
    * source census is a broadcast one-row-per-source aggregate.
    */
  def corpusMixTemp(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val census = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
      .withColumn("w",
        expr("cast(floor(sqrt(cast(n_source as double))) as bigint)"))
    DistRank.rowNumber(docs, "source", Seq(col("doc_id")), "doc_id", "__rn")
      // rn stays BIGINT end to end: an INT output contract would
      // silently overflow past ~2.1B documents per source while the
      // pos_q math (already widened) kept working — an undocumented
      // capacity edge this column no longer has
      .withColumn("rn", col("__rn"))
      .join(broadcast(census), "source")
      // integer `div`, not double `/`: rn*K exceeds 2^53 at rn≈8.6e9
      // docs/source, where an inexact divide + truncating-vs-rounding
      // cast could diverge between engines; `div` has no such edge
      .withColumn("pos_q", expr(s"(rn * $MixTempK) div w"))
      .select(col("doc_id"), col("source"), col("rn"), col("n_source"),
        col("w"), col("pos_q"))
      .orderBy("pos_q", "source", "doc_id")
  }

  val corpusMixTempSql: String = s"""
    WITH r AS (
      SELECT doc_id, source,
        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    census AS (
      SELECT source, count(*) AS n_source,
        CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
      FROM documents GROUP BY source)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn, n_source, w,
      CAST((rn * $MixTempK) // w AS BIGINT) AS pos_q
    FROM r JOIN census USING (source)
    ORDER BY pos_q, source, doc_id"""

  // ---------------------------------------------------------- composed clean

  /** The composed cleaning pipeline: quality gate + near-dup removal in one
    * pass — the shape a production corpus-prep job takes. Keeps documents
    * whose quality score clears the threshold, then drops the non-canonical
    * member (higher doc_id) of every near-dup pair via an anti-join (no
    * collect, no loop). The dedup side composes the MinHash-LSH path —
    * banded candidates + exact-Jaccard verify, the 100 TB plan — not the
    * quadratic shingle self-join; the oracle's exact pair set is identical
    * at the 0.8 threshold (the gate checks this equality every round).
    */
  def corpusClean(s: SparkSession, dir: String,
                  minQuality: Double = 0.3): DataFrame = {
    val dupIds = Dedup.dedupMinhashLsh(s, dir)
      .select(col("id_b").as("doc_id")).distinct()
    textQuality(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .filter(col("quality") >= minQuality)
      .join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy("doc_id")
  }

  val corpusCleanSql: String = {
    val stop = hitsSql(Stoplists.en)
    s"""
    WITH ${Dedup.shinglesSql.trim},
    ${Dedup.jaccardPairsSql.trim},
    q AS (
      SELECT doc_id,
        round(least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
          * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
              AS DOUBLE) / length(text))
          * (0.5 + 0.5 * (CAST($stop AS DOUBLE) / len(ws))), 6) AS quality
      FROM (SELECT doc_id, text, string_split($normSql, ' ') AS ws
            FROM documents)),
    clean AS (
      SELECT d.doc_id, d.lang, q.quality
      FROM documents d JOIN q ON d.doc_id = q.doc_id
      WHERE q.quality >= 0.3
        AND d.doc_id NOT IN (SELECT id_b FROM pairs))
    SELECT * FROM clean ORDER BY doc_id"""
  }

  // ------------------------------------------------------- BM25 retrieval

  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("join", "vector", "spark")
  private val Bm25K = 20

  /** BM25 top-k retrieval over the corpus for a fixed conjunctive query —
    * the ranking function behind quality-aware corpus selection and
    * retrieval-augmented data curation. tf / df / doc-length come from one
    * narrow scan (the per-term tf is a higher-order filter over the token
    * array, codegen'd, no explode); the corpus-level stats (N, Σdl, df per
    * term) are a single aggregate row broadcast back, and the final top-k
    * is Spark's TakeOrderedAndProject (per-partition heaps, no global
    * sort).
    *
    * Cross-engine exactness: the standard BM25 idf is `ln((N−df+0.5)/
    * (df+0.5))` — but `ln` is not guaranteed bit-identical across math
    * libraries, so the gate-safe variant used here keeps the raw odds
    * ratio un-logged (monotone in the same direction, exactly computable:
    * both operands are exactly-representable halves, one correctly-rounded
    * division). Every other factor follows the textbook formula with an
    * identical operation order on both engines.
    */
  def bm25Topk(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
    val wtf = docs.select(
      col("doc_id") +: col("dl") +: Bm25Terms.map(t =>
        expr(s"cast(size(filter(ws, w -> w = '$t')) as long)").as(s"tf_$t")): _*)
    val aggCols = count(lit(1)).as("nd") +: sum(col("dl")).as("sumdl") +:
      Bm25Terms.map(t => count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t"))
    val stats = wtf.agg(aggCols.head, aggCols.tail: _*)
    val avgdl = col("sumdl").cast("double") / col("nd").cast("double")
    def term(t: String): Column = {
      val idf = (col("nd").cast("double") - col(s"df_$t").cast("double") + lit(0.5)) /
        (col(s"df_$t").cast("double") + lit(0.5))
      val tf = col(s"tf_$t").cast("double")
      idf * ((tf * lit(Bm25K1 + 1)) /
        (tf + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * (col("dl").cast("double") / avgdl))))
    }
    val score = Bm25Terms.map(term).reduce(_ + _)
    wtf.crossJoin(broadcast(stats))
      .select(col("doc_id") +: col("dl") +:
        Bm25Terms.map(t => col(s"tf_$t")) :+ round(score, 6).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25K)
  }

  val bm25TopkSql: String = {
    val tfs = Bm25Terms.map(t =>
      s"CAST(len(list_filter(string_split(text, ' '), w -> w = '$t')) AS BIGINT) AS tf_$t")
      .mkString(", ")
    val dfs = Bm25Terms.map(t =>
      s"COUNT(*) FILTER (WHERE tf_$t > 0) AS df_$t").mkString(", ")
    def term(t: String) = {
      val idf = s"(CAST(nd AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5)"
      s"$idf * ((CAST(tf_$t AS DOUBLE) * ${Bm25K1 + 1}::DOUBLE) / (CAST(tf_$t AS DOUBLE) + $Bm25K1::DOUBLE * (${1 - Bm25B}::DOUBLE + $Bm25B::DOUBLE * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(nd AS DOUBLE))))))"
    }
    val score = Bm25Terms.map(term).mkString(" + ")
    s"""
    WITH wtf AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS dl, $tfs
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS nd, CAST(sum(dl) AS BIGINT) AS sumdl, $dfs
      FROM wtf)
    SELECT doc_id, dl, ${Bm25Terms.map(t => s"tf_$t").mkString(", ")},
      round($score, 6) AS score
    FROM wtf, stats
    ORDER BY $score DESC, doc_id LIMIT $Bm25K"""
  }

  // --------------------------------------------------- text normalization

  /** Canonical text normalization — the first stage of every dedup /
    * fingerprint pipeline run as its own auditable operator: lowercase,
    * strip non-alphanumerics, collapse whitespace runs, trim. Emits the
    * md5 and length of the canonical form (the text itself stays in the
    * pipeline; the digest is what dedup joins on). Pure narrow projection,
    * zero shuffle.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
        length(col("norm")).cast("long").as("n_norm"))
      .orderBy("doc_id")
  }

  val textNormalizeSql: String = """
    WITH n AS (
      SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
          ' +', ' ', 'g')) AS norm
      FROM documents)
    SELECT doc_id, md5(norm) AS norm_md5,
      CAST(length(norm) AS BIGINT) AS n_norm
    FROM n ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_topk" -> (bm25Topk _),
    "text_normalize" -> (textNormalize _),
    "corpus_clean" -> (corpusClean(_, _)),
    "corpus_mix" -> (corpusMix _),
    "corpus_mix_temp" -> (corpusMixTemp _),
    "corpus_sample" -> (corpusSample _),
    "text_pii" -> (textPii _),
    "pack_sequences" -> (packSequences(_, _)),
    "pack_attention_spans" -> (packAttentionSpans(_, _)),
    "text_quality" -> (textQuality _),
    "token_count" -> (tokenCount _),
    "text_langid" -> (textLangid _),
    "doc_fingerprint" -> (docFingerprint _),
    "doc_winnow" -> (docWinnow _),
    "doc_containment" -> (docContainment(_, _)),
    "corpus_stats" -> (corpusStats _))

  val oracles: Map[String, String] = Map(
    "bm25_topk" -> bm25TopkSql,
    "text_normalize" -> textNormalizeSql,
    "corpus_clean" -> corpusCleanSql,
    "corpus_mix" -> corpusMixSql,
    "corpus_mix_temp" -> corpusMixTempSql,
    "corpus_sample" -> corpusSampleSql,
    "text_pii" -> textPiiSql,
    "pack_sequences" -> packSequencesSql,
    "pack_attention_spans" -> packAttentionSpansSql,
    "text_quality" -> textQualitySql,
    "token_count" -> tokenCountSql,
    "text_langid" -> textLangidSql,
    "doc_fingerprint" -> docFingerprintSql,
    "doc_winnow" -> docWinnowSql,
    "doc_containment" -> docContainmentSql,
    "corpus_stats" -> corpusStatsSql)
}

/** Demo lexicons over the harness vocabulary (the real system would plug in
  * per-language function-word lists; the operator shape is identical).
  */
object Stoplists {
  val en = Seq("the", "a", "fast", "key", "row")
  val es = Seq("data", "table", "column", "line")
  val fr = Seq("query", "filter", "sort", "merge")
  val de = Seq("stream", "window", "batch", "group")
  val zh = Seq("spark", "hash", "join", "scan")
}
