package graft.operators

import graft.Tables
import graft.operators.TextNorm.{norm, normSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-set preparation operators: deterministic corpus splitting,
  * vocabulary construction with OOV auditing, tf-idf keyword extraction
  * and a bigram language-model table — the text-side artifacts an LLM
  * data pipeline materializes after cleaning/dedup and before packing.
  *
  * Scale design:
  *  - `corpus_split` is a pure projection (split = md5(doc_id) mod 10 —
  *    stable under re-runs and corpus growth) folded into one
  *    map-side-combining rollup; no shuffle of documents, ever.
  *  - `vocab_build` / `oov_rate` shuffle (token)-keyed counts, i.e. the
  *    vocabulary, not the corpus; the df threshold caps what survives.
  *    The OOV probe joins doc tokens to the vocab on the token key —
  *    at 100 TB the vocab side is the small one and broadcasts; the
  *    fallback is a plain equi-join, still token-keyed.
  *  - `tfidf_topk` ranks per-document, so the row_number window partitions
  *    by doc_id and Spark reduces it map-side (WindowGroupLimit); idf is
  *    the un-logged ratio N/df — log is NOT bit-stable across libms (the
  *    BM25 lesson), and a monotone transform doesn't change ranks.
  *  - `text_bigram_lm` shuffles (w1, w2) pair counts — bounded by the
  *    observed bigram vocabulary; the conditional probability is one
  *    exact-integer division per surviving pair.
  *
  * Reference tie-in: the reference engine has no text stack; these extend
  * the corpus operators (`TextOps`, `CorpusFilters`) the way
  * `bde_ApplyLevel0Update` extends into analytics — same tables, same
  * oracle discipline.
  */
object TrainPrep extends graft.GateModule {

  // ----------------------------------------------------------- corpus split

  /** Split fractions in tenths: buckets 0-7 train, 8 val, 9 test. */
  private def bucketColOf(idExpr: String): org.apache.spark.sql.Column =
    expr(s"cast(conv(substring(md5(cast($idExpr as string)), 1, 8), 16, 10)" +
      " as bigint) % 10")
  private def bucketSqlOf(idExpr: String): String =
    s"('0x' || substring(md5(CAST($idExpr AS VARCHAR)), 1, 8))::BIGINT % 10"

  /** The split label of an arbitrary id expression — exactly ONE
    * definition, shared by the split gate, the leakage audit
    * ([[Dedup.splitLeakage]]) and the cluster-level reassignment
    * ([[graft.operators.Clustering]]'s split_by_cluster).
    */
  private[operators] def splitColOf(
      idExpr: String): org.apache.spark.sql.Column = {
    val b = bucketColOf(idExpr)
    when(b < 8, "train").when(b === 8, "val").otherwise("test")
  }

  private[operators] def splitSqlOf(idExpr: String): String =
    s"""CASE WHEN ${bucketSqlOf(idExpr)} < 8 THEN 'train'
             WHEN ${bucketSqlOf(idExpr)} = 8 THEN 'val'
             ELSE 'test' END"""

  private[operators] def splitCol: org.apache.spark.sql.Column =
    splitColOf("doc_id")

  private[operators] val SplitSql: String = splitSqlOf("doc_id")

  /** Deterministic 80/10/10 train/val/test split with per-split corpus
    * stats. Hash-based assignment (not row_number) so membership is a pure
    * function of the id: re-runs, repartitioning and corpus growth never
    * move a document between splits.
    */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        splitCol.as("split"),
        col("lang"), col("n_chars"),
        size(split(norm, " ")).cast("long").as("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("split")
  }

  val corpusSplitSql: String = s"""
    WITH d AS (
      SELECT $SplitSql AS split,
        lang, n_chars,
        len(string_split($normSql, ' ')) AS n_tokens
      FROM documents)
    SELECT split, count(*) AS n_docs,
      count(DISTINCT lang) AS n_langs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM d GROUP BY split ORDER BY split"""

  // ----------------------------------------------------------- vocab build

  /** Minimum document frequency for a token to enter the vocabulary. */
  private val MinDf = 5

  /** Shared (doc_id, token) pairs — one row per occurrence. */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "doc_tokens", dir) {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(norm, " ")).as("w"))
    }

  private val DocTokensSql =
    s"dt AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w FROM documents)"

  /** Vocabulary with document/term frequencies, thresholded at
    * df ≥ [[MinDf]] — the id-able token table a tokenizer trainer or
    * feature hasher consumes.
    */
  def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    docTokens(s, dir)
      .groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .filter(col("df") >= MinDf)
      .orderBy("w")
  }

  val vocabBuildSql: String = s"""
    WITH $DocTokensSql
    SELECT w, count(DISTINCT doc_id) AS df, count(*) AS tf
    FROM dt GROUP BY w HAVING count(DISTINCT doc_id) >= $MinDf
    ORDER BY w"""

  /** Per-document out-of-vocabulary audit against the [[vocabBuild]]
    * vocabulary: token total, OOV count and OOV rate (exact-integer
    * division). High-OOV documents are the ones a fixed tokenizer
    * fragments worst — the standard pre-training data health check.
    */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val vocab = vocabBuild(s, dir).select(col("w"))
    docTokens(s, dir)
      .join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  val oovRateSql: String = s"""
    WITH $DocTokensSql,
    v AS (SELECT w FROM dt GROUP BY w
          HAVING count(DISTINCT doc_id) >= $MinDf)
    SELECT doc_id, count(*) AS n_tokens,
      CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS oov_rate
    FROM dt LEFT JOIN v USING (w)
    GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------------------ tf-idf top-k

  private val TfidfK = 3

  /** Top-[[TfidfK]] keywords per document by tf·(N/df). The idf is the
    * un-logged odds ratio: ranking under any monotone transform of idf is
    * identical, and the raw ratio is a single exact-integer division both
    * engines round the same way (ln/log differ by ulps across libms).
    * Tokens shorter than 3 chars are dropped (articles dominate raw tf).
    */
  def tfidfTopk(s: SparkSession, dir: String): DataFrame = {
    val dt = docTokens(s, dir).filter(length(col("w")) >= 3)
    val tf = dt.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = dt.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
    val n = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w"))
    tf.join(df, "w")
      .join(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("w"),
        col("tf"), col("df"), round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  val tfidfTopkSql: String = s"""
    WITH $DocTokensSql,
    dt3 AS (SELECT doc_id, w FROM dt WHERE length(w) >= 3),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM dt3 GROUP BY 1, 2),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM dt3 GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt3),
    scored AS (
      SELECT doc_id, w, tf, df,
        CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
          AS score
      FROM tf JOIN df USING (w), n),
    ranked AS (
      SELECT doc_id, w, tf, df, score,
        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w)
          AS rank
      FROM scored)
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, w, tf, df,
      round(score, 6) AS score
    FROM ranked WHERE rank <= $TfidfK ORDER BY doc_id, rank"""

  // ------------------------------------------------------------- bigram LM

  /** Minimum unigram count for a context word to be reported. */
  private val LmMinCount = 30

  /** First-order bigram language model over the corpus: for each context
    * word with ≥ [[LmMinCount]] continuations, the most likely next word
    * and its conditional probability c(w1,w2)/c(w1) — the text twin of
    * `events_markov`. Bigrams come from a per-document lead window (no
    * self-join, document boundaries respected).
    */
  /** Per-occurrence bigram observations `(w1, w2)` — in-row extraction
    * (explode over positions, element_at pairs): a narrow map over the
    * scan, no per-document window shuffle. The size guard matters:
    * Spark's sequence(1, n) DESCENDS for n < 1. Shared with the
    * streaming LM-count maintainer.
    */
  private[graft] def lmObs(s: SparkSession, dir: String): DataFrame = {
    val ws = split(norm, " ")
    Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(col("doc_id"), element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
  }

  /** Per-bigram micro-batch partial counts for the streaming LM-count
    * maintainer — the vectorized pre-reduce of [[lmObs]] (in production a
    * `foreachBatch` aggregate per micro-batch), so the maintainer's state
    * store receives one row per distinct bigram per batch instead of one
    * per occurrence.
    */
  private[graft] def lmPartials(s: SparkSession, dir: String): DataFrame =
    lmObs(s, dir).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))

  /** The LM report over a bigram-count frame `(w1, w2, c12)`: per-context
    * totals, the min-count cut and each context's argmax continuation —
    * shared by the batch gate and the streaming maintainer's read side.
    */
  private[graft] def lmReport(pairs: DataFrame): DataFrame = {
    val ctx = pairs.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("c12").desc, col("w2"))
    pairs.join(ctx, "w1")
      .filter(col("c1") >= LmMinCount)
      .withColumn("rn", row_number().over(rk))
      .filter(col("rn") === 1)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round(col("c12").cast("double") / col("c1").cast("double"), 6)
          .as("p"))
      .orderBy("w1")
  }

  def textBigramLm(s: SparkSession, dir: String): DataFrame =
    lmReport(lmObs(s, dir).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")))

  val textBigramLmSql: String = s"""
    WITH g AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM (
        SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM (SELECT string_split($normSql, ' ') AS ws FROM documents)
        WHERE len(ws) >= 2)),
    pairs AS (
      SELECT w1, w2, count(*) AS c12 FROM g GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pairs GROUP BY 1),
    ranked AS (
      SELECT w1, w2, c12, c1,
        row_number() OVER (PARTITION BY w1 ORDER BY c12 DESC, w2) AS rn
      FROM pairs JOIN ctx USING (w1) WHERE c1 >= $LmMinCount)
    SELECT w1, w2, c12, c1,
      round(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE), 6) AS p
    FROM ranked WHERE rn = 1 ORDER BY w1"""

  // ------------------------------------------------------- LM coverage

  /** A bigram is "in the LM" when the corpus saw it ≥ [[LmCovMin]] times;
    * docs bucket head / middle / tail by the fraction of their bigram
    * slots the LM covers.
    */
  private val LmCovMin = 30
  private val LmHead = 0.7
  private val LmMiddle = 0.5

  /** CCNet-shaped LM bucketing with an exact statistic: per document, the
    * fraction of bigram slots covered by the corpus bigram LM, bucketed
    * head/middle/tail. CCNet buckets by LM *perplexity*; coverage is the
    * rational-arithmetic stand-in that keeps the gate hash-exact (log/exp
    * differ by ulps across libms — the BM25 lesson) while ranking docs by
    * the same "how expected is this text" signal.
    *
    * Scale: pass 1 builds the LM — (bigram)-keyed counts, threshold-
    * filtered so the surviving table is vocabulary-sized and broadcasts;
    * pass 2 re-probes the bigram stream against it (broadcast semi-probe,
    * no corpus shuffle) and aggregates per doc. Bucketing happens on the
    * ROUNDED coverage in both engines so boundary docs can't split on
    * representation.
    */
  def lmCoverage(s: SparkSession, dir: String): DataFrame = {
    val ws = split(norm, " ")
    val g = Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(col("doc_id"), element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
    val lm = g.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= LmCovMin)
      .select(col("w1"), col("w2"), lit(1L).as("hit"))
    g.join(broadcast(lm), Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), count(col("hit")).as("n_in_lm"))
      .withColumn("coverage",
        round(col("n_in_lm").cast("double") / col("n_bigrams").cast("double"),
          6))
      .withColumn("bucket",
        when(col("coverage") >= LmHead, "head")
          .when(col("coverage") >= LmMiddle, "middle")
          .otherwise("tail"))
      .orderBy("doc_id")
  }

  val lmCoverageSql: String = s"""
    WITH g AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents)
        WHERE len(ws) >= 2)),
    lm AS (
      SELECT w1, w2 FROM g GROUP BY w1, w2 HAVING count(*) >= $LmCovMin),
    pd AS (
      SELECT g.doc_id, count(*) AS n_bigrams, count(lm.w1) AS n_in_lm
      FROM g LEFT JOIN lm ON g.w1 = lm.w1 AND g.w2 = lm.w2
      GROUP BY g.doc_id),
    cov AS (
      SELECT doc_id, n_bigrams, n_in_lm,
        round(CAST(n_in_lm AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
          AS coverage
      FROM pd)
    SELECT doc_id, n_bigrams, n_in_lm, coverage,
      CASE WHEN coverage >= $LmHead THEN 'head'
           WHEN coverage >= $LmMiddle THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM cov ORDER BY doc_id"""

  // ------------------------------------------------------------ chunking

  /** Chunk size / stride in tokens (overlap = ChunkLen − ChunkStride). */
  private val ChunkLen = 64
  private val ChunkStride = 48

  /** Fixed-size overlapping token chunks per document (the RAG/pretraining
    * chunker): windows of [[ChunkLen]] tokens every [[ChunkStride]],
    * trailing partial chunk kept. Entirely in-row (stepped sequence →
    * explode → slice): a narrow map over the scan, no shuffle, no UDF —
    * the chunk digest keys downstream dedup/embedding joins.
    */
  def docChunking(s: SparkSession, dir: String): DataFrame = {
    val ws = split(norm, " ")
    Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"))
      .withColumn("start",
        explode(sequence(lit(1), size(col("ws")), lit(ChunkStride))))
      .select(col("doc_id"),
        (((col("start") - 1) / ChunkStride).cast("long")).as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        least(lit(ChunkLen), size(col("ws")) - col("start") + 1).cast("long")
          .as("n_tok"),
        md5(concat_ws(" ", slice(col("ws"), col("start"), lit(ChunkLen))))
          .as("chunk_digest"))
      .orderBy("doc_id", "chunk_id")
  }

  val docChunkingSql: String = s"""
    WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS ws
               FROM documents),
    st AS (SELECT doc_id, ws,
             unnest(generate_series(1, len(ws), $ChunkStride)) AS start
           FROM d)
    SELECT doc_id,
      CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_id,
      CAST(start AS BIGINT) AS start_tok,
      CAST(least($ChunkLen, len(ws) - start + 1) AS BIGINT) AS n_tok,
      md5(array_to_string(ws[start : start + ${ChunkLen - 1}], ' '))
        AS chunk_digest
    FROM st ORDER BY doc_id, chunk_id"""

  // -------------------------------------------------------- quality funnel

  /** Cleaning-funnel observability: how much of the corpus (docs and token
    * mass) survives each cumulative filter stage. One scan computes every
    * per-doc predicate; the funnel is a conditional aggregation — adding a
    * stage never adds a pass over the data. The stage thresholds mirror
    * the usual Gopher-style length/word-shape/density gates.
    */
  def qualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val ws = split(norm, " ")
    val d = Tables.documents(s, dir).select(
      size(ws).cast("long").as("n_tokens"),
      (length(regexp_replace(norm, " ", "")).cast("double") /
        size(ws).cast("double")).as("mwl"),
      size(filter(ws, w => w.isin("the", "of", "and", "to", "in"))).cast("long")
        .as("stops"))
      .select(col("n_tokens"),
        col("n_tokens").between(50, 2000).as("p1"),
        col("mwl").between(3.0, 12.0).as("p2"),
        (col("stops") > 0).as("p3"))
      .select(col("n_tokens"), col("p1"),
        (col("p1") && col("p2")).as("s2"),
        (col("p1") && col("p2") && col("p3")).as("s3"))
    val stage = (name: String, pred: org.apache.spark.sql.Column) => Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n_docs_$name"),
      sum(when(pred, col("n_tokens")).otherwise(0L)).as(s"tok_$name"))
    val aggs = Seq(count(lit(1)).as("n_docs_all"),
      sum(col("n_tokens")).as("tok_all")) ++
      stage("len", col("p1")) ++ stage("shape", col("s2")) ++
      stage("density", col("s3"))
    d.agg(aggs.head, aggs.tail: _*)
  }

  val qualityFunnelSql: String = s"""
    WITH d AS (
      SELECT len(ws) AS n_tokens,
        CAST(length(replace(t, ' ', '')) AS DOUBLE)
          / CAST(len(ws) AS DOUBLE) AS mwl,
        len(list_filter(ws, w -> w IN ('the','of','and','to','in'))) AS stops
      FROM (SELECT $normSql AS t, string_split($normSql, ' ') AS ws
            FROM documents)),
    p AS (
      SELECT n_tokens,
        (n_tokens BETWEEN 50 AND 2000) AS p1,
        (mwl BETWEEN 3.0 AND 12.0) AS p2,
        (stops > 0) AS p3
      FROM d)
    SELECT count(*) AS n_docs_all,
      CAST(sum(n_tokens) AS BIGINT) AS tok_all,
      CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_len,
      CAST(sum(CASE WHEN p1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tok_len,
      CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_docs_shape,
      CAST(sum(CASE WHEN p1 AND p2 THEN n_tokens ELSE 0 END) AS BIGINT)
        AS tok_shape,
      CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_docs_density,
      CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN n_tokens ELSE 0 END)
        AS BIGINT) AS tok_density
    FROM p"""

  // -------------------------------------------- temperature (√) sampling

  /** Per-source admission budget: expected picks per source ≈
    * `SqrtK`·√n_s, i.e. sampling rate ∝ n^(τ−1) at temperature τ = 1/2 —
    * the √-scaling mixture multilingual training uses so head sources
    * stop drowning tail sources.
    */
  private val SqrtK = 3.0

  /** Temperature-balanced corpus sampling at τ = 1/2: admit a document
    * with probability min(1, K/√n_source) from the deterministic md5
    * stream. τ = 1/2 is chosen deliberately — the rate needs only `sqrt`,
    * which IEEE 754 requires to be correctly rounded, so unlike a general
    * `pow(n, τ−1)` (libm-dependent) the whole gate stays hash-exact.
    *
    * Scale: one (source)-keyed count aggregate broadcast back over a
    * narrow scan; admission is a pure filter — documents never shuffle.
    */
  def corpusSqrtSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val u = expr(
      "cast(conv(substring(md5(concat(cast(doc_id as string), ':t')), 1, 8), 16, 10) as bigint)")
      .cast("double") / lit(4294967296.0)
    docs.join(broadcast(counts), "source")
      .filter(u < least(lit(1.0), lit(SqrtK) / sqrt(col("n").cast("double"))))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  val corpusSqrtSampleSql: String = s"""
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1)
    SELECT doc_id, source
    FROM documents JOIN counts USING (source)
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':t'), 1, 8))::BIGINT
            AS DOUBLE) / 4294967296.0
      < least(1.0, $SqrtK / sqrt(CAST(n AS DOUBLE)))
    ORDER BY doc_id"""

  // ------------------------------------------------- shuffle + sharding

  private val NShards = 8

  /** Deterministic training-order shuffle + sharding: global order is the
    * md5 of the doc id (a fixed pseudo-random permutation — re-runs and
    * engine upgrades produce the SAME order), shard = hash mod
    * [[NShards]], position = rank within the shard. Emitting (shard,
    * position) makes the training-order contract explicit instead of
    * relying on file listing order.
    *
    * Scale: one shard-keyed shuffle; the per-shard position window sorts
    * within shards only — no global sort, and shards are the write
    * parallelism.
    */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame = {
    val h = expr(
      "cast(conv(substring(md5(concat(cast(doc_id as string), ':sh')), 1, 8), 16, 10) as bigint)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", col("h") % NShards)
      .withColumn("position", row_number().over(w).cast("long"))
      .select(col("shard"), col("position"), col("doc_id"))
      .orderBy("shard", "position")
  }

  val corpusShuffleSql: String = s"""
    WITH h AS (
      SELECT doc_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':sh'), 1, 8))::BIGINT AS h
      FROM documents)
    SELECT h % $NShards AS shard,
      CAST(row_number() OVER (PARTITION BY h % $NShards
        ORDER BY h, doc_id) AS BIGINT) AS position,
      doc_id
    FROM h ORDER BY shard, position"""

  // --------------------------------------------- stratified fixed-k sample

  private val StratK = 10

  /** Stratified fixed-quota sampling: exactly [[StratK]] documents per
    * source stratum (fewer when the stratum is smaller), chosen by a
    * deterministic md5 rank — the "equal representation" counterpart of
    * the probability samplers ([[corpusSqrtSample]] flattens a skewed mix
    * but keeps size proportional to √n; this pins the per-stratum size
    * exactly, e.g. for eval-set construction). Stable under corpus
    * growth: the md5 sort key is stable per document (ranks themselves
    * shift when new documents sort earlier), so only documents near the
    * quota boundary can enter or leave the sample.
    *
    * Scale: one stratum-keyed shuffle; the rank window sorts within
    * strata only and Spark trims it map-side (WindowGroupLimit pushes
    * `rn <= k` below the shuffle), so no stratum's full membership ever
    * materializes on one task.
    */
  def corpusStratifiedK(s: SparkSession, dir: String): DataFrame = {
    val rk = expr(
      "substring(md5(concat(cast(doc_id as string), ':strat')), 1, 16)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), rk.as("rk"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= StratK)
      .select(col("source"), col("rn"), col("doc_id"))
      .orderBy("source", "rn")
  }

  val corpusStratifiedKSql: String = s"""
    WITH r AS (
      SELECT doc_id, source,
        substring(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 16) AS rk
      FROM documents),
    ranked AS (
      SELECT source, doc_id,
        CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id)
          AS BIGINT) AS rn
      FROM r)
    SELECT source, rn, doc_id FROM ranked
    WHERE rn <= $StratK ORDER BY source, rn"""

  // --------------------------------------------- length-grouped batching

  private val BatchDocs = 16

  /** Length-grouped batching: sort each split's documents by token-ish
    * length, cut into fixed-size batches of [[BatchDocs]] — neighbours in
    * a batch have similar lengths, so per-batch padding (max−mean length)
    * collapses versus random batching. Emits per-batch size stats; the
    * padding ratio is the audited quantity.
    *
    * Scale: one split-keyed shuffle; the length sort is within-split;
    * batch stats are a map-side-combining aggregate over the batch id.
    */
  def batchByLength(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, dir)
      .select(
        splitCol.as("split"),
        col("doc_id"), col("n_chars"))
      .withColumn("batch",
        ((row_number().over(w) - 1) / BatchDocs).cast("long"))
      .groupBy(col("split"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_len"),
        max(col("n_chars")).as("max_len"),
        sum(col("n_chars")).as("sum_len"))
      .withColumn("pad_frac", round(
        (col("max_len") * col("n_docs") - col("sum_len")).cast("double") /
          (col("max_len") * col("n_docs")).cast("double"), 6))
      .orderBy("split", "batch")
  }

  val batchByLengthSql: String = s"""
    WITH d AS (
      SELECT $SplitSql AS split,
        doc_id, n_chars
      FROM documents),
    b AS (
      SELECT split, doc_id, n_chars,
        (row_number() OVER (PARTITION BY split
           ORDER BY n_chars, doc_id) - 1) // $BatchDocs AS batch
      FROM d)
    SELECT split, CAST(batch AS BIGINT) AS batch, count(*) AS n_docs,
      CAST(min(n_chars) AS BIGINT) AS min_len,
      CAST(max(n_chars) AS BIGINT) AS max_len,
      CAST(sum(n_chars) AS BIGINT) AS sum_len,
      round(CAST(max(n_chars) * count(*) - sum(n_chars) AS DOUBLE)
        / CAST(max(n_chars) * count(*) AS DOUBLE), 6) AS pad_frac
    FROM b GROUP BY split, batch ORDER BY split, batch"""

  // -------------------------------------------------------- priority sample

  private val PriN = 100

  /** Weighted sample WITHOUT replacement via priority sampling (Duffield,
    * Lund & Thorup, JACM 2007): each document draws priority `w/u` (w =
    * its length weight, u a deterministic md5 uniform in (0,1]); the
    * sample is the [[PriN]] highest priorities and τ is the (n+1)-th —
    * each sampled item's Horvitz-Thompson weight estimate is `max(w, τ)`,
    * which sums to an unbiased estimate of Σw. This is the
    * length-weighted counterpart of [[corpusSqrtSample]]'s per-source
    * temperature mixing: it pins the SAMPLE SIZE exactly while keeping
    * inclusion probability ∝ weight — the shape an epoch-budget sampler
    * needs.
    *
    * Deterministic: u = (h+1)/2^32 from the md5 stream; the only float
    * ops are one division per document and the max/round at output —
    * correctly rounded and identically ordered in both engines, so the
    * top-n cut and τ replay bit-exactly. At 100 TB the top-(n+1) is a
    * TakeOrdered (per-partition heaps, n+1 rows to the driver plan), not
    * a global sort.
    */
  def corpusPrioritySample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("bigint").as("w"))
      .withColumn("u",
        (expr("cast(conv(substring(md5(concat(cast(doc_id as string), " +
          "':pri')), 1, 8), 16, 10) as bigint)") + lit(1L)).cast("double") /
          lit(4294967296.0))
      .withColumn("q", col("w").cast("double") / col("u"))
    // top-(n+1) via sort+limit = TakeOrdered (per-partition heaps, n+1
    // rows total) — the global rank window then runs over the BOUNDED
    // (n+1)-row frame, never the corpus
    val top = docs.orderBy(col("q").desc, col("doc_id")).limit(PriN + 1)
    // the literal partition key marks the single-partition rank over the
    // BOUNDED (n+1)-row frame as intentional (and silences Spark's
    // "No Partition Defined" alert operators page on)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("q").desc, col("doc_id"))
    val ranked = top.withColumn("rn", row_number().over(w))
    val tau = ranked.filter(col("rn") === PriN + 1)
      .select(col("q").as("tau"))
    // τ left-joins in (coalesced to 0): a corpus of ≤ n documents has no
    // rank-(n+1) priority — the whole population is the sample and every
    // HT estimate is its exact weight, the priority-sampling convention
    ranked.filter(col("rn") <= PriN)
      .join(broadcast(tau), lit(true), "left")
      .select(col("doc_id"), col("w"), round(col("q"), 4).as("priority"),
        round(coalesce(col("tau"), lit(0.0)), 4).as("tau"),
        round(greatest(col("w").cast("double"),
          coalesce(col("tau"), lit(0.0))), 4).as("w_hat"))
      .orderBy("doc_id")
  }

  val corpusPrioritySampleSql: String = s"""
    WITH d AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
        CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':pri'),
          1, 8))::BIGINT + 1 AS DOUBLE) / 4294967296.0 AS u
      FROM documents),
    q AS (SELECT doc_id, w, CAST(w AS DOUBLE) / u AS q FROM d),
    ranked AS (
      SELECT doc_id, w, q,
        row_number() OVER (ORDER BY q DESC, doc_id) AS rn
      FROM q),
    tau AS (SELECT q AS tau FROM ranked WHERE rn = ${PriN + 1})
    SELECT doc_id, w, round(q, 4) AS priority,
      round(coalesce(tau, 0.0), 4) AS tau,
      round(CASE WHEN CAST(w AS DOUBLE) > coalesce(tau, 0.0)
                 THEN CAST(w AS DOUBLE)
                 ELSE coalesce(tau, 0.0) END, 4) AS w_hat
    FROM ranked LEFT JOIN tau ON TRUE WHERE rn <= $PriN ORDER BY doc_id"""

  // ------------------------------------------------------ epoch allocation

  /** Per-source epoch cap (the "don't repeat low-quality web text more
    * than E times" knob): planted heterogeneously by source index so the
    * waterfilling below exercises both branches at every scale factor.
    */
  private val EpochCapSql = "2 + (CAST(substring(source, 4) AS INT) % 4)"

  /** Token budget as a multiple of the corpus: B = 3·T. */
  private val BudgetFactor = 3

  /** Gate: UniMax-style epoch allocation (Chung et al. 2023) — split a
    * fixed training-token budget across sources as UNIFORMLY as
    * possible subject to per-source epoch caps. Exact waterfilling in
    * one closed form instead of the paper's iterative loop: with
    * sources sorted by cap ascending (source name tie-break), source k
    * is saturated iff cap_k·(S−k+1) < B − cumcap_{k−1}; the criterion
    * is monotonically non-increasing in k (f(k+1)−f(k) =
    * (S−k)(cap_k − cap_{k+1}) ≤ 0), so the saturated set is exactly
    * the waterfill prefix — no loop, no driver feedback. Unsaturated
    * sources each get ⌊R/m⌋ of the residual (the < m leftover tokens
    * are deliberately unallocated — exact integer arithmetic beats a
    * fractional split that could round differently per engine).
    *
    * Scale: ONE corpus pass builds the per-source census; everything
    * after runs on the S-row census frame (windows over sources, not
    * data — S is the number of SOURCES, a config-sized set).
    */
  /** The per-source census (source, n_docs, n_tokens) — every column a
    * mergeable add, which is what the streaming maintainer
    * ([[graft.streaming.StreamEpochCensus]]) folds.
    */
  private[graft] def epochCensus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(norm, " "))).cast("long").as("n_tokens"))

  /** The waterfilling report over a (maintained or one-shot) census. */
  private[graft] def epochReport(censusDf: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap_tokens").asc, col("source").asc)
    val census = censusDf
      .withColumn("e_cap", expr(EpochCapSql).cast("long"))
      // loud null guard: a source name not shaped 'src<digits>' makes
      // the planted-cap CAST yield NULL in Spark (ANSI try-semantics
      // via expr string) while DuckDB's CAST throws — without this the
      // Spark side would silently poison the cap ordering and the
      // saturation criterion. Fail identically loudly on both engines.
      .withColumn("e_cap",
        when(col("e_cap").isNotNull, col("e_cap")).otherwise(raise_error(
          concat(lit("corpus_epochs: source name not 'src<digits>' — "
            + "e_cap is null for source "), col("source")))))
      .withColumn("cap_tokens", col("e_cap") * col("n_tokens"))
    val tot = census.agg(
      (sum(col("n_tokens")) * BudgetFactor).as("budget"),
      count(lit(1)).as("S"))
    val ranked = census.crossJoin(broadcast(tot))
      .withColumn("k", row_number().over(w))
      .withColumn("cumcap", sum(col("cap_tokens")).over(w))
      .withColumn("saturated",
        col("cap_tokens") * (col("S") - col("k") + 1) <
          col("budget") - (col("cumcap") - col("cap_tokens")))
    val resid = ranked.agg(
      sum(when(col("saturated"), col("cap_tokens")).otherwise(0L)).as("csat"),
      sum(when(col("saturated"), 1L).otherwise(0L)).as("ksat"))
    ranked.crossJoin(broadcast(resid))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("cap_tokens"))
          .otherwise(expr("(budget - csat) div (S - ksat)")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("e_cap"),
        col("cap_tokens"), col("saturated"), col("alloc_tokens"),
        round(col("alloc_tokens").cast("double") / col("n_tokens"), 6)
          .as("epochs"))
      .orderBy("source")
  }

  def corpusEpochs(s: SparkSession, dir: String): DataFrame =
    epochReport(epochCensus(s, dir))

  /** The waterfilling CTE chain (shared verbatim by the `corpus_epochs`
    * report and the `epoch_positions` schedule so the two oracles cannot
    * diverge): census → caps → budget → prefix criterion → residual.
    */
  private[graft] val epochAllocCtes: String = s"""
    ec AS (
      SELECT source, count(*) AS n_docs,
        CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens,
        CAST($EpochCapSql AS BIGINT) AS e_cap
      FROM documents GROUP BY source),
    ecap AS (SELECT *, e_cap * n_tokens AS cap_tokens FROM ec),
    etot AS (SELECT CAST(sum(n_tokens) * $BudgetFactor AS BIGINT) AS budget,
               count(*) AS S FROM ecap),
    erk AS (
      SELECT *, row_number() OVER (ORDER BY cap_tokens, source) AS k,
        sum(cap_tokens) OVER (ORDER BY cap_tokens, source
          ROWS UNBOUNDED PRECEDING) AS cumcap
      FROM ecap, etot),
    esat AS (
      SELECT *, cap_tokens * (S - k + 1) <
        budget - (cumcap - cap_tokens) AS saturated
      FROM erk),
    eres AS (SELECT CAST(sum(CASE WHEN saturated THEN cap_tokens
                                  ELSE 0 END) AS BIGINT) AS csat,
               CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT)
                 AS ksat
             FROM esat)"""

  val corpusEpochsSql: String = s"""
    WITH $epochAllocCtes
    SELECT source, n_docs, n_tokens, e_cap, cap_tokens, saturated,
      CAST(CASE WHEN saturated THEN cap_tokens
                ELSE (budget - csat) // (S - ksat) END AS BIGINT)
        AS alloc_tokens,
      round(CAST(CASE WHEN saturated THEN cap_tokens
                      ELSE (budget - csat) // (S - ksat) END AS DOUBLE)
            / n_tokens, 6) AS epochs
    FROM esat, eres ORDER BY source"""

  // ------------------------------------------------------- epoch schedule

  /** Gate: the MATERIALIZED multi-epoch training schedule — the artifact
    * a trainer actually consumes, composing [[corpusEpochs]]' UniMax
    * allocation with the [[corpusShuffle]] sharding. Each source's
    * document stream repeats once per COMPLETE epoch it was allocated
    * (⌊alloc/n_tokens⌋ repeats), under a FRESH shuffle hash per epoch
    * (salt `:ep<epoch>` — repeat exposures land in different order and
    * different shards, the anti-memorization convention); the final
    * PARTIAL epoch is the maximal prefix of that epoch's shuffle order
    * whose running token count fits the source's residual allocation
    * (alloc mod n_tokens) — a greedy whole-document cut, so per-source
    * scheduled tokens are ≤ alloc with a shortfall smaller than the
    * first excluded document. Positions come from (epoch,
    * shard)-partitioned windows ordered by (hash, doc_id) — sources
    * interleave pseudo-randomly within an epoch, and no window ever
    * spans more than one shard of one epoch.
    *
    * Scale (100 TB): the corpus is scanned once for the per-doc token
    * counts (the census behind the allocation is its own one-pass agg);
    * the S-row allocation broadcast-joins onto the scan; full-epoch
    * repetition is a narrow explode whose output IS the artifact (no
    * amplification beyond what the trainer reads); the partial-epoch
    * running-token cut is [[DistRank.runningSum]] — two-phase
    * boundary-broadcast, NOT a per-source single-reducer window; and
    * position windows partition by (epoch, shard), the
    * [[corpusAnneal]] discipline (raise [[NShards]] with cluster
    * width — shards are the write parallelism).
    */
  def epochPositions(s: SparkSession, dir: String): DataFrame = {
    val rep = epochReport(epochCensus(s, dir))
      .select(col("source"), col("n_tokens"), col("alloc_tokens"))
      // n_tokens > 0 for every census row (a source only appears with
      // ≥ 1 doc; empty-text docs still tokenize to one empty piece), so
      // ANSI div is safe — and a zero-token source SHOULD fail loudly.
      .withColumn("e_full", expr("alloc_tokens div n_tokens"))
      .withColumn("rem", col("alloc_tokens") % col("n_tokens"))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(norm, " ")).cast("long").as("n_w"))
    // S rows (the number of SOURCES — config-sized by construction,
    // unlike the data-dependent sets the r11 advice un-hinted)
    val planned = docs.join(broadcast(rep), "source")
    val hEpoch = expr("cast(conv(substring(md5(concat(" +
      "cast(doc_id as string), ':ep', cast(epoch as string))), 1, 8), " +
      "16, 10) as bigint)")
    val full = planned.filter(col("e_full") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("e_full"))))
      .withColumn("h", hEpoch)
      .select(col("doc_id"), col("source"), col("n_w"), col("epoch"),
        col("h"))
    val part = DistRank.runningSum(
        planned.filter(col("rem") > 0)
          .withColumn("epoch", col("e_full") + 1)
          .withColumn("h", hEpoch),
        "source", Seq(col("h"), col("doc_id")), "doc_id", col("n_w"), "cs")
      .filter(col("cs") <= col("rem"))
      .select(col("doc_id"), col("source"), col("n_w"), col("epoch"),
        col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    full.unionByName(part)
      .withColumn("shard", col("h") % NShards)
      .withColumn("position", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("position"), col("doc_id"),
        col("source"), col("n_w"))
      .orderBy("epoch", "shard", "position")
  }

  val epochPositionsSql: String = s"""
    WITH $epochAllocCtes,
    epa AS (
      SELECT source, n_tokens,
        alloc_tokens // n_tokens AS e_full,
        alloc_tokens % n_tokens AS rem
      FROM (SELECT source, n_tokens,
              CAST(CASE WHEN saturated THEN cap_tokens
                        ELSE (budget - csat) // (S - ksat) END AS BIGINT)
                AS alloc_tokens
            FROM esat, eres)),
    epd AS (SELECT doc_id, source,
              CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_w
            FROM documents),
    epfull AS (
      SELECT doc_id, source, n_w,
        unnest(generate_series(1, e_full)) AS epoch
      FROM epd JOIN epa USING (source) WHERE e_full >= 1),
    eppart AS (
      SELECT doc_id, source, n_w, e_full + 1 AS epoch, rem,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ep'
          || CAST(e_full + 1 AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM epd JOIN epa USING (source) WHERE rem > 0),
    eppcut AS (
      SELECT doc_id, source, n_w, epoch, h FROM (
        SELECT *, sum(n_w) OVER (PARTITION BY source ORDER BY h, doc_id
          ROWS UNBOUNDED PRECEDING) AS cs
        FROM eppart)
      WHERE cs <= rem),
    epall AS (
      SELECT doc_id, source, n_w, CAST(epoch AS BIGINT) AS epoch,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ep'
          || CAST(epoch AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM epfull
      UNION ALL
      SELECT doc_id, source, n_w, CAST(epoch AS BIGINT), h FROM eppcut)
    SELECT epoch, h % $NShards AS shard,
      CAST(row_number() OVER (PARTITION BY epoch, h % $NShards
        ORDER BY h, doc_id) AS BIGINT) AS position,
      doc_id, source, n_w
    FROM epall ORDER BY epoch, shard, position"""

  // --------------------------------------------------- quality threshold sweep

  /** Gate: the quality-vs-quantity tradeoff curve — for each threshold
    * τ = k/10, how many documents and tokens survive `quality ≥ τ` and
    * what the surviving mean quality is. The curve is what a pipeline
    * owner reads to SET the quality gate (the knee where tokens
    * collapse faster than quality rises). Thresholding compares
    * 10^6-scaled integers (quality is round(·,6) by contract, so the
    * scaled value is exact) — no float comparison anywhere — and the
    * kept-mean is an integer fixed-point mean (sum div n). One pass
    * over the per-doc quality frame with a 10-way conditional
    * aggregate; the corpus is never re-scanned per threshold.
    */
  /** The per-threshold partial counters (k, n_docs, n_docs_kept,
    * n_tokens_kept, sumq) — ONE conditional-aggregate pass; every
    * column is a mergeable add, which is exactly what the streaming
    * maintainer ([[graft.streaming.StreamQualityCurve]]) folds.
    */
  private[graft] def qualityPartials(s: SparkSession, dir: String): DataFrame =
    TextOps.textQuality(s, dir)
      .select(col("n_words").cast("long").as("n_words"),
        expr("cast(round(quality * 1000000) as bigint)").as("q6"))
      .withColumn("k", explode(sequence(lit(0), lit(9))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("q6") >= col("k") * 100000L, 1L).otherwise(0L))
          .as("n_docs_kept"),
        sum(when(col("q6") >= col("k") * 100000L, col("n_words"))
          .otherwise(0L)).as("n_tokens_kept"),
        sum(when(col("q6") >= col("k") * 100000L, col("q6"))
          .otherwise(0L)).as("sumq"))

  /** The read-time report over the (maintained or one-shot) counters. */
  private[graft] def qualityReport(counters: DataFrame): DataFrame =
    counters
      .select(round(col("k").cast("double") / 10.0, 6).as("tau"),
        col("n_docs_kept"),
        col("n_tokens_kept"),
        round(col("n_docs_kept").cast("double") / col("n_docs"), 6)
          .as("frac_docs"),
        when(col("n_docs_kept") > 0, expr("sumq div n_docs_kept"))
          .otherwise(0L).as("mean_quality_q6"))
      .orderBy("tau")

  def qualityTradeoff(s: SparkSession, dir: String): DataFrame =
    qualityReport(qualityPartials(s, dir))

  val qualityTradeoffSql: String = {
    val q = TextOps.textQualitySql.trim.stripSuffix("ORDER BY doc_id")
    s"""
    WITH tq AS ($q),
    tq6 AS (SELECT CAST(n_words AS BIGINT) AS n_words,
              CAST(round(quality * 1000000) AS BIGINT) AS q6
            FROM tq),
    sweep AS (
      SELECT k, count(*) AS n_docs,
        CAST(sum(CASE WHEN q6 >= k * 100000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_kept,
        CAST(sum(CASE WHEN q6 >= k * 100000 THEN n_words ELSE 0 END)
          AS BIGINT) AS n_tokens_kept,
        CAST(sum(CASE WHEN q6 >= k * 100000 THEN q6 ELSE 0 END) AS BIGINT)
          AS sumq
      FROM tq6, (SELECT unnest(generate_series(0, 9)) AS k)
      GROUP BY k)
    SELECT round(CAST(k AS DOUBLE) / 10.0, 6) AS tau, n_docs_kept,
      n_tokens_kept,
      round(CAST(n_docs_kept AS DOUBLE) / n_docs, 6) AS frac_docs,
      CAST(coalesce(sumq // nullif(n_docs_kept, 0), 0) AS BIGINT)
        AS mean_quality_q6
    FROM sweep ORDER BY tau"""
  }

  // ------------------------------------------------------- long-doc handling

  /** Middle-out truncation: tokens kept from the head / tail. */
  private[operators] val TruncHead = 40
  private[operators] val TruncTail = 24

  /** Gate: long-document truncation — the head+tail ("middle-out") cut
    * a pipeline applies before packing when a document exceeds its
    * token budget: keep the first [[TruncHead]] and last [[TruncTail]]
    * tokens with an explicit `<TRUNC>` marker between them (the marker
    * matters: silent middle deletion corrupts span-level provenance).
    * Short documents pass through byte-identical. Pure per-row array
    * slicing over the scan — codegen, no shuffle; the hash column
    * makes any off-by-one in either engine's slice arithmetic fatal.
    */
  def docTruncate(s: SparkSession, dir: String): DataFrame = {
    val ws = split(norm, " ")
    val n = size(ws)
    val keep = TruncHead + TruncTail
    val kept = when(n <= keep, ws)
      .otherwise(concat(slice(ws, 1, TruncHead), array(lit("<TRUNC>")),
        slice(ws, n - TruncTail + 1, lit(TruncTail))))
    Tables.documents(s, dir)
      .select(col("doc_id"), n.cast("long").as("n_tokens"),
        (n > keep).as("truncated"),
        when(n <= keep, n).otherwise(keep + 1).cast("long")
          .as("n_kept"),
        md5(array_join(kept, " ")).as("trunc_hash"))
      .orderBy("doc_id")
  }

  val docTruncateSql: String = {
    val keep = TruncHead + TruncTail
    s"""
    WITH dtw AS (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents)
    SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      len(ws) > $keep AS truncated,
      CAST(CASE WHEN len(ws) <= $keep THEN len(ws)
                ELSE ${keep + 1} END AS BIGINT) AS n_kept,
      md5(CASE WHEN len(ws) <= $keep THEN array_to_string(ws, ' ')
           ELSE array_to_string(ws[1:$TruncHead], ' ') || ' <TRUNC> ' ||
                array_to_string(ws[len(ws) - ${TruncTail - 1}:len(ws)], ' ')
           END) AS trunc_hash
    FROM dtw ORDER BY doc_id"""
  }

  // ----------------------------------------------------------- anneal phase

  /** Anneal-set size as a fraction of the corpus (1/AnnealDiv). */
  private val AnnealDiv = 5

  /** Gate: quality-annealed training schedule (the "midtraining" /
    * final-phase upweighting every current pipeline runs): phase 1 is
    * the full hash-shuffled corpus; phase 2 RE-EXPOSES the top 1/5 of
    * documents by quality (q6 DESC, doc_id tie-break — a total order,
    * so the cut is deterministic) under a fresh shuffle hash. Both
    * phases shard like [[corpusShuffle]] — positions come from
    * (phase, shard)-partitioned windows, never a global one — and the
    * schedule is (phase, shard, position, doc_id, q6), replayable by
    * any trainer. The quality cut is a distributed TakeOrdered (top-n
    * by a total order), not a quantile pass.
    */
  def corpusAnneal(s: SparkSession, dir: String): DataFrame = {
    val q = TextOps.qualityDf(s, dir)
      .select(col("doc_id"),
        expr("cast(round(quality * 1000000) as bigint)").as("q6"))
    val n = Tables.documents(s, dir).count()
    val annealN = n / AnnealDiv
    // the quality cut by two-phase DistRank, NOT orderBy().limit(): a
    // TakeOrdered would materialize the whole anneal set on the driver
    // — fine at gate scale, fatal at billions of documents
    val anneal = DistRank.rowNumber(
        q.withColumn("__all", lit(0L)),
        "__all", Seq(-col("q6"), col("doc_id")), "doc_id", "__qr")
      .filter(col("__qr") <= annealN)
      .select(col("doc_id"), col("q6"))
    def hashed(df: DataFrame, phase: Int, salt: String) = df
      .withColumn("h", expr("cast(conv(substring(md5(concat(" +
        s"cast(doc_id as string), '$salt')), 1, 8), 16, 10) as bigint)"))
      .withColumn("phase", lit(phase))
      .withColumn("shard", col("h") % NShards)
    val both = hashed(q, 1, ":an1").unionByName(hashed(anneal, 2, ":an2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("phase"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    both.withColumn("position", row_number().over(w).cast("long"))
      .select(col("phase"), col("shard"), col("position"), col("doc_id"),
        col("q6"))
      .orderBy("phase", "shard", "position")
  }

  val corpusAnnealSql: String = s"""
    WITH ${TextOps.docQualityCteSql.trim},
    aq AS (SELECT doc_id,
        CAST(round(quality * 1000000) AS BIGINT) AS q6
      FROM dq),
    ann AS (SELECT doc_id, q6 FROM aq
            ORDER BY q6 DESC, doc_id ASC
            LIMIT (SELECT count(*) // $AnnealDiv FROM documents)),
    ph AS (
      SELECT 1 AS phase, doc_id, q6,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':an1'), 1, 8))::BIGINT AS h
      FROM aq
      UNION ALL
      SELECT 2, doc_id, q6,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':an2'), 1, 8))::BIGINT
      FROM ann)
    SELECT phase, h % $NShards AS shard,
      CAST(row_number() OVER (PARTITION BY phase, h % $NShards
        ORDER BY h, doc_id) AS BIGINT) AS position,
      doc_id, q6
    FROM ph ORDER BY phase, shard, position"""

  // ------------------------------------------------------------ shard plan

  /** Output-shard count the write plan targets. A config knob: shards are
    * the dataloader's read parallelism, so production raises it with
    * cluster width (the manifest stays O(shards) either way).
    */
  private[operators] val OutShards = 16

  /** Gate: the token-balanced output-shard PLAN — the write-side manifest
    * a distributed dataloader consumes (the WebDataset/packed-parquet
    * convention: N shard files of ~equal token mass, each an i.i.d.
    * sample of the corpus, plus a manifest of per-shard extents and
    * integrity checks). Documents are laid out in the deterministic
    * md5 shuffle order (salt `:sp` — re-runs and engines agree), the
    * target shard size is ⌈total_tokens / [[OutShards]]⌉, and a document
    * belongs to the shard its STARTING token offset falls in — whole
    * documents never split across shards, so shards are contiguous
    * token ranges: `start_offset` of shard k+1 equals `end_offset` of
    * shard k.
    *
    * Per shard the manifest carries doc/token counts, the token-offset
    * extent, the first/last member in layout order, and `member_check`
    * — an ORDER-FREE additive digest (sum of a per-doc md5-derived
    * 32-bit value). Order-free is deliberate: an ordered digest needs a
    * per-shard collect_list of every member id (state linear in shard
    * membership — millions of docs per shard at 100 TB), while the
    * additive check folds in O(1) mergeable state per shard and still
    * pins the exact member SET (the extent columns pin the layout).
    *
    * Scale (100 TB): one corpus scan for (doc_id, tokens); the total is
    * a scalar broadcast; the running token offset is
    * [[DistRank.runningSum]] — two-phase boundary-broadcast, NOT a
    * global single-reducer window (the oracle's `OVER (ORDER BY ...)`
    * formulation is gate-scale only); the output is O([[OutShards]]).
    */
  def shardPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(norm, " ")).cast("long").as("n_w"))
      .withColumn("h", expr("cast(conv(substring(md5(concat(" +
        "cast(doc_id as string), ':sp')), 1, 8), 16, 10) as bigint)"))
    val ssize = docs.agg(
      expr(s"(sum(n_w) + ${OutShards - 1}) div $OutShards").as("ssize"))
    val cum = DistRank.runningSum(
      docs.withColumn("__all", lit(0L)),
      "__all", Seq(col("h"), col("doc_id")), "doc_id", col("n_w"), "cs")
    cum.crossJoin(broadcast(ssize))
      .withColumn("shard_id", expr("(cs - n_w) div ssize"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_w")).as("n_tokens"),
        min(col("cs") - col("n_w")).as("start_offset"),
        max(col("cs")).as("end_offset"),
        min_by(col("doc_id"), col("cs")).as("first_doc"),
        max_by(col("doc_id"), col("cs")).as("last_doc"),
        sum(expr("cast(conv(substring(md5(concat(cast(doc_id as string), " +
          "':ck')), 1, 8), 16, 10) as bigint)")).as("member_check"))
      .orderBy("shard_id")
  }

  val shardPlanSql: String = s"""
    WITH spd AS (
      SELECT doc_id, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_w,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':sp'), 1, 8))::BIGINT
          AS h
      FROM documents),
    spt AS (
      SELECT CAST((sum(n_w) + ${OutShards - 1}) // $OutShards AS BIGINT)
        AS ssize
      FROM spd),
    spc AS (
      SELECT doc_id, n_w,
        CAST(sum(n_w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cs
      FROM spd)
    SELECT CAST((cs - n_w) // ssize AS BIGINT) AS shard_id,
      count(*) AS n_docs,
      CAST(sum(n_w) AS BIGINT) AS n_tokens,
      CAST(min(cs - n_w) AS BIGINT) AS start_offset,
      CAST(max(cs) AS BIGINT) AS end_offset,
      arg_min(doc_id, cs) AS first_doc,
      arg_max(doc_id, cs) AS last_doc,
      CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
        1, 8))::BIGINT) AS BIGINT) AS member_check
    FROM spc, spt GROUP BY 1 ORDER BY shard_id"""

  // ----------------------------------------------------------- SFT masking

  /** Gate: SFT RECORD ASSEMBLY — chat-turn rendering plus the loss-mask
    * span table (the HuggingFace `labels = -100` convention): each
    * document becomes a 2- or 4-turn conversation (doc-id parity; turn
    * boundaries at ⌊i·n/k⌋ — whole-word even split), the rendered token
    * stream is one role marker per turn followed by the turn's words,
    * and ONLY assistant-turn content trains — markers and user content
    * mask to 0. Emits per document the turn/token accounting, the
    * trainable-span list in rendered-stream coordinates (`start:len`,
    * the varlen-kernel input, like [[TextOps]]' `pack_attention_spans`
    * for packing), and the md5 of the full 0/1 mask string — any
    * off-by-one in either engine's span arithmetic is fatal.
    *
    * Why it matters: silent mask errors are the classic SFT data bug —
    * training on user text or on template markers degrades the model
    * and is invisible in loss curves. A hash-gated mask table makes
    * the masking auditable before any GPU time is spent.
    *
    * Scale: pure per-row closed-form arithmetic over the scan
    * (sequence/filter/transform/aggregate higher-order expressions, no
    * explode, no shuffle, no state).
    */
  def sftMaskSpans(s: SparkSession, dir: String): DataFrame = {
    def b(i: String) = s"((($i) * n) div k)"
    val lenI = s"(${b("i")} - ${b("i - 1")})"
    val startI = s"(${b("i - 1")} + i + 1)"
    val spansE = "array_join(transform(filter(sequence(1L, k), " +
      s"i -> i % 2 = 0), i -> concat(cast($startI as string), ':', " +
      s"cast($lenI as string))), ',')"
    val maskE = "md5(array_join(transform(sequence(1L, k), " +
      s"i -> concat('0', repeat(if(i % 2 = 0, '1', '0'), " +
      s"cast($lenI as int)))), ''))"
    val trainE = "aggregate(filter(sequence(1L, k), i -> i % 2 = 0), " +
      s"0L, (a, i) -> a + $lenI)"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(norm, " ")).cast("long").as("n"),
        (lit(2L) + lit(2L) * (col("doc_id") % 2)).as("k"))
      .select(col("doc_id"),
        col("k").as("n_turns"),
        (col("n") + col("k")).as("n_tokens"),
        expr(trainE).as("n_trainable"),
        expr("k div 2").as("n_spans"),
        expr(spansE).as("spans"),
        expr(maskE).as("mask_hash"))
      .orderBy("doc_id")
  }

  val sftMaskSpansSql: String = s"""
    WITH sfm AS (SELECT doc_id,
      CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n,
      2 + 2 * (doc_id % 2) AS k FROM documents)
    SELECT doc_id, CAST(k AS BIGINT) AS n_turns, n + k AS n_tokens,
      CAST(list_sum(list_transform(
        list_filter(generate_series(1, k), i -> i % 2 = 0),
        i -> ((i * n) // k) - (((i - 1) * n) // k))) AS BIGINT)
        AS n_trainable,
      CAST(k // 2 AS BIGINT) AS n_spans,
      array_to_string(list_transform(
        list_filter(generate_series(1, k), i -> i % 2 = 0),
        i -> CAST((((i - 1) * n) // k) + i + 1 AS VARCHAR) || ':'
             || CAST(((i * n) // k) - (((i - 1) * n) // k) AS VARCHAR)),
        ',') AS spans,
      md5(array_to_string(list_transform(generate_series(1, k),
        i -> '0' || repeat(CASE WHEN i % 2 = 0 THEN '1' ELSE '0' END,
               CAST(((i * n) // k) - (((i - 1) * n) // k) AS INT))), ''))
        AS mask_hash
    FROM sfm ORDER BY doc_id"""

  // ------------------------------------------------------ preference pairs

  /** Candidate completions per preference prompt: documents grouped in
    * blocks of [[DpoGroup]] consecutive ids — the harness stand-in for
    * "N sampled completions per prompt".
    */
  private val DpoGroup = 4

  /** Gate: DPO/RLHF PREFERENCE-PAIR ASSEMBLY — the post-SFT training
    * record: per prompt, ONE (chosen, rejected) completion pair plus the
    * shared-prompt accounting and the per-branch trainable-span/mask
    * table. Completes the training-data story [[sftMaskSpans]] opens:
    * SFT consumes (prompt, completion, mask); preference optimization
    * consumes (prompt, chosen, rejected) with the SAME rendering and
    * masking rules, and a silent mask or selection bug is just as
    * invisible in DPO loss curves as in SFT.
    *
    * Construction: each [[DpoGroup]]-block of doc ids is one prompt
    * group; the PROMPT is the block anchor's (min doc_id) first turn
    * under the [[sftMaskSpans]] 2-turn split (⌊n/2⌋ words); every
    * member's second turn is a candidate completion. Selection uses the
    * ONE shared quality composite ([[TextOps]]' — the same signal
    * `dedup_keep_best` ranks with): chosen = arg max (quality, then
    * smaller id), rejected = arg min (quality, then larger id) — the
    * keep-best tiebreak convention. Groups with < 2 candidates or no
    * strict quality gap emit nothing: a pair without a preference signal
    * is not a training record.
    *
    * Rendered-stream coordinates per branch: [user marker][prompt
    * words][assistant marker][completion words] — the completion span
    * starts at n_prompt_tokens + 3 in BOTH branches (prompt identity is
    * visible in the one shared `span_start` column), and the mask hash
    * covers the full 0/1 stream (markers and prompt mask to 0, the HF
    * `labels = -100` convention).
    *
    * Scale: two narrow per-row frames over the scan — word counts, plus
    * the SHARED quality frame joined on the doc key (executed plan: 2
    * FileScans + 1 equi-join, zero windows; the one-definition quality
    * discipline beats the single-scan micro-optimization) — then one
    * groupBy on the block key (max_by/min_by struct aggregates — no
    * window, no self-join) and closed-form span/mask arithmetic per
    * surviving group. O(corpus / DpoGroup) rows out.
    */
  def dpoPairs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(norm, " ")).cast("long").as("n"))
      .join(TextOps.qualityDf(s, dir), "doc_id")
      .withColumn("pid", expr(s"doc_id div $DpoGroup"))
    val grp = base.groupBy(col("pid"))
      .agg(count(lit(1)).as("n_candidates"),
        min(col("doc_id")).as("prompt_doc"),
        min_by(col("n"), col("doc_id")).as("pn"),
        max_by(struct(col("doc_id"), col("n"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("nd"))).as("ch"),
        min_by(struct(col("doc_id"), col("n"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("nd"))).as("rj"))
      .filter(col("n_candidates") >= 2 &&
        col("ch").getField("quality") > col("rj").getField("quality"))
    def maskHash(c: org.apache.spark.sql.Column) = md5(concat(
      expr("repeat('0', cast(pn div 2 + 2 as int))"),
      repeat(lit("1"), c.cast("int"))))
    grp.select(col("pid").as("prompt_id"),
        col("prompt_doc"), col("n_candidates"),
        expr("pn div 2").as("n_prompt_tokens"),
        (expr("pn div 2") + lit(3L)).as("span_start"),
        col("ch").getField("doc_id").as("chosen_doc"),
        col("ch").getField("quality").as("chosen_quality"),
        (col("ch").getField("n") - expr("ch.n div 2"))
          .as("n_chosen_tokens"),
        col("rj").getField("doc_id").as("rejected_doc"),
        col("rj").getField("quality").as("rejected_quality"),
        (col("rj").getField("n") - expr("rj.n div 2"))
          .as("n_rejected_tokens"),
        col("pn"))
      .withColumn("chosen_span", concat_ws(":",
        col("span_start"), col("n_chosen_tokens")))
      .withColumn("rejected_span", concat_ws(":",
        col("span_start"), col("n_rejected_tokens")))
      .withColumn("chosen_mask_hash", maskHash(col("n_chosen_tokens")))
      .withColumn("rejected_mask_hash", maskHash(col("n_rejected_tokens")))
      .drop("pn")
      .orderBy("prompt_id")
  }

  val dpoPairsSql: String = s"""
    WITH ${TextOps.docQualityCteSql},
    dpb AS (
      SELECT d.doc_id, d.doc_id // $DpoGroup AS pid,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n, dq.quality
      FROM documents d JOIN dq USING (doc_id)),
    dpw AS (
      SELECT doc_id, pid, n, quality,
        row_number() OVER (PARTITION BY pid
          ORDER BY quality DESC, doc_id) AS rc,
        row_number() OVER (PARTITION BY pid
          ORDER BY quality ASC, doc_id DESC) AS rr,
        count(*) OVER (PARTITION BY pid) AS nc,
        min(doc_id) OVER (PARTITION BY pid) AS prompt_doc,
        first_value(n) OVER (PARTITION BY pid ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS pn
      FROM dpb),
    dpc AS (SELECT pid, nc, prompt_doc, pn, doc_id AS cdoc, n AS cn,
              quality AS cq
            FROM dpw WHERE rc = 1),
    dpr AS (SELECT pid, doc_id AS rdoc, n AS rn, quality AS rq
            FROM dpw WHERE rr = 1)
    SELECT pid AS prompt_id, prompt_doc, CAST(nc AS BIGINT) AS n_candidates,
      pn // 2 AS n_prompt_tokens, pn // 2 + 3 AS span_start,
      cdoc AS chosen_doc, cq AS chosen_quality,
      cn - cn // 2 AS n_chosen_tokens,
      rdoc AS rejected_doc, rq AS rejected_quality,
      rn - rn // 2 AS n_rejected_tokens,
      CAST(pn // 2 + 3 AS VARCHAR) || ':' || CAST(cn - cn // 2 AS VARCHAR)
        AS chosen_span,
      CAST(pn // 2 + 3 AS VARCHAR) || ':' || CAST(rn - rn // 2 AS VARCHAR)
        AS rejected_span,
      md5(repeat('0', CAST(pn // 2 + 2 AS INT))
        || repeat('1', CAST(cn - cn // 2 AS INT))) AS chosen_mask_hash,
      md5(repeat('0', CAST(pn // 2 + 2 AS INT))
        || repeat('1', CAST(rn - rn // 2 AS INT))) AS rejected_mask_hash
    FROM dpc JOIN dpr USING (pid)
    WHERE nc >= 2 AND cq > rq
    ORDER BY prompt_id"""

  // ------------------------------------------------------- span corruption

  /** Tokens per corruption block: one span per complete block gives the
    * T5 defaults (corruption rate ≈ 15% at mean span 3 → one ~3-token
    * span per 20 tokens).
    */
  private val CorruptBlock = 20

  /** Gate: T5-STYLE SPAN CORRUPTION record assembly (Raffel et al. 2020
    * §3.1.4 — the denoising pretraining objective): per document, the
    * deterministic corrupted-span table and the exact input/target
    * length accounting a seq2seq pretraining loader needs. Each complete
    * [[CorruptBlock]]-token block contributes ONE span: length 2 + (h %
    * 3) ∈ {2,3,4} (mean 3) at offset (h div 3) % (block − len + 1),
    * where h is the doc/block-keyed md5 — spans are non-overlapping by
    * construction (one per block, contained in its block), the
    * trailing partial block is uncorrupted, and the whole selection
    * replays from (doc_id, block) alone. Emits span coordinates in
    * document token space (`start:len`, the [[sftMaskSpans]]
    * convention), the encoder input length (uncorrupted tokens + one
    * sentinel per span), the decoder target length (corrupted tokens +
    * one sentinel per span + the closing sentinel), and the md5 of the
    * full 0/1 corruption mask — the third member of the
    * training-objective family ([[sftMaskSpans]] = SFT masking,
    * [[dpoPairs]] = preference pairs, this = denoising).
    *
    * Scale: one narrow per-row map over the scan (sequence/transform/
    * aggregate higher-order expressions — no explode, no shuffle, no
    * state), the `c4_filters` shape.
    */
  def spanCorruption(s: SparkSession, dir: String): DataFrame = {
    val B = CorruptBlock
    val hE = "cast(conv(substring(md5(concat(cast(doc_id as string), " +
      "':sc', cast(b as string))), 1, 8), 16, 10) as bigint)"
    val lenE = s"(2 + ($hE % 3))"
    val startE = s"(($hE div 3) % ($B - $lenE + 1))"
    // guard the block sequence: Spark's sequence(1, 0) DESCENDS (step
    // defaults to -1), so a short doc must filter, not sequence-to-zero
    val spansE = s"transform(filter(sequence(1L, greatest(n div $B, 1L)), " +
      s"b -> b <= n div $B), b -> " +
      s"struct((b - 1) * $B + $startE as st, $lenE as ln))"
    // the 0/1 mask is ONE ordered fold over the span structs (spans are
    // block-ordered and non-overlapping by construction)
    val maskE = "md5(aggregate(sp, struct('' as s, 0L as p), " +
      "(acc, x) -> struct(concat(acc.s, repeat('0', cast(x.st - acc.p " +
      "as int)), repeat('1', cast(x.ln as int))), x.st + x.ln), " +
      "acc -> concat(acc.s, repeat('0', cast(n - acc.p as int)))))"
    Tables.documents(s, dir)
      .select(col("doc_id"), size(split(norm, " ")).cast("long").as("n"))
      .withColumn("sp", expr(spansE))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr(s"n div $B").as("n_spans"),
        expr("cast(aggregate(sp, 0L, (a, x) -> a + x.ln) as bigint)")
          .as("n_corrupted"),
        expr("array_join(transform(sp, x -> concat(cast(x.st as string), " +
          "':', cast(x.ln as string))), ',')").as("spans"),
        expr(maskE).as("mask_hash"))
      .withColumn("input_len",
        col("n_tokens") - col("n_corrupted") + col("n_spans"))
      .withColumn("target_len",
        col("n_corrupted") + col("n_spans") + lit(1L))
      .withColumn("corruption_rate",
        round(col("n_corrupted").cast("double")
          / col("n_tokens").cast("double"), 6))
      .orderBy("doc_id")
  }

  val spanCorruptionSql: String = {
    val B = CorruptBlock
    val hE = "('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':sc' || " +
      "CAST(b AS VARCHAR)), 1, 8))::BIGINT"
    val lenE = s"(2 + ($hE % 3))"
    val startE = s"(($hE // 3) % ($B - $lenE + 1))"
    s"""
    WITH scd AS (SELECT doc_id,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n
      FROM documents),
    scs AS (
      SELECT doc_id, n, b,
        CAST((b - 1) * $B + $startE AS BIGINT) AS st,
        CAST($lenE AS BIGINT) AS ln
      FROM scd, unnest(generate_series(1, n // $B)) AS t(b)),
    scg AS (
      SELECT doc_id, st, ln,
        coalesce(lag(st + ln) OVER (PARTITION BY doc_id ORDER BY st), 0)
          AS pe
      FROM scs),
    sca AS (
      SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_spans,
        CAST(sum(ln) AS BIGINT) AS n_corrupted,
        string_agg(CAST(st AS VARCHAR) || ':' || CAST(ln AS VARCHAR),
          ',' ORDER BY st) AS spans,
        string_agg(repeat('0', CAST(st - pe AS INT))
          || repeat('1', CAST(ln AS INT)), '' ORDER BY st) AS mask_body,
        max(st + ln) AS last_end
      FROM scg GROUP BY doc_id)
    SELECT d.doc_id, d.n AS n_tokens,
      coalesce(a.n_spans, 0) AS n_spans,
      coalesce(a.n_corrupted, 0) AS n_corrupted,
      coalesce(a.spans, '') AS spans,
      md5(coalesce(a.mask_body, '')
        || repeat('0', CAST(d.n - coalesce(a.last_end, 0) AS INT)))
        AS mask_hash,
      d.n - coalesce(a.n_corrupted, 0) + coalesce(a.n_spans, 0)
        AS input_len,
      coalesce(a.n_corrupted, 0) + coalesce(a.n_spans, 0) + 1
        AS target_len,
      round(CAST(coalesce(a.n_corrupted, 0) AS DOUBLE)
        / CAST(d.n AS DOUBLE), 6) AS corruption_rate
    FROM scd d LEFT JOIN sca a USING (doc_id)
    ORDER BY d.doc_id"""
  }

  // ------------------------------------------------------ packing efficiency

  /** Token budgets the packing tuning table evaluates. */
  private val PackEffBudgets = Seq(512L, 1024L, 2048L)

  /** Gate: the PACKING TUNING TABLE — per token budget, three packing
    * strategies' bins/waste/fill statistics side by side:
    *
    *  - `stream`: the shipped contiguous-stream offset cut
    *    ([[TextOps.packSequences]]' model) — documents SPLIT across
    *    sequence boundaries, so padding waste is only the final
    *    partial sequence; the cost axis is `n_split_docs`, documents
    *    whose attention span crosses a boundary.
    *  - `nf_doc`: next-fit in arrival order, NO splits (the SFT-style
    *    sample packer) — a document that would cross the boundary
    *    closes the bin; waste = padding.
    *  - `nf_len`: next-fit DECREASING (length-sorted arrival) — the
    *    length-aware member of the decreasing family with O(1) packer
    *    state; the variant a streaming shard-writer can actually run.
    *    MEASURED SURPRISE the table exists to expose: NFD is NOT
    *    uniformly better than arrival order — at budget 512 on the
    *    gate corpus it wastes MORE (2269 vs 1757 tokens; sorting only
    *    reliably helps first-fit-style packers that keep bins open).
    *    True FFD keeps every open bin's remainder (state linear in
    *    bins — unbounded at 100 TB, and not exactly replayable as a
    *    distributed plan); the spec replays FFD sequentially and pins
    *    its waste ≤ BOTH shipped layouts at every budget, quantifying
    *    what the open-bin state buys.
    *
    * This is the tuning-table family's packing member
    * ([[graft.operators.Dedup]]'s lsh_tuning, [[ivfNprobeSweep]],
    * [[graft.operators.Bpe]]'s vocab sweep): packing waste is pure
    * token money at 100 TB, and the table is what an owner reads
    * before committing a strategy.
    *
    * Scale: the no-split layouts are computed EXACTLY with bounded
    * machinery — the bin structure of next-fit is the orbit of the
    * monotone jump function f(x) = max{cum ≤ x + budget} from 0, so:
    * one [[DistRank.runningSum]] prefix pass per (ordering, budget);
    * f built by a BANDED range join (each query's answer provably lies
    * in its own or the previous budget-width band, because consecutive
    * prefix sums differ by ≤ budget after the oversize filter); then
    * ⌈log₂ corpus⌉ pointer-doubling rounds (the `cc_deep_chain`
    * discipline, localCheckpoint per round) enumerate the O(total /
    * budget) bin starts. No driver collect; the only driver scalar is
    * the doc count that bounds the doubling depth. The oracle replays
    * the same orbit with a recursive CTE (gate-scale only).
    */
  def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Memo.cachedLeaf(s, "packeff_docs", dir) {
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(norm, " ")).cast("long").as("n"))
    }
    // one scalar pass: total tokens bounds the doubling depth
    // (#bins ≤ total / min(budget) + 1); scalar-only driver feedback
    val total0 = docs.agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    // next-fit bins bound: adjacent fills sum PAST the budget (the bin
    // closed because the next doc didn't fit), so n_bins ≤ 2·total/B + 1
    // — NOT total/B (a corpus of just-over-half-budget docs packs one
    // doc per bin). The orbit enumeration must cover that many jumps,
    // and an in-plan completion assert below fails loudly if it ever
    // doesn't (review finding, r13).
    val binsUpper = 2L * total0 / PackEffBudgets.min + 2
    val rounds = 64 - java.lang.Long.numberOfLeadingZeros(binsUpper)

    // ALL six (budget × ordering) next-fit layouts ride ONE cfg-keyed
    // frame — one DistRank pass (cfg is the low-cardinality stratum),
    // one banded f-build, one joint pointer-doubling chain — instead of
    // six sequential chains (measured at sf0.1: 6× separate 40 s cold /
    // 25 s warm, batched 18 s / 8 s; checkpointed-round count, not row
    // volume, is the wall clock — a quadrupling variant with fewer
    // rounds but duplicated f² subtrees measured SLOWER, 24 s / 9 s)
    val cfgs = for (b <- PackEffBudgets; o <- Seq("d", "l"))
      yield (s"$o$b", b, o)
    val cfgMeta = cfgs.toDF("cfg", "budget", "ord")
    val tagged = cfgs.map { case (cfg, b, o) =>
      docs.filter(col("n") <= b)
        .select(lit(cfg).as("cfg"), col("doc_id"), col("n"),
          (if (o == "l") -col("n") else lit(0L)).as("ok"))
    }.reduce(_.unionByName(_))
    val cum = DistRank.runningSum(tagged, "cfg",
      Seq(col("ok"), col("doc_id")), "doc_id", col("n"), "cum")
    val c0 = cum.select(col("cfg"), col("cum").as("c"))
      .unionByName(cfgMeta.select(col("cfg"), lit(0L).as("c")))
      .join(broadcast(cfgMeta.select(col("cfg"), col("budget"))), "cfg")
    // f(x) = max{cum ≤ x + budget}: banded range join — consecutive cums
    // differ by ≤ budget (oversize filtered), so the answer sits in the
    // query's band or the one before it
    val q = c0.select(col("cfg"), col("budget"), col("c").as("x"),
        (col("c") + col("budget")).as("v"))
      .withColumn("qb", expr("v div budget"))
      .drop("budget")
    val cand = c0.select(col("cfg"), col("c").as("cand"),
      explode(array(expr("c div budget"), expr("c div budget") + 1))
        .as("qb"))
    val f0 = q.join(cand, Seq("cfg", "qb"))
      .filter(col("cand") <= col("v"))
      .groupBy("cfg", "x").agg(max(col("cand")).as("fx"))
      .localCheckpoint(true)
    // the orbit is duplicate-free until the chain parks on its fixed
    // point (f(total) = total), so rounds skip the per-round distinct —
    // fixed-point copies double per round but stay bounded by 2^rounds ≈
    // binsUpper, and ONE dedup at the end restores the set
    var reach = cfgMeta.select(col("cfg"), lit(0L).as("x"))
    var f = f0
    for (t <- 1 to rounds) {
      val nextReach = reach.unionByName(
        reach.join(f, Seq("cfg", "x")).select(col("cfg"),
          col("fx").as("x")))
      if (t < rounds) {
        // ONE checkpoint action per round, not two: the stepped reach and
        // the doubled f ride one tagged union and split back as leaf
        // filters — at gate scale the checkpoint ACTION is the round's
        // dominant cost (both frames are O(bins) rows)
        val nextF = f.join(
            f.select(col("cfg"), col("x").as("fx"), col("fx").as("fx2")),
            Seq("cfg", "fx"))
          .select(col("cfg"), col("x"), col("fx2").as("fx"))
        val both = nextReach
          .select(col("cfg"), col("x"), lit(null).cast("long").as("fx"),
            lit("r").as("side"))
          .unionByName(nextF.select(col("cfg"), col("x"), col("fx"),
            lit("f").as("side")))
          .localCheckpoint(true)
        reach = both.filter(col("side") === "r").select("cfg", "x")
        f = both.filter(col("side") === "f").select("cfg", "x", "fx")
      } else
        reach = nextReach.localCheckpoint(true)
    }
    reach = reach.distinct()
    // per-cfg totals from cfgMeta LEFT-joined so a budget with ZERO
    // eligible docs still emits its row (the oracle's scalar-subquery
    // CTEs always do — review finding, r13)
    val tot = broadcast(cfgMeta).join(
        cum.groupBy("cfg")
          .agg(max(col("cum")).as("mxc"), count(lit(1)).as("nd")),
        Seq("cfg"), "left")
      .select(col("cfg"), coalesce(col("mxc"), lit(0L)).as("total"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
    // orbit-completion assert: the reach set must contain the fixed
    // point (x = total). assert_true returns NULL on success, so the
    // coalesce keeps it IN the plan (a dropped check is no check).
    val reachOk = reach.groupBy("cfg").agg(max(col("x")).as("rmax"))
    val fills = reach.join(f0, Seq("cfg", "x"))
      .join(broadcast(tot.select(col("cfg"), col("total"))), "cfg")
      .filter(col("x") < col("total"))
      .join(broadcast(cfgMeta.select(col("cfg"), col("budget"))), "cfg")
      .select(col("cfg"), col("budget"), (col("fx") - col("x")).as("fill"))
    val hist = fills
      .groupBy(col("cfg"),
        least(lit(9L), expr("(fill * 10) div budget")).as("hb"))
      .agg(count(lit(1)).as("hc"))
      .groupBy("cfg")
      .agg(map_from_arrays(collect_list(col("hb")),
        collect_list(col("hc"))).as("hm"))
    val stats = fills.groupBy("cfg").agg(count(lit(1)).as("n_bins"),
      min(col("fill")).as("min_fill"), max(col("fill")).as("max_fill"))
    val over = PackEffBudgets.map(b => docs.select(lit(b).as("budget"),
        when(col("n") > b, 1L).otherwise(0L).as("ov")))
      .reduce(_.unionByName(_))
      .groupBy("budget").agg(sum(col("ov")).as("n_oversize"))
    val histStr = array_join(expr("transform(sequence(0, 9), " +
      "i -> cast(coalesce(element_at(hm, i), 0L) as string))"), ",")
    val nfRows = tot
      .join(stats, Seq("cfg"), "left")
      .join(hist, Seq("cfg"), "left")
      .join(reachOk, Seq("cfg"), "left")
      .join(broadcast(cfgMeta), "cfg")
      .join(broadcast(over), Seq("budget"), "left")
      .withColumn("n_bins",
        coalesce(col("n_bins"), lit(0L)) +
          coalesce(assert_true(col("rmax") >= col("total")).cast("long"),
            lit(0L)))
      .select(col("budget"),
        when(col("ord") === "l", "nf_len").otherwise("nf_doc")
          .as("strategy"),
        col("n_docs"), coalesce(col("n_oversize"), lit(0L)).as("n_oversize"),
        col("total").as("total_tokens"), col("n_bins"),
        (col("n_bins") * col("budget") - col("total")).as("waste_tokens"),
        when(col("n_bins") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("n_bins") * col("budget") - col("total")).cast("double")
              / (col("n_bins") * col("budget")).cast("double"), 6))
          .as("waste_frac"),
        lit(0L).as("n_split_docs"),
        col("min_fill"), col("max_fill"), histStr.as("fill_hist"))

    // stream rows: one pass over the doc-order prefix sums computes the
    // per-budget split counts; everything else is closed form. The hist
    // is n_bins − 1 full bins in decile 9 plus the final partial fill's
    // decile (merged arithmetic — never a duplicate-key map, which Spark
    // rejects by default).
    val cumAll = graft.Memo.cachedLeaf(s, "packeff_cum_doc", dir) {
      DistRank.runningSum(docs.withColumn("__all", lit(0L)), "__all",
        Seq(col("doc_id")), "doc_id", col("n"), "cum")
    }
    val sAggCols = Seq(count(lit(1)).as("n_docs"),
      sum(col("n")).as("total")) ++
      PackEffBudgets.map(b =>
        sum(when(expr(s"(cum - n) div $b") < expr(s"(cum - 1) div $b"),
          1L).otherwise(0L)).as(s"sp$b"))
    val sAgg = cumAll.agg(sAggCols.head, sAggCols.tail: _*)
      .localCheckpoint(true)
    val streamRows = PackEffBudgets.map { b =>
      sAgg
        .withColumn("n_bins", expr(s"(total + ${b - 1}) div $b"))
        .withColumn("last_fill", col("total") - (col("n_bins") - 1) * b)
        .withColumn("hlo", least(lit(9L), expr(s"(last_fill * 10) div $b")))
        .select(lit(b).as("budget"), lit("stream").as("strategy"),
          col("n_docs"), lit(0L).as("n_oversize"),
          col("total").as("total_tokens"), col("n_bins"),
          (col("n_bins") * b - col("total")).as("waste_tokens"),
          // n_bins = 0 (empty corpus) must yield NULL, not 0.0/0.0 =
          // NaN — the same guard the nf rows carry (review finding).
          when(col("n_bins") === 0, lit(null).cast("double"))
            .otherwise(round((col("n_bins") * b - col("total")).cast("double")
              / (col("n_bins") * b).cast("double"), 6)).as("waste_frac"),
          col(s"sp$b").as("n_split_docs"),
          when(col("n_bins") === 0, lit(null).cast("long"))
            .otherwise(col("last_fill")).as("min_fill"),
          when(col("n_bins") === 0, lit(null).cast("long"))
            .otherwise(when(col("n_bins") >= 2, lit(b))
              .otherwise(col("last_fill"))).as("max_fill"),
          array_join(expr("transform(sequence(0, 9), i -> cast(" +
            "(case when i = 9 then n_bins - 1 else 0L end) + " +
            "(case when i = hlo then 1L else 0L end)" +
            " as string))"), ",").as("fill_hist"))
    }.reduce(_.unionByName(_))

    streamRows.unionByName(nfRows).orderBy("budget", "strategy")
  }

  val packEfficiencySql: String = {
    def block(b: Long): String = {
      def nf(tag: String, orderSql: String): String = s"""
    cd$tag$b AS (SELECT n,
        CAST(sum(n) OVER (ORDER BY $orderSql ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cum
      FROM ed$b),
    sd$tag$b(o) AS (
      SELECT CAST(0 AS BIGINT) AS o
      UNION ALL
      SELECT (SELECT max(cum) FROM cd$tag$b WHERE cum <= sd.o + $b)
      FROM sd$tag$b sd
      WHERE sd.o < (SELECT max(cum) FROM cd$tag$b)),
    fd$tag$b AS (
      SELECT o, (SELECT max(cum) FROM cd$tag$b WHERE cum <= o + $b) - o
          AS fill
      FROM sd$tag$b WHERE o < (SELECT max(cum) FROM cd$tag$b)),
    hb$tag$b AS (SELECT least(9, (fill * 10) // $b) AS hb, count(*) AS c
      FROM fd$tag$b GROUP BY 1),
    hh$tag$b AS (SELECT list(hb ORDER BY hb) AS ks, list(c ORDER BY hb) AS vs
      FROM hb$tag$b),
    rw$tag$b AS (
      SELECT CAST($b AS BIGINT) AS budget,
        '${if (tag == "l") "nf_len" else "nf_doc"}' AS strategy,
        (SELECT count(*) FROM ed$b) AS n_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM pe WHERE n > $b)
          AS n_oversize,
        (SELECT coalesce(max(cum), 0) FROM cd$tag$b) AS total_tokens,
        (SELECT CAST(count(*) AS BIGINT) FROM fd$tag$b) AS n_bins,
        (SELECT CAST(count(*) AS BIGINT) FROM fd$tag$b) * $b
          - (SELECT coalesce(max(cum), 0) FROM cd$tag$b) AS waste_tokens,
        CASE WHEN (SELECT count(*) FROM fd$tag$b) = 0 THEN NULL
          ELSE round(CAST((SELECT CAST(count(*) AS BIGINT) FROM fd$tag$b)
              * $b - (SELECT coalesce(max(cum), 0) FROM cd$tag$b) AS DOUBLE)
            / CAST((SELECT CAST(count(*) AS BIGINT) FROM fd$tag$b) * $b
              AS DOUBLE), 6) END AS waste_frac,
        CAST(0 AS BIGINT) AS n_split_docs,
        (SELECT min(fill) FROM fd$tag$b) AS min_fill,
        (SELECT max(fill) FROM fd$tag$b) AS max_fill,
        (SELECT array_to_string(list_transform(generate_series(0, 9),
           i -> CAST(coalesce(vs[list_position(ks, i)], 0) AS VARCHAR)), ',')
         FROM hh$tag$b) AS fill_hist)"""
      s"""
    ed$b AS (SELECT doc_id, n FROM pe WHERE n <= $b),
    ${nf("d", "doc_id")},
    ${nf("l", "n DESC, doc_id")},
    sa$b AS (
      SELECT count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total,
        CAST(sum(CASE WHEN (cum - n) // $b < (cum - 1) // $b
          THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
      FROM pc),
    sb$b AS (
      SELECT *, (total + ${b - 1}) // $b AS n_bins,
        total - ((total + ${b - 1}) // $b - 1) * $b AS last_fill,
        least(9, ((total - ((total + ${b - 1}) // $b - 1) * $b) * 10) // $b)
          AS hlo
      FROM sa$b),
    rws$b AS (
      SELECT CAST($b AS BIGINT) AS budget, 'stream' AS strategy,
        n_docs, CAST(0 AS BIGINT) AS n_oversize, total AS total_tokens,
        n_bins, n_bins * $b - total AS waste_tokens,
        CASE WHEN n_bins = 0 THEN NULL
          ELSE round(CAST(n_bins * $b - total AS DOUBLE)
            / CAST(n_bins * $b AS DOUBLE), 6) END AS waste_frac,
        n_split_docs,
        CASE WHEN n_bins = 0 THEN NULL ELSE last_fill END AS min_fill,
        CASE WHEN n_bins = 0 THEN NULL
          WHEN n_bins >= 2 THEN $b ELSE last_fill END AS max_fill,
        array_to_string(list_transform(generate_series(0, 9),
          i -> CAST((CASE WHEN i = 9 THEN n_bins - 1 ELSE 0 END)
            + (CASE WHEN i = hlo THEN 1 ELSE 0 END) AS VARCHAR)), ',')
          AS fill_hist
      FROM sb$b)"""
    }
    val blocks = PackEffBudgets.map(block).mkString(",")
    val rows = PackEffBudgets.flatMap(b =>
      Seq(s"SELECT * FROM rws$b", s"SELECT * FROM rwd$b",
        s"SELECT * FROM rwl$b")).mkString("\n    UNION ALL\n    ")
    s"""
    WITH RECURSIVE
    pe AS (SELECT doc_id,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n
      FROM documents),
    pc AS (SELECT doc_id, n,
        CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cum
      FROM pe),$blocks
    $rows
    ORDER BY budget, strategy"""
  }

  // ------------------------------------------------- bounded-state packer

  /** Budget / open-bin count / writer fan-out of the production packer.
    * K bounds packer STATE (K remainders + K bin ids per writer — O(K),
    * not O(bins)); the writer count is the distribution axis. Budget 512
    * is the regime [[packEfficiency]]'s table shows the open-bin state
    * BUYING something (documents comparable to the bin — at 2048 this
    * corpus's docs are so small every strategy hits the ⌈total/B⌉
    * floor and the comparison is vacuous).
    */
  private[graft] val FfdBudget = 512L
  private[graft] val FfdOpenBins = 4
  private[graft] val FfdWriters = 4

  /** Gate: the BOUNDED-STATE production packer — first-fit decreasing
    * with [[FfdOpenBins]] OPEN BINS, the operator [[packEfficiency]]'s
    * tuning table argues for: true FFD beats both shipped layouts but
    * keeps every open bin's remainder (state linear in bins — unbounded
    * at 100 TB and not replayable as a distributed plan), while
    * next-fit's O(1) state pays measured waste. K open bins is the
    * WebDataset-shard-writer shape: each writer task keeps K partial
    * bins; a document goes to the FIRST open bin it fits (slot order),
    * opens a new bin while slots are free, and otherwise EVICTS the
    * fullest bin (min remainder, lowest slot on ties) — the closed bin
    * ships, the slot reopens. Emits [[TextOps.packSequences]]' layout
    * shape (doc → bin) with the writer as the stratum.
    *
    * Scale: the corpus distributes over writers by `doc_id mod W` (at
    * 100 TB, W = the write parallelism, thousands); each writer's fold
    * is one pass over its own length-sorted stream with O(K) state —
    * `mapPartitions`, zero shuffle beyond the writer repartition, no
    * driver state. The oracle replays every writer's fold exactly with
    * a recursive CTE carrying the K-slot remainder/bin-id lists. The
    * spec pins waste ≤ both shipped layouts and against the unbounded
    * true-FFD replay (what the K-slot bound costs).
    *
    * Reference analog (spirit, not mechanism): the dataset-at-a-time
    * apply loop — `lib/LINZ/BdeUpload.pm:559 ApplyUpdates` walks the
    * pending set in order with bounded in-flight state, never
    * materializing the full history; the packer is LLM-pipeline
    * breadth beyond the reference surface.
    */
  def packBoundedFfd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = FfdBudget
    val kOpen = FfdOpenBins
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(norm, " ")).cast("long").as("n"))
      .filter(col("n") <= b)
      .withColumn("writer", pmod(col("doc_id"), lit(FfdWriters.toLong)))
    docs
      .repartition(FfdWriters, col("writer"))
      .sortWithinPartitions(col("writer"), col("n").desc, col("doc_id"))
      .select(col("writer"), col("doc_id"), col("n"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // per-writer K-slot fold; a hash collision can co-locate two
        // writers in one partition — state resets on the writer change
        // (rows arrive sorted by writer first)
        var curW = Long.MinValue
        var rem: Array[Long] = null
        var bid: Array[Long] = null
        var open = 0
        var next = 0L
        it.map { case (w, id, n) =>
          if (w != curW) {
            curW = w
            rem = new Array[Long](kOpen)
            bid = new Array[Long](kOpen)
            open = 0
            next = 0L
          }
          var slot = -1
          var i = 0
          while (i < open && slot < 0) {
            if (rem(i) >= n) slot = i
            i += 1
          }
          val sid =
            if (slot >= 0) { rem(slot) -= n; bid(slot) }
            else if (open < kOpen) {
              rem(open) = b - n; bid(open) = next; open += 1
              next += 1; next - 1
            } else {
              var e = 0
              var j = 1
              while (j < open) { if (rem(j) < rem(e)) e = j; j += 1 }
              rem(e) = b - n; bid(e) = next
              next += 1; bid(e)
            }
          (id, w, n, sid)
        }
      }
      .toDF("doc_id", "writer", "n_tokens", "seq_id")
      .orderBy("doc_id")
  }

  /** Open-bin slot counts the K sweep prices; K = 1 IS next-fit (one
    * open bin), the spec's unbounded-FFD replay is the floor.
    */
  private[graft] val FfdKSweep = Seq(1, 2, 4, 8)

  /** Gate: the K-SWEEP tuning table for [[packBoundedFfd]]'s open-bin
    * knob — the §4 discipline (measure the knob, like `lsh_tuning` /
    * `embed_width_sweep`) applied to the packer's own constant: per
    * K ∈ [[FfdKSweep]], the bins opened, the waste in tokens and the
    * evictions paid, all folded from ONE shared per-writer
    * length-sorted pass (the K states advance together per document —
    * one repartition + sort, O(ΣK) state per writer, no extra scan).
    * This is the decision artifact for sizing writer state at 100 TB:
    * waste falls monotonically in K on this corpus while state is
    * K remainders per writer — the table prices where the curve flattens
    * (the shipped K = [[FfdOpenBins]]).
    */
  def packKSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = FfdBudget
    val ks = FfdKSweep
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(norm, " ")).cast("long").as("n"))
      .filter(col("n") <= b)
      .withColumn("writer", pmod(col("doc_id"), lit(FfdWriters.toLong)))
    val perWriter = docs
      .repartition(FfdWriters, col("writer"))
      .sortWithinPartitions(col("writer"), col("n").desc, col("doc_id"))
      .select(col("writer"), col("n"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        // one pass, all K states per writer advanced per document —
        // the same slot/evict rule as packBoundedFfd's fold
        final class St(k: Int) {
          val rem = new Array[Long](k)
          var open = 0
          var bins = 0L
          var evc = 0L
          var tok = 0L
          def add(n: Long): Unit = {
            var slot = -1
            var i = 0
            while (i < open && slot < 0) {
              if (rem(i) >= n) slot = i
              i += 1
            }
            if (slot >= 0) rem(slot) -= n
            else if (open < k) { rem(open) = b - n; open += 1; bins += 1 }
            else {
              var e = 0
              var j = 1
              while (j < open) { if (rem(j) < rem(e)) e = j; j += 1 }
              rem(e) = b - n; bins += 1; evc += 1
            }
            tok += n
          }
        }
        val states =
          scala.collection.mutable.LinkedHashMap.empty[(Long, Int), St]
        it.foreach { case (w, n) =>
          ks.foreach(k => states.getOrElseUpdate((w, k), new St(k)).add(n))
        }
        states.iterator.map { case ((w, k), st) =>
          (w, k.toLong, st.bins, st.evc, st.tok)
        }
      }
      .toDF("writer", "k_open", "bins", "evictions", "tok")
    perWriter.groupBy(col("k_open"))
      .agg(sum(col("bins")).as("n_bins"),
        (sum(col("bins")) * b - sum(col("tok"))).as("waste_tokens"),
        sum(col("evictions")).as("evictions"))
      .orderBy("k_open")
  }

  val packKSweepSql: String = {
    val b = FfdBudget
    val w = FfdWriters
    val ksList = FfdKSweep.mkString("[", ", ", "]")
    s"""
    WITH RECURSIVE
    pk_d AS (SELECT doc_id,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n
      FROM documents),
    pk_e AS (SELECT doc_id, n, doc_id % $w AS wr,
        row_number() OVER (PARTITION BY doc_id % $w
          ORDER BY n DESC, doc_id) AS step
      FROM pk_d WHERE n <= $b),
    pk_w AS (SELECT DISTINCT wr FROM pk_e),
    pk_k AS (SELECT unnest($ksList) AS k),
    pk_s(wr, k, step, rems, nxt, evc) AS (
      SELECT wr, k, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
        CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM pk_w CROSS JOIN pk_k
      UNION ALL
      SELECT wr, k, step,
        CASE WHEN fit IS NOT NULL THEN
            list_transform(rems, (r, i) ->
              CASE WHEN i = fit THEN r - n ELSE r END)
          WHEN len(rems) < k THEN list_append(rems, $b - n)
          ELSE list_transform(rems, (r, i) ->
            CASE WHEN i = ev THEN $b - n ELSE r END) END,
        CASE WHEN fit IS NOT NULL THEN nxt ELSE nxt + 1 END,
        CASE WHEN fit IS NOT NULL OR len(rems) < k THEN evc
          ELSE evc + 1 END
      FROM (
        SELECT s.wr, s.k, s.step + 1 AS step, s.rems, s.nxt, s.evc, d.n,
          list_filter(generate_series(1, len(s.rems)),
            i -> s.rems[i] >= d.n)[1] AS fit,
          list_position(s.rems, list_min(s.rems)) AS ev
        FROM pk_s s JOIN pk_e d ON d.wr = s.wr AND d.step = s.step + 1) z),
    pk_last AS (SELECT wr, k, max(step) AS last FROM pk_s GROUP BY 1, 2),
    pk_fin AS (
      SELECT s.k, s.nxt, s.evc
      FROM pk_s s JOIN pk_last l
        ON s.wr = l.wr AND s.k = l.k AND s.step = l.last),
    pk_tot AS (SELECT CAST(sum(n) AS BIGINT) AS tok FROM pk_e)
    SELECT CAST(k AS BIGINT) AS k_open,
      CAST(sum(nxt) AS BIGINT) AS n_bins,
      CAST(sum(nxt) * $b - (SELECT tok FROM pk_tot) AS BIGINT)
        AS waste_tokens,
      CAST(sum(evc) AS BIGINT) AS evictions
    FROM pk_fin GROUP BY k ORDER BY k_open"""
  }

  val packBoundedFfdSql: String = {
    val b = FfdBudget
    val k = FfdOpenBins
    val w = FfdWriters
    s"""
    WITH RECURSIVE
    pf_d AS (SELECT doc_id,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n
      FROM documents),
    pf_e AS (SELECT doc_id, n, doc_id % $w AS wr,
        row_number() OVER (PARTITION BY doc_id % $w
          ORDER BY n DESC, doc_id) AS step
      FROM pf_d WHERE n <= $b),
    pf_w AS (SELECT DISTINCT wr FROM pf_e),
    pf_s(wr, step, rems, bids, nxt, doc_id, n, sid) AS (
      SELECT wr, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
        CAST([] AS BIGINT[]), CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      FROM pf_w
      UNION ALL
      SELECT wr, step,
        CASE WHEN fit IS NOT NULL THEN
            list_transform(rems, (r, i) ->
              CASE WHEN i = fit THEN r - n ELSE r END)
          WHEN len(rems) < $k THEN list_append(rems, $b - n)
          ELSE list_transform(rems, (r, i) ->
            CASE WHEN i = ev THEN $b - n ELSE r END) END,
        CASE WHEN fit IS NOT NULL THEN bids
          WHEN len(rems) < $k THEN list_append(bids, nxt)
          ELSE list_transform(bids, (x, i) ->
            CASE WHEN i = ev THEN nxt ELSE x END) END,
        CASE WHEN fit IS NOT NULL THEN nxt ELSE nxt + 1 END,
        doc_id, n,
        CASE WHEN fit IS NOT NULL THEN bids[fit] ELSE nxt END
      FROM (
        SELECT s.wr, s.step + 1 AS step, s.rems, s.bids, s.nxt,
          d.doc_id, d.n,
          list_filter(generate_series(1, len(s.rems)),
            i -> s.rems[i] >= d.n)[1] AS fit,
          list_position(s.rems, list_min(s.rems)) AS ev
        FROM pf_s s JOIN pf_e d ON d.wr = s.wr AND d.step = s.step + 1) z)
    SELECT doc_id, wr AS writer, n AS n_tokens, sid AS seq_id
    FROM pf_s WHERE doc_id IS NOT NULL ORDER BY doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "span_corruption" -> (spanCorruption _),
    "pack_efficiency" -> (packEfficiency _),
    "pack_bounded_ffd" -> (packBoundedFfd _),
    "pack_k_sweep" -> (packKSweep _),
    "dpo_pairs" -> (dpoPairs _),
    "sft_mask_spans" -> (sftMaskSpans _),
    "shard_plan" -> (shardPlan _),
    "doc_truncate" -> (docTruncate _),
    "corpus_anneal" -> (corpusAnneal _),
    "corpus_epochs" -> (corpusEpochs _),
    "epoch_positions" -> (epochPositions _),
    "quality_tradeoff" -> (qualityTradeoff _),
    "corpus_priority_sample" -> (corpusPrioritySample _),
    "corpus_sqrt_sample" -> (corpusSqrtSample _),
    "corpus_stratified_k" -> (corpusStratifiedK _),
    "corpus_shuffle" -> (corpusShuffle _),
    "batch_by_length" -> (batchByLength _),
    "doc_chunking" -> (docChunking _),
    "quality_funnel" -> (qualityFunnel _),
    "corpus_split" -> (corpusSplit _),
    "vocab_build" -> (vocabBuild _),
    "oov_rate" -> (oovRate _),
    "tfidf_topk" -> (tfidfTopk _),
    "lm_coverage" -> (lmCoverage _),
    "text_bigram_lm" -> (textBigramLm _))

  val oracles: Map[String, String] = Map(
    "span_corruption" -> spanCorruptionSql,
    "pack_efficiency" -> packEfficiencySql,
    "pack_bounded_ffd" -> packBoundedFfdSql,
    "pack_k_sweep" -> packKSweepSql,
    "dpo_pairs" -> dpoPairsSql,
    "sft_mask_spans" -> sftMaskSpansSql,
    "shard_plan" -> shardPlanSql,
    "doc_truncate" -> docTruncateSql,
    "corpus_anneal" -> corpusAnnealSql,
    "corpus_epochs" -> corpusEpochsSql,
    "epoch_positions" -> epochPositionsSql,
    "quality_tradeoff" -> qualityTradeoffSql,
    "corpus_priority_sample" -> corpusPrioritySampleSql,
    "corpus_sqrt_sample" -> corpusSqrtSampleSql,
    "corpus_stratified_k" -> corpusStratifiedKSql,
    "corpus_shuffle" -> corpusShuffleSql,
    "batch_by_length" -> batchByLengthSql,
    "doc_chunking" -> docChunkingSql,
    "quality_funnel" -> qualityFunnelSql,
    "corpus_split" -> corpusSplitSql,
    "vocab_build" -> vocabBuildSql,
    "oov_rate" -> oovRateSql,
    "tfidf_topk" -> tfidfTopkSql,
    "lm_coverage" -> lmCoverageSql,
    "text_bigram_lm" -> textBigramLmSql)
}
