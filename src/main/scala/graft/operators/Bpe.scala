package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training + tokenization — the step every
  * pre-training pipeline runs before [[TextOps.packSequences]], next to
  * the cheap regex estimator ([[TextOps.tokenCount]], which stays the
  * fast path).
  *
  * Classic corpus-level BPE (Sennrich et al. 2016) re-expressed for
  * Spark's execution model:
  *
  *  1. ONE corpus pass aggregates to the (word, count) table — after
  *     this, training cost scales with the VOCABULARY, not the corpus;
  *     the word table stays distributed (at 100 TB it is billions of
  *     rows, never driver-resident);
  *  2. each word starts as its character sequence, kept as a
  *     space-joined segmentation string;
  *  3. each of the bounded `Merges` rounds is one map-side-combining
  *     pair-count aggregation (adjacent symbol pairs weighted by word
  *     count) plus a single-row argmax `head()` — the same scalar
  *     driver-feedback shape as the k-means and cluster-propagation
  *     loops — and one narrow map applying the merge;
  *  4. the merge application is `replace(' '||seg||' ', ' a b ', ' ab ')`
  *     — both engines implement left-to-right non-overlapping scan
  *     without rescanning replaced output, so the oracle replays the
  *     segmentation BIT-FOR-BIT (ties in pair counts break by the same
  *     (count DESC, pair ASC) total order on both sides);
  *  5. tokenization is a lookup JOIN on the trained segmentation table —
  *     no per-row re-derivation; at scale the join keys on the word, the
  *     natural high-cardinality key.
  *
  * The DuckDB oracle replays the ENTIRE training — pair counts, merge
  * order, final segmentations — as `Merges` unrolled CTE rounds, so the
  * gate checks the algorithm, not just the output shape.
  */
object Bpe extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Bounded merge count — the training-loop iteration cap. */
  private[operators] val Merges = 20

  /** Escape a trained symbol for embedding in an expr literal. */
  private def q(x: String): String =
    x.replace("\\", "\\\\").replace("'", "\\'")

  /** Adjacent symbol pairs of every segmentation, weighted by word count. */
  private def pairsOf(segs: DataFrame): DataFrame =
    segs.select(col("cnt"), split(col("seg"), " ").as("ss"))
      .filter(size(col("ss")) >= 2)
      .withColumn("j", explode(sequence(lit(1), size(col("ss")) - 1)))
      .select(concat_ws(" ", element_at(col("ss"), col("j")),
        element_at(col("ss"), col("j") + 1)).as("pair"), col("cnt"))

  /** Train `nMerges` rounds over a (doc_id, text) frame. Returns the
    * merge list in order and the final persisted segmentation table
    * (word, cnt, seg).
    */
  private[graft] def trainOn(docs: DataFrame,
                             nMerges: Int): (Seq[(String, Long)], DataFrame) = {
    val words = docs
      .select(explode(split(norm, " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // per-round localCheckpoint (the cc_deep_chain discipline): each round
    // derives from the previous frame, and without lineage truncation the
    // cached-plan tree compounds across rounds until even its EXPLAIN
    // string OOMs the driver — measured, not hypothetical, at 20 rounds
    var segs = words.withColumn("seg",
      concat_ws(" ", expr("regexp_extract_all(word, '.', 0)")))
      .localCheckpoint()
    val acc = Seq.newBuilder[(String, Long)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      // one aggregation + one single-row argmax per round: the only
      // driver feedback is the winning (pair, count) scalar
      val top = pairsOf(segs).groupBy(col("pair"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .take(1)
      if (top.isEmpty) done = true
      else {
        val pair = top.head.getString(0)
        acc += ((pair, top.head.getLong(1)))
        val Array(a, b) = pair.split(" ")
        segs = segs.withColumn("seg",
          expr(s"trim(replace(concat(' ', seg, ' '), " +
            s"' ${q(a)} ${q(b)} ', ' ${q(a + b)} '))")).localCheckpoint()
      }
      i += 1
    }
    (acc.result(), segs)
  }

  /** The trained segmentation table (word, cnt, seg), memoized per
    * (session, dir); training also [[graft.Memo.remember]]s the merge list
    * under the same key, so [[graft.Memo.clear]] drops both.
    */
  private def segsOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "bpe_segs", dir) {
      val (merges, segs) = trainOn(Tables.documents(s, dir), Merges)
      graft.Memo.remember(s, "bpe_merges", dir, merges)
      segs
    }

  private def trainedMerges(s: SparkSession, dir: String): Seq[(String, Long)] = {
    segsOf(s, dir)
    graft.Memo.recall[Seq[(String, Long)]](s, "bpe_merges", dir)
  }

  /** In-plan segmentation of an ARBITRARY word column with a trained merge
    * list — the out-of-vocabulary path: character split, then the merges
    * fold as nested padded replaces in rank order (the identical semantics
    * training used). Tokenizing text the trainer never saw needs no
    * lookup table — the expression IS the tokenizer.
    */
  private[graft] def segmentExpr(word: org.apache.spark.sql.Column,
                                 merges: Seq[String]): org.apache.spark.sql.Column = {
    val chars = concat_ws(" ", regexp_extract_all(word, lit("."), lit(0)))
    merges.foldLeft(chars) { (c, pair) =>
      val Array(a, b) = pair.split(" ")
      trim(org.apache.spark.sql.functions.replace(
        concat(lit(" "), c, lit(" ")),
        lit(s" $a $b "), lit(s" ${a + b} ")))
    }
  }

  // ------------------------------------------------------------------ gates

  /** The trained merge table in merge order: (merge_rank, pair,
    * pair_count). The driver-built frame holds `Merges` scalar rows — the
    * argmax results — never data.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val m = trainedMerges(s, dir)
    import s.implicits._
    m.zipWithIndex.map { case ((p, c), i) => (i + 1, p, c) }
      .toDF("merge_rank", "pair", "pair_count")
      .orderBy("merge_rank")
  }

  /** Per-document tokenization with the trained merges: word stream joins
    * the segmentation table; words OUTSIDE the training vocabulary fall
    * back to [[segmentExpr]] (merges applied in-plan), so the tokenizer
    * handles unseen text. Per-doc token counts + an order-preserving md5
    * over the BPE token stream.
    */
  def tokenizeBpe(s: SparkSession, dir: String): DataFrame = {
    val segs = segsOf(s, dir).select(col("word"), col("seg"))
    val merges = trainedMerges(s, dir).map(_._1)
    val dt = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(norm, " ")))
      .toDF("doc_id", "pos", "word")
    dt.join(segs, Seq("word"), "left")
      .withColumn("seg",
        coalesce(col("seg"), segmentExpr(col("word"), merges)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("seg"), " "))).cast("long").as("n_bpe_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ")).as("tok_hash"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- oracle

  /** One unrolled training round: pair explode → weighted counts → argmax
    * → merge application via the same padded replace.
    */
  private def roundCtes(i: Int): String = s"""
    p$i AS (SELECT cnt, ss, unnest(generate_series(1, len(ss) - 1)) AS j
            FROM (SELECT cnt, string_split(seg, ' ') AS ss FROM s${i - 1})
            WHERE len(ss) >= 2),
    pc$i AS (SELECT ss[j] || ' ' || ss[j+1] AS pair,
               CAST(sum(cnt) AS BIGINT) AS c
             FROM p$i GROUP BY 1),
    b$i AS MATERIALIZED (SELECT pair, c FROM pc$i
                         ORDER BY c DESC, pair ASC LIMIT 1),
    s$i AS MATERIALIZED (SELECT word, cnt,
              trim(replace(' ' || seg || ' ',
                ' ' || (SELECT pair FROM b$i) || ' ',
                ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '))
                AS seg
            FROM s${i - 1})"""

  private[operators] val trainCtes: String = s"""
    wf AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split($normSql, ' ')) AS w
                 FROM documents) GROUP BY 1),
    s0 AS MATERIALIZED (SELECT word, cnt,
             array_to_string(regexp_extract_all(word, '.'), ' ') AS seg
           FROM wf),
    ${(1 to Merges).map(roundCtes).mkString(",")}"""

  val bpeTrainSql: String = s"""
    WITH $trainCtes
    ${(1 to Merges)
      .map(i => s"SELECT $i AS merge_rank, pair, c AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")}
    ORDER BY merge_rank"""

  val tokenizeBpeSql: String = s"""
    WITH $trainCtes,
    dw AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j
           FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents)),
    dtok AS (SELECT doc_id, j AS pos, ws[j] AS word FROM dw),
    jn AS (SELECT d.doc_id, d.pos, t.seg
           FROM dtok d JOIN s$Merges t ON d.word = t.word)
    SELECT doc_id, count(*) AS n_words,
      CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_bpe_tokens,
      md5(string_agg(seg, ' ' ORDER BY pos)) AS tok_hash
    FROM jn GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------------ vocab-size sweep

  /** Merge-prefix cuts the sweep evaluates (0 = character baseline). */
  private val SweepCuts = Seq(0, 5, 10, 15, Merges)

  /** Gate: the vocab-size / fertility TRADEOFF TABLE — corpus fertility
    * (pieces per word) at each merge-prefix cut of the trained BPE. The
    * cut exploits BPE's defining property: merges are ordered, so the
    * first M merges ARE the M-smaller vocabulary — one training run
    * yields every smaller tokenizer for free, and the sweep is how a
    * pipeline owner picks vocab size (the fertility knee) WITHOUT
    * retraining per candidate. Per cut: the segmentation's distinct
    * symbol count (the effective vocabulary), total word tokens, total
    * pieces, and fertility.
    *
    * Scale: after the one corpus pass behind the shared word census,
    * every cut is a narrow map over the VOCABULARY-sized frame (the
    * merge fold applied in-plan, [[segmentExpr]]) plus two bounded
    * aggregates — cost scales with vocab × cuts, never the corpus.
    */
  def bpeVocabSweep(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir).map(_._1)
    // Fail LOUDLY on a degenerate corpus (training exhausted before
    // Merges rounds): Spark's merges.take(m) would stay valid but the
    // oracle's empty b$i scalar subqueries NULL every later segmentation
    // CTE — the engines would silently diverge (the novelty bitmask
    // horizon-guard discipline).
    require(merges.length == Merges,
      s"bpe_vocab_sweep needs a full $Merges-merge training; " +
        s"corpus exhausted BPE at ${merges.length} merges")
    val segs = segsOf(s, dir)
    val census = segs.select(col("word"), col("cnt"))
    SweepCuts.map { m =>
      // the full cut IS the stored training segmentation — reuse it (the
      // tokenizeBpe contract) instead of re-deriving via the merge fold
      val cut =
        if (m == Merges) segs.select(col("word"), col("cnt"), col("seg"))
        else census.withColumn("seg",
          segmentExpr(col("word"), merges.take(m)))
      val stats = cut.agg(
        sum(col("cnt")).as("n_word_tokens"),
        sum(col("cnt") * size(split(col("seg"), " "))).cast("long")
          .as("n_pieces"))
      val syms = cut.select(explode(split(col("seg"), " ")).as("sym"))
        .agg(countDistinct(col("sym")).as("n_symbols"))
      stats.crossJoin(broadcast(syms))
        .select(lit(m.toLong).as("n_merges"), col("n_symbols"),
          col("n_word_tokens"), col("n_pieces"),
          round(col("n_pieces").cast("double")
            / col("n_word_tokens").cast("double"), 6).as("fertility"))
    }.reduce(_.unionByName(_)).orderBy("n_merges")
  }

  val bpeVocabSweepSql: String = {
    val cuts = SweepCuts.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS n_merges,
        (SELECT CAST(count(DISTINCT sym) AS BIGINT)
         FROM (SELECT unnest(string_split(seg, ' ')) AS sym FROM s$m))
          AS n_symbols,
        CAST(sum(cnt) AS BIGINT) AS n_word_tokens,
        CAST(sum(cnt * len(string_split(seg, ' '))) AS BIGINT) AS n_pieces,
        round(CAST(CAST(sum(cnt * len(string_split(seg, ' '))) AS BIGINT)
            AS DOUBLE)
          / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE), 6) AS fertility
      FROM s$m"""
    }.mkString("\n    UNION ALL\n    ")
    s"""
    WITH $trainCtes
    $cuts
    ORDER BY n_merges"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train" -> (bpeTrain _),
    "tokenize_bpe" -> (tokenizeBpe _),
    "bpe_vocab_sweep" -> (bpeVocabSweep _))

  val oracles: Map[String, String] = Map(
    "bpe_train" -> bpeTrainSql,
    "tokenize_bpe" -> tokenizeBpeSql,
    "bpe_vocab_sweep" -> bpeVocabSweepSql)
}
