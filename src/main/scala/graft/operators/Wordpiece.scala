package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer training + tokenization — the BERT
  * family, completing the tokenizer trio next to [[Bpe]] (merge-by-raw-
  * count) and [[Unigram]] (prune-by-likelihood).
  *
  * The two published differences from BPE, both re-expressed in the same
  * corpus-pass discipline:
  *
  *  1. TRAINING picks the merge maximizing the likelihood score
  *     count(ab) / (count(a)·count(b)) over the CURRENT segmentation
  *     (Schuster & Nakajima 2012; the Sennrich loop with a different
  *     argmax) — kept integer-exact as the q9 fixed point
  *     ⌊c·10⁹ / (ca·cb)⌋ so both engines compare identical BIGINTs,
  *     never floats. Word-internal symbols carry the `##` continuation
  *     prefix from seeding on; a merge concatenates the left symbol
  *     with the right symbol's prefix stripped.
  *  2. TOKENIZATION is greedy longest-match-first against the trained
  *     VOCAB (seed singles + merged pieces), NOT merge replay: at each
  *     position take the longest matching piece (`##`-form beyond
  *     position 1); a position with no match makes the whole word
  *     `[UNK]` (the BERT convention).
  *
  * The greedy walk is factored so both engines replay it exactly: the
  * "longest match at (word, pos)" table is position-independent of the
  * walk, so it precomputes as a plain aggregation; the walk itself is
  * then a pure jump chain — a per-word `aggregate` fold over the
  * character positions in Spark (one codegen'd expression, no loop, no
  * UDF) and a recursive CTE over the same best-match table in DuckDB.
  *
  * Scale: training aggregates on the (word, count) table like [[Bpe]]
  * (cost scales with vocabulary after one corpus pass; two extra
  * symbol-count joins per round, both broadcast-sized); the best-match
  * table is distinct-words × word-length rows joined against a
  * broadcast vocab; tokenization is the same word-keyed lookup join.
  */
object Wordpiece extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Bounded merge count — matches [[Bpe.Merges]]' loop discipline. */
  private[operators] val Merges = 20

  /** q9 scale of the integer likelihood score.
    *
    * Operand bound (the `doc_ppl_kn` llog2-bound convention): the score
    * `(c·10⁹) div (ca·cb)` stays BIGINT-exact while c < 2⁶³/10⁹ ≈ 9.2e9
    * and ca·cb < 2⁶³ ≈ 9.2e18. Beyond that Spark (non-ANSI) wraps
    * silently while DuckDB raises — the engines would DIVERGE instead
    * of failing together. At production corpus sizes rescale the counts
    * by a common shift before scoring (the argmax is scale-invariant:
    * dividing c, ca, cb by the same factor preserves the ranking up to
    * q9 rounding) — the gate corpora stay orders of magnitude inside.
    */
  private val ScoreQ = 1000000000L

  /** One trained merge: (a, b, c, ca, cb, score_q9). */
  private case class Merge(a: String, b: String, c: Long, ca: Long,
                           cb: Long, score: Long) {
    def merged: String = a + (if (b.startsWith("##")) b.substring(2) else b)
  }

  private def q(x: String): String =
    x.replace("\\", "\\\\").replace("'", "\\'")

  /** Train `nMerges` score-ranked rounds over a (doc_id, text) frame.
    * Returns the merge list and the final segmentation table.
    */
  private def trainOn(docs: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    val words = docs
      .select(explode(split(norm, " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // seed: first char plain, the rest ##-prefixed
    var segs = words.withColumn("seg", expr(
        "array_join(transform(regexp_extract_all(word, '.', 0), " +
          "(c, i) -> if(i = 0, c, concat('##', c))), ' ')"))
      .localCheckpoint()
    val acc = Seq.newBuilder[Merge]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val syms = segs
        .select(col("cnt"), explode(split(col("seg"), " ")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("cnt")).as("cs"))
      val pairs = segs.select(col("cnt"), split(col("seg"), " ").as("ss"))
        .filter(size(col("ss")) >= 2)
        .withColumn("j", explode(sequence(lit(1), size(col("ss")) - 1)))
        .select(element_at(col("ss"), col("j")).as("a"),
          element_at(col("ss"), col("j") + 1).as("b"), col("cnt"))
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("c"))
      val top = pairs
        .join(broadcast(syms.select(col("sym").as("a"), col("cs").as("ca"))),
          "a")
        .join(broadcast(syms.select(col("sym").as("b"), col("cs").as("cb"))),
          "b")
        .withColumn("score", expr(s"(c * $ScoreQ) div (ca * cb)"))
        .orderBy(col("score").desc, concat_ws(" ", col("a"), col("b")).asc)
        .select("a", "b", "c", "ca", "cb", "score")
        .take(1)
      if (top.isEmpty) done = true
      else {
        val r = top.head
        val m = Merge(r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))
        acc += m
        // Documented deviation (shared with [[Bpe]]'s replay): the
        // single-pass non-overlapping replace misses ADJACENT repeats of
        // the winning pair ('a b a b' → 'ab a b', not 'ab ab') because
        // the shared trailing space is consumed by the first match. Both
        // engines replay the identical non-overlapping replace, so
        // parity holds exactly; counts deviate from Schuster–Nakajima/
        // Sennrich merge-all-occurrences semantics only on immediately-
        // repeated pairs within one word (absent from the gate corpora).
        // the replace stays LAZY for a few rounds (successive projections
        // collapse into one nested-replace expression), checkpointing
        // every 5th merge to bound the nesting — the former EVERY-round
        // segmentation checkpoint paid an action per merge for a
        // vocab-sized frame, while a fully-unbounded chain is the
        // plan-compounding OOM the [[Bpe]] loop documents
        segs = segs.withColumn("seg",
          expr(s"trim(replace(concat(' ', seg, ' '), " +
            s"' ${q(m.a)} ${q(m.b)} ', ' ${q(m.merged)} '))"))
        if ((i + 1) % 5 == 0) segs = segs.localCheckpoint()
      }
      i += 1
    }
    (acc.result(), segs)
  }

  /** The trained segmentation table, memoized; training also
    * [[graft.Memo.remember]]s the merge list under the same key.
    */
  private def segsOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "wp_segs", dir) {
      val (merges, segs) = trainOn(Tables.documents(s, dir), Merges)
      graft.Memo.remember(s, "wp_merges", dir, merges)
      segs
    }

  private def trainedMerges(s: SparkSession, dir: String): Seq[Merge] = {
    segsOf(s, dir)
    graft.Memo.recall[Seq[Merge]](s, "wp_merges", dir)
  }

  /** The trained vocab (piece, raw, cont, rl): every seed single of the
    * corpus plus the merged pieces — the BERT-convention vocabulary the
    * greedy matcher scans.
    */
  private def vocabOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "wp_vocab", dir) {
      val merges = trainedMerges(s, dir)
      // seed singles = the position-tagged characters of the word table
      // (identical to exploding the seed segmentation's symbols)
      val singles = Tables.documents(s, dir)
        .select(explode(split(norm, " ")).as("word"))
        .filter(col("word") =!= "")
        .select(explode(expr(
          "transform(regexp_extract_all(word, '.', 0), " +
            "(c, i) -> if(i = 0, c, concat('##', c)))")).as("piece"))
        .distinct()
      import s.implicits._
      val merged = merges.map(_.merged).toDF("piece")
      singles.unionByName(merged).distinct()
        .withColumn("cont", col("piece").startsWith("##"))
        .withColumn("raw",
          when(col("cont"), expr("substring(piece, 3)"))
            .otherwise(col("piece")))
        .withColumn("rl", length(col("raw")))
    }

  // ------------------------------------------------------------------ gates

  /** Gate: the trained merge table in merge order — rank, pair, the
    * merged piece, the three counts behind the score, and the q9 score
    * itself (all integers; the oracle replays the whole training).
    */
  def wordpieceTrain(s: SparkSession, dir: String): DataFrame = {
    val m = trainedMerges(s, dir)
    import s.implicits._
    m.zipWithIndex.map { case (mg, i) =>
      (i + 1, mg.a + " " + mg.b, mg.merged, mg.c, mg.ca, mg.cb, mg.score)
    }.toDF("merge_rank", "pair", "piece", "pair_count", "left_count",
      "right_count", "score_q9")
      .orderBy("merge_rank")
  }

  /** Per-word greedy segmentation (word, np, toks, unk) of an ARBITRARY
    * word frame against the trained vocab — the precomputed best-match
    * table + the in-expression jump-chain fold. Shared by the corpus
    * tokenize gate and the OOV gate (the vocab is fixed; the greedy
    * walk segments any word, which is the point of subwords).
    */
  private[operators] def wordSegsOf(s: SparkSession, dir: String,
                                    words: DataFrame): DataFrame = {
      val vocab = vocabOf(s, dir)
      val cand = words
        .withColumn("pos", explode(sequence(lit(1), length(col("word")))))
        .join(broadcast(vocab),
          expr("substring(word, pos, rl) = raw AND ((pos = 1) = (NOT cont))"))
      val best = cand.groupBy(col("word"), col("pos"))
        .agg(max_by(struct(col("rl").as("rl"), col("piece").as("piece")),
          col("rl")).as("bp"))
      val bm = best.groupBy(col("word"))
        .agg(map_from_entries(collect_list(struct(col("pos"), col("bp"))))
          .as("bm"))
      words.join(bm, Seq("word"), "left")
        .withColumn("st", expr(s"""
          aggregate(sequence(1, length(word)),
            named_struct('pos', 1, 'toks', '', 'np', 0, 'unk', 0),
            (st, i) -> IF(st.unk = 1 OR i != st.pos, st,
              IF(try_element_at(bm, i) IS NULL,
                named_struct('pos', st.pos, 'toks', '[UNK]',
                  'np', 1, 'unk', 1),
                named_struct('pos', st.pos + try_element_at(bm, i).rl,
                  'toks', CASE WHEN st.toks = ''
                    THEN try_element_at(bm, i).piece
                    ELSE concat(st.toks, ' ', try_element_at(bm, i).piece)
                    END,
                  'np', st.np + 1, 'unk', 0))))"""))
        .select(col("word"), col("st.np").cast("long").as("np"),
          col("st.toks").as("toks"), col("st.unk").cast("long").as("unk"))
  }

  /** The corpus word frame's segmentations, memoized (shared by the
    * tokenize gate and the three-way parity).
    */
  private[operators] def wordSegs(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "wp_wordsegs", dir) {
      wordSegsOf(s, dir,
        Tables.documents(s, dir)
          .select(explode(split(norm, " ")).as("word"))
          .filter(col("word") =!= "").distinct())
    }

  /** Gate: per-document greedy WordPiece tokenization — word/piece/UNK
    * counts and the order-preserving md5 of the piece stream.
    */
  def tokenizeWordpiece(s: SparkSession, dir: String): DataFrame = {
    val segs = wordSegs(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(norm, " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
      .join(segs, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_wp_tokens"),
        sum(col("unk")).as("n_unk"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("toks")))),
            x => x.getField("toks")), " ")).as("tok_hash"))
      .orderBy("doc_id")
  }

  /** Gate: OUT-OF-VOCABULARY tokenization — the property subword
    * vocabularies exist for: words the trainer NEVER SAW segment into
    * known pieces, and only genuinely unrepresentable text falls back
    * to `[UNK]`. Every distinct corpus word is perturbed into an
    * unseen one — even-length words take an `ing` suffix (all known
    * characters → must segment, never UNK), odd-length words take a
    * `9` suffix (the corpus is pure lowercase alpha, so `##9` is not
    * in any vocab → the whole word must be `[UNK]`, the BERT
    * convention) — and runs through the SAME greedy walk as the
    * corpus gate ([[wordSegsOf]] — one definition). Emits the piece
    * stream itself: cross-engine equality pins the walk, not just
    * counts.
    */
  def tokenizeWordpieceOov(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(explode(split(norm, " ")).as("base"))
      .filter(col("base") =!= "").distinct()
    val oov = base.withColumn("word",
      concat(col("base"),
        when(length(col("base")) % 2 === 0, "ing").otherwise("9")))
    wordSegsOf(s, dir, oov)
      .join(oov.select(col("base"), col("word")), Seq("word"))
      .select(col("base").as("base_word"), col("word").as("oov_word"),
        col("np").as("n_pieces"), col("unk").as("is_unk"),
        col("toks").as("pieces"))
      .orderBy("base_word")
  }

  // ------------------------------------------------------ vocab-size sweep

  /** Merge-prefix cuts the sweep evaluates (0 = character baseline) —
    * [[Bpe]]'s SweepCuts convention, completing the third column of the
    * tokenizer-parity family's sweep discipline.
    */
  private val SweepCuts = Seq(0, 5, 10, 15, Merges)

  /** In-plan WordPiece segmentation at a merge-prefix cut: the
    * ##-continuation-seeded character split folded through the first
    * merges in score-rank order (the [[Bpe.segmentExpr]] idiom with the
    * WordPiece seed). Same single-pass non-overlapping replace as
    * training — both engines replay it identically.
    */
  private def segmentExpr(word: Column, merges: Seq[Merge]): Column = {
    val chars = concat_ws(" ",
      transform(regexp_extract_all(word, lit("."), lit(0)),
        (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c))))
    merges.foldLeft(chars) { (col0, m) =>
      trim(org.apache.spark.sql.functions.replace(
        concat(lit(" "), col0, lit(" ")),
        lit(s" ${m.a} ${m.b} "), lit(s" ${m.merged} ")))
    }
  }

  /** Gate: the WordPiece vocab-size / fertility TRADEOFF TABLE —
    * corpus fertility (pieces per word) at each merge-prefix cut of
    * the score-ranked merge list. Score-ranked merges are ordered like
    * BPE's count-ranked ones, so the first M merges ARE the M-smaller
    * vocabulary: one likelihood-argmax training prices every smaller
    * tokenizer (the `bpe_vocab_sweep` property, proven to carry over
    * because training replay is the same replace fold — only the
    * argmax differs). Per cut: effective vocabulary (distinct
    * segmentation symbols), total word tokens, total pieces,
    * fertility.
    *
    * Scale: after the one corpus pass behind the shared word census,
    * every cut is a narrow map over the VOCABULARY-sized frame plus
    * two bounded aggregates — cost scales with vocab × cuts, never
    * the corpus.
    */
  def wordpieceVocabSweep(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    // Fail LOUDLY on a degenerate corpus (training exhausted early):
    // Spark's merges.take(m) would stay valid but the oracle's empty
    // wpb$i scalar subqueries NULL every later segmentation CTE — the
    // engines would silently diverge (the bpe_vocab_sweep discipline).
    require(merges.length == Merges,
      s"wordpiece_vocab_sweep needs a full $Merges-merge training; " +
        s"corpus exhausted WordPiece at ${merges.length} merges")
    val segs = segsOf(s, dir)
    val census = segs.select(col("word"), col("cnt"))
    SweepCuts.map { m =>
      // the full cut IS the stored training segmentation — reuse it
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

  // ----------------------------------------------------------------- oracle

  private def roundCtes(i: Int): String = s"""
    wpy$i AS (SELECT sym, CAST(sum(cnt) AS BIGINT) AS cs
              FROM (SELECT cnt, unnest(string_split(seg, ' ')) AS sym
                    FROM wps${i - 1}) GROUP BY 1),
    wpp$i AS (SELECT ss[j] AS a, ss[j+1] AS b,
                CAST(sum(cnt) AS BIGINT) AS c
              FROM (SELECT cnt, ss,
                      unnest(generate_series(1, len(ss) - 1)) AS j
                    FROM (SELECT cnt, string_split(seg, ' ') AS ss
                          FROM wps${i - 1})
                    WHERE len(ss) >= 2) GROUP BY 1, 2),
    wpb$i AS MATERIALIZED (
      SELECT a, b, c, x.cs AS ca, y.cs AS cb,
        CAST((c * $ScoreQ) // (x.cs * y.cs) AS BIGINT) AS score,
        a || CASE WHEN b LIKE '##%' THEN substring(b, 3) ELSE b END
          AS merged
      FROM wpp$i JOIN wpy$i x ON a = x.sym JOIN wpy$i y ON b = y.sym
      ORDER BY score DESC, a || ' ' || b ASC LIMIT 1),
    wps$i AS MATERIALIZED (
      SELECT word, cnt,
        trim(replace(' ' || seg || ' ',
          ' ' || (SELECT a || ' ' || b FROM wpb$i) || ' ',
          ' ' || (SELECT merged FROM wpb$i) || ' ')) AS seg
      FROM wps${i - 1})"""

  private[operators] val trainCtes: String = s"""
    wpwf AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
             FROM (SELECT unnest(string_split($normSql, ' ')) AS w
                   FROM documents) WHERE w <> '' GROUP BY 1),
    wps0 AS MATERIALIZED (
      SELECT word, cnt,
        array_to_string(list_transform(regexp_extract_all(word, '.'),
          (c, i) -> CASE WHEN i = 1 THEN c ELSE '##' || c END), ' ') AS seg
      FROM wpwf),
    ${(1 to Merges).map(roundCtes).mkString(",")}"""

  val wordpieceTrainSql: String = s"""
    WITH $trainCtes
    ${(1 to Merges).map(i =>
      s"SELECT $i AS merge_rank, a || ' ' || b AS pair, merged AS piece, " +
        s"c AS pair_count, ca AS left_count, cb AS right_count, " +
        s"score AS score_q9 FROM wpb$i")
      .mkString("\nUNION ALL\n")}
    ORDER BY merge_rank"""

  /** The trained-vocab CTEs (`wpvoc`, `wpvr`) — defined once however
    * many greedy walks a statement runs.
    */
  private val vocabCtes: String = s"""
    wpvoc AS (
      SELECT DISTINCT piece FROM (
        SELECT unnest(string_split(seg, ' ')) AS piece FROM wps0
        UNION ALL
        ${(1 to Merges).map(i => s"SELECT merged FROM wpb$i")
          .mkString("\n        UNION ALL\n        ")}) v),
    wpvr AS (SELECT piece,
               CASE WHEN piece LIKE '##%' THEN substring(piece, 3)
                 ELSE piece END AS raw,
               piece LIKE '##%' AS cont
             FROM wpvoc)"""

  /** One greedy walk over the words of CTE `src` (which must expose a
    * `word` column): per-(word, pos) longest match, the recursive jump
    * chain, and the per-word result (`[UNK]` when the walk stalls) in
    * `${p}fin(word, np, toks, unk)`.
    */
  private def walkCtesOver(src: String, p: String): String = s"""
    ${p}best AS MATERIALIZED (
      SELECT word, pos, piece, rl FROM (
        SELECT w.word, w.pos, v.piece, length(v.raw) AS rl,
          row_number() OVER (PARTITION BY w.word, w.pos
            ORDER BY length(v.raw) DESC) AS rn
        FROM (SELECT word, unnest(generate_series(1, length(word))) AS pos
              FROM $src) w
        JOIN wpvr v
          ON substring(w.word, w.pos, length(v.raw)) = v.raw
          AND ((w.pos = 1) = (NOT v.cont))) z
      WHERE rn = 1),
    ${p}gr(word, pos, toks, np) AS (
      SELECT word, 1, CAST('' AS VARCHAR), 0 FROM $src
      UNION ALL
      SELECT g.word, g.pos + b.rl,
        CASE WHEN g.toks = '' THEN b.piece
          ELSE g.toks || ' ' || b.piece END,
        g.np + 1
      FROM ${p}gr g JOIN ${p}best b ON b.word = g.word AND b.pos = g.pos
      WHERE g.pos <= length(g.word)),
    ${p}fin AS MATERIALIZED (
      SELECT w.word,
        CAST(CASE WHEN c.word IS NULL THEN 1 ELSE c.np END AS BIGINT)
          AS np,
        CASE WHEN c.word IS NULL THEN '[UNK]' ELSE c.toks END AS toks,
        CAST(CASE WHEN c.word IS NULL THEN 1 ELSE 0 END AS BIGINT) AS unk
      FROM $src w LEFT JOIN
        (SELECT word, np, toks FROM ${p}gr
         WHERE pos = length(word) + 1) c
      ON w.word = c.word)"""

  /** The corpus-word greedy chain — shared by the tokenize gate and the
    * three-way parity oracle. Ends in `wpfin(word, np, toks, unk)`.
    */
  private[operators] val greedyCtes: String =
    s"""$vocabCtes,
    ${walkCtesOver("wpwf", "wp")}"""

  val tokenizeWordpieceSql: String = s"""
    WITH RECURSIVE $trainCtes,
    $greedyCtes,
    wpdw AS (SELECT doc_id, j AS pos, ws[j] AS word
             FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws))) AS j
                   FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                         FROM documents))
             WHERE ws[j] <> '')
    SELECT d.doc_id, count(*) AS n_words,
      CAST(sum(f.np) AS BIGINT) AS n_wp_tokens,
      CAST(sum(f.unk) AS BIGINT) AS n_unk,
      md5(string_agg(f.toks, ' ' ORDER BY d.pos)) AS tok_hash
    FROM wpdw d JOIN wpfin f ON d.word = f.word
    GROUP BY d.doc_id ORDER BY d.doc_id"""

  val tokenizeWordpieceOovSql: String = s"""
    WITH RECURSIVE $trainCtes,
    $vocabCtes,
    oovm AS (
      SELECT word AS base,
        word || CASE WHEN length(word) % 2 = 0 THEN 'ing' ELSE '9' END
          AS word
      FROM wpwf),
    ${walkCtesOver("oovm", "ov")}
    SELECT m.base AS base_word, m.word AS oov_word,
      f.np AS n_pieces, f.unk AS is_unk, f.toks AS pieces
    FROM oovm m JOIN ovfin f ON m.word = f.word
    ORDER BY base_word"""

  val wordpieceVocabSweepSql: String = {
    val cuts = SweepCuts.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS n_merges,
        (SELECT CAST(count(DISTINCT sym) AS BIGINT)
         FROM (SELECT unnest(string_split(seg, ' ')) AS sym FROM wps$m))
          AS n_symbols,
        CAST(sum(cnt) AS BIGINT) AS n_word_tokens,
        CAST(sum(cnt * len(string_split(seg, ' '))) AS BIGINT) AS n_pieces,
        round(CAST(CAST(sum(cnt * len(string_split(seg, ' '))) AS BIGINT)
            AS DOUBLE)
          / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE), 6) AS fertility
      FROM wps$m"""
    }.mkString("\n    UNION ALL\n    ")
    s"""
    WITH $trainCtes
    $cuts
    ORDER BY n_merges"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordpiece_train" -> (wordpieceTrain _),
    "tokenize_wordpiece" -> (tokenizeWordpiece _),
    "tokenize_wordpiece_oov" -> (tokenizeWordpieceOov _),
    "wordpiece_vocab_sweep" -> (wordpieceVocabSweep _))

  val oracles: Map[String, String] = Map(
    "wordpiece_train" -> wordpieceTrainSql,
    "tokenize_wordpiece" -> tokenizeWordpieceSql,
    "tokenize_wordpiece_oov" -> tokenizeWordpieceOovSql,
    "wordpiece_vocab_sweep" -> wordpieceVocabSweepSql)
}
