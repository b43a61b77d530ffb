package graft.operators

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer training (the SentencePiece unigram
  * algorithm, Kudo 2018) — the OTHER production tokenizer family next
  * to [[Bpe]]: instead of growing a vocabulary by greedy pair merges,
  * it seeds a large candidate-piece vocabulary and EM-prunes it, and
  * tokenization is the Viterbi-best segmentation of each word under the
  * piece likelihoods.
  *
  * Re-expressed for Spark's execution model, deterministic and
  * integer-exact end to end:
  *
  *  1. ONE corpus pass aggregates to the (word, count) table (shared
  *     shape with [[Bpe]]); all training cost from here scales with
  *     the VOCABULARY times distinct words, never the corpus.
  *  2. Seed vocabulary: every ≤ [[MaxPiece]]-char substring of every
  *     word, count-weighted — one explode + map-side-combining
  *     aggregation — pruned to the top [[SeedKeep]] multi-char pieces
  *     (count DESC, piece ASC — a total order, so the cut is
  *     deterministic) plus ALL single characters (coverage guarantee:
  *     every word stays segmentable, so the DP below never needs a
  *     fallback path).
  *  3. Piece likelihoods as integer COSTS: cost(p) = llog2(Σcnt) −
  *     llog2(cnt_p) — the [[Filtering.llog2]] second-order fixed-point
  *     log2, identical floor arithmetic on both engines (−log2 of the
  *     piece's relative frequency, in 1/1024 bits).
  *  4. Viterbi-EM rounds ([[EmRounds]]): the E-step segments every
  *     distinct word by a per-row dynamic program — the DP runs INSIDE
  *     one codegen'd `aggregate` higher-order expression over the
  *     word's positions (state = the prefix-cost array; each cell
  *     minimizes over the ≤ [[MaxPiece]] predecessors through a
  *     broadcast piece→cost map), followed by a second `aggregate`
  *     that walks the backpointers out of the encoded cells. No UDF,
  *     no per-word shuffle — segmentation is a narrow map over the
  *     word table. Cost and backpointer share one BIGINT per cell
  *     (cost·[[Enc]] + predecessor), so the argmin tie-break (smallest
  *     predecessor = longest piece) is the SAME total order on both
  *     engines. The M-step re-estimates piece usage (count-weighted
  *     piece occurrences in the best segmentations — one explode +
  *     aggregate), prunes to the top [[VocabKeep]] multi-char pieces
  *     (usage DESC, piece ASC) plus all single chars, and add-one
  *     smooths (usage + 1) so retained-but-unused singles keep a
  *     finite cost.
  *  5. Tokenization ([[tokenizeUnigram]]) joins the corpus word stream
  *     against the FINAL segmentation table — the same lookup-join
  *     shape as [[Bpe.tokenizeBpe]].
  *
  * The DuckDB oracle replays the ENTIRE training — seed census, every
  * EM round's Viterbi DP (as a recursive CTE carrying the prefix-cost
  * array — an independent formulation of the same DP), usage
  * re-estimation, pruning, final segmentation — so the gate checks the
  * algorithm, not just the output shape.
  *
  * Scale (100 TB): the corpus is touched exactly twice (word census,
  * final tokenize join); EM rounds touch only the distinct-word table
  * (high-cardinality key, map-side combine everywhere); the vocabulary
  * rides a broadcast one-row map frame (≤ [[SeedKeep]] + alphabet
  * entries). The per-row DP is O(len · [[MaxPiece]]) with no
  * data-dependent allocation beyond the len-sized cost array.
  */
object Unigram extends graft.GateModule {

  import TextNorm.{norm, normSql}
  import Filtering.llog2

  /** Longest candidate piece, in characters. */
  private val MaxPiece = 4

  /** Multi-char seed pieces kept after the substring census. */
  private val SeedKeep = 120

  /** Multi-char pieces kept after each EM round's usage prune. */
  private val VocabKeep = 80

  /** Viterbi-EM rounds (each = one E-step + one M-step; the final
    * segmentation is one extra E-step under the final vocabulary).
    */
  private val EmRounds = 2

  /** Cost sentinel for substrings outside the vocabulary — large enough
    * to never win, small enough that cost·[[Enc]] arithmetic stays far
    * from Long overflow (dp ≤ len·BIG ≈ 2e11; ·256 ≈ 5e13).
    */
  private val Big = 1000000000L

  /** Cost/backpointer cell encoding factor: cell = cost·Enc + prev.
    * Requires word length < Enc — [[requireLens]] fails loudly first.
    */
  private val Enc = 256

  /** Hard word-length ceiling (the [[Enc]] encoding bound with margin;
    * a 200+-char "word" means the normalizer upstream is broken).
    */
  private val MaxWordLen = 200

  /** The distinct-word table (word, cnt), memoized per (session, dir). */
  private def words(s: SparkSession, dir: String): DataFrame =
    Memo.cachedLeaf(s, "ug_words", dir) {
      Tables.documents(s, dir)
        .select(explode(split(norm, " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    }

  /** Fail loudly on a word the cell encoding cannot carry. */
  private def requireLens(s: SparkSession, dir: String): Unit = {
    val ml = Memo.cached(s, "ug_maxlen", dir) {
      words(s, dir).agg(max(length(col("word"))).cast("long").as("ml"))
    }.head().getLong(0)
    require(ml <= MaxWordLen,
      s"a $ml-char word exceeds the $MaxWordLen-char unigram-DP ceiling " +
        s"(cell encoding holds positions < $Enc)")
  }

  /** The ≤ [[MaxPiece]]-char substring census, count-weighted. */
  private def census(s: SparkSession, dir: String): DataFrame =
    Memo.cachedLeaf(s, "ug_census", dir) {
      words(s, dir)
        .withColumn("j", explode(sequence(lit(1), length(col("word")))))
        .withColumn("l", explode(sequence(lit(1),
          least(lit(MaxPiece), length(col("word")) - col("j") + 1))))
        .select(expr("substring(word, j, l)").as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
    }

  /** All single characters (the coverage floor every vocabulary keeps). */
  private def singles(s: SparkSession, dir: String): DataFrame =
    census(s, dir).filter(length(col("piece")) === 1)

  /** Seed vocabulary: top multi-char pieces + all singles. */
  private def seedVocab(s: SparkSession, dir: String): DataFrame = {
    val c = census(s, dir)
    c.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(SeedKeep)
      .unionByName(singles(s, dir))
  }

  /** The forward Viterbi DP as one `aggregate` expression: encoded
    * prefix-cost cells (cost·Enc + backpointer), 1-based with cell 1 =
    * position 0 (cost 0).
    */
  private val fwdSql: String = s"""
    aggregate(
      sequence(1, length(word)),
      array(0L),
      (acc, i) -> array_append(acc,
        array_min(transform(
          sequence(greatest(0, i - $MaxPiece), i - 1),
          j -> ((element_at(acc, j + 1) div $Enc) +
                coalesce(try_element_at(vm, substring(word, j + 1, i - j)),
                         ${Big}L)) * $Enc + j))))"""

  /** The backpointer walk as a second `aggregate`: from position len,
    * prepend the piece (prev, pos] and jump to prev; iterations past
    * position 0 are no-ops (every piece is ≥ 1 char, so len iterations
    * always finish).
    */
  private val btSql: String = s"""
    aggregate(
      sequence(1, length(word)),
      named_struct('pos', length(word), 'seg', ''),
      (acc, x) -> if(acc.pos <= 0, acc,
        named_struct(
          'pos', cast(element_at(encs, acc.pos + 1) % $Enc as int),
          'seg', concat(
            substring(word, cast(element_at(encs, acc.pos + 1) % $Enc as int) + 1,
              acc.pos - cast(element_at(encs, acc.pos + 1) % $Enc as int)),
            if(acc.seg = '', '', ' '), acc.seg))),
      acc -> acc.seg)"""

  /** Viterbi-segment the word table under a (piece, cnt) vocabulary:
    * costs from the fixed-point log-likelihoods, the vocabulary as one
    * broadcast map row, the DP as the two codegen'd aggregates above.
    * Returns (word, cnt, seg).
    */
  private[graft] def segment(wordsDf: DataFrame, vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val costed = vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        (expr(llog2("t")) - expr(llog2("cnt"))).as("cost"))
    val vm = costed.agg(map_from_entries(
      collect_list(struct(col("piece"), col("cost")))).as("vm"))
    wordsDf.crossJoin(broadcast(vm))
      .withColumn("encs", expr(fwdSql.trim))
      .withColumn("seg", expr(btSql.trim))
      .select(col("word"), col("cnt"), col("seg"))
  }

  /** One M-step: piece usage under the round's segmentations, pruned
    * and add-one smoothed into the next vocabulary.
    */
  private def nextVocab(segs: DataFrame, singlesDf: DataFrame): DataFrame = {
    val use = segs
      .select(col("cnt"), explode(split(col("seg"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("usage"))
    val multi = use.filter(length(col("piece")) >= 2)
      .orderBy(col("usage").desc, col("piece").asc).limit(VocabKeep)
      .select(col("piece"), (col("usage") + 1).as("cnt"))
    val sing = singlesDf.select(col("piece"))
      .join(use, Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("usage"), lit(0L)) + 1).as("cnt"))
    multi.unionByName(sing)
  }

  /** The trained final vocabulary (piece, cnt), memoized. Each round's
    * small vocab frame localCheckpoints (the BPE loop discipline) so
    * the round chain never compounds plans.
    */
  private[graft] def finalVocab(s: SparkSession, dir: String): DataFrame =
    Memo.cachedLeaf(s, "ug_vocab", dir) {
      requireLens(s, dir)
      val w = words(s, dir)
      val sg = singles(s, dir)
      var vocab = seedVocab(s, dir).localCheckpoint()
      for (_ <- 1 to EmRounds)
        vocab = nextVocab(segment(w, vocab), sg).localCheckpoint()
      vocab
    }

  /** The final segmentation table (word, cnt, seg), memoized — the last
    * E-step, under the final vocabulary.
    */
  private[graft] def finalSegs(s: SparkSession, dir: String): DataFrame =
    Memo.cachedLeaf(s, "ug_segs", dir) {
      segment(words(s, dir), finalVocab(s, dir))
    }

  // ------------------------------------------------------------------ gates

  /** Gate: the trained vocabulary with its fixed-point costs —
    * (piece, cnt, cost), cost under the final totals.
    */
  def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    val v = finalVocab(s, dir)
    v.crossJoin(broadcast(v.agg(sum(col("cnt")).as("t"))))
      .select(col("piece"), col("cnt"),
        (expr(llog2("t")) - expr(llog2("cnt"))).as("cost"))
      .orderBy(col("cnt").desc, col("piece").asc)
  }

  /** Gate: per-document tokenization under the trained unigram LM —
    * word stream joins the final segmentation table; per-doc word and
    * piece counts + an order-preserving md5 over the piece stream
    * (the [[Bpe.tokenizeBpe]] contract, so the two tokenizer families
    * are directly comparable).
    */
  def tokenizeUnigram(s: SparkSession, dir: String): DataFrame = {
    val segs = finalSegs(s, dir).select(col("word"), col("seg"))
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(norm, " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
      .join(segs, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("seg"), " "))).cast("long").as("n_pieces"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ")).as("tok_hash"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- oracle

  /** The Viterbi segmentation replay over ANY (piece, cnt) vocabulary
    * CTE `inV`: piece costs → map row → recursive forward DP →
    * recursive backpointer walk → `seg$sfx`. Shared by the EM round
    * chain ([[roundCtes]], sfx = the round number) and the vocab
    * sweep's per-cut branches (sfx = `c$m`).
    */
  private def segReplayCtes(inV: String, sfx: String): String = s"""
    cost$sfx AS (SELECT piece,
        CAST(${llog2("t")} - ${llog2("cnt")} AS BIGINT) AS cost
      FROM $inV, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM $inV)),
    vm$sfx AS (SELECT MAP(list(piece ORDER BY piece),
                        list(cost ORDER BY piece)) AS m FROM cost$sfx),
    dp$sfx AS (
      SELECT word, cnt, 0 AS i, [CAST(0 AS BIGINT)] AS encs FROM uwf
      UNION ALL
      SELECT d.word, d.cnt, i + 1,
        list_append(encs, list_min(list_transform(
          generate_series(greatest(0, i + 1 - $MaxPiece), i),
          j -> ((encs[j + 1] // $Enc) +
                coalesce(vm$sfx.m[d.word[j + 1 : i + 1]][1], $Big)) * $Enc + j)))
      FROM dp$sfx d, vm$sfx WHERE i < len(d.word)),
    bt$sfx AS (
      SELECT word, cnt, len(word) AS pos, '' AS seg, encs
      FROM dp$sfx WHERE i = len(word)
      UNION ALL
      SELECT word, cnt, CAST(encs[pos + 1] % $Enc AS INT),
        word[CAST(encs[pos + 1] % $Enc AS INT) + 1 : pos]
          || CASE WHEN seg = '' THEN '' ELSE ' ' END || seg,
        encs
      FROM bt$sfx WHERE pos > 0),
    seg$sfx AS (SELECT word, cnt, seg FROM bt$sfx WHERE pos = 0)"""

  /** One EM round's CTEs: the segmentation replay (round `r` reads
    * vocabulary `v${r-1}`, writes `seg$r`) plus, for M-step rounds,
    * the usage prune into vocabulary `v$r`.
    */
  private def roundCtes(r: Int, mStep: Boolean): String = {
    val m = segReplayCtes(s"v${r - 1}", r.toString)
    if (!mStep) m
    else m + s""",
    use$r AS (SELECT p AS piece, CAST(sum(cnt) AS BIGINT) AS usage
      FROM (SELECT cnt, unnest(string_split(seg, ' ')) AS p FROM seg$r)
      GROUP BY 1),
    v$r AS (
      SELECT piece, usage + 1 AS cnt FROM (
        SELECT piece, usage FROM use$r WHERE len(piece) >= 2
        ORDER BY usage DESC, piece ASC LIMIT $VocabKeep)
      UNION ALL
      SELECT s.piece, coalesce(u.usage, 0) + 1
      FROM sing s LEFT JOIN use$r u USING (piece))"""
  }

  /** Shared training prelude: word census → seed vocabulary → EM
    * rounds → final segmentation (round EmRounds+1, E-step only).
    * Needs `WITH RECURSIVE` on the enclosing statement.
    */
  private[operators] val trainCtes: String = s"""
    uwf AS MATERIALIZED (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split($normSql, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1),
    pc AS (SELECT word[j : j + l - 1] AS piece, CAST(sum(cnt) AS BIGINT)
             AS cnt
           FROM (SELECT word, cnt, j,
                   unnest(generate_series(1,
                     least($MaxPiece, len(word) - j + 1))) AS l
                 FROM (SELECT word, cnt,
                         unnest(generate_series(1, len(word))) AS j
                       FROM uwf))
           GROUP BY 1),
    sing AS (SELECT piece, cnt FROM pc WHERE len(piece) = 1),
    v0 AS (
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM pc WHERE len(piece) >= 2
        ORDER BY cnt DESC, piece ASC LIMIT $SeedKeep)
      UNION ALL
      SELECT piece, cnt FROM sing),
    ${(1 to EmRounds).map(r => roundCtes(r, mStep = true)).mkString(",")},
    ${roundCtes(EmRounds + 1, mStep = false)}"""

  private[operators] val F = EmRounds + 1

  val unigramTrainSql: String = s"""
    WITH RECURSIVE $trainCtes
    SELECT piece, cnt,
      CAST(${llog2("t")} - ${llog2("cnt")} AS BIGINT) AS cost
    FROM v$EmRounds,
      (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM v$EmRounds)
    ORDER BY cnt DESC, piece ASC"""

  val tokenizeUnigramSql: String = s"""
    WITH RECURSIVE $trainCtes,
    dw AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
           FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                 FROM documents)),
    dtok AS (SELECT doc_id, pos, ws[pos] AS word FROM dw
             WHERE ws[pos] <> ''),
    jn AS (SELECT d.doc_id, d.pos, t.seg
           FROM dtok d JOIN seg$F t ON d.word = t.word)
    SELECT doc_id, count(*) AS n_words,
      CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_pieces,
      md5(string_agg(seg, ' ' ORDER BY pos)) AS tok_hash
    FROM jn GROUP BY doc_id ORDER BY doc_id"""

  // --------------------------------------------------- byte-fallback tokenize

  /** Per-byte fallback cost (in the same 1/1024-bit fixed point as the
    * trained piece costs): far above any trained piece (llog2 costs top
    * out ≈ 20·1024) so a known segmentation always wins, far below
    * [[Big]] so an UNKNOWN single character always beats any multi-char
    * OOV piece (2 unknown chars ≤ 8·[[BfCost]] < [[Big]]) — the DP
    * therefore isolates exactly the uncovered characters, which is what
    * decomposes to bytes.
    */
  private val BfCost = 100000L

  /** The planted OOV suffix (shared SQL text, both engines): every 7th
    * document grows two words whose characters ('é', 'π', 'λ') are
    * outside the trained a–z alphabet — 'café' mixes covered and
    * uncovered characters in one word, 'πλ' is fully uncovered.
    */
  private[graft] val PlantSql =
    "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' café πλ') ELSE text END"

  /** The forward DP with BYTE FALLBACK: a substring missing from the
    * vocabulary map costs [[BfCost]]·(UTF-8 bytes) if it is a single
    * character, [[Big]] otherwise — [[fwdSql]] with a finite cost for
    * uncovered characters, so segmentation (and token accounting) is
    * total on ANY input instead of relying on the training corpus's
    * alphabet coverage.
    */
  private val fwdBfSql: String = s"""
    aggregate(
      sequence(1, length(word)),
      array(0L),
      (acc, i) -> array_append(acc,
        array_min(transform(
          sequence(greatest(0, i - $MaxPiece), i - 1),
          j -> ((element_at(acc, j + 1) div $Enc) +
                coalesce(try_element_at(vm, substring(word, j + 1, i - j)),
                         if(i - j = 1,
                            ${BfCost}L * octet_length(substring(word, j + 1, 1)),
                            ${Big}L))) * $Enc + j))))"""

  /** Gate: tokenization with BYTE FALLBACK (the SentencePiece
    * `--byte_fallback` convention every production LLM tokenizer ships
    * with): the corpus is re-tokenized with planted out-of-alphabet
    * documents ([[PlantSql]]); the Viterbi DP runs under the TRAINED
    * vocabulary plus a per-byte fallback cost, and any segmented piece
    * not in the vocabulary decomposes to its UTF-8 bytes as reserved
    * `<0xNN>` tokens (256 reserved ids) in the segmentation join — so
    * token accounting stays exact on any input. Emits, per document:
    * the planted flag, word/piece/byte-token counts, the NON-fallback
    * piece count ([[tokenizeUnigram]] — the parity column: unplanted
    * documents must match exactly), and the order-preserving hash of
    * the expanded token stream.
    *
    * Scale: identical shape to [[tokenizeUnigram]] — one corpus word
    * stream, one distinct-word DP (narrow map under a broadcast vocab
    * map), one lookup join back; the byte expansion is a per-piece
    * array transform inside the same codegen'd stage.
    */
  def tokenizeUnigramBf(s: SparkSession, dir: String): DataFrame = {
    val v = finalVocab(s, dir)
    val tot = v.agg(sum(col("cnt")).as("t"))
    val costed = v.crossJoin(broadcast(tot))
      .select(col("piece"),
        (expr(llog2("t")) - expr(llog2("cnt"))).as("cost"))
    val vm = costed.agg(map_from_entries(
      collect_list(struct(col("piece"), col("cost")))).as("vm"))
    val toks = Tables.documents(s, dir)
      .withColumn("text", expr(PlantSql))
      .select(col("doc_id"), posexplode(split(norm, " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    val byteToks = (p: Column) =>
      transform(sequence(lit(1), octet_length(p)),
        b => concat(lit("<0x"),
          hex(encode(p, "UTF-8")).substr(b * lit(2) - lit(1), lit(2)),
          lit(">")))
    val segs = toks.select(col("word")).distinct()
      .crossJoin(broadcast(vm))
      .withColumn("encs", expr(fwdBfSql.trim))
      .withColumn("seg", expr(btSql.trim))
      .withColumn("pieces", split(col("seg"), " "))
      .select(col("word"),
        size(filter(col("pieces"),
          p => try_element_at(col("vm"), p).isNotNull)).as("n_known"),
        flatten(transform(col("pieces"),
          p => when(try_element_at(col("vm"), p).isNotNull, array(p))
            .otherwise(byteToks(p)))).as("toks"))
      .select(col("word"), col("n_known"),
        size(col("toks")).cast("long").as("n_tok"),
        array_join(col("toks"), " ").as("ts"))
    val plain = tokenizeUnigram(s, dir)
      .select(col("doc_id"), col("n_pieces").as("n_pieces_plain"))
    toks.join(segs, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_pieces"),
        sum(col("n_tok") - col("n_known")).cast("long")
          .as("n_byte_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("ts")))),
            x => x.getField("ts")), " ")).as("tok_hash"))
      .withColumn("planted", col("doc_id") % 7 === 0)
      .join(plain, "doc_id")
      .select(col("doc_id"), col("planted"), col("n_words"),
        col("n_pieces"), col("n_pieces_plain"), col("n_byte_tokens"),
        col("tok_hash"))
      .orderBy("doc_id")
  }

  val tokenizeUnigramBfSql: String = s"""
    WITH RECURSIVE $trainCtes,
    bfd AS (SELECT doc_id, $PlantSql AS text FROM documents),
    bfw AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
            FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                  FROM bfd)),
    bft AS (SELECT doc_id, pos, ws[pos] AS word FROM bfw
            WHERE ws[pos] <> ''),
    bfu AS (SELECT DISTINCT word FROM bft),
    bfdp AS (
      SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS encs FROM bfu
      UNION ALL
      SELECT d.word, i + 1,
        list_append(encs, list_min(list_transform(
          generate_series(greatest(0, i + 1 - $MaxPiece), i),
          j -> ((encs[j + 1] // $Enc) +
                coalesce(v.m[d.word[j + 1 : i + 1]][1],
                  CASE WHEN i + 1 - j = 1
                    THEN $BfCost * strlen(d.word[j + 1 : i + 1])
                    ELSE $Big END)) * $Enc + j)))
      FROM bfdp d, vm$F v WHERE i < len(d.word)),
    bfbt AS (
      SELECT word, len(word) AS pos, '' AS seg, encs
      FROM bfdp WHERE i = len(word)
      UNION ALL
      SELECT word, CAST(encs[pos + 1] % $Enc AS INT),
        word[CAST(encs[pos + 1] % $Enc AS INT) + 1 : pos]
          || CASE WHEN seg = '' THEN '' ELSE ' ' END || seg,
        encs
      FROM bfbt WHERE pos > 0),
    bfseg AS (SELECT word, seg FROM bfbt WHERE pos = 0),
    bfx AS (
      SELECT word,
        len(list_filter(string_split(seg, ' '),
          p -> v.m[p][1] IS NOT NULL)) AS n_known,
        flatten(list_transform(string_split(seg, ' '),
          p -> CASE WHEN v.m[p][1] IS NOT NULL THEN [p]
               ELSE list_transform(generate_series(1, strlen(p)),
                 b -> '<0x' || substring(hex(encode(p)), b * 2 - 1, 2)
                   || '>') END)) AS toks
      FROM bfseg, vm$F v),
    bfe AS (SELECT word, n_known, CAST(len(toks) AS BIGINT) AS n_tok,
              array_to_string(toks, ' ') AS ts
            FROM bfx),
    bfplainw AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)))
                   AS pos
                 FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                       FROM documents)),
    bfplain AS (
      SELECT d.doc_id,
        CAST(sum(len(string_split(t.seg, ' '))) AS BIGINT)
          AS n_pieces_plain
      FROM (SELECT doc_id, pos, ws[pos] AS word FROM bfplainw
            WHERE ws[pos] <> '') d
      JOIN seg$F t ON d.word = t.word
      GROUP BY d.doc_id)
    SELECT j.doc_id, j.doc_id % 7 = 0 AS planted, count(*) AS n_words,
      CAST(sum(e.n_tok) AS BIGINT) AS n_pieces,
      p.n_pieces_plain,
      CAST(sum(e.n_tok - e.n_known) AS BIGINT) AS n_byte_tokens,
      md5(string_agg(e.ts, ' ' ORDER BY j.pos)) AS tok_hash
    FROM bft j JOIN bfe e USING (word)
    JOIN bfplain p ON j.doc_id = p.doc_id
    GROUP BY j.doc_id, p.n_pieces_plain ORDER BY j.doc_id"""

  // ----------------------------------------------------- tokenizer parity

  /** Gate: tokenizer three-way — per document, BPE vs unigram vs
    * WordPiece token counts with fixed-point FERTILITY (tokens per
    * word, ×10^6 integer) and the per-document winner (strict minimum;
    * any shared minimum is 'tie'). This is the decision artifact a
    * pipeline owner reads when choosing the tokenizer family:
    * fertility drives context-window utilization and training cost,
    * and the comparison is only meaningful when all tokenizers trained
    * on the SAME corpus under the same normalization — which is
    * exactly what the three training chains here share. The DuckDB
    * oracle replays ALL THREE trainings (the 20-round BPE merge chain,
    * the recursive-CTE Viterbi-EM, and the 20-round score-ranked
    * WordPiece chain plus its greedy walk) in one statement, so the
    * comparison itself is hash-gated end to end.
    *
    * Scale: one join of the three per-document count frames (each one
    * lookup join over the corpus word stream); the trained tables are
    * memoized artifacts shared with the tokenize gates.
    */
  def tokenizerParity(s: SparkSession, dir: String): DataFrame = {
    val b = Bpe.tokenizeBpe(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    val u = tokenizeUnigram(s, dir)
      .select(col("doc_id"), col("n_pieces").as("n_unigram_pieces"))
    val w = Wordpiece.tokenizeWordpiece(s, dir)
      .select(col("doc_id"), col("n_wp_tokens"))
    b.join(u, "doc_id").join(w, "doc_id")
      .select(col("doc_id"), col("n_words"),
        col("n_bpe_tokens"), col("n_unigram_pieces"), col("n_wp_tokens"),
        expr("(n_bpe_tokens * 1000000) div n_words").as("fert_bpe_q6"),
        expr("(n_unigram_pieces * 1000000) div n_words").as("fert_ug_q6"),
        expr("(n_wp_tokens * 1000000) div n_words").as("fert_wp_q6"),
        when(col("n_bpe_tokens") < col("n_unigram_pieces") &&
          col("n_bpe_tokens") < col("n_wp_tokens"), "bpe")
          .when(col("n_unigram_pieces") < col("n_bpe_tokens") &&
            col("n_unigram_pieces") < col("n_wp_tokens"), "unigram")
          .when(col("n_wp_tokens") < col("n_bpe_tokens") &&
            col("n_wp_tokens") < col("n_unigram_pieces"), "wordpiece")
          .otherwise("tie").as("winner"))
      .orderBy("doc_id")
  }

  val tokenizerParitySql: String = s"""
    WITH RECURSIVE ${trainCtes.trim},
    ${Bpe.trainCtes.trim},
    ${Wordpiece.trainCtes.trim},
    ${Wordpiece.greedyCtes.trim},
    tpw AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
            FROM (SELECT doc_id, string_split($normSql, ' ') AS ws
                  FROM documents)),
    tpt AS (SELECT doc_id, pos, ws[pos] AS word FROM tpw
            WHERE ws[pos] <> ''),
    tpb AS (SELECT d.doc_id, count(*) AS n_words,
              CAST(sum(len(string_split(t.seg, ' '))) AS BIGINT)
                AS n_bpe_tokens
            FROM tpt d JOIN s${Bpe.Merges} t ON d.word = t.word
            GROUP BY d.doc_id),
    tpu AS (SELECT d.doc_id,
              CAST(sum(len(string_split(t.seg, ' '))) AS BIGINT)
                AS n_unigram_pieces
            FROM tpt d JOIN seg$F t ON d.word = t.word
            GROUP BY d.doc_id),
    tpwp AS (SELECT d.doc_id,
               CAST(sum(f.np) AS BIGINT) AS n_wp_tokens
             FROM tpt d JOIN wpfin f ON d.word = f.word
             GROUP BY d.doc_id)
    SELECT b.doc_id, b.n_words, b.n_bpe_tokens, u.n_unigram_pieces,
      w.n_wp_tokens,
      CAST((b.n_bpe_tokens * 1000000) // b.n_words AS BIGINT)
        AS fert_bpe_q6,
      CAST((u.n_unigram_pieces * 1000000) // b.n_words AS BIGINT)
        AS fert_ug_q6,
      CAST((w.n_wp_tokens * 1000000) // b.n_words AS BIGINT)
        AS fert_wp_q6,
      CASE WHEN b.n_bpe_tokens < u.n_unigram_pieces
             AND b.n_bpe_tokens < w.n_wp_tokens THEN 'bpe'
           WHEN u.n_unigram_pieces < b.n_bpe_tokens
             AND u.n_unigram_pieces < w.n_wp_tokens THEN 'unigram'
           WHEN w.n_wp_tokens < b.n_bpe_tokens
             AND w.n_wp_tokens < u.n_unigram_pieces THEN 'wordpiece'
           ELSE 'tie' END AS winner
    FROM tpb b JOIN tpu u USING (doc_id) JOIN tpwp w USING (doc_id)
    ORDER BY b.doc_id"""

  // ----------------------------------------------------- vocab-size sweep

  /** Multi-char piece counts the sweep keeps (0 = singles-only floor;
    * a final branch carries the FULL trained vocabulary, labeled by its
    * actual surviving multi-piece count — the usage prune keeps only
    * pieces the EM actually used, 25–28 at the test SFs, so fixed cuts
    * above ~20 would silently coincide). The [[Bpe]]/[[Wordpiece]]
    * SweepCuts convention, completing the sweep for the third
    * tokenizer family.
    */
  private val SweepKeeps = Seq(0, 5, 10, 20)

  /** Gate: the unigram vocab-size/fertility tradeoff table. Unlike the
    * merge families (where the first M merges ARE the smaller vocab),
    * a unigram cut re-prices every piece: keeping the top M multi-char
    * pieces by trained count (+ the single-char coverage floor)
    * renormalizes costs under the CUT's own totals, and one extra
    * Viterbi E-step re-segments under them — exactly SentencePiece's
    * prune-and-re-EM shape, one step of it per candidate size. Per cut:
    * effective vocabulary, word tokens, pieces, fertility.
    *
    * Scale: each branch is one broadcast-map DP over the MEMOIZED
    * distinct-word table ([[words]]) — cost ∝ distinct words × cuts,
    * never the corpus; the full cut reuses the memoized training
    * segmentation ([[finalSegs]]) outright. The singles-only floor is
    * closed-form checkable (every word segments to its characters), so
    * the spec pins that branch against sum(cnt·len(word)) exactly.
    */
  def unigramVocabSweep(s: SparkSession, dir: String): DataFrame = {
    val v = finalVocab(s, dir)
    val w = words(s, dir)
    // Fail LOUDLY on a degenerate corpus (fewer surviving multi-char
    // pieces than the largest fixed cut): the LIMIT cuts would silently
    // coincide and the table would claim sizes it doesn't have (the
    // wordpiece_vocab_sweep discipline). The scalar read is the
    // documented driver-feedback pattern (one long per call, memoized).
    val nMulti = Memo.cached(s, "ug_nmulti", dir) {
      v.filter(length(col("piece")) >= 2).agg(count(lit(1)).as("n"))
    }.head().getLong(0)
    require(nMulti > SweepKeeps.max,
      s"unigram_vocab_sweep needs > ${SweepKeeps.max} trained " +
        s"multi-char pieces; training kept only $nMulti")
    def branch(label: Long, cut: DataFrame, segs: DataFrame): DataFrame = {
      val stats = segs.agg(
        sum(col("cnt")).as("n_word_tokens"),
        sum(col("cnt") * size(split(col("seg"), " "))).cast("long")
          .as("n_pieces"))
      val nv = cut.agg(count(lit(1)).as("n_vocab"))
      stats.crossJoin(broadcast(nv))
        .select(lit(label).as("n_multi"), col("n_vocab"),
          col("n_word_tokens"), col("n_pieces"),
          round(col("n_pieces").cast("double")
            / col("n_word_tokens").cast("double"), 6).as("fertility"))
    }
    val cuts = SweepKeeps.map { m =>
      val cut = v.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece").asc).limit(m)
        .unionByName(v.filter(length(col("piece")) === 1))
      branch(m.toLong, cut, segment(w, cut))
    }
    val full = branch(nMulti, v, finalSegs(s, dir))
    (cuts :+ full).reduce(_.unionByName(_)).orderBy("n_multi")
  }

  val unigramVocabSweepSql: String = {
    val cutCtes = SweepKeeps.map { m =>
      s"""vc$m AS (
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM v$EmRounds WHERE len(piece) >= 2
        ORDER BY cnt DESC, piece ASC LIMIT $m)
      UNION ALL
      SELECT piece, cnt FROM v$EmRounds WHERE len(piece) = 1),
    ${segReplayCtes(s"vc$m", s"c$m").trim}"""
    }.mkString(",\n    ")
    def branchSql(label: String, segT: String, vT: String): String =
      s"""SELECT CAST($label AS BIGINT) AS n_multi,
        (SELECT CAST(count(*) AS BIGINT) FROM $vT) AS n_vocab,
        CAST(sum(cnt) AS BIGINT) AS n_word_tokens,
        CAST(sum(cnt * len(string_split(seg, ' '))) AS BIGINT) AS n_pieces,
        round(CAST(CAST(sum(cnt * len(string_split(seg, ' '))) AS BIGINT)
            AS DOUBLE)
          / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE), 6) AS fertility
      FROM $segT"""
    val branches = (SweepKeeps.map(m =>
      branchSql(m.toString, s"segc$m", s"vc$m")) :+
      branchSql(
        s"(SELECT count(*) FROM v$EmRounds WHERE len(piece) >= 2)",
        s"seg$F", s"v$EmRounds"))
      .mkString("\n    UNION ALL\n    ")
    s"""
    WITH RECURSIVE $trainCtes,
    $cutCtes
    $branches
    ORDER BY n_multi"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "unigram_train" -> (unigramTrain _),
    "tokenize_unigram" -> (tokenizeUnigram _),
    "tokenize_unigram_bf" -> (tokenizeUnigramBf _),
    "tokenizer_parity" -> (tokenizerParity _),
    "unigram_vocab_sweep" -> (unigramVocabSweep _))

  val oracles: Map[String, String] = Map(
    "unigram_train" -> unigramTrainSql,
    "tokenize_unigram" -> tokenizeUnigramSql,
    "tokenize_unigram_bf" -> tokenizeUnigramBfSql,
    "tokenizer_parity" -> tokenizerParitySql,
    "unigram_vocab_sweep" -> unigramVocabSweepSql)
}
