package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table: exact, n-gram
  * Jaccard, MinHash+LSH and SimHash — the standard toolkit for cleaning a
  * web-scale training corpus.
  *
  * Every hash is md5 (identical hex in Spark and DuckDB) so the whole
  * pipeline stays oracle-checkable; at production scale the same plans run
  * with xxhash64 by swapping one expression. No UDFs: shingling is
  * sequence+explode, signatures are groupBy-min, banding is a groupBy over
  * (doc, band), candidate generation is a self-equi-join on the band key —
  * each a single well-keyed shuffle.
  *
  * Scale notes (100 TB): the shingle explode factor is ~n_words per doc;
  * band buckets are the join key, and pathological buckets (stop-shingles)
  * are bounded because the band value is a hash of `bandRows` independent
  * minima, not raw text. AQE skew-join handles residual hot buckets.
  */
object Dedup extends graft.GateModule {

  import TextNorm.{norm, normSql}

  /** Exact dedup on normalized text. The scenario plants real duplicates by
    * re-keying every 7th document, then groups by content hash keeping the
    * smallest doc_id as canonical.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val planted = d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    d.unionByName(planted)
      .select(col("doc_id"), md5(norm).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")
  }

  val dedupExactSql: String = s"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0)
    SELECT md5($normSql) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM all_docs GROUP BY content_hash ORDER BY content_hash"""

  // ------------------------------------------------------------- shingling

  /** Distinct word n-gram shingles per document (n = 3). */
  private def shingles(docs: DataFrame): DataFrame = {
    val ws = split(norm, " ")
    docs.select(col("doc_id"), ws.as("ws"))
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 2)))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2)).as("sh"))
      .distinct()
  }

  private[operators] val shinglesSql: String = s"""
    w AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents),
    pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            FROM w),
    sh AS (SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh FROM pos)"""

  /** Exact pairwise Jaccard over shingle sets via self-join on the shingle:
    * |A∩B| from the join, |A|,|B| from per-doc counts. The join key is the
    * shingle string — at scale, hot shingles are salted by capping posting
    * lists; here AQE covers it.
    */
  /** The pair-generation CTE chain shared with composed pipelines: appends
    * `sz`, `inter` and `pairs` (ids with exact Jaccard ≥ 0.8) after
    * [[shinglesSql]].
    */
  private[operators] val jaccardPairsSql: String = s"""
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8)"""

  // the shingle set feeds dedup_ngram_jaccard, dedup_minhash_lsh, the
  // composed corpus_clean and the KMV sketch — built+cached once per
  // (session, dir)
  private def shinglesC(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "doc_shingles", dir)(shingles(Tables.documents(s, dir)))

  /** The memoized per-document distinct-shingle frame, for operators
    * outside this object (e.g. [[Sketch]]) and their specs.
    */
  private[graft] def shinglesOf(s: SparkSession, dir: String): DataFrame =
    shinglesC(s, dir)

  def dedupNgramJaccard(s: SparkSession, dir: String,
                        threshold: Double = 0.8): DataFrame = {
    val sh = shinglesC(s, dir)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.alias("a")
      .join(sh.alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val j = col("c").cast("double") /
      (col("x.n") + col("y.n") - col("c")).cast("double")
    inter
      .join(sz.alias("x"), col("id_a") === col("x.doc_id"))
      .join(sz.alias("y"), col("id_b") === col("y.doc_id"))
      .filter(j >= threshold)
      .select(col("id_a"), col("id_b"), round(j, 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  val dedupNgramJaccardSql: String = s"""
    WITH $shinglesSql,
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
    FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
    WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8
    ORDER BY id_a, id_b"""

  // ---------------------------------------------------------- MinHash + LSH

  private val NumHashes = 16
  private val BandRows = 4 // 4 bands × 4 rows

  /** MinHash signatures → LSH bands → bucket-join candidates → exact Jaccard
    * verification. This is the scale path for near-dedup: candidates are
    * generated by equality on a band hash (shuffle key), never by a
    * quadratic comparison; the verify join touches only candidate pairs.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String,
                      threshold: Double = 0.8): DataFrame =
    minhashPairsOf(s, dir, threshold).orderBy("id_a", "id_b")

  /** The memoized verified near-dup pair frame, for composed pipelines
    * (`corpus_clean`, [[Clustering.dedupClusters]]).
    */
  private[operators] def minhashPairsOf(s: SparkSession, dir: String,
                                        threshold: Double = 0.8): DataFrame =
    graft.Memo.cachedLeaf(s, s"minhash_pairs_$threshold", dir)(
      minhashLshPairs(s, dir, threshold))

  // the verified near-dup pairs, memoized above: both the dedup gate query
  // and the composed corpus_clean consume this frame
  /** LSH band candidates `(id_a, id_b)` BEFORE exact verification —
    * threshold-independent, memoized; shared by the Jaccard verifier and
    * the edit-distance verifier.
    */
  private[operators] def minhashCandidatesOf(s: SparkSession,
                                             dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "minhash_cand", dir)(minhashCandidates(s, dir))

  /** The memoized signature frame `(doc_id, m1..m16)`:
    * minhash_i(doc) = min over shingles of h1 + i·h2 (mod 2^32), the
    * Kirsch–Mitzenmacher construction over the two 32-bit halves of ONE
    * md5 per shingle — all 16 minima in a single aggregation pass (16 agg
    * columns beat a 16× explode, and one md5 beats sixteen). Shared by
    * candidate generation and the [[minhashAccuracy]] audit.
    */
  private def minhashesOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "minhash_sigs", dir) {
      val sh = shinglesC(s, dir)
      val withH = sh.selectExpr("doc_id",
        "cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint) as h1",
        "cast(conv(substring(md5(sh), 9, 8), 16, 10) as bigint) as h2")
      withH.groupBy(col("doc_id"))
        .agg(min(expr(s"(h1 + 1 * h2) % 4294967296")).as("m1"),
          (2 to NumHashes).map(i =>
            min(expr(s"(h1 + $i * h2) % 4294967296")).as(s"m$i")): _*)
    }

  private def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val mh = minhashesOf(s, dir)
    // band value = md5 of the band's minima in hash order
    val bandExprs = (0 until NumHashes / BandRows).map { b =>
      val ms = (1 to BandRows).map(r => s"m${b * BandRows + r}")
      s"${b}L, md5(concat_ws('|', ${ms.mkString(", ")}))"
    }
    val bands = mh.selectExpr("doc_id",
      s"stack(${NumHashes / BandRows}, ${bandExprs.mkString(", ")}) as (band, sig)")
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  private def minhashLshPairs(s: SparkSession, dir: String,
                              threshold: Double): DataFrame = {
    val sh = shinglesC(s, dir)
    val cand = minhashCandidatesOf(s, dir)
    // verify candidates with exact Jaccard
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.alias("a")
      .join(cand, col("a.doc_id") === col("id_a"))
      .join(sh.alias("b"),
        col("b.doc_id") === col("id_b") && col("a.sh") === col("b.sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    val j = col("c").cast("double") /
      (col("x.n") + col("y.n") - col("c")).cast("double")
    inter
      .join(sz.alias("x"), col("id_a") === col("x.doc_id"))
      .join(sz.alias("y"), col("id_b") === col("y.doc_id"))
      .filter(j >= threshold)
      .select(col("id_a"), col("id_b"), round(j, 6).as("jaccard"))
  }

  /** The full CTE chain producing verified near-dup `pairs(id_a, id_b,
    * jaccard)` — shared by the gate oracle below and by the
    * connected-components clustering oracle ([[Clustering]]).
    */
  private[operators] val minhashPairsCtesSql: String = s"""
    $shinglesSql,
    hh AS (
      SELECT doc_id,
        ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
        ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
      FROM sh),
    mh AS (
      SELECT doc_id,
        ${(1 to NumHashes).map(i =>
          s"min((h1 + $i * h2) % 4294967296) AS m$i").mkString(", ")}
      FROM hh GROUP BY doc_id),
    bands AS (
      ${(0 until NumHashes / BandRows).map { b =>
        val ms = (1 to BandRows).map(r => s"m${b * BandRows + r}")
        s"SELECT doc_id, CAST($b AS BIGINT) AS band, " +
          s"md5(${ms.mkString(" || '|' || ")}) AS sig FROM mh"
      }.mkString("\n      UNION ALL\n      ")}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT id_a, id_b, count(*) AS c
      FROM cand
      JOIN sh a ON a.doc_id = id_a
      JOIN sh b ON b.doc_id = id_b AND a.sh = b.sh
      GROUP BY 1, 2),
    mh_pairs AS (
      SELECT id_a, id_b,
        round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
      FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8)"""

  val dedupMinhashLshSql: String = s"""
    WITH $minhashPairsCtesSql
    SELECT id_a, id_b, jaccard FROM mh_pairs ORDER BY id_a, id_b"""

  /** MinHash estimator accuracy audit — for every LSH candidate pair, the
    * signature-agreement similarity estimate (agreeing components / 16,
    * the unbiased MinHash estimator of Jaccard) next to the EXACT shingle
    * Jaccard, with the absolute error. This is the statistic that sizes
    * the signature (more hashes → tighter estimate) and the banding
    * (bands trade recall for candidate volume) — the dedup counterpart of
    * the ANN recall audits. Composes the memoized signature and shingle
    * frames; the only new work is one 16-term comparison per candidate
    * pair and the exact-intersection join the verifier already does.
    */
  def minhashAccuracy(s: SparkSession, dir: String): DataFrame = {
    val cand = minhashCandidatesOf(s, dir)
    val mh = minhashesOf(s, dir)
    val agreeExpr = (1 to NumHashes)
      .map(i => when(col(s"x.m$i") === col(s"y.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val ag = cand
      .join(mh.alias("x"), col("id_a") === col("x.doc_id"))
      .join(mh.alias("y"), col("id_b") === col("y.doc_id"))
      .select(col("id_a"), col("id_b"), agreeExpr.as("agree"))
    val sh = shinglesC(s, dir)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.alias("a")
      .join(cand, col("a.doc_id") === col("id_a"))
      .join(sh.alias("b"),
        col("b.doc_id") === col("id_b") && col("a.sh") === col("b.sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    ag.join(inter, Seq("id_a", "id_b"), "left")
      .join(sz.alias("sx"), col("id_a") === col("sx.doc_id"))
      .join(sz.alias("sy"), col("id_b") === col("sy.doc_id"))
      .withColumn("c0", coalesce(col("c"), lit(0L)))
      .withColumn("jraw", col("c0").cast("double") /
        (col("sx.n") + col("sy.n") - col("c0")).cast("double"))
      .withColumn("eraw", col("agree").cast("double") / lit(NumHashes.toDouble))
      .select(col("id_a"), col("id_b"), col("agree"),
        round(col("eraw"), 6).as("est_sim"),
        round(col("jraw"), 6).as("jaccard"),
        round(abs(col("eraw") - col("jraw")), 6).as("abs_err"))
      .orderBy("id_a", "id_b")
  }

  val minhashAccuracySql: String = s"""
    WITH $minhashPairsCtesSql,
    agree AS (
      SELECT id_a, id_b,
        ${(1 to NumHashes).map(i =>
          s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")}
          AS agree
      FROM cand JOIN mh x ON id_a = x.doc_id JOIN mh y ON id_b = y.doc_id),
    jac AS (
      SELECT id_a, id_b,
        CAST(coalesce(c, 0) AS DOUBLE) /
          CAST(x.n + y.n - coalesce(c, 0) AS DOUBLE) AS jraw
      FROM cand
      LEFT JOIN inter USING (id_a, id_b)
      JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id)
    SELECT a.id_a, a.id_b, CAST(agree AS BIGINT) AS agree,
      round(CAST(agree AS DOUBLE) / ${NumHashes.toDouble}, 6) AS est_sim,
      round(jraw, 6) AS jaccard,
      round(abs(CAST(agree AS DOUBLE) / ${NumHashes.toDouble} - jraw), 6)
        AS abs_err
    FROM agree a JOIN jac USING (id_a, id_b)
    ORDER BY id_a, id_b"""

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document + near-dup pairs within Hamming distance 3.
    *
    * Per-word bit contributions come from the word's md5 (nibble j/4, bit
    * 3 - j%4), weighted by the word's occurrence count; the signature bit is
    * the sign of the weighted sum. Candidate pairs must agree on one of the
    * four 16-bit signature quarters (the standard pigeonhole trick: any pair
    * within distance 3 shares a quarter), so candidate generation is again
    * an equi-join, not a cross product.
    */
  private def md5hex(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** md5(word) → 64 signed bit contributions (bit j = nibble j/4, position
    * 3−j%4; contribution = 2·bit−1) — the kernel twin of the oracle's `wb`
    * CTE. A pure function of the word, so it is computed executor-side
    * (memoized per partition); no vocabulary ever leaves the executors.
    */
  private def contribsOf(word: String): Array[Int] = {
    val h = md5hex(word)
    val out = new Array[Int](64)
    var j = 0
    while (j < 64) {
      val nib = Integer.parseInt(h.substring(j / 4, j / 4 + 1), 16)
      out(j) = (((nib >> (3 - j % 4)) & 1) * 2) - 1
      j += 1
    }
    out
  }

  /** Max per-partition contribution-memo entries: bounds executor memory on
    * an unbounded web-corpus vocabulary (past the cap, contributions are
    * recomputed — an md5 per word occurrence, still executor-local).
    */
  private val MemoCap = 1 << 20

  /** Per-document 64-bit SimHash signatures as 16-hex-char strings.
    *
    * Runs as a narrow per-partition kernel: each task memoizes
    * word → ±1 contribution vectors as it streams its documents (the
    * contribution is a pure function of md5(word), so no vocabulary is
    * collected or broadcast — the round-1 plan's driver-side vocabulary
    * collect is gone); each document needs one tight 64-wide accumulation
    * instead of a 64× exploded aggregation (9.6M intermediate rows at
    * sf0.1 — the original plan's bottleneck). Zero shuffles, zero driver
    * state: at 100 TB this is a pure map over the corpus scan.
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("t")).as[(Long, String)]
    docs.mapPartitions { it =>
      val memo = new java.util.HashMap[String, Array[Int]]()
      def contribs(w: String): Array[Int] = {
        var c = memo.get(w)
        if (c == null) {
          c = contribsOf(w)
          if (memo.size < MemoCap) memo.put(w, c)
        }
        c
      }
      it.map { case (id, t) =>
        val sums = new Array[Long](64)
        t.split(' ').foreach { w =>
          val c = contribs(w)
          var j = 0
          while (j < 64) { sums(j) += c(j); j += 1 }
        }
        val sb = new StringBuilder(16)
        var n = 0
        while (n < 16) {
          var v = 0; var r = 0
          while (r < 4) {
            if (sums(n * 4 + r) >= 0) v |= 1 << (3 - r)
            r += 1
          }
          sb.append("0123456789abcdef".charAt(v))
          n += 1
        }
        (id, sb.toString)
      }
    }.toDF("doc_id", "simhash")
  }

  def dedupSimhash(s: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame = {
    val sig = simhashSignatures(s, dir)
    // pairs sharing any 4-hex-char quarter, then exact Hamming ≤ max
    val quarters = sig
      .withColumn("q", explode(sequence(lit(0), lit(3))))
      .selectExpr("doc_id", "simhash", "q",
        "substring(simhash, q * 4 + 1, 4) as qv")
    val cand = quarters.alias("a")
      .join(quarters.alias("b"),
        col("a.q") === col("b.q") && col("a.qv") === col("b.qv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("a.simhash").as("sig_a"),
        col("b.doc_id").as("id_b"), col("b.simhash").as("sig_b"))
      .distinct()
    // Hamming as two 32-bit xor popcounts — a narrow projection, no
    // explode/re-aggregate of the candidate set, no per-row array literals
    def half(c: String, from: Int) =
      s"cast(conv(substring($c, $from, 8), 16, 10) as bigint)"
    val hamExpr =
      s"""cast(bit_count(${half("sig_a", 1)} ^ ${half("sig_b", 1)})
             + bit_count(${half("sig_a", 9)} ^ ${half("sig_b", 9)})
           as bigint) as hamming"""
    cand.selectExpr("id_a", "id_b", hamExpr)
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  val dedupSimhashSql: String = s"""
    WITH wc AS (
      SELECT doc_id, unnest(string_split($normSql, ' ')) AS w FROM documents),
    wcnt AS (SELECT doc_id, w, count(*) AS cnt FROM wc GROUP BY 1, 2),
    wb AS (
      SELECT w, j,
        ((instr('0123456789abcdef',
            substring(md5(w), (j // 4) + 1, 1)) - 1)
          >> (3 - (j % 4))) % 2 AS bit
      FROM (SELECT DISTINCT w FROM wcnt),
           (SELECT unnest(generate_series(0, 63)) AS j)),
    bits AS (
      SELECT doc_id, j,
        CASE WHEN sum(cnt * (bit * 2 - 1)) >= 0 THEN 1 ELSE 0 END AS b
      FROM wcnt JOIN wb USING (w) GROUP BY doc_id, j),
    nibs AS (
      SELECT doc_id, CAST(j // 4 AS BIGINT) AS nib,
             sum(b * (1 << (3 - (j % 4)))) AS v
      FROM bits GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
        string_agg(substring('0123456789abcdef', CAST(v AS INT) + 1, 1), ''
                   ORDER BY nib) AS simhash
      FROM nibs GROUP BY doc_id),
    quarters AS (
      SELECT doc_id, simhash, q, substring(simhash, q * 4 + 1, 4) AS qv
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS q)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sig_a,
                      b.doc_id AS id_b, b.simhash AS sig_b
      FROM quarters a JOIN quarters b
        ON a.q = b.q AND a.qv = b.qv AND a.doc_id < b.doc_id),
    ham AS (
      SELECT id_a, id_b,
        CAST(bit_count(xor(('0x' || substring(sig_a, 1, 8))::BIGINT,
                           ('0x' || substring(sig_b, 1, 8))::BIGINT))
           + bit_count(xor(('0x' || substring(sig_a, 9, 8))::BIGINT,
                           ('0x' || substring(sig_b, 9, 8))::BIGINT))
          AS BIGINT) AS hamming
      FROM cand)
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    ORDER BY id_a, id_b"""

  // ------------------------------------------------------- edit distance

  /** Prefix length for the edit-distance verifier: O(len²) DP cost is
    * bounded per pair, the standard practical cap.
    */
  private val LevPrefix = 256
  private val LevMax = 20

  /** Edit-distance near-dup verification over the SAME LSH band candidates
    * as the Jaccard path: `levenshtein` is an exact integer metric with
    * identical semantics in Spark and DuckDB, so the gate needs no float
    * rounding at all. Shingle-Jaccard misses transposition-heavy edits
    * that edit distance catches (and vice versa — character noise that
    * keeps shingles intact); running both verifiers over one candidate
    * set is the standard belt-and-braces dedup recipe.
    *
    * Scale: candidates come from the banded equi-join (never all pairs);
    * the DP cost is LevPrefix² per candidate pair, a constant.
    */
  def dedupLevenshtein(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, LevPrefix).as("pfx"))
    minhashCandidatesOf(s, dir)
      .join(p.select(col("doc_id").as("id_a"), col("pfx").as("pa")), "id_a")
      .join(p.select(col("doc_id").as("id_b"), col("pfx").as("pb")), "id_b")
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .filter(col("dist") <= LevMax)
      .select(col("id_a"), col("id_b"), col("dist").cast("bigint").as("dist"))
      .orderBy("id_a", "id_b")
  }

  val dedupLevenshteinSql: String = s"""
    WITH $minhashPairsCtesSql,
    p AS (SELECT doc_id, substring(text, 1, $LevPrefix) AS pfx
          FROM documents)
    SELECT id_a, id_b,
      CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
    FROM cand JOIN p a ON id_a = a.doc_id JOIN p b ON id_b = b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= $LevMax
    ORDER BY id_a, id_b"""

  // ------------------------------------------------------ incremental dedup

  /** Batch membership predicate for the incremental gate: every 5th doc
    * plays the "today's crawl" batch, the rest the persisted base corpus.
    */
  private val BatchMod = 5

  /** Incremental near-dedup — the operation a production pipeline runs
    * DAILY: dedup an arriving batch against the already-deduped base
    * corpus (whose MinHash signatures and band buckets are a persisted
    * index, not a recompute) and within itself, WITHOUT re-comparing
    * base-to-base. Per batch document: `dup_of_base` if any verified
    * (Jaccard ≥ 0.8) base partner exists — the existing corpus always
    * wins, regardless of id order — else `dup_in_batch` if a lower-id
    * batch partner exists, else `new`. `partner` is the smallest
    * qualifying id of the firing class.
    *
    * Scale shape: the gate composes the MEMOIZED verified pair frame
    * (shared with the other near-dup gates) and filters to pairs
    * touching the batch; at 100 TB the same classification runs off a
    * restricted candidate join — batch bands probing the base's
    * PERSISTED band buckets plus batch-batch buckets, so probe volume
    * is batch × bucket occupancy and base-base candidates are never
    * generated. The streaming signature maintainer
    * ([[graft.streaming.StreamMinhash]]) keeps the index current
    * between runs.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    def isBatch(c: org.apache.spark.sql.Column) = c % BatchMod === BatchMod - 1
    val pairs = minhashPairsOf(s, dir).select("id_a", "id_b")
    val part = pairs.select(col("id_a").as("x"), col("id_b").as("p"))
      .unionByName(pairs.select(col("id_b").as("x"), col("id_a").as("p")))
      .filter(isBatch(col("x")))
    val basep = part.filter(!isBatch(col("p")))
      .groupBy("x").agg(min("p").as("base_partner"))
    val batchp = part.filter(isBatch(col("p")) && col("p") < col("x"))
      .groupBy("x").agg(min("p").as("batch_partner"))
    Tables.documents(s, dir).select("doc_id")
      .filter(isBatch(col("doc_id")))
      .join(basep, col("doc_id") === basep("x"), "left").drop(basep("x"))
      .join(batchp, col("doc_id") === batchp("x"), "left").drop(batchp("x"))
      .select(col("doc_id"),
        when(col("base_partner").isNotNull, lit("dup_of_base"))
          .when(col("batch_partner").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("base_partner"), col("batch_partner")).as("partner"))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String = s"""
    WITH $minhashPairsCtesSql,
    prt AS (
      SELECT id_b AS x, id_a AS p FROM mh_pairs
      UNION ALL
      SELECT id_a AS x, id_b AS p FROM mh_pairs),
    bp AS (SELECT x, min(p) AS base_partner FROM prt
           WHERE x % $BatchMod = ${BatchMod - 1}
             AND p % $BatchMod <> ${BatchMod - 1}
           GROUP BY x),
    tp AS (SELECT x, min(p) AS batch_partner FROM prt
           WHERE x % $BatchMod = ${BatchMod - 1}
             AND p % $BatchMod = ${BatchMod - 1} AND p < x
           GROUP BY x)
    SELECT d.doc_id,
      CASE WHEN base_partner IS NOT NULL THEN 'dup_of_base'
           WHEN batch_partner IS NOT NULL THEN 'dup_in_batch'
           ELSE 'new' END AS status,
      coalesce(base_partner, batch_partner) AS partner
    FROM documents d
    LEFT JOIN bp ON d.doc_id = bp.x
    LEFT JOIN tp ON d.doc_id = tp.x
    WHERE d.doc_id % $BatchMod = ${BatchMod - 1}
    ORDER BY doc_id"""

  /** Shared-fingerprint threshold of the winnow-indexed incremental gate:
    * two independent selected fingerprints in common — one shared ≥ 7-word
    * run is guaranteed per fingerprint, so the bar is two distinct
    * overlapping regions (or one long one), which kills single-gram
    * coincidences without an extra verify join.
    */
  private val WinnowMinShared = 2

  /** Winnow-indexed incremental dedup — the same daily batch-vs-base
    * classification as [[dedupIncremental]], but the persisted index is
    * the winnowing fingerprint selection ([[TextOps.winnowSel]]) instead
    * of MinHash signatures + band buckets (§7 r10 candidate). At equal
    * guarantee the winnow index is SMALLER: expected 2/(w+1) of the gram
    * count ≈ 0.4·n_words/doc single values, versus 16 signature longs
    * PLUS band buckets per doc for MinHash — and probing is one equi-join
    * on the fingerprint value with a count-distinct ≥
    * [[WinnowMinShared]] cut, no banding or verify pass. The trade: the
    * threshold is a shared-RUN bar (any ≥ k+w−1 = 7-word copy fires),
    * not a Jaccard bar — winnow catches partial containment MinHash's
    * whole-document similarity misses, and conversely scattered
    * small-overlap pairs below 7 words never fire.
    *
    * Scale shape: batch fingerprints probe the base's persisted
    * fingerprint postings by equi-join; base-base pairs are never
    * generated (the `x` side is filtered to the batch before the join).
    */
  def dedupIncrementalWinnow(s: SparkSession, dir: String): DataFrame = {
    def isBatch(c: Column) = c % BatchMod === BatchMod - 1
    val sh = TextOps.winnowSel(s, dir).select("doc_id", "h").distinct()
    val pr = sh.alias("a")
      .filter(isBatch(col("a.doc_id")))
      .join(sh.alias("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("x"), col("b.doc_id").as("p"))
      .agg(count(lit(1)).as("n_sh"))
      .filter(col("n_sh") >= WinnowMinShared)
    val basep = pr.filter(!isBatch(col("p")))
      .groupBy("x").agg(min("p").as("base_partner"))
    val batchp = pr.filter(isBatch(col("p")) && col("p") < col("x"))
      .groupBy("x").agg(min("p").as("batch_partner"))
    Tables.documents(s, dir).select("doc_id")
      .filter(isBatch(col("doc_id")))
      .join(basep, col("doc_id") === basep("x"), "left").drop(basep("x"))
      .join(batchp, col("doc_id") === batchp("x"), "left").drop(batchp("x"))
      .select(col("doc_id"),
        when(col("base_partner").isNotNull, lit("dup_of_base"))
          .when(col("batch_partner").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("base_partner"), col("batch_partner")).as("partner"))
      .orderBy("doc_id")
  }

  val dedupIncrementalWinnowSql: String = s"""
    WITH ${TextOps.winnowSelCtesSql},
    sh AS (SELECT DISTINCT doc_id, h FROM sel),
    pr AS (SELECT a.doc_id AS x, b.doc_id AS p, count(*) AS n_sh
           FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
           WHERE a.doc_id % $BatchMod = ${BatchMod - 1}
           GROUP BY 1, 2
           HAVING count(*) >= $WinnowMinShared),
    bp AS (SELECT x, min(p) AS base_partner FROM pr
           WHERE p % $BatchMod <> ${BatchMod - 1} GROUP BY x),
    tp AS (SELECT x, min(p) AS batch_partner FROM pr
           WHERE p % $BatchMod = ${BatchMod - 1} AND p < x GROUP BY x)
    SELECT d.doc_id,
      CASE WHEN base_partner IS NOT NULL THEN 'dup_of_base'
           WHEN batch_partner IS NOT NULL THEN 'dup_in_batch'
           ELSE 'new' END AS status,
      coalesce(base_partner, batch_partner) AS partner
    FROM documents d
    LEFT JOIN bp ON d.doc_id = bp.x
    LEFT JOIN tp ON d.doc_id = tp.x
    WHERE d.doc_id % $BatchMod = ${BatchMod - 1}
    ORDER BY doc_id"""

  /** Per-shingle hash observations `(doc_id, h1, h2)` — the input of the
    * streaming signature maintainer, identical arithmetic to
    * [[minhashesOf]].
    */
  private[graft] def minhashObs(s: SparkSession, dir: String): DataFrame =
    shinglesC(s, dir).selectExpr("doc_id",
      "cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint) as h1",
      "cast(conv(substring(md5(sh), 9, 8), 16, 10) as bigint) as h2")

  private[graft] val numHashes: Int = NumHashes

  /** Oracle for the streaming signature gate: the signature frame CTEs up
    * to `mh`, read back as (doc_id, m1..m16).
    */
  val minhashSigsSql: String = s"""
    WITH $minhashPairsCtesSql
    SELECT doc_id, ${(1 to NumHashes).map(i => s"m$i").mkString(", ")}
    FROM mh ORDER BY doc_id"""

  /** Gate: train/val/test LEAKAGE audit — every verified near-dup pair
    * annotated with both members' split assignments and a leak flag
    * (splits differ ⇒ the same content sits on both sides of the
    * boundary; an eval metric computed against it is contaminated).
    * This is the audit a pipeline runs BETWEEN splitting and training:
    * the split ([[TrainPrep.splitCol]] — the exact corpus_split
    * definition, shared so there is one notion of membership) is
    * hash-based, so near-dup FAMILIES straddle it with probability
    * ≈ 1 − Σ f_s², and the flagged pairs are precisely the ones split
    * leakage papers say to drop from eval (or re-assign by cluster).
    *
    * Scale: composes the MEMOIZED verified pair frame (the LSH path —
    * candidates from band joins, never a cartesian) with two broadcast-
    * free id-keyed split joins; cost beyond the shared pair build is
    * O(pairs).
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val sp = Tables.documents(s, dir)
      .select(col("doc_id"), TrainPrep.splitCol.as("split"))
    minhashPairsOf(s, dir)
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")),
        "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leak"))
      .orderBy("id_a", "id_b")
  }

  val splitLeakageSql: String = s"""
    WITH $minhashPairsCtesSql,
    spl AS (SELECT doc_id, ${TrainPrep.SplitSql} AS split FROM documents)
    SELECT id_a, id_b, jaccard, a.split AS split_a, b.split AS split_b,
      a.split <> b.split AS leak
    FROM mh_pairs
    JOIN spl a ON a.doc_id = id_a
    JOIN spl b ON b.doc_id = id_b
    ORDER BY id_a, id_b"""

  // ------------------------------------------------------- LSH band tuning

  /** Every (bands, rows) factorization of the [[NumHashes]]-value
    * signature — the full tuning menu a 16-hash MinHash index offers.
    */
  private val LshConfigs =
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** Integer-exponent power as an explicit left-associated multiplication
    * chain — the SAME `expr` string evaluates on both engines, so the
    * doubles match bit-for-bit (`pow()` implementations are not
    * correctly-rounded and may differ across libms; a literal chain is).
    */
  private def mulChain(e: String, n: Int): String =
    if (n == 1) e else s"(${List.fill(n)(e).mkString(" * ")})"

  /** Gate: the (bands × rows) TUNING TABLE for the banded MinHash index —
    * per factorization of the 16-hash signature, the measured candidate
    * volume (the cost axis: every candidate pair is an exact-verify
    * probe) next to the analytic S-curve P(candidate | Jaccard = s) =
    * 1 − (1 − s^r)^b on a 9-point similarity grid (the recall axis).
    * This is the table an index owner reads to pick b and r for a target
    * near-dup threshold before re-hashing a 100 TB corpus — the
    * `dedup_minhash_lsh` gate ships (4, 4); the table shows what (2, 8)
    * or (8, 2) would trade.
    *
    * Scale: one pass builds the memoized signature frame (shared with
    * every other MinHash gate); each configuration's candidate count is
    * a band-keyed equi-self-join — the identical shuffle shape the index
    * itself uses, never an all-pairs comparison — and the analytic curve
    * is constant-folded arithmetic on a 45-row frame. One honest caveat:
    * the coarsest factorizations (r = 1, 2) have big buckets by design,
    * and MEASURING their candidate volume materializes exactly the
    * near-quadratic pair set the table exists to warn against. That is
    * affordable at audit scale; a 100 TB sweep would bound those two
    * cells from the bucket-size histogram instead (Σ n·(n−1)/2 over
    * [[lshBucketStats]]-style per-bucket counts — an upper bound that
    * ignores only cross-band dedup) and measure pairs only for the
    * plausible configurations.
    */
  def lshTuning(s: SparkSession, dir: String): DataFrame = {
    val mh = minhashesOf(s, dir)
    LshConfigs.map { case (b, r) =>
      val bandExprs = (0 until b).map { bi =>
        val ms = (1 to r).map(j => s"m${bi * r + j}")
        s"${bi}L, md5(concat_ws('|', ${ms.mkString(", ")}))"
      }
      val bands = mh.selectExpr("doc_id",
        s"stack($b, ${bandExprs.mkString(", ")}) as (band, sig)")
      val nCand = bands.alias("a")
        .join(bands.alias("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .agg(count(lit(1)).as("n_cand"))
      val sExpr = "(cast(k as double) / 10.0)"
      val pExpr =
        s"1.0 - ${mulChain(s"(1.0 - ${mulChain(sExpr, r)})", b)}"
      nCand
        .withColumn("k", explode(sequence(lit(1), lit(9))))
        .select(lit(b.toLong).as("b"), lit(r.toLong).as("r"),
          round(expr(sExpr), 6).as("s"),
          round(expr(pExpr), 6).as("p_collide"),
          col("n_cand"))
    }.reduce(_.unionByName(_)).orderBy("b", "s")
  }

  val lshTuningSql: String = {
    val configs = LshConfigs.map { case (b, r) =>
      val bandsSql = (0 until b).map { bi =>
        val ms = (1 to r).map(j => s"m${bi * r + j}")
        // single-value bands need an explicit VARCHAR cast (no '||' to
        // coerce the BIGINT); multi-value bands coerce via concatenation
        val sig = if (r == 1) s"md5(CAST(${ms.head} AS VARCHAR))"
          else s"md5(${ms.mkString(" || '|' || ")})"
        s"SELECT doc_id, CAST($bi AS BIGINT) AS band, $sig AS sig FROM mh"
      }.mkString("\n        UNION ALL\n        ")
      val sExpr = "(CAST(k AS DOUBLE) / 10.0)"
      val pExpr =
        s"1.0 - ${mulChain(s"(1.0 - ${mulChain(sExpr, r)})", b)}"
      s"""SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r,
        round($sExpr, 6) AS s, round($pExpr, 6) AS p_collide, n_cand
      FROM (SELECT count(*) AS n_cand FROM (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ($bandsSql) a
              JOIN ($bandsSql) b
                ON a.band = b.band AND a.sig = b.sig
                AND a.doc_id < b.doc_id)),
           (SELECT unnest(generate_series(1, 9)) AS k)"""
    }.mkString("\n    UNION ALL\n    ")
    s"""
    WITH $shinglesSql,
    hh AS (
      SELECT doc_id,
        ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
        ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
      FROM sh),
    mh AS (
      SELECT doc_id,
        ${(1 to NumHashes).map(i =>
          s"min((h1 + $i * h2) % 4294967296) AS m$i").mkString(", ")}
      FROM hh GROUP BY doc_id)
    $configs
    ORDER BY b, s"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_tuning" -> (lshTuning _),
    "split_leakage" -> (splitLeakage _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_winnow" -> (dedupIncrementalWinnow _),
    "dedup_exact" -> (dedupExact(_, _)),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard(_, _)),
    "dedup_minhash_lsh" -> (dedupMinhashLsh(_, _)),
    "dedup_levenshtein" -> (dedupLevenshtein _),
    "dedup_simhash" -> (dedupSimhash(_, _)),
    "minhash_accuracy" -> (minhashAccuracy _))

  val oracles: Map[String, String] = Map(
    "lsh_tuning" -> lshTuningSql,
    "split_leakage" -> splitLeakageSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_winnow" -> dedupIncrementalWinnowSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_levenshtein" -> dedupLevenshteinSql,
    "dedup_simhash" -> dedupSimhashSql,
    "minhash_accuracy" -> minhashAccuracySql)
}
