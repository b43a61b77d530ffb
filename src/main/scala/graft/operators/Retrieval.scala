package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: a lexical ranking and a vector ranking fused by
  * Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009 —
  * `score = Σ_lists 1/(k + rank)`, k = 60), the standard first-stage
  * retriever of RAG / retrieval-augmented curation pipelines: lexical
  * recall catches exact-term matches embeddings smear, vector recall
  * catches paraphrases lexical match misses, and RRF needs no score
  * calibration between the two (ranks only).
  *
  * Query-by-example over the shared doc/vec id domain: each probe
  * document retrieves by (a) exact cosine top-k over the embedding
  * corpus ([[Similarity.annTopk]] — the brute-force baseline; the LSH /
  * IVF / PQ / HNSW paths swap in transparently at scale since all emit
  * the same (probe, rank) shape) and (b) shared distinct 3-gram shingle
  * count with every other document ([[Dedup.shinglesOf]] — the
  * containment shape: probe shingles broadcast as a filtered plan, the
  * corpus side shuffles on the shingle key, counts rank by
  * (shared desc, id)). The fusion is a full-outer join of the two ≤ k
  * lists on (probe, candidate) — both sides bounded at k·probes rows —
  * and the fused top-k ranks by the exact double `1/(60+r_v) +
  * 1/(60+r_l)` (two correctly-rounded divisions summed in fixed order,
  * bit-identical in DuckDB). A rank of 0 in the output marks "not in
  * that list".
  */
object Retrieval extends graft.GateModule {

  private val K = 10
  private val RrfK = 60

  /** Fixed lexical probe cap — the doc-side twin of
    * [[Similarity.ProbeCap]]: keeps the doc_id 1-in-50 stratification but
    * bounds the probe count at 128 (above the sf0.1 gate corpus's 100
    * probes, so the gate hash is unchanged there), making the
    * shingle-share pass O(cap × postings) instead of corpus²/50 on
    * scaled corpora (ScaleUp's replica stride is ≡ 0 mod 50, so the id
    * bound keeps exactly the base corpus's stratified sample).
    */
  private[graft] val DocProbeCap = 128
  private[graft] val DocProbeIdBound: Long = 50L * DocProbeCap

  def hybridRrf(s: SparkSession, dir: String): DataFrame =
    fuse(s, dir, Similarity.annTopk(s, dir, K))

  /** The production-path variant: the vector list comes from the
    * hyperplane-bucketed LSH index instead of the exact scan — the swap a
    * deployment makes when the corpus outgrows brute force (every ANN
    * path emits the same (probe, rank) shape, so the fusion is
    * unchanged). The recall cost of the swap is measured at the FUSED
    * level by the spec: fused-list overlap vs [[hybridRrf]], the
    * statistic that tells a deployment whether the index hurts the
    * retriever it actually serves.
    */
  def hybridRrfAnn(s: SparkSession, dir: String): DataFrame =
    fuse(s, dir, Similarity.annLsh(s, dir, K))

  /** Lexical top-k + RRF fusion over any `(probe_id, rank, vec_id)`
    * vector list.
    */
  private def fuse(s: SparkSession, dir: String,
                   vecList: DataFrame): DataFrame = {
    val vec = vecList
      .select(col("probe_id"), col("vec_id").as("cand"),
        col("rank").as("vrank"))
    val sh = Dedup.shinglesOf(s, dir)
    // same loud emptiness guard as Similarity.probesOf: a nonempty
    // corpus with offset/sparse ids must FAIL the job, not fuse over
    // an empty probe set. The assert lives in a FILTER over the
    // cross-joined 1-row aggregate — a dropped column is ColumnPruned
    // into dead code (review finding, r14); a filter must evaluate.
    val pcond = col("doc_id") % 50 === 0 && col("doc_id") < DocProbeIdBound
    val guard = sh.agg(count(lit(1)).as("n_all"),
        count(when(pcond, 1)).as("n_probe"))
      .select(coalesce(
        assert_true(col("n_probe") > 0 || col("n_all") === 0,
          lit("fuse: nonempty corpus produced an EMPTY probe set — ids " +
            "are offset/sparse vs the mod-50 stratification; re-key the " +
            "corpus or widen DocProbeIdBound")).cast("long"),
        lit(0L)).as("__probe_g0"))
    val psh = sh.filter(pcond)
      .select(col("doc_id").as("probe_id"), col("sh"))
      .crossJoin(broadcast(guard))
      .filter(col("__probe_g0") === 0L)
      .drop("__probe_g0")
    val shared = sh.join(broadcast(psh), "sh")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id").as("cand"))
      .agg(count(lit(1)).as("n_shared"))
    val lw = Window.partitionBy(col("probe_id"))
      .orderBy(col("n_shared").desc, col("cand"))
    val lex = shared.withColumn("lrank", row_number().over(lw))
      .filter(col("lrank") <= K)
      .select(col("probe_id"), col("cand"), col("lrank"))
    val fused = vec.join(lex, Seq("probe_id", "cand"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("vrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("lrank")), lit(0.0)))
    val fw = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf").desc, col("cand"))
    fused.withColumn("rank", row_number().over(fw))
      .filter(col("rank") <= K)
      .select(col("probe_id"), col("rank"), col("cand"),
        coalesce(col("vrank"), lit(0)).as("vrank"),
        coalesce(col("lrank"), lit(0)).as("lrank"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy("probe_id", "rank")
  }

  val hybridRrfSql: String = fuseSql(Similarity.annTopkSql(K))

  lazy val hybridRrfAnnSql: String = fuseSql(Similarity.annLshSql(K))

  private def fuseSql(vecSql: String): String = s"""
    WITH vec AS (
      SELECT probe_id, vec_id AS cand, rank AS vrank
      FROM ($vecSql)),
    ${Dedup.shinglesSql.trim},
    psh AS (SELECT doc_id AS probe_id, sh FROM sh
            WHERE doc_id % 50 = 0 AND doc_id < $DocProbeIdBound),
    shared AS (
      SELECT p.probe_id, s.doc_id AS cand, count(*) AS n_shared
      FROM sh s JOIN psh p USING (sh)
      WHERE s.doc_id <> p.probe_id
      GROUP BY 1, 2),
    lex AS (
      SELECT probe_id, cand, lrank FROM (
        SELECT probe_id, cand,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY n_shared DESC, cand) AS lrank
        FROM shared)
      WHERE lrank <= $K),
    fused AS (
      SELECT coalesce(v.probe_id, l.probe_id) AS probe_id,
        coalesce(v.cand, l.cand) AS cand, v.vrank, l.lrank,
        coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + v.vrank), 0.0)
          + coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + l.lrank), 0.0) AS rrf
      FROM vec v FULL OUTER JOIN lex l
        ON v.probe_id = l.probe_id AND v.cand = l.cand),
    ranked AS (
      SELECT probe_id, cand, vrank, lrank, rrf,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY rrf DESC, cand) AS rank
      FROM fused)
    SELECT probe_id, CAST(rank AS INT) AS rank, cand,
      coalesce(vrank, 0) AS vrank, coalesce(lrank, 0) AS lrank,
      round(rrf, 6) AS rrf
    FROM ranked WHERE rank <= $K ORDER BY probe_id, rank"""

  // ------------------------------------------------ MMR diversification

  private val MmrKeep = 5
  private val MmrLambda = 0.5

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998) over the fused retrieval list: greedily keep the candidate
    * maximizing `λ·rel − (1−λ)·max_{s∈S} sim(c, s)` — relevance traded
    * against redundancy with what's already selected — the standard
    * diversification pass between first-stage retrieval and an LLM
    * context window (near-duplicate passages waste the context budget).
    *
    * Everything is bounded per probe: the candidate set is the fused
    * top-k (≤ 10), the pairwise similarity frame is ≤ k² rows per probe
    * (exact integer-quantized cosine via q_dot — never the raw corpus),
    * and each of the 4 greedy steps is one join + one per-probe window
    * over ≤ k rows, eagerly materialized so the step chain cannot
    * re-evaluate (the seed-loop discipline). rel is the fused gate's
    * own 6-dp-rounded RRF score and every arithmetic step is
    * fixed-order IEEE, so DuckDB replays the greedy walk bit-for-bit.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = hybridRrf(s, dir)
      .select(col("probe_id"), col("cand"), col("rrf"))
      .localCheckpoint(true)
    val qn = Similarity.qdf(s, dir)
    val sims = fused.alias("a")
      .join(fused.alias("b"),
        col("a.probe_id") === col("b.probe_id") &&
          col("a.cand") =!= col("b.cand"))
      .select(col("a.probe_id").as("probe_id"), col("a.cand").as("ca"),
        col("b.cand").as("cb"))
      .join(qn.select(col("vec_id").as("ca"), col("q").as("qa"),
        col("n2").as("na")), "ca")
      .join(qn.select(col("vec_id").as("cb"), col("q").as("qb"),
        col("n2").as("nb")), "cb")
      .withColumn("dot", expr("q_dot(qa, qb)"))
      .select(col("probe_id"), col("ca"), col("cb"),
        Similarity.cosCol(col("dot"), col("na"), col("nb")).as("sim"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("mmr").desc, col("cand"))
    var picked = fused
      .withColumn("mmr", lit(MmrLambda) * col("rrf"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("rrf").desc, col("cand"))))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("cand"), col("mmr"),
        lit(1).as("step"))
      .localCheckpoint(true)
    var all = picked
    for (k <- 2 to MmrKeep) {
      val selSet = all.select(col("probe_id"), col("cand"))
      val remaining = fused.join(selSet, Seq("probe_id", "cand"),
        "left_anti")
      val scored = remaining
        .join(selSet.select(col("probe_id"), col("cand").as("cb")),
          "probe_id")
        .join(sims.select(col("probe_id"), col("ca").as("cand"),
          col("cb"), col("sim")), Seq("probe_id", "cand", "cb"))
        .groupBy(col("probe_id"), col("cand"))
        .agg(first(col("rrf")).as("rrf"), max(col("sim")).as("ms"))
        .withColumn("mmr",
          lit(MmrLambda) * col("rrf") - lit(1 - MmrLambda) * col("ms"))
      picked = scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("probe_id"), col("cand"), col("mmr"),
          lit(k).as("step"))
        .localCheckpoint(true)
      all = all.unionByName(picked).localCheckpoint(true)
    }
    all.select(col("probe_id"), col("step"), col("cand"),
        round(col("mmr"), 6).as("mmr"))
      .orderBy("probe_id", "step")
  }

  lazy val mmrRerankSql: String = {
    val lam = s"CAST($MmrLambda AS DOUBLE)"
    val lam1 = s"CAST(${1 - MmrLambda} AS DOUBLE)"
    def step(k: Int): String = s"""
    c$k AS (
      SELECT f.probe_id, f.cand, f.rrf, max(m.sim) AS ms
      FROM fused f
      JOIN sel${k - 1} s ON s.probe_id = f.probe_id
      JOIN sims m ON m.probe_id = f.probe_id AND m.ca = f.cand
        AND m.cb = s.cand
      WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
        WHERE x.probe_id = f.probe_id AND x.cand = f.cand)
      GROUP BY 1, 2, 3),
    s$k AS MATERIALIZED (
      SELECT probe_id, cand, mmr, CAST($k AS INT) AS step FROM (
        SELECT probe_id, cand, $lam * rrf - $lam1 * ms AS mmr,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY $lam * rrf - $lam1 * ms DESC, cand) AS rn
        FROM c$k) WHERE rn = 1),
    sel$k AS (SELECT probe_id, cand FROM sel${k - 1}
      UNION ALL SELECT probe_id, cand FROM s$k)"""
    s"""
    WITH fused AS MATERIALIZED (
      SELECT probe_id, cand, rrf FROM ($hybridRrfSql)),
    ${Similarity.QuantSql.trim},
    sims0 AS MATERIALIZED (
      SELECT a.probe_id, a.cand AS ca, b.cand AS cb, x.n2 AS na,
        y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM fused a JOIN fused b
        ON a.probe_id = b.probe_id AND a.cand <> b.cand
      JOIN qn x ON x.vec_id = a.cand JOIN qn y ON y.vec_id = b.cand),
    sims AS (SELECT probe_id, ca, cb, ${Similarity.PairCosSql} AS sim
             FROM sims0),
    s1 AS MATERIALIZED (
      SELECT probe_id, cand, $lam * rrf AS mmr, CAST(1 AS INT) AS step
      FROM (SELECT probe_id, cand, rrf,
              row_number() OVER (PARTITION BY probe_id
                ORDER BY rrf DESC, cand) AS rn
            FROM fused) WHERE rn = 1),
    sel1 AS (SELECT probe_id, cand FROM s1),
    ${(2 to MmrKeep).map(step).map(_.trim).mkString(",\n    ")}
    SELECT probe_id, step, cand, round(mmr, 6) AS mmr
    FROM (SELECT * FROM s1
      ${(2 to MmrKeep).map(k => s"UNION ALL SELECT * FROM s$k")
        .mkString("\n      ")})
    ORDER BY probe_id, step"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hybrid_rrf" -> (hybridRrf _),
    "hybrid_rrf_ann" -> (hybridRrfAnn _),
    "mmr_rerank" -> (mmrRerank _))

  val oracles: Map[String, String] = Map(
    "hybrid_rrf" -> hybridRrfSql,
    "hybrid_rrf_ann" -> hybridRrfAnnSql,
    "mmr_rerank" -> mmrRerankSql)
}
