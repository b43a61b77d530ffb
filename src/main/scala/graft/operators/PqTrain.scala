package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained PQ codebooks via GROUPED k-means|| — closes the last
  * modulus-sampled codebook in the vector stack. `Similarity.annPq` slices
  * its per-subspace codebooks from the first rows of the corpus; a real PQ
  * index trains one codebook PER SUBSPACE (FAISS trains `PqM` independent
  * k-means problems). The naive port runs the seeder `PqM` times — `PqM`×
  * the corpus passes. This operator instead GROUPS the k-means||
  * oversampling by subspace id: each round is ONE corpus pass computing
  * every (vector, subspace) slice's D² to that subspace's current
  * candidates, one 8-row per-subspace cost aggregate (φ_m, joined back by
  * broadcast — never collected), and one independent-admission filter —
  * all `PqM` codebooks train simultaneously in the same fixed number of
  * passes, the job-count discipline that makes `Clustering`'s production
  * seeder usable at codebook scale.
  *
  * The seed-selection finish (weighted maxmin, [[CbK]] seeds per subspace)
  * is ALSO grouped: each of the `CbK − 1` selection rounds is a broadcast
  * join of the candidate set against the chosen seeds plus one
  * map-side-combining `max_by` per subspace — the whole trainer has NO
  * driver-side collect at all, improving on the full-vector path's
  * audited O(K log n) candidate collect.
  *
  * Cross-engine exactness: distances are integer arithmetic on the shared
  * quantized frame; admission draws come from the deterministic md5 stream
  * keyed by (vec_id, subspace, round); φ_m exceeds 2^53 but both engines
  * compute it as an exact BIGINT and round it to DOUBLE under the same
  * IEEE rule, and `ℓ·D²/φ` is evaluated in one fixed operation order — so
  * the sampled trajectory, the weights, the maxmin selection and the final
  * ADC ranking all replay bit-identically in SQL.
  *
  * Reference anchor: the vector stack extends the reference's bulk-load
  * analytics (`lib/LINZ/BdeUpload.pm` applies datasets it never indexes);
  * PQ training is the piece a 100 TB embedding corpus adds on top.
  */
object PqTrain extends graft.GateModule {

  /** Codes per subspace in the trained book (production: 256; the gate
    * keeps the oracle's unrolled maxmin chain short).
    */
  private[operators] val CbK = 4

  /** Oversampling rounds (fixed corpus passes, independent of [[CbK]]). */
  private val Rounds = 2

  /** Oversampling factor ℓ per subspace per round. */
  private val L = 8.0

  private def uExpr(r: Int): String =
    s"cast(conv(substring(md5(concat(cast(vec_id as string), ':', " +
      s"cast(m as string), ':pq:$r')), 1, 8), 16, 10) as bigint)"
  private def uSql(r: Int): String =
    s"('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':' || " +
      s"CAST(m AS VARCHAR) || ':pq:$r'), 1, 8))::BIGINT"

  /** Subspace slices of the quantized corpus: `(vec_id, m, sub, sn2)`. */
  private def subsOf(s: SparkSession, dir: String): DataFrame =
    Similarity.qdf(s, dir).select(col("vec_id"),
        posexplode(array((0 until Similarity.PqM).map(m =>
          expr(s"slice(q, ${m * Similarity.PqSub + 1}, ${Similarity.PqSub})"))
          : _*)).as(Seq("m", "sub")))
      .withColumn("sn2", expr("q_dot(sub, sub)"))

  private def dd(sub: String, csub: String, sn2: String,
                 cn2: String): org.apache.spark.sql.Column =
    col(sn2) - lit(2L) * expr(s"q_dot($sub, $csub)") + col(cn2)

  /** Grouped oversampling + cell weighting: candidate codewords
    * `(m, cid, csub, cn2, round, weight)` for every subspace at once.
    * Per round: one subspace-keyed broadcast join + map-side min for D²,
    * an 8-row φ aggregate joined back by broadcast, one admission filter.
    * The driver never sees data — not even the per-round scalar the
    * full-vector seeder reads (φ stays a plan here).
    */
  private[operators] def codebookCandidates(s: SparkSession,
                                            dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "pq_pll_cand", dir) {
      val subs = subsOf(s, dir)
      val first = Similarity.qdf(s, dir)
        .agg(min(col("vec_id"))).head().getLong(0) // scalar aggregate
      var cand = subs.filter(col("vec_id") === first)
        .select(col("m"), col("vec_id").as("cid"), col("sub").as("csub"),
          col("sn2").as("cn2"), lit(0L).as("round"))
        .persist()
      for (r <- 1 to Rounds) {
        val d = subs
          .join(broadcast(cand.select("m", "cid", "csub", "cn2")), "m")
          .withColumn("dv", dd("sub", "csub", "sn2", "cn2"))
          .groupBy(col("vec_id"), col("m")).agg(min(col("dv")).as("dmin"))
          .persist()
        val phi = d.groupBy(col("m"))
          .agg(sum(col("dmin")).as("phi"))
        // admit iff u < ℓ·D²/φ_m, one fixed IEEE order on both engines;
        // candidates have D² = 0 and can never re-enter
        val picked = d.join(broadcast(phi), "m")
          .filter(expr(uExpr(r)).cast("double") / lit(4294967296.0) <
            lit(L) * col("dmin").cast("double") / col("phi").cast("double"))
          .join(subs, Seq("vec_id", "m"))
          .select(col("m"), col("vec_id").as("cid"), col("sub").as("csub"),
            col("sn2").as("cn2"), lit(r.toLong).as("round"))
        val next = cand.unionByName(picked).persist()
        next.count(): Unit // materialize before releasing the inputs
        d.unpersist(); cand.unpersist()
        cand = next
      }
      // weight = population of each candidate's nearest-assignment cell,
      // per subspace — the statistic the maxmin finish needs
      val wasg = subs
        .join(broadcast(cand.select("m", "cid", "csub", "cn2")), "m")
        .withColumn("dv", dd("sub", "csub", "sn2", "cn2"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min_by(col("cid"), struct(col("dv"), col("cid"))).as("cid"))
        .groupBy(col("m"), col("cid")).agg(count(lit(1)).as("weight"))
      val res = cand.join(wasg, Seq("m", "cid"), "left")
        .select(col("m"), col("cid"), col("csub"), col("cn2"), col("round"),
          coalesce(col("weight"), lit(0L)).as("weight"))
        .persist()
      res.count(): Unit
      cand.unpersist(): Unit
      res
    }

  /** Weighted-maxmin seed selection, grouped by subspace: seed 0 is each
    * subspace's heaviest candidate; each later round picks, per subspace,
    * the unchosen candidate maximizing weight·D²(candidate, chosen) —
    * `(m, cid, csub, cn2, srank)`, [[CbK]] rows per subspace. Every round
    * is one broadcast join + one `max_by` per subspace; no collect.
    */
  private[operators] def codebook(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(s, "pq_pll_cb", dir) {
      val cw = codebookCandidates(s, dir)
      // the seeds frame is referenced on BOTH sides of every selection
      // round (distance source and anti-join filter) and re-unioned, so
      // without truncation the plan doubles per round (the ccPointerJump
      // disease); it is CbK·PqM rows — eager localCheckpoint is free
      var seeds = cw.groupBy(col("m"))
        .agg(max_by(struct(col("cid"), col("csub"), col("cn2")),
          struct(col("weight"), (-col("cid")).as("nc"))).as("s"))
        .select(col("m"), col("s.cid").as("cid"), col("s.csub").as("csub"),
          col("s.cn2").as("cn2"), lit(0L).as("srank"))
        .localCheckpoint(true)
      for (r <- 1 until CbK) {
        val sd = seeds.select(col("m").as("sm"), col("csub").as("ssub"),
          col("cn2").as("ssn2"))
        val t = cw.join(broadcast(sd), col("m") === col("sm"))
          .withColumn("dv", dd("csub", "ssub", "cn2", "ssn2"))
          .groupBy(col("m"), col("cid"))
          .agg(first(col("csub")).as("csub"), first(col("cn2")).as("cn2"),
            first(col("weight")).as("weight"), min(col("dv")).as("dmin"))
          .join(seeds.select(col("m"), col("cid")), Seq("m", "cid"),
            "left_anti")
        val next = t.groupBy(col("m"))
          .agg(max_by(struct(col("cid"), col("csub"), col("cn2")),
            struct((col("weight") * col("dmin")).as("wd"),
              (-col("cid")).as("nc"))).as("s"))
          .select(col("m"), col("s.cid").as("cid"), col("s.csub").as("csub"),
            col("s.cn2").as("cn2"), lit(r.toLong).as("srank"))
        seeds = seeds.unionByName(next).localCheckpoint(true)
      }
      seeds
    }

  /** Gate: the trained codebooks — selection rank, codeword id and cell
    * weight per subspace. The oracle replays oversampling, weighting and
    * the unrolled maxmin chain.
    */
  def pqCbKmpll(s: SparkSession, dir: String): DataFrame = {
    val wts = codebookCandidates(s, dir).select("m", "cid", "weight")
    codebook(s, dir).select("m", "cid", "srank")
      .join(wts, Seq("m", "cid"))
      .select(col("m"), col("srank"), col("cid"), col("weight"))
      .orderBy("m", "srank")
  }

  /** Gate: PQ ANN over the TRAINED codebooks — `Similarity.annPq`'s encode
    * → distance-table → ADC chain with the k-means||-trained book replacing
    * the first-rows slice. Codes are the winning codeword's vec_id.
    */
  def annPqKmpll(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val subs = subsOf(s, dir)
    val cb = codebook(s, dir).select(col("m"), col("cid").as("code"),
      col("csub"), col("cn2"))
    val dExpr = dd("sub", "csub", "sn2", "cn2")
    val enc = subs.join(broadcast(cb), "m")
      .withColumn("dv", dExpr)
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("dv"), col("code"))).as("code"))
    val pt = Similarity.probesOf(subs).join(broadcast(cb), "m")
      .select(col("vec_id").as("probe_id"), col("m"), col("code"),
        dExpr.as("dm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("vec_id"))
    enc.join(broadcast(pt), Seq("m", "code"))
      .filter(col("probe_id") =!= col("vec_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("dm")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc"))
      .orderBy("probe_id", "rank")
  }

  // ------------------------------------------------------------- oracles

  private val Sub = Similarity.PqSub

  private def ddSql(s: String, c: String): String =
    s"$s.sn2 - 2 * CAST(list_sum(list_transform(generate_series(1, $Sub), " +
      s"i -> $s.sub[i] * $c.csub[i])) AS BIGINT) + $c.cn2"

  /** dd over two CANDIDATE rows (both carry csub/cn2). */
  private def ddCandSql(a: String, b: String): String =
    s"$a.cn2 - 2 * CAST(list_sum(list_transform(generate_series(1, $Sub), " +
      s"i -> $a.csub[i] * $b.csub[i])) AS BIGINT) + $b.cn2"

  /** CTE chain: subspace slices, [[Rounds]] grouped sampling rounds,
    * weights, and the unrolled grouped maxmin ending in codebook
    * `cb(m, cid, csub, cn2, srank)` and weighted candidates
    * `cw(m, cid, csub, cn2, weight)`.
    */
  private val trainCtesSql: String = {
    val sampling = (1 to Rounds).map { r =>
      val prev = s"pc${r - 1}"
      s"""
    pd$r AS MATERIALIZED (
      SELECT s.vec_id, s.m, min(${ddSql("s", "c")}) AS dmin
      FROM ssn s JOIN $prev c USING (m) GROUP BY 1, 2),
    pphi$r AS (SELECT m, CAST(sum(dmin) AS BIGINT) AS phi
               FROM pd$r GROUP BY m),
    psel$r AS (
      SELECT vec_id, m FROM pd$r JOIN pphi$r USING (m)
      WHERE CAST(${uSql(r)} AS DOUBLE) / 4294967296.0 <
        $L * CAST(dmin AS DOUBLE) / CAST(phi AS DOUBLE)),
    pc$r AS MATERIALIZED (
      SELECT * FROM $prev UNION ALL
      SELECT m, vec_id AS cid, sub AS csub, sn2 AS cn2,
        CAST($r AS BIGINT) AS round
      FROM ssn JOIN psel$r USING (vec_id, m))"""
    }.mkString(",")
    val maxmin = (1 until CbK).map { r =>
      val chosen = (0 until r).map(i => s"SELECT m, cid, csub, cn2 FROM k$i")
        .mkString(" UNION ALL ")
      s"""
    ch$r AS MATERIALIZED ($chosen),
    t$r AS MATERIALIZED (
      SELECT cw.m, cw.cid, cw.csub, cw.cn2, cw.weight,
        min(${ddCandSql("cw", "sd")}) AS dmin
      FROM cw JOIN ch$r sd ON cw.m = sd.m
      WHERE NOT EXISTS (SELECT 1 FROM ch$r x
                        WHERE x.m = cw.m AND x.cid = cw.cid)
      GROUP BY 1, 2, 3, 4, 5),
    k$r AS MATERIALIZED (
      SELECT m, cid, csub, cn2 FROM (
        SELECT *, row_number() OVER (PARTITION BY m
          ORDER BY weight * dmin DESC, cid) AS rn
        FROM t$r) WHERE rn = 1)"""
    }.mkString(",")
    val cbSel = (0 until CbK)
      .map(i => s"SELECT m, cid, csub, cn2, CAST($i AS BIGINT) AS srank FROM k$i")
      .mkString(" UNION ALL ")
    s"""${Similarity.QuantSql},
    ms AS (SELECT unnest(generate_series(0, ${Similarity.PqM - 1})) AS m),
    subs AS (
      SELECT vec_id, m,
        list_slice(q, m * $Sub + 1, m * $Sub + $Sub) AS sub
      FROM qn, ms),
    ssn AS MATERIALIZED (
      SELECT vec_id, m, sub,
        CAST(list_sum(list_transform(sub, x -> x * x)) AS BIGINT) AS sn2
      FROM subs),
    pc0 AS (
      SELECT m, vec_id AS cid, sub AS csub, sn2 AS cn2,
        CAST(0 AS BIGINT) AS round
      FROM ssn WHERE vec_id = (SELECT min(vec_id) FROM qn)),
    $sampling,
    wasg AS (
      SELECT m, cid FROM (
        SELECT s.m, c.cid,
          row_number() OVER (PARTITION BY s.vec_id, s.m
            ORDER BY ${ddSql("s", "c")}, c.cid) AS rn
        FROM ssn s JOIN pc$Rounds c USING (m)) WHERE rn = 1),
    wts AS (SELECT m, cid, count(*) AS weight FROM wasg GROUP BY 1, 2),
    cw AS MATERIALIZED (
      SELECT pc.m, pc.cid, pc.csub, pc.cn2, coalesce(weight, 0) AS weight
      FROM pc$Rounds pc LEFT JOIN wts USING (m, cid)),
    k0 AS MATERIALIZED (
      SELECT m, cid, csub, cn2 FROM (
        SELECT *, row_number() OVER (PARTITION BY m
          ORDER BY weight DESC, cid) AS rn
        FROM cw) WHERE rn = 1),
    $maxmin,
    cb AS MATERIALIZED ($cbSel)"""
  }

  val pqCbKmpllSql: String = s"""
    WITH $trainCtesSql
    SELECT m, srank, cid, weight
    FROM cb JOIN cw USING (m, cid)
    ORDER BY m, srank"""

  def annPqKmpllSql(k: Int = 5): String = s"""
    WITH $trainCtesSql,
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.cid AS code,
          row_number() OVER (PARTITION BY s.vec_id, s.m
            ORDER BY ${ddSql("s", "c")}, c.cid) AS rn
        FROM ssn s JOIN cb c USING (m)) WHERE rn = 1),
    pt AS (
      SELECT s.vec_id AS probe_id, s.m, c.cid AS code,
        ${ddSql("s", "c")} AS dm
      FROM ssn s JOIN cb c ON s.m = c.m
      WHERE s.vec_id % 50 = 0 AND s.vec_id < ${Similarity.ProbeIdBound}),
    adc AS (
      SELECT probe_id, e.vec_id, CAST(sum(dm) AS BIGINT) AS adc
      FROM enc e JOIN pt ON e.m = pt.m AND e.code = pt.code
      WHERE probe_id <> e.vec_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT probe_id, vec_id, adc,
        row_number() OVER (PARTITION BY probe_id ORDER BY adc, vec_id) AS rank
      FROM adc)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id, adc
    FROM ranked WHERE rank <= $k ORDER BY probe_id, rank"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pq_cb_kmpll" -> (pqCbKmpll _),
    "ann_pq_kmpll" -> (annPqKmpll(_, _)))

  val oracles: Map[String, String] = Map(
    "pq_cb_kmpll" -> pqCbKmpllSql,
    "ann_pq_kmpll" -> annPqKmpllSql())
}
