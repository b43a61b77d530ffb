package graft.operators

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table: embedding-cosine near-dup
  * pairs (banded random-hyperplane LSH + exact verify), brute-force cosine
  * top-k, single-table LSH ANN and IVF ANN.
  *
  * Fully distributed: bucket / band / cell assignment are column
  * expressions evaluated executor-side, candidate generation is an
  * equi-join on the bucket key, and every pairwise score runs through the
  * native `q_dot` Catalyst expression (whole-stage codegen, see
  * [[graft.functions.QDot]]). Nothing is ever collected to the driver; the
  * only broadcast sides are the probe set and the centroid set — both
  * bounded small by construction, exactly like any broadcast-join dim.
  *
  * Cross-engine exactness: float sums are order-dependent, so every vector
  * is first quantized to integers (q = floor(x·10^7 + 0.5)); dot products
  * and norms are then exact integer sums (≤ 64·(5·10^6)² ≈ 1.6·10^15 < 2^53,
  * so even the double conversion is exact), and cosine = dot/(√na·√nb) is a
  * deterministic IEEE expression that matches DuckDB bit-for-bit.
  *
  * Top-k ranking uses a `row_number() <= k` window, which Spark executes
  * with a map-side WindowGroupLimit (each task keeps only its local top-k
  * per probe before the shuffle), so the exchange carries O(k·probes) rows
  * per task, not the full scored set.
  */
object Similarity extends graft.GateModule {

  /** Embedding width of the harness tables. */
  val Dim = 64

  private[operators] val QvecSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT))"

  /** Spark twin of [[QvecSql]]: float→double is exact, ×10^7 and floor are
    * deterministic IEEE, the result fits a Long.
    */
  private val QvecExpr =
    "transform(embedding, x -> cast(floor(cast(x as double) * 10000000 + 0.5) as bigint))"

  /** Quantized corpus: `vec_id`, `q` (array<bigint>), `n2` (Σq², via the
    * native q_dot expression — no higher-order lambda in the per-row
    * norm). Memoized per (session, dir): every vector query references
    * this frame in several plan subtrees (bucket assignment, probe side,
    * both scoring sides), and all five share it across the bench — the
    * production analog is a materialized quantized+normed projection of
    * the embedding store.
    */
  private[operators] def qdf(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.Memo.cachedLeaf(s, "sim_qvecs", dir) {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(QvecExpr).as("q"))
        .withColumn("n2", expr("q_dot(q, q)"))
    }
  }

  /** Fixed probe-set size ceiling for every recall/tuning audit in the
    * vector family (`ann_*`, `ivf_recall`, `pq_recall`, `hnsw_recall`,
    * `embed_mrl`, `ivf_nprobe_sweep`). The probe set keeps the 1-in-50
    * stratification but is CAPPED at [[ProbeCap]] probes via an id bound
    * ([[ProbeIdBound]]), so the exact-baseline side costs O(ProbeCap ×
    * corpus) — linear in the corpus — instead of corpus²/50. The cap is
    * chosen above the sf0.1 gate corpus's probe count (40 of 2000
    * vectors), so every audit-family gate hash is unchanged there; on a
    * 30× decorrelated copy the cap binds (40 probes, not 1200 —
    * ScaleUp's replica key stride is ≡ 0 mod 50, so capping by id keeps
    * exactly the base corpus's stratified sample).
    */
  private[graft] val ProbeCap = 64
  private[graft] val ProbeIdBound: Long = 50L * ProbeCap

  /** The probe set is a FILTER of the corpus (vec_id ≡ 0 mod 50, capped
    * at [[ProbeCap]] probes by [[ProbeIdBound]]), kept as a DataFrame so
    * `broadcast()` ships the filtered plan — never a driver collect.
    *
    * LOUD on emptiness: the id bound assumes dense zero-based ids. On a
    * corpus with offset/sparse ids the filter would return an EMPTY
    * probe set and every recall audit would trivially "match" on
    * emptiness — contrary to the fail-loudly discipline. The guard
    * lives in a FILTER predicate over the cross-joined 1-row aggregate
    * (`__probe_g0 === 0`, where the column is `coalesce(assert, 0)`):
    * a filter must evaluate no matter what the output projects, so
    * neither ColumnPruning (which killed the r13 dropped-column
    * variant — dead code, review finding r14) nor a column-less
    * `count()` can elide the assertion; the broadcast guard side
    * materializes (and throws) even when the probe side is empty.
    */
  private[graft] def probesOf(df: DataFrame): DataFrame = {
    val pcond = col("vec_id") % 50 === 0 && col("vec_id") < ProbeIdBound
    val guard = df.agg(count(lit(1)).as("n_all"),
        count(when(pcond, 1)).as("n_probe"))
      .select(coalesce(
        assert_true(col("n_probe") > 0 || col("n_all") === 0,
          lit("probesOf: nonempty corpus produced an EMPTY probe set — " +
            "ids are offset/sparse vs the mod-50 stratification; re-key " +
            "the corpus or widen ProbeIdBound")).cast("long"),
        lit(0L)).as("__probe_g0"))
    df.filter(pcond).crossJoin(broadcast(guard))
      .filter(col("__probe_g0") === 0L)
      .drop("__probe_g0")
  }

  /** Shared oracle prelude: quantized vectors + integer norms. DuckDB's
    * list_sum returns HUGEINT; cast back to BIGINT (values fit in 2^53).
    */
  private[operators] val QuantSql = s"""
    e AS (SELECT vec_id, $QvecSql AS q FROM embeddings),
    qn AS (SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
           FROM e)"""

  private[operators] val PairCosSql =
    "CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"

  /** `dot/(√na·√nb)` with the exact same operation order as [[PairCosSql]]
    * so the IEEE result matches DuckDB bit-for-bit.
    */
  private[operators] def cosCol(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  // ------------------------------------------------- random-hyperplane LSH

  private[operators] val NumPlanes = 8   // single-bucket ANN path
  private val DedupBands = 4  // banded near-dup path: 4 bands × derived width

  /** Derived-signature-width rule for the banded near-dup family — the
    * r15 `embed_width_sweep` measurement applied: a FIXED planes-per-band
    * width makes bucket occupancy (and with it candidate volume per
    * vector) grow linearly with the corpus — Θ(n²/2^w) pair generation,
    * measured super-linear at 10× on the fixed w=4 of r15. The width is
    * now derived from the corpus COUNT: the smallest
    * w ∈ [[[MinBandPlanes]], [[MaxBandPlanes]]] with
    * ⌈n / [[TargetBucket]]⌉ ≤ 2^w, so expected occupancy stays ≤
    * [[TargetBucket]] and candidate volume stays ~linear in n (the
    * measured basis: BandPlanes ≈ log₂(n/bucket), 150× candidate
    * reduction at w=12 on the sweep corpus). Pure integer arithmetic on
    * both engines — the oracle recomputes the identical w from
    * `count(*)` via CASE arms generated from the SAME ladder. At the
    * gate corpora (500 and 2000 vectors) the derived width is 4, so
    * every r15 gate hash is unchanged (spec-pinned).
    */
  private[graft] val TargetBucket = 128L
  private[graft] val MinBandPlanes = 4
  private[graft] val MaxBandPlanes = 12

  /** Loud occupancy ceiling at the derived width: 64× the target bucket
    * absorbs real LSH skew (the gate corpus peaks ~3× target) while a
    * mis-derived width — the failure class this guards — overshoots it
    * immediately (a width stuck 4 bits narrow means 16× the average
    * occupancy on EVERY bucket, and skewed peaks far past 64×).
    */
  private[graft] val OccBound = 64L * TargetBucket

  /** The smallest width in the ladder whose bucket count covers
    * ⌈n/target⌉ — see [[TargetBucket]]. Integer-exact (no log2 float
    * hazard at the powers of two).
    */
  private[graft] def widthFor(n: Long): Int = {
    val nb = (n + TargetBucket - 1) / TargetBucket
    (MinBandPlanes to MaxBandPlanes).find(w => nb <= (1L << w))
      .getOrElse(MaxBandPlanes)
  }

  private def md5hex(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** ±1 hyperplane weights, derived from md5 exactly as the oracle SQL
    * derives them (`md5(h || ':' || i)` first-nibble parity). Pure
    * constants (16×64 ints) folded into literal arrays — the projection is
    * `q_dot(q, <literal array>)`, evaluated executor-side in codegen.
    */
  private val planeWeightCache =
    new scala.collection.concurrent.TrieMap[Int, Seq[Int]]
  private def planeWeights(h: Int): Seq[Int] =
    planeWeightCache.getOrElseUpdate(h,
      (1 to Dim).map { i =>
        if (Integer.parseInt(md5hex(s"$h:$i").substring(0, 1), 16) % 2 == 0) 1
        else -1
      })

  /** Projection of `q` onto plane `h` as a native-codegen dot product. */
  private def planeCol(h: Int): Column =
    expr(s"q_dot(q, array(${planeWeights(h).map(w => s"${w}L").mkString(",")}))")

  /** Single LSH bucket: sign bits of the first `n` plane projections. */
  private def bucketCol(n: Int): Column =
    (0 until n).map(h => when(planeCol(h) >= 0, lit(1L << h)).otherwise(0L))
      .reduce(_ + _)

  /** Per-band `w`-bit signature for the banded near-dup path (band `b`
    * reads planes `b·w … b·w+w−1`, so at the derived w=4 the plane
    * layout — and every gate hash — matches the r15 fixed-width family).
    */
  private def bandSigCol(b: Int, w: Int): Column =
    (0 until w)
      .map(r => when(planeCol(b * w + r) >= 0, lit(1L << r)).otherwise(0L))
      .reduce(_ + _)

  /** Memoized GUARDED band frame `(vec_id, band, sig)` of the banded
    * near-dup family at the corpus-derived signature width — ONE
    * definition for candidate generation ([[dupPairsScored]]) and the
    * asymmetric eval-probe join ([[decontaminateSemantic]]). The corpus
    * count is an O(1) driver scalar (parquet metadata — the documented
    * `Bpe` feedback pattern), and a FILTER-predicate occupancy assert
    * rides the frame (the `probesOf` idiom: a filter must evaluate, so
    * neither pruning nor a column-less count can elide it) — a width
    * that stops covering the corpus fails LOUDLY, not quadratically.
    */
  private[graft] def dupBandsOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "emb_dup_bands", dir) {
      val n = Tables.embeddings(s, dir).count()
      val w = widthFor(n)
      val qn = qdf(s, dir)
      val sigs = (0 until DedupBands).map(b => bandSigCol(b, w))
      val bands = qn.select(col("vec_id"),
        posexplode(array(sigs: _*)).as(Seq("band", "sig")))
      val guard = bands.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("bn"))
        .agg(max(col("bn")).as("max_occ"))
        .select(coalesce(
          assert_true(col("max_occ").isNull || col("max_occ") <= OccBound,
            lit(s"dupBandsOf: LSH bucket occupancy exceeds $OccBound at " +
              s"the derived signature width $w — the widthFor ladder no " +
              "longer covers this corpus; raise MaxBandPlanes or lower " +
              "TargetBucket")).cast("long"),
          lit(0L)).as("__occ_g0"))
      bands.crossJoin(broadcast(guard))
        .filter(col("__occ_g0") === 0L)
        .drop("__occ_g0")
    }

  /** Oracle CTEs for plane projections over `nPlanes` planes (append after
    * [[QuantSql]]); yields `proj(vec_id, h, proj)`.
    */
  private[operators] def projSql(nPlanes: Int): String = s"""
    planes AS (
      SELECT h, i,
        CASE WHEN (instr('0123456789abcdef',
            substring(md5(h || ':' || i), 1, 1)) - 1) % 2 = 0
          THEN 1 ELSE -1 END AS w
      FROM (SELECT unnest(generate_series(0, ${nPlanes - 1})) AS h),
           (SELECT unnest(generate_series(1, $Dim)) AS i)),
    comps AS (
      SELECT vec_id, unnest(q) AS qv,
             unnest(generate_series(1, len(q))) AS i
      FROM qn),
    proj AS (
      SELECT vec_id, h, sum(w * qv) AS proj
      FROM comps JOIN planes USING (i) GROUP BY 1, 2)"""

  // ------------------------------------------------------ cosine near-dups

  /** Eval-set membership of the semantic decontamination gate (every
    * 5th vector plays the held-out benchmark sample).
    */
  private val SemEvalMod = 5

  /** Cosine bar of the semantic decontamination gate — ONE constant
    * interpolated into both the Column filter and the oracle SQL (a
    * caller-tunable parameter silently diverged from the registered
    * oracle; gate constants are shared, like SemEvalMod and DedupBands).
    */
  private val SemCosBar = 0.4

  /** Cosine bar of the embedding near-dup gate — shared the same way. */
  private val DupCosBar = 0.45


  /** Banded-LSH cosine near-dup detection (threshold 0.45): candidates are
    * pairs agreeing on all 4 sign bits of at least one of 4 bands (an
    * equi-join on `(band, sig)` — the shuffle key), then verified with the
    * exact cosine. This is the 100 TB plan: no all-pairs comparison
    * anywhere; recall is tuned by the band/plane counts (more bands →
    * higher recall, more planes per band → smaller buckets), the same
    * tradeoff the MinHash-LSH text path exposes.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val scored = dupPairsScored(s, dir)
    val cos = cosCol(col("dot"), col("na"), col("nb"))
    scored.filter(cos >= DupCosBar)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cos"))
      .orderBy("id_a", "id_b")
  }

  /** The LSH-candidate pair frame with exact-cosine ingredients
    * (id_a, id_b, dot, na, nb), unfiltered — memoized so the near-dup
    * gate and the threshold sweep ([[embedDedupSweep]]) share ONE
    * candidate generation + verification pass per session.
    *
    * SCALE: candidates come from the DERIVED-width band frame
    * ([[dupBandsOf]] — width = [[widthFor]](corpus count)), so expected
    * bucket occupancy — and with it candidate volume per vector — stays
    * ~constant as the corpus grows instead of the r15 fixed-width
    * Θ(n²/2^4) blowup (measured 3.5× super-linear at 10× before the
    * fix; the `embed_width_sweep` table priced the rule). Recall at a
    * wider width is the measured tradeoff the sweep quantifies — the
    * same recall↔bucket-size knob as the MinHash band/row choice — and
    * the in-plan occupancy assert fails loudly if the ladder ever stops
    * covering the corpus.
    */
  private def dupPairsScored(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "emb_dup_pairs", dir) {
      val qn = qdf(s, dir)
      val bands = dupBandsOf(s, dir)
      val cand = bands.alias("a")
        .join(bands.alias("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct()
      cand
        .join(qn.select(col("vec_id").as("id_a"), col("q").as("qa"),
          col("n2").as("na")), "id_a")
        .join(qn.select(col("vec_id").as("id_b"), col("q").as("qb"),
          col("n2").as("nb")), "id_b")
        .withColumn("dot", expr("q_dot(qa, qb)"))
        .select(col("id_a"), col("id_b"), col("dot"), col("na"), col("nb"))
    }

  /** Oracle twin of the derived signature width: the `wq(w)` scalar CTE
    * (CASE arms generated from the SAME [[MinBandPlanes]]..[[MaxBandPlanes]]
    * ladder as [[widthFor]] — integer-exact on both engines) and the
    * width-dynamic `bands` CTE. Append after
    * `projSql(DedupBands * MaxBandPlanes)`: the oracle projects the full
    * plane budget and keeps `h < bands·w`, so band `b` reads exactly the
    * planes the Spark side's [[bandSigCol]] reads at the derived w.
    */
  private val bandsDynSql: String = {
    val arms = (MinBandPlanes until MaxBandPlanes)
      .map(w => s"WHEN nb <= ${1L << w} THEN $w").mkString("\n        ")
    s"""wq AS (
      SELECT CASE $arms
        ELSE $MaxBandPlanes END AS w
      FROM (SELECT (count(*) + ${TargetBucket - 1}) // $TargetBucket AS nb
            FROM embeddings)),
    bands AS (
      SELECT vec_id, h // w AS band,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << (h % w))) AS sig
      FROM proj CROSS JOIN wq WHERE h < $DedupBands * w
      GROUP BY vec_id, h // w, w)"""
  }

  /** Cosine bars the threshold sweep evaluates — [[DupCosBar]] anchors
    * the conservative end; the looser bars price what a more aggressive
    * semantic dedup would cost (the published pipelines disagree on the
    * bar the same way they disagree on the decontamination gram length).
    */
  private val DupSweepBars = Seq(0.25, 0.35, 0.45)

  /** Signature widths (planes per band) the width sweep evaluates; the
    * widest is the per-band plane budget and the narrower widths are
    * PREFIXES of it, so candidate sets nest structurally. The per-pair
    * widest-agreeing-width ladder (Spark when-chain AND the SQL CASE
    * arms) is GENERATED from this one list — editing it cannot
    * desynchronize the two engines (advice finding, r15).
    */
  private val WidthSweep = Seq(4, 8, 12)
  private val WidthMax = WidthSweep.max
  private val WidthMin = WidthSweep.min

  /** Gate: the LSH signature-WIDTH tuning table — the measurement the
    * [[widthFor]] derivation rule is built on: per
    * planes-per-band width w ∈ {4, 8, 12} (4 bands, width-w signatures
    * as PREFIXES of one 12-plane-per-band projection), the occupied
    * buckets, the largest bucket, candidate pairs generated, pairs
    * verified at the [[DupCosBar]] cosine, and recall against the
    * narrowest (highest-recall) width. This is the decision artifact
    * for scaling the near-dup family: candidate volume falls
    * ~2^Δw-fold per width step while verified-pair recall falls far
    * slower — the measured basis for BandPlanes ≈ log₂(n/bucket).
    *
    * Scale: ONE projection pass (48 codegen dot products per vector),
    * ONE candidate self-join at the narrowest width (the nesting means
    * the wider widths are a per-pair masked-prefix comparison, never
    * their own joins), ONE exact-cosine verification join; per-width
    * bucket stats are linear aggregates over the band frame. The
    * narrowest branch is the quadratic-at-fixed-width workload being
    * AUDITED — on a production corpus this sweep runs over a sample,
    * exactly like the MinHash `lsh_tuning` audit.
    */
  def embedWidthSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qn = qdf(s, dir)
    val sigs12 = (0 until DedupBands).map { b =>
      (0 until WidthMax)
        .map(r => when(planeCol(b * WidthMax + r) >= 0, lit(1L << r))
          .otherwise(0L))
        .reduce(_ + _)
    }
    val bands = qn.select(col("vec_id"),
        posexplode(array(sigs12: _*)).as(Seq("band", "sig12")))
      .persist()
    def mask(w: Int): Long = (1L << w) - 1
    // one self-join at the narrowest width; per pair the widest width
    // at which SOME band's masked signatures still agree — the ladder
    // generated from WidthSweep (descending), single source of truth
    val mMin = mask(WidthMin)
    val a = bands.select(col("vec_id").as("id_a"), col("band"),
      col("sig12").as("s12a"), (col("sig12") bitwiseAND mMin).as("sigmin"))
    val b = bands.select(col("vec_id").as("id_b"), col("band"),
      col("sig12").as("s12b"), (col("sig12") bitwiseAND mMin).as("sigmin"))
    val desc = WidthSweep.sorted.reverse
    val wbCol = desc.init.foldRight(lit(desc.last.toLong): Column) {
      case (w, acc) =>
        val agree =
          if (w == WidthMax) col("s12a") === col("s12b")
          else (col("s12a") bitwiseAND mask(w)) ===
            (col("s12b") bitwiseAND mask(w))
        when(agree, lit(w.toLong)).otherwise(acc)
    }
    val joined = a.join(b, Seq("band", "sigmin"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), wbCol.as("wb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("wb")).as("wmax"))
    val scored = joined
      .join(qn.select(col("vec_id").as("id_a"), col("q").as("qa"),
        col("n2").as("na")), "id_a")
      .join(qn.select(col("vec_id").as("id_b"), col("q").as("qb"),
        col("n2").as("nb")), "id_b")
      .withColumn("dot", expr("q_dot(qa, qb)"))
      .select(col("id_a"), col("id_b"), col("wmax"),
        (cosCol(col("dot"), col("na"), col("nb")) >= DupCosBar)
          .as("verified"))
      .persist()
    val perW = WidthSweep.map { w =>
      val occ = bands
        .groupBy(col("band"), (col("sig12") bitwiseAND mask(w)).as("sg"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"))
      val ps = scored.agg(
        sum(when(col("wmax") >= w, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("wmax") >= w && col("verified"), 1L).otherwise(0L))
          .as("n_verified"))
      occ.crossJoin(broadcast(ps))
        .select(lit(w.toLong).as("planes_per_band"), col("n_buckets"),
          col("max_bucket"), col("n_cand"), col("n_verified"))
        .localCheckpoint(true)
    }
    val base = perW.head.select(col("n_verified").as("nv0"))
    val res = perW.reduce(_.unionByName(_))
      .crossJoin(broadcast(base))
      .select(col("planes_per_band"), col("n_buckets"), col("max_bucket"),
        col("n_cand"), col("n_verified"),
        when(col("nv0") > 0,
          expr("(n_verified * 1000000) div nv0")).as("recall_q6"))
      .orderBy("planes_per_band")
      .localCheckpoint(true)
    bands.unpersist(false)
    scored.unpersist(false)
    res
  }

  val embedWidthSweepSql: String = {
    def mask(w: Int): Long = (1L << w) - 1
    val branches = WidthSweep.map { w =>
      s"""SELECT CAST($w AS BIGINT) AS planes_per_band,
        (SELECT count(*) FROM (SELECT band, sig12 & ${mask(w)} AS sg
           FROM ews_b GROUP BY 1, 2) z) AS n_buckets,
        (SELECT max(n) FROM (SELECT count(*) AS n FROM ews_b
           GROUP BY band, sig12 & ${mask(w)}) z) AS max_bucket,
        (SELECT count(*) FROM ews_p WHERE wmax >= $w) AS n_cand,
        (SELECT count(*) FROM ews_p WHERE wmax >= $w AND verified)
          AS n_verified"""
    }.mkString("\n    UNION ALL\n    ")
    // CASE arms generated from the SAME WidthSweep list as the Spark
    // when-chain (descending; the widest width compares unmasked)
    val caseArms = WidthSweep.sorted.reverse.init.map { w =>
      if (w == WidthMax) s"WHEN a.sig12 = b.sig12 THEN $w"
      else s"WHEN (a.sig12 & ${mask(w)}) = (b.sig12 & ${mask(w)}) THEN $w"
    }.mkString("\n                 ")
    s"""
    WITH $QuantSql,
    ${projSql(DedupBands * WidthMax)},
    ews_b AS MATERIALIZED (
      SELECT vec_id, h // $WidthMax AS band,
        CAST(sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END
          * (1 << (h % $WidthMax))) AS BIGINT) AS sig12
      FROM proj GROUP BY 1, 2),
    ews_j AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        max(CASE $caseArms
                 ELSE ${WidthSweep.min} END) AS wmax
      FROM ews_b a JOIN ews_b b
        ON a.band = b.band
          AND (a.sig12 & ${mask(WidthMin)}) = (b.sig12 & ${mask(WidthMin)})
          AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    ews_p AS MATERIALIZED (
      SELECT j.id_a, j.id_b, j.wmax,
        ($PairCosSql >= $DupCosBar) AS verified
      FROM (SELECT id_a, id_b, wmax, x.n2 AS na, y.n2 AS nb,
              CAST(list_sum(list_transform(generate_series(1, len(x.q)),
                i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
            FROM ews_j JOIN qn x ON id_a = x.vec_id
              JOIN qn y ON id_b = y.vec_id) j),
    ews_r AS ($branches),
    ews_0 AS (SELECT n_verified AS nv0 FROM ews_r
              WHERE planes_per_band = 4)
    SELECT planes_per_band, n_buckets, max_bucket, n_cand, n_verified,
      CASE WHEN nv0 > 0
        THEN CAST((n_verified * 1000000) // nv0 AS BIGINT) END AS recall_q6
    FROM ews_r, ews_0
    ORDER BY planes_per_band"""
  }

  /** Gate: the embedding-dedup THRESHOLD tuning table (the §4
    * tuning-table discipline on [[dedupEmbedding]]'s one knob): per
    * cosine bar ∈ {0.25, 0.35, 0.45} — verified pairs, docs incident to
    * a pair, connected components at that bar, docs a keep-one-per-
    * cluster dedup would drop, and the largest cluster — the blast
    * radius an owner prices before re-deduping 100 TB.
    *
    * Scale: ONE shared LSH candidate + exact-cosine pass (memoized,
    * shared with the near-dup gate); each bar re-reads the verified
    * frame with a tighter filter and propagates components over ITS
    * OWN surviving edges (components at a tighter bar are not derivable
    * from looser labels — a bridge pair can vanish). Pair volume is
    * LSH-bucket bounded, so the per-bar propagation runs over the
    * (small) duplicate subset, never the corpus.
    */
  def embedDedupSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = dupPairsScored(s, dir)
    val cos = cosCol(col("dot"), col("na"), col("nb"))
    val k = (DupSweepBars.size + 1).toLong
    // level of a pair = how many (ascending) bars it clears; graph for
    // bar i is exactly the pairs with level >= i, so a pair at level L
    // appears in composite graphs g = 1..L. ONE level-tagged propagation
    // prices every bar — per-bar loops tripled the per-round driver
    // actions for identical asymptotics (measured 19 s warm → one loop;
    // composite node id = vec_id·(bars+1) + g, exact while
    // vec_id < 2^63/(bars+1) — far beyond any real id space).
    val lvlCol = DupSweepBars
      .map(b => when(cos >= b, 1L).otherwise(0L)).reduce(_ + _)
    val lv = scored
      .select(col("id_a"), col("id_b"), lvlCol.as("lvl"))
      .filter(col("lvl") > 0)
      .persist()
    val edges = lv
      .select(col("id_a"), col("id_b"),
        explode(sequence(lit(1L), col("lvl"))).as("g"))
      .select((col("id_a") * k + col("g")).as("src"),
        (col("id_b") * k + col("g")).as("dst"))
    // hold the RAW ccPointerJump result: it is the frame the loop
    // persists internally, so the cleanup below must unpersist IT — an
    // unpersist on the withColumn-derived plan is a no-op and leaked one
    // cached duplicate-subset frame per invocation (advice finding, r15)
    val cc = Clustering.ccPointerJump(edges)
    val labels = cc.withColumn("g", pmod(col("id"), lit(k)))
    val cstats = labels.groupBy(col("g"), col("cluster"))
      .agg(count(lit(1)).as("cs"))
      .groupBy(col("g"))
      .agg(sum(col("cs")).as("n_docs"), count(lit(1)).as("n_clusters"),
        max(col("cs")).as("max_csize"))
    val pstats = lv
      .select(explode(sequence(lit(1L), col("lvl"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_pairs"))
    // a bar can have ZERO pairs — the oracle's empty branch still emits
    // a zero row, so anchor the three rows and left-join the stats
    val bars = DupSweepBars.zipWithIndex
      .map { case (b, i) => (i + 1L, b) }
      .toDF("g", "cos_bar")
    val res = bars
      .join(pstats, Seq("g"), "left")
      .join(cstats, Seq("g"), "left")
      .select(col("cos_bar"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        (coalesce(col("n_docs"), lit(0L)) -
          coalesce(col("n_clusters"), lit(0L))).as("n_dropped"),
        coalesce(col("max_csize"), lit(0L)).as("max_csize"))
      .orderBy("cos_bar")
      .localCheckpoint(true)
    cc.unpersist(false)
    lv.unpersist(false)
    res
  }

  val embedDedupSweepSql: String = {
    def sfx(bar: Double) = (bar * 100).round.toString
    val branches = DupSweepBars.map { bar =>
      val b = sfx(bar)
      s"""eds$b AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE $PairCosSql >= $bar
      UNION SELECT id_b, id_a FROM pairs WHERE $PairCosSql >= $bar),
    edr$b(id, lab) AS (
      SELECT src, src FROM eds$b
      UNION
      SELECT e.src, r.lab FROM eds$b e JOIN edr$b r ON r.id = e.dst),
    edc$b AS (SELECT id, min(lab) AS lab FROM edr$b GROUP BY id),
    edz$b AS (SELECT lab, count(*) AS cs FROM edc$b GROUP BY lab),
    edt$b AS (
      SELECT CAST($bar AS DOUBLE) AS cos_bar,
        (SELECT count(*) FROM pairs WHERE $PairCosSql >= $bar) AS n_pairs,
        coalesce(CAST(sum(cs) AS BIGINT), 0) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_clusters,
        coalesce(CAST(sum(cs) AS BIGINT), 0) - CAST(count(*) AS BIGINT)
          AS n_dropped,
        coalesce(CAST(max(cs) AS BIGINT), 0) AS max_csize
      FROM edz$b)"""
    }.mkString(",\n    ")
    val sel = DupSweepBars.map(b => s"SELECT * FROM edt${sfx(b)}")
      .mkString("\n    UNION ALL\n    ")
    s"""
    WITH RECURSIVE $QuantSql,
    ${projSql(DedupBands * MaxBandPlanes)},
    $bandsDynSql,
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM cand JOIN qn x ON id_a = x.vec_id JOIN qn y ON id_b = y.vec_id),
    $branches
    $sel
    ORDER BY cos_bar"""
  }

  val dedupEmbeddingSql: String = s"""
    WITH $QuantSql,
    ${projSql(DedupBands * MaxBandPlanes)},
    $bandsDynSql,
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT id_a, id_b, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM cand JOIN qn x ON id_a = x.vec_id JOIN qn y ON id_b = y.vec_id)
    SELECT id_a, id_b, round($PairCosSql, 6) AS cos
    FROM pairs WHERE $PairCosSql >= $DupCosBar
    ORDER BY id_a, id_b"""

  /** Embedding-space decontamination — the semantic complement of the
    * n-gram [[CorpusFilters.decontaminate]]: flag corpus vectors whose
    * embedding is near-identical (cosine ≥ threshold) to ANY held-out
    * eval vector — paraphrased/reformatted benchmark leakage that shares
    * no 8-gram. Candidates come from the SAME banded sign-LSH buckets as
    * `dedup_embedding`, with the eval side filtered BEFORE the join, so
    * probe volume is eval-size × bucket occupancy — corpus×corpus pairs
    * are never generated, the asymmetric analog of the batch-probes-base
    * incremental dedup shape.
    */
  def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val qn = qdf(s, dir)
    val bands = dupBandsOf(s, dir)
    // MULTI-PROBE at the derived width — the decontamination recall
    // floor (advice finding, r16): as the corpus-derived width grows,
    // a single-bucket probe's per-band agreement probability decays as
    // p^w and contamination misses are SILENT (nothing downstream
    // re-checks). The eval side therefore probes its own bucket PLUS
    // every hamming-1 bucket (w+1 probes per band — the standard
    // multi-probe LSH recovery: per-band hit probability rises from p^w
    // to p^w + w·p^(w-1)(1−p), so recall is bounded below by the
    // narrow-width single-probe recall at every ladder step). Cost
    // scales on the EVAL side only — probe volume is eval-size × (w+1),
    // never corpus × corpus — which is exactly where the asymmetric
    // shape can afford it.
    val w = widthFor(Tables.embeddings(s, dir).count())
    val evalProbes = bands.filter(col("vec_id") % SemEvalMod === 0)
      .select(col("vec_id").as("eval_id"), col("band"),
        explode(array((0 to w).map(i =>
          if (i == 0) col("sig")
          else expr(s"sig ^ ${1L << (i - 1)}L")): _*)).as("sig"))
    val cand = bands.filter(col("vec_id") % SemEvalMod =!= 0)
      .join(evalProbes, Seq("band", "sig"))
      .select(col("vec_id"), col("eval_id"))
      .distinct()
    // scoring-join shape (fixed after the multi-probe 100× probe cell
    // OOM'd): the candidate frame is the big side (~12× the single-probe
    // volume at the derived width), so it must shuffle ONCE carrying ids
    // only — pick up the corpus vectors in that join — and take the eval
    // vectors via BROADCAST (the production shape: an eval suite is
    // small; here 1/SemEvalMod of the corpus, still broadcast-sized).
    // The previous both-sides-shuffled form re-shuffled the candidate
    // frame twice carrying 64-float arrays.
    val scored = cand
      .join(qn.select(col("vec_id"), col("q").as("qa"), col("n2").as("na")),
        "vec_id")
      .join(broadcast(qn.filter(col("vec_id") % SemEvalMod === 0)
        .select(col("vec_id").as("eval_id"), col("q").as("qb"),
          col("n2").as("nb"))), "eval_id")
      .withColumn("dot", expr("q_dot(qa, qb)"))
    val cos = cosCol(col("dot"), col("na"), col("nb"))
    scored.filter(cos >= SemCosBar)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max(round(cos, 6)).as("max_cos"))
      .orderBy("vec_id")
  }

  val decontaminateSemanticSql: String = s"""
    WITH $QuantSql,
    ${projSql(DedupBands * MaxBandPlanes)},
    $bandsDynSql,
    eprobe AS (
      SELECT vec_id AS eval_id, band,
        CASE WHEN f.i = 0 THEN CAST(sig AS BIGINT)
          ELSE xor(CAST(sig AS BIGINT), CAST(1 AS BIGINT) << (f.i - 1))
          END AS sig
      FROM bands, wq, UNNEST(generate_series(0, w)) AS f(i)
      WHERE vec_id % $SemEvalMod = 0),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id, b.eval_id
      FROM bands a JOIN eprobe b ON a.band = b.band AND a.sig = b.sig
      WHERE a.vec_id % $SemEvalMod <> 0),
    pairs AS (
      SELECT cand.vec_id, eval_id, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM cand JOIN qn x ON cand.vec_id = x.vec_id
                JOIN qn y ON eval_id = y.vec_id)
    SELECT vec_id, count(*) AS n_eval_hits,
      max(round($PairCosSql, 6)) AS max_cos
    FROM pairs WHERE $PairCosSql >= $SemCosBar
    GROUP BY vec_id ORDER BY vec_id"""

  // ----------------------------------------------------------- top-k (ANN)

  /** Shared tail: score (probe, candidate) rows with q_dot and keep the
    * per-probe top-k by cosine. Expects columns `probe_id, pq, pn2, vec_id,
    * q, n2`.
    */
  private[operators] def topkTail(paired: DataFrame, k: Int): DataFrame = {
    val scored = paired.withColumn("dot", expr("q_dot(pq, q)"))
      .withColumn("cos_raw", cosCol(col("dot"), col("pn2"), col("n2")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("probe_id", "rank")
  }

  /** Brute-force cosine top-k for the probe set: the exact baseline every
    * ANN variant is measured against. The probe side is a broadcast of the
    * *filtered plan* (no collect); scoring is a broadcast nested-loop over
    * the corpus scan with q_dot inside the generated stage.
    */
  def annTopk(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn = qdf(s, dir)
    val probes = probesOf(qn).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("n2").as("pn2"))
    topkTail(qn.join(broadcast(probes), col("probe_id") =!= col("vec_id")), k)
  }

  def annTopkSql(k: Int = 5): String = s"""
    WITH $QuantSql,
    pairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qn x JOIN qn y ON x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.vec_id <> y.vec_id),
    scored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos_raw, 6) AS cos
    FROM scored WHERE rank <= $k ORDER BY probe_id, rank"""

  /** Bucketed ANN: probes only score candidates in their own bucket — the
    * scale path (each probe touches ~1/2^8 of the corpus; more planes
    * shrink the slice further). Bucket assignment is a column expression on
    * both sides; the join is a broadcast hash join on the bucket key.
    */
  def annLsh(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qb = qdf(s, dir).withColumn("bucket", bucketCol(NumPlanes))
    val probes = probesOf(qb).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("n2").as("pn2"), col("bucket").as("pbucket"))
    topkTail(
      qb.join(broadcast(probes),
        col("pbucket") === col("bucket") && col("probe_id") =!= col("vec_id")),
      k)
  }

  def annLshSql(k: Int = 5): String = s"""
    WITH $QuantSql,
    ${projSql(NumPlanes)},
    buckets AS (
      SELECT vec_id,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << h)) AS bucket
      FROM proj GROUP BY vec_id),
    qb AS (SELECT qn.vec_id, q, n2, bucket
           FROM qn JOIN buckets USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qb x JOIN qb y ON x.bucket = y.bucket
        AND x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.vec_id <> y.vec_id),
    scored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos_raw, 6) AS cos
    FROM scored WHERE rank <= $k ORDER BY probe_id, rank"""

  // ---------------------------------------------------- filtered search

  /** Labeled quantized corpus: [[qdf]] with the metadata filter column
    * joined back in — the production analog is the same materialized
    * projection carrying its filterable attributes.
    */
  private def qlf(s: SparkSession, dir: String): DataFrame =
    qdf(s, dir)
      .join(Tables.embeddings(s, dir).select("vec_id", "label"), "vec_id")

  private val QlSql = s"""
    ql AS (SELECT qn.vec_id, qn.q, qn.n2, e2.label
           FROM qn JOIN (SELECT vec_id, label FROM embeddings) e2
           USING (vec_id))"""

  /** FILTERED vector search — the metadata-constrained top-k every vector
    * store serves ("nearest neighbours WHERE label = X"): each probe ranks
    * only candidates sharing its label. This is SINGLE-STAGE filtering —
    * the predicate rides the candidate join itself, so selective filters
    * SHRINK the work — rather than post-filtering an unconstrained top-k,
    * which silently returns < k rows (or the wrong k) whenever the filter
    * is selective. Exact baseline: broadcast probes (a filtered plan, no
    * collect), label-equality join against the corpus scan.
    */
  def annTopkFiltered(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn = qlf(s, dir)
    val probes = probesOf(qn).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("n2").as("pn2"), col("label").as("plabel"))
    topkTail(qn.join(broadcast(probes),
      col("plabel") === col("label") && col("probe_id") =!= col("vec_id")), k)
  }

  def annTopkFilteredSql(k: Int = 5): String = s"""
    WITH $QuantSql,
    $QlSql,
    pairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM ql x JOIN ql y ON x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.label = y.label
        AND x.vec_id <> y.vec_id),
    scored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos_raw, 6) AS cos
    FROM scored WHERE rank <= $k ORDER BY probe_id, rank"""

  /** Plane count of the FILTERED index path. Deliberately coarser than
    * the unfiltered [[NumPlanes]]: the metadata predicate already prunes
    * the candidate set ~|labels|-fold, so the geometric index must prune
    * LESS or the bucket ∩ label intersection empties and recall collapses
    * (measured here: at 8 planes over the 10-label corpus the
    * intersection averages < 1 candidate and recall is 0) — the standard
    * filtered-search re-parameterization every vector store applies.
    */
  private val FilteredPlanes = 4

  /** The LSH index path under the same filter: candidates must share the
    * probe's BUCKET and its LABEL (the filter composes with the index by
    * AND-ing onto the candidate join — the index prunes by geometry, the
    * predicate by metadata, in the same shuffle).
    */
  private def annLshFiltered(s: SparkSession, dir: String,
                             k: Int = 5): DataFrame = {
    val qb = qlf(s, dir).withColumn("bucket", bucketCol(FilteredPlanes))
    val probes = probesOf(qb).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("n2").as("pn2"), col("bucket").as("pbucket"),
      col("label").as("plabel"))
    topkTail(
      qb.join(broadcast(probes),
        col("pbucket") === col("bucket") && col("plabel") === col("label") &&
          col("probe_id") =!= col("vec_id")),
      k)
  }

  private def annLshFilteredSql(k: Int = 5): String = s"""
    WITH $QuantSql,
    $QlSql,
    ${projSql(FilteredPlanes)},
    fbuckets AS (
      SELECT vec_id,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << h)) AS bucket
      FROM proj GROUP BY vec_id),
    fqb AS (SELECT ql.vec_id, q, n2, label, bucket
            FROM ql JOIN fbuckets USING (vec_id)),
    fpairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM fqb x JOIN fqb y ON x.bucket = y.bucket AND x.label = y.label
        AND x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.vec_id <> y.vec_id),
    fscored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM fpairs)
    SELECT probe_id, vec_id
    FROM fscored WHERE rank <= $k"""

  /** Recall@k audit of the filtered LSH path against the exact filtered
    * baseline — same audit shape as the unfiltered families. The per-probe
    * denominator is min(k, label population − 1), which the exact side
    * emits naturally.
    */
  def annFilteredRecall(s: SparkSession, dir: String,
                        k: Int = 5): DataFrame = {
    val exact = annTopkFiltered(s, dir, k).select(col("probe_id"), col("vec_id"))
    val approx = annLshFiltered(s, dir, k)
      .select(col("probe_id").as("p2"), col("vec_id").as("v2"))
    exact.join(approx,
        col("probe_id") === col("p2") && col("vec_id") === col("v2"), "left")
      .groupBy(col("probe_id"))
      .agg(count(col("v2")).as("hits"), count(lit(1)).as("k"))
      .select(col("probe_id"), col("hits"), col("k"),
        round(col("hits").cast("double") / col("k").cast("double"), 6)
          .as("recall"))
      .orderBy("probe_id")
  }

  def annFilteredRecallSql(k: Int = 5): String = s"""
    WITH fex AS (${annTopkFilteredSql(k)}),
    fap AS (${annLshFilteredSql(k)})
    SELECT fex.probe_id, count(fap.vec_id) AS hits, count(*) AS k,
      round(CAST(count(fap.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS recall
    FROM fex LEFT JOIN fap
      ON fex.probe_id = fap.probe_id AND fex.vec_id = fap.vec_id
    GROUP BY fex.probe_id ORDER BY fex.probe_id"""

  // ------------------------------------------------------- range search

  /** Cosine threshold for the range query. */
  private val RangeThreshold = 0.15

  /** Range search (the dual of top-k): every corpus vector within cosine
    * ≥ [[RangeThreshold]] of a probe — "all near enough", the retrieval
    * primitive behind near-duplicate lookup and RAG relevance cutoffs.
    * Same bucketed candidate generation as [[annLsh]] (one shuffle key:
    * the bucket), exact verify, NO window: a range query needs no rank
    * exchange at all, so the plan is join → filter → sort-for-output.
    */
  def annRange(s: SparkSession, dir: String): DataFrame = {
    val qb = qdf(s, dir).withColumn("bucket", bucketCol(NumPlanes))
    val probes = probesOf(qb).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("n2").as("pn2"), col("bucket").as("pbucket"))
    qb.join(broadcast(probes),
        col("pbucket") === col("bucket") && col("probe_id") =!= col("vec_id"))
      .withColumn("cos_raw",
        cosCol(expr("q_dot(pq, q)"), col("pn2"), col("n2")))
      .filter(col("cos_raw") >= RangeThreshold)
      .select(col("probe_id"), col("vec_id"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("probe_id", "vec_id")
  }

  val annRangeSql: String = s"""
    WITH $QuantSql,
    ${projSql(NumPlanes)},
    buckets AS (
      SELECT vec_id,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << h)) AS bucket
      FROM proj GROUP BY vec_id),
    qb AS (SELECT qn.vec_id, q, n2, bucket
           FROM qn JOIN buckets USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qb x JOIN qb y ON x.bucket = y.bucket
        AND x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.vec_id <> y.vec_id)
    SELECT probe_id, vec_id, round($PairCosSql, 6) AS cos
    FROM pairs WHERE $PairCosSql >= $RangeThreshold
    ORDER BY probe_id, vec_id"""

  // ----------------------------------------------------- LSH index health

  /** LSH index-health audit: the distribution of bucket occupancies per
    * hash table (how many buckets hold 1, 2, … vectors). Expected query
    * cost of a bucketed ANN is the mean occupancy of the probe's bucket —
    * a heavy tail here means the plane family is failing to split the
    * corpus and candidate generation degrades toward quadratic; this is
    * the observability query an operator checks before turning recall
    * knobs. Two map-side-combining rollups, keys bounded by the bucket
    * space.
    */
  def lshBucketStats(s: SparkSession, dir: String): DataFrame = {
    val buckets = qdf(s, dir).select(col("vec_id"),
      posexplode(array((0 until LshTables).map(tableBucketCol): _*))
        .as(Seq("tbl", "bucket")))
    buckets.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("occupancy"))
      .groupBy(col("tbl"), col("occupancy"))
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy("tbl", "occupancy")
  }

  // lazy: references LshTables, which is declared further down the object
  // body — a strict val here would capture 0 during object init
  lazy val lshBucketStatsSql: String = s"""
    WITH $QuantSql,
    ${projSql(LshTables * NumPlanes)},
    buckets AS (
      SELECT vec_id, h // $NumPlanes AS tbl,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << (h % $NumPlanes)))
          AS bucket
      FROM proj GROUP BY 1, 2),
    occ AS (
      SELECT tbl, bucket, count(*) AS occupancy
      FROM buckets GROUP BY 1, 2)
    SELECT CAST(tbl AS INT) AS tbl, occupancy, count(*) AS n_buckets
    FROM occ GROUP BY 1, 2 ORDER BY tbl, occupancy"""

  // ---------------------------------------------------------- norm audit

  /** Embedding-norm health audit: per label-group vector count, the exact
    * integer min/max of Σq², the mean norm² and the count of (near-)zero
    * vectors — the standard pre-indexing check that catches collapsed or
    * unnormalized embeddings before they poison a cosine index. Zero
    * shuffle beyond the one rollup; everything else is the memoized
    * quantized projection.
    */
  def embedNormStats(s: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      .join(qdf(s, dir), "vec_id")
    labeled.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"),
        round(sum(col("n2")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_n2"),
        sum(when(col("n2") < 1000000L, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy("label")
  }

  val embedNormStatsSql: String = s"""
    WITH $QuantSql
    SELECT label, count(*) AS n,
      CAST(min(n2) AS BIGINT) AS min_n2,
      CAST(max(n2) AS BIGINT) AS max_n2,
      round(CAST(CAST(sum(n2) AS BIGINT) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS mean_n2,
      CAST(sum(CASE WHEN n2 < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_degenerate
    FROM embeddings JOIN qn USING (vec_id)
    GROUP BY label ORDER BY label"""

  // ------------------------------------------- multi-table LSH (OR-amplify)

  private[operators] val LshTables = 2

  /** Bucket from planes `t·8 … t·8+7` — table `t`'s hash function. */
  private[operators] def tableBucketCol(t: Int): Column =
    (0 until NumPlanes)
      .map(h => when(planeCol(t * NumPlanes + h) >= 0, lit(1L << h))
        .otherwise(0L))
      .reduce(_ + _)

  /** OR-amplified LSH ANN: `LshTables` independent hash tables; a
    * candidate matches a probe if they share a bucket in ANY table. The
    * standard recall knob — each extra table multiplies the candidate
    * slice (~L/2^b of the corpus) and the recall approaches 1 − (1−p^b)^L.
    * Still an equi-join per table (shuffle key = (table, bucket)),
    * deduplicated before scoring so each surviving pair is scored once.
    */
  def annLshMulti(s: SparkSession, dir: String, k: Int = 5,
                  tables: Int = LshTables): DataFrame = {
    val qn = qdf(s, dir)
    val buckets = qn.select(col("vec_id"),
      posexplode(array((0 until tables).map(tableBucketCol): _*))
        .as(Seq("tbl", "bucket")))
    val probeB = probesOf(buckets)
      .select(col("vec_id").as("probe_id"), col("tbl").as("ptbl"),
        col("bucket").as("pbucket"))
    val cand = buckets.join(broadcast(probeB),
        col("ptbl") === col("tbl") && col("pbucket") === col("bucket") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
    val paired = cand
      .join(qn.select(col("vec_id").as("probe_id"), col("q").as("pq"),
        col("n2").as("pn2")), "probe_id")
      .join(qn, "vec_id")
    topkTail(paired, k)
  }

  def annLshMultiSql(k: Int = 5): String = s"""
    WITH $QuantSql,
    ${projSql(LshTables * NumPlanes)},
    buckets AS (
      SELECT vec_id, h // $NumPlanes AS tbl,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << (h % $NumPlanes)))
          AS bucket
      FROM proj GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT x.vec_id AS probe_id, y.vec_id AS cand_id
      FROM buckets x JOIN buckets y
        ON x.tbl = y.tbl AND x.bucket = y.bucket
      WHERE x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.vec_id <> y.vec_id),
    pairs AS (
      SELECT probe_id, cand_id AS vec_id, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM cand
      JOIN qn x ON probe_id = x.vec_id
      JOIN qn y ON cand_id = y.vec_id),
    scored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos_raw, 6) AS cos
    FROM scored WHERE rank <= $k ORDER BY probe_id, rank"""

  // ------------------------------------------------------------- IVF (ANN)

  private val CentroidMod = 97
  private val NProbe = 2

  /** IVF-flat ANN: a deterministic coarse quantizer (every 97th vector is a
    * centroid — sampling in place of k-means training keeps the oracle
    * SQL-expressible), inverted lists per cell, probes scan their `NProbe`
    * nearest cells only. Cell assignment is a broadcast join against the
    * centroid set + a map-side-combining `min_by` aggregation (no window
    * over the corpus); only the probe set goes through a rank window for
    * its nprobe cells. At 100 TB the inverted lists are the partition keys
    * and each probe touches nprobe/ncells of the corpus; the centroid count
    * is a fixed parameter, so the assignment join stays broadcastable.
    */
  /** The IVF-flat (vector × centroid) assignment frame: d2(q, c) =
    * n2 − 2·q·c + cn2, exact integer squared-L2, one q_dot per pair.
    * ONE builder shared by the search ([[annIvf]]) and the nprobe sweep
    * ([[ivfNprobeSweep]]) so the assignment semantics (incl. the
    * tie-break) cannot desynchronize between the shipped index and its
    * tuning table.
    */
  private def ivfAsgOf(s: SparkSession, dir: String): DataFrame = {
    val qn = qdf(s, dir)
    val cents = qn.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    qn.join(broadcast(cents))
      .withColumn("d2",
        col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
  }

  /** Memoized corpus → nearest-cell frame (the stored index's inverted
    * lists): min_by aggregates partially (map-side combine), carrying
    * q/n2 through (functionally dependent on vec_id).
    */
  private def ivfCellsOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "ivf_cells", dir) {
      ivfAsgOf(s, dir).groupBy(col("vec_id"))
        .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"),
          first(col("q")).as("q"), first(col("n2")).as("n2"))
    }

  def annIvf(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val asg = ivfAsgOf(s, dir)
    val cells = ivfCellsOf(s, dir)
    // probes → nprobe nearest cells: rank window over the (small) probe set
    val pw = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probeCells = probesOf(asg)
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("probe_id"), col("cid").as("pcell"),
        col("q").as("pq"), col("n2").as("pn2"))
    topkTail(
      cells.join(broadcast(probeCells),
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id")),
      k)
  }

  def annIvfSql(k: Int = 5): String = s"""
    WITH $QuantSql,
    cents AS (SELECT vec_id AS cid, q AS cq FROM qn
              WHERE vec_id % $CentroidMod = 0),
    asg AS (
      SELECT vec_id, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM (
        SELECT qn.vec_id, cents.cid,
          CAST(list_sum(list_transform(generate_series(1, len(q)),
            i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT) AS d2
        FROM qn, cents)),
    cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
    probe_cells AS (
      SELECT vec_id, cid AS cell FROM asg
      WHERE vec_id % 50 = 0 AND vec_id < $ProbeIdBound AND rn <= $NProbe),
    pairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qn x
      JOIN probe_cells pc ON pc.vec_id = x.vec_id
      JOIN cells cy ON cy.cell = pc.cell
      JOIN qn y ON y.vec_id = cy.vec_id AND y.vec_id <> x.vec_id),
    scored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos_raw, 6) AS cos
    FROM scored WHERE rank <= $k ORDER BY probe_id, rank"""

  // --------------------------------------------- IVF append maintenance

  /** Incremental IVF maintenance under appends — the operation a served
    * index performs between retrains. The corpus splits into a BASE (the
    * index as built: vec_id % 10 ≠ 0, centroids from the base's
    * deterministic quantizer) and an APPEND batch (vec_id % 10 = 0). New
    * vectors assign to the EXISTING cells by the same broadcast-centroid
    * argmin the build used — the incremental cost scales with the BATCH,
    * never the corpus (the base census here is recomputed only because the
    * gate verifies it; a deployment reads it from the stored index). The
    * drift audit answers the retrain-scheduling question: per cell, how
    * many appended vectors would land in a DIFFERENT cell if the quantizer
    * were rebuilt over base+appends — rising drift means the append
    * distribution has shifted and the index needs retraining.
    */
  private def ivfCentsOf(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))

  private def ivfCellsOf(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents))
      .withColumn("d2",
        col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))

  def ivfAppend(s: SparkSession, dir: String): DataFrame = {
    val qn = qdf(s, dir)
    def centsOf(vecs: DataFrame): DataFrame = ivfCentsOf(vecs)
    def cellsOf(vecs: DataFrame, cents: DataFrame): DataFrame =
      ivfCellsOf(vecs, cents)
    val base = qn.filter(col("vec_id") % 10 =!= 0)
    val appends = qn.filter(col("vec_id") % 10 === 0)
    val baseCents = centsOf(base)
    val appCells = cellsOf(appends, baseCents) // the incremental step
    val rebuilt = cellsOf(appends, centsOf(qn)) // what a retrain would say
    val appCensus = appCells
      .join(rebuilt.select(col("vec_id"), col("cell").as("rcell")), "vec_id")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_appended"),
        sum(when(col("rcell") =!= col("cell"), 1L).otherwise(0L))
          .as("n_moved_on_rebuild"))
    cellsOf(base, baseCents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
      .join(appCensus, Seq("cell"), "left")
      .select(col("cell"), col("n_base"),
        coalesce(col("n_appended"), lit(0L)).as("n_appended"),
        coalesce(col("n_moved_on_rebuild"), lit(0L))
          .as("n_moved_on_rebuild"))
      .orderBy("cell")
  }

  /** The per-vector observations the streaming cell census counts: one
    * (cell, is_app) row per vector from the SAME nearest-base-centroid
    * assignment as [[ivfAppend]] — shared with the STREAMING census
    * maintainer ([[graft.streaming.StreamIvf]]), whose state evolves by
    * the same per-cell counter adds.
    */
  private[graft] def ivfObs(s: SparkSession, dir: String): DataFrame = {
    val qn = qdf(s, dir)
    val base = qn.filter(col("vec_id") % 10 =!= 0)
    val appends = qn.filter(col("vec_id") % 10 === 0)
    val baseCents = ivfCentsOf(base)
    ivfCellsOf(base, baseCents).withColumn("is_app", lit(0L))
      .unionByName(
        ivfCellsOf(appends, baseCents).withColumn("is_app", lit(1L)))
      .select(col("cell"), col("is_app"))
  }

  /** IVF cell-split compaction — what a deployment does when
    * [[ivfAppend]]'s drift audit shows appends CONCENTRATING: the most
    * appended-into cell (ties → smallest cell id) splits in two. Sub-
    * centroid A is the cell's existing centroid; sub-centroid B is the
    * member FARTHEST from A (max exact squared-L2, ties → smallest id) —
    * the deterministic two-seed rule — and every member reassigns to the
    * nearer of the two. All the "pick one row" steps are `limit(1)` over
    * ordered bounded frames broadcast back into the plan — no driver
    * collect — and the reassignment join touches only the split cell's
    * members. Output: the split census, one row per sub-centroid with its
    * base/appended member counts.
    */
  def ivfSplit(s: SparkSession, dir: String): DataFrame = {
    val qn = qdf(s, dir)
    val base = qn.filter(col("vec_id") % 10 =!= 0)
    val appends = qn.filter(col("vec_id") % 10 === 0)
    val baseCents = ivfCentsOf(base)
    val baseCells = ivfCellsOf(base, baseCents)
    val appCells = ivfCellsOf(appends, baseCents)
    val target = appCells.groupBy(col("cell")).agg(count(lit(1)).as("na"))
      .orderBy(col("na").desc, col("cell").asc).limit(1)
      .select(col("cell"))
    val members = baseCells.unionByName(appCells)
      .join(broadcast(target), "cell")
      .join(qn, "vec_id")
    val aCent = qn.select(col("vec_id").as("acid"), col("q").as("aq"),
        col("n2").as("an2"))
      .join(broadcast(target.select(col("cell").as("acid"))), "acid")
    val withA = members.join(broadcast(aCent))
      .withColumn("d2a",
        col("n2") - lit(2L) * expr("q_dot(q, aq)") + col("an2"))
    val bCent = withA
      .orderBy(col("d2a").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id").as("bcid"), col("q").as("bq"),
        col("n2").as("bn2"))
    withA.join(broadcast(bCent))
      .withColumn("d2b",
        col("n2") - lit(2L) * expr("q_dot(q, bq)") + col("bn2"))
      .withColumn("sub_cid",
        when(col("d2b") < col("d2a") ||
          (col("d2b") === col("d2a") && col("bcid") < col("acid")),
          col("bcid")).otherwise(col("acid")))
      .groupBy(col("cell"), col("sub_cid"))
      .agg(sum(when(col("vec_id") % 10 =!= 0, 1L).otherwise(0L))
          .as("n_base_members"),
        sum(when(col("vec_id") % 10 === 0, 1L).otherwise(0L))
          .as("n_app_members"))
      .orderBy("cell", "sub_cid")
  }

  /** Multi-way IVF cell split — the k > 2 generalization of [[ivfSplit]]
    * for a cell whose drift is too large for one bisecting cut: seeds are
    * chosen by ITERATED farthest-point (k-means++-style maxmin without
    * the random draw): seed 0 is the cell's existing centroid and each
    * further seed is the member maximizing its distance to the NEAREST
    * already-chosen seed (exact integer squared-L2, ties → smallest id),
    * then every member reassigns to its nearest seed. Each pick is a
    * bounded `limit(1)` over an ordered frame, eagerly localCheckpoint'ed
    * (the DistRank/BPE lesson: a bounded-by-construction subtree still
    * re-evaluates per branch if left lazy — k chained picks would
    * otherwise compound) and broadcast back into the plan; the running
    * min-distance frame carries one column and updates by `least`, so the
    * whole seeding costs k−1 tiny jobs over the split cell's members
    * only. Output: the split census, one row per sub-centroid.
    */
  def ivfSplitMulti(s: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val qn = qdf(s, dir)
    val base = qn.filter(col("vec_id") % 10 =!= 0)
    val appends = qn.filter(col("vec_id") % 10 === 0)
    val baseCents = ivfCentsOf(base)
    val baseCells = ivfCellsOf(base, baseCents)
    val appCells = ivfCellsOf(appends, baseCents)
    val target = appCells.groupBy(col("cell")).agg(count(lit(1)).as("na"))
      .orderBy(col("na").desc, col("cell").asc).limit(1)
      .select(col("cell"))
    val members = baseCells.unionByName(appCells)
      .join(broadcast(target), "cell")
      .join(qn, "vec_id")
      .localCheckpoint(true) // one bounded cell; every pick re-reads it
    // squared L2 from the row's q/n2 to the joined seed's sq/sn2
    def d2Seed: Column =
      col("n2") - lit(2L) * expr("q_dot(q, sq)") + col("sn2")
    var seeds = qn
      .select(col("vec_id").as("sid"), col("q").as("sq"), col("n2").as("sn2"))
      .join(broadcast(target.select(col("cell").as("sid"))), "sid")
      .localCheckpoint(true)
    var cur = members.join(broadcast(seeds))
      .withColumn("mind2", d2Seed)
      .select(col("vec_id"), col("cell"), col("q"), col("n2"), col("mind2"))
    for (_ <- 1 until k) {
      val next = cur.orderBy(col("mind2").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id").as("sid"), col("q").as("sq"),
          col("n2").as("sn2"))
        .localCheckpoint(true)
      seeds = seeds.unionByName(next).localCheckpoint(true)
      cur = cur.join(broadcast(next))
        .withColumn("mind2", least(col("mind2"), d2Seed))
        .select(col("vec_id"), col("cell"), col("q"), col("n2"), col("mind2"))
        .localCheckpoint(true)
    }
    members.join(broadcast(seeds))
      .withColumn("d2", d2Seed)
      .groupBy(col("cell"), col("vec_id"))
      .agg(min_by(col("sid"), struct(col("d2"), col("sid"))).as("sub_cid"))
      .groupBy(col("cell"), col("sub_cid"))
      .agg(sum(when(col("vec_id") % 10 =!= 0, 1L).otherwise(0L))
          .as("n_base_members"),
        sum(when(col("vec_id") % 10 === 0, 1L).otherwise(0L))
          .as("n_app_members"))
      .orderBy("cell", "sub_cid")
  }

  val ivfSplitSql: String = s"""
    WITH $QuantSql,
    $ivfAsgSql,
    target AS MATERIALIZED (
      SELECT cid AS cell FROM aasg WHERE rn = 1
      GROUP BY cid ORDER BY count(*) DESC, cid ASC LIMIT 1),
    members AS (
      SELECT m.vec_id, m.cell, qn.q, qn.n2
      FROM (SELECT vec_id, cid AS cell FROM basg WHERE rn = 1
            UNION ALL
            SELECT vec_id, cid FROM aasg WHERE rn = 1) m
      JOIN target USING (cell) JOIN qn ON m.vec_id = qn.vec_id),
    witha AS (
      SELECT m.vec_id, m.cell, m.q, m.n2,
        CAST(list_sum(list_transform(generate_series(1, len(m.q)),
          i -> (m.q[i] - a.q[i]) * (m.q[i] - a.q[i]))) AS BIGINT) AS d2a
      FROM members m JOIN qn a ON a.vec_id = (SELECT cell FROM target)),
    bcent AS MATERIALIZED (
      SELECT vec_id AS bcid, q AS bq FROM witha
      ORDER BY d2a DESC, vec_id ASC LIMIT 1),
    assigned AS (
      SELECT w.vec_id, w.cell,
        CASE WHEN d2b < d2a OR (d2b = d2a AND
               (SELECT bcid FROM bcent) < (SELECT cell FROM target))
             THEN (SELECT bcid FROM bcent)
             ELSE (SELECT cell FROM target) END AS sub_cid
      FROM (
        SELECT w.vec_id, w.cell, w.d2a,
          CAST(list_sum(list_transform(generate_series(1, len(w.q)),
            i -> (w.q[i] - b.bq[i]) * (w.q[i] - b.bq[i]))) AS BIGINT) AS d2b
        FROM witha w, bcent b) w)
    SELECT cell, sub_cid,
      CAST(sum(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base_members,
      CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_app_members
    FROM assigned GROUP BY cell, sub_cid ORDER BY cell, sub_cid"""

  /** Shared oracle CTEs: base/append split + nearest-base-centroid
    * assignment of both populations (append after [[QuantSql]]); yields
    * `basg`/`aasg` (rn = 1 rows are the assignments). Reused by the append
    * census, the split and the STREAMING census maintainer's oracle.
    */
  // lazy: referenced by ivfSplitSql, which is declared above this block
  private lazy val ivfAsgSql: String = s"""
    base AS (SELECT * FROM qn WHERE vec_id % 10 <> 0),
    app AS (SELECT * FROM qn WHERE vec_id % 10 = 0),
    bc AS (SELECT vec_id AS cid, q AS cq FROM base
           WHERE vec_id % $CentroidMod = 0),
    basg AS (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        ORDER BY d2, cid) AS rn
      FROM (SELECT base.vec_id, bc.cid,
              CAST(list_sum(list_transform(generate_series(1, len(q)),
                i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT) AS d2
            FROM base, bc)),
    aasg AS (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        ORDER BY d2, cid) AS rn
      FROM (SELECT app.vec_id, bc.cid,
              CAST(list_sum(list_transform(generate_series(1, len(q)),
                i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT) AS d2
            FROM app, bc))"""

  /** Oracle replay of [[ivfSplitMulti]] (k = 4): each farthest-point pick
    * is a MATERIALIZED CTE (the same eager discipline the Spark side
    * applies with localCheckpoint), the running min-distance folds with
    * `least`, and the final assignment is the (d2, sid) argmin.
    */
  lazy val ivfSplitMultiSql: String = {
    def d2(q: String, sq: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($q)), " +
        s"i -> ($q[i] - $sq[i]) * ($q[i] - $sq[i]))) AS BIGINT)"
    s"""
    WITH $QuantSql,
    $ivfAsgSql,
    target AS MATERIALIZED (
      SELECT cid AS cell FROM aasg WHERE rn = 1
      GROUP BY cid ORDER BY count(*) DESC, cid ASC LIMIT 1),
    members AS MATERIALIZED (
      SELECT m.vec_id, m.cell, qn.q, qn.n2
      FROM (SELECT vec_id, cid AS cell FROM basg WHERE rn = 1
            UNION ALL
            SELECT vec_id, cid FROM aasg WHERE rn = 1) m
      JOIN target USING (cell) JOIN qn ON m.vec_id = qn.vec_id),
    s0 AS MATERIALIZED (
      SELECT vec_id AS sid, q AS sq FROM qn
      WHERE vec_id = (SELECT cell FROM target)),
    d0 AS MATERIALIZED (
      SELECT m.vec_id, m.cell, m.q, m.n2, ${d2("m.q", "s.sq")} AS mind2
      FROM members m, s0 s),
    s1 AS MATERIALIZED (
      SELECT vec_id AS sid, q AS sq FROM d0
      ORDER BY mind2 DESC, vec_id LIMIT 1),
    d1 AS MATERIALIZED (
      SELECT d.vec_id, d.cell, d.q, d.n2,
        least(d.mind2, ${d2("d.q", "s.sq")}) AS mind2
      FROM d0 d, s1 s),
    s2 AS MATERIALIZED (
      SELECT vec_id AS sid, q AS sq FROM d1
      ORDER BY mind2 DESC, vec_id LIMIT 1),
    d2_ AS MATERIALIZED (
      SELECT d.vec_id, d.cell, d.q, d.n2,
        least(d.mind2, ${d2("d.q", "s.sq")}) AS mind2
      FROM d1 d, s2 s),
    s3 AS MATERIALIZED (
      SELECT vec_id AS sid, q AS sq FROM d2_
      ORDER BY mind2 DESC, vec_id LIMIT 1),
    seeds AS (
      SELECT sid, sq FROM s0 UNION ALL SELECT sid, sq FROM s1
      UNION ALL SELECT sid, sq FROM s2 UNION ALL SELECT sid, sq FROM s3),
    asg AS (
      SELECT vec_id, cell, sid,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
      FROM (SELECT m.vec_id, m.cell, s.sid, ${d2("m.q", "s.sq")} AS d2
            FROM members m, seeds s))
    SELECT cell, sid AS sub_cid,
      CAST(sum(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base_members,
      CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_app_members
    FROM asg WHERE rn = 1 GROUP BY cell, sid ORDER BY cell, sub_cid"""
  }

  /** The base/append cell census without the drift column — the statistic
    * the STREAMING maintainer keeps; also the shared shape of
    * [[ivfAppendSql]]'s first half.
    */
  val streamIvfCensusSql: String = s"""
    WITH $QuantSql,
    $ivfAsgSql,
    bcensus AS (SELECT cid AS cell, count(*) AS n_base
                FROM basg WHERE rn = 1 GROUP BY 1),
    acensus AS (SELECT cid AS cell, count(*) AS n_appended
                FROM aasg WHERE rn = 1 GROUP BY 1)
    SELECT cell, n_base, coalesce(ac.n_appended, 0) AS n_appended
    FROM bcensus LEFT JOIN acensus ac USING (cell) ORDER BY cell"""

  val ivfAppendSql: String = s"""
    WITH $QuantSql,
    $ivfAsgSql,
    fc AS (SELECT vec_id AS cid, q AS cq FROM qn
           WHERE vec_id % $CentroidMod = 0),
    rasg AS (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        ORDER BY d2, cid) AS rn
      FROM (SELECT app.vec_id, fc.cid,
              CAST(list_sum(list_transform(generate_series(1, len(q)),
                i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT) AS d2
            FROM app, fc)),
    acensus AS (
      SELECT a.cid AS cell, count(*) AS n_appended,
        CAST(sum(CASE WHEN r.cid <> a.cid THEN 1 ELSE 0 END) AS BIGINT)
          AS n_moved_on_rebuild
      FROM aasg a JOIN rasg r ON a.vec_id = r.vec_id
      WHERE a.rn = 1 AND r.rn = 1 GROUP BY 1),
    bcensus AS (
      SELECT cid AS cell, count(*) AS n_base
      FROM basg WHERE rn = 1 GROUP BY 1)
    SELECT cell, n_base, coalesce(ac.n_appended, 0) AS n_appended,
      coalesce(ac.n_moved_on_rebuild, 0) AS n_moved_on_rebuild
    FROM bcensus LEFT JOIN acensus ac USING (cell) ORDER BY cell"""

  // ------------------------------------------------------- recall audit

  /** Recall\@k of the LSH path against the exact brute-force top-k — the
    * measurement an ANN deployment watches when tuning tables/planes (the
    * recall knob): per probe, how many of the true top-k the bucketed
    * search returned. Composes the two existing plans (both share the
    * memoized quantized frame); the audit join is per-(probe, candidate)
    * keyed, output one row per probe. At scale this runs over a probe
    * SAMPLE — the exact side is the expensive one, and the sample size
    * bounds it.
    */
  def annRecall(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    recallAudit(s, dir, annLsh(s, dir, k), k)

  def annRecallSql(k: Int = 5): String = recallAuditSql(annLshSql(k), k)

  /** The recall audit as a reusable composition: any approximate index's
    * `(probe_id, vec_id, …)` top-k left-joined against the exact top-k on
    * the (probe, candidate) key, hits counted per probe. One audit shape
    * for every index family — LSH ([[annRecall]]), IVF, PQ, and HNSW
    * (`Hnsw.hnswRecall` composes the same shape over both descents).
    */
  private[operators] def recallAudit(s: SparkSession, dir: String,
                                     approx: DataFrame,
                                     k: Int = 5): DataFrame = {
    val exact = annTopk(s, dir, k).select(col("probe_id"), col("vec_id"))
    exact.join(approx.select(col("probe_id").as("p2"), col("vec_id").as("v2")),
        col("probe_id") === col("p2") && col("vec_id") === col("v2"), "left")
      .groupBy(col("probe_id"))
      .agg(count(col("v2")).as("hits"), count(lit(1)).as("k"))
      .select(col("probe_id"), col("hits"), col("k"),
        round(col("hits").cast("double") / col("k").cast("double"), 6)
          .as("recall"))
      .orderBy("probe_id")
  }

  private[operators] def recallAuditSql(approxSql: String,
                                        k: Int = 5): String = s"""
    WITH ex AS (${annTopkSql(k)}),
    ap AS ($approxSql)
    SELECT ex.probe_id, count(ap.vec_id) AS hits, count(*) AS k,
      round(CAST(count(ap.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        AS recall
    FROM ex LEFT JOIN ap
      ON ex.probe_id = ap.probe_id AND ex.vec_id = ap.vec_id
    GROUP BY ex.probe_id ORDER BY ex.probe_id"""

  /** Recall\@k of the IVF path — the nprobe tuning statistic. */
  def ivfRecall(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    recallAudit(s, dir, annIvf(s, dir, k), k)

  // lazy: these embed SQL builders whose constants (PqM/PqSub/PqK, …) are
  // declared LATER in this object — a strict val here would capture the
  // pre-initialization zeros (Scala object vals initialize in declaration
  // order)
  lazy val ivfRecallSql: String = recallAuditSql(annIvfSql())

  /** Recall\@k of the PQ path — the codebook-size/ADC tuning statistic
    * (PQ distances are approximations, so its recall is the one an index
    * chooses codebook bits by).
    */
  def pqRecall(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    recallAudit(s, dir, annPq(s, dir, k), k)

  lazy val pqRecallSql: String = recallAuditSql(annPqSql())

  // --------------------------------------------- product quantization (ANN)

  private[operators] val PqM = 8   // subspaces
  private[operators] val PqSub = 8 // dims per subspace (PqM · PqSub = Dim)
  private val PqK = 16  // codes per subspace codebook

  /** PQ-coded ANN with asymmetric distance computation: each vector is
    * encoded as `PqM` one-byte codes (nearest codebook entry per
    * subspace); a probe precomputes its `PqM × PqK` distance table and the
    * approximate distance of any candidate is the sum of `PqM` table
    * lookups — the index touches only codes, never raw vectors. This is
    * the serving-memory scale path beyond IVF: 64 float dims become 8
    * bytes (32×), and scoring is `PqM` additions per candidate.
    *
    * Plan shape: the codebook (deterministic: the first `PqK` vectors'
    * subspace slices — k-means++ per subspace at scale, same plan) and the
    * probe distance tables are broadcast; encoding is one broadcast join +
    * map-side-combining `min_by` per (vector, subspace); candidate scoring
    * is an equi-join on (subspace, code) followed by a sum keyed by
    * (probe, vector). All distances are exact integers (quantized
    * components), so the gate is hash-tight with no float comparisons.
    */
  def annPq(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn = qdf(s, dir)
    val subs = qn.select(col("vec_id"),
        posexplode(array((0 until PqM).map(m =>
          expr(s"slice(q, ${m * PqSub + 1}, $PqSub)")): _*)).as(Seq("m", "sub")))
      .withColumn("sn2", expr("q_dot(sub, sub)"))
    val cb = subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("code"),
        col("sub").as("csub"), col("sn2").as("cn2"))
    val dExpr = col("sn2") - lit(2L) * expr("q_dot(sub, csub)") + col("cn2")
    val enc = subs.join(broadcast(cb), "m")
      .withColumn("d2", dExpr)
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    val pt = probesOf(subs).join(broadcast(cb), "m")
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

  def annPqSql(k: Int = 5): String = {
    val subDot =
      s"CAST(list_sum(list_transform(generate_series(1, $PqSub), i -> s.sub[i] * cb.csub[i])) AS BIGINT)"
    s"""
    WITH $QuantSql,
    ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
    subs AS (
      SELECT vec_id, m, list_slice(q, m * $PqSub + 1, m * $PqSub + $PqSub) AS sub
      FROM qn, ms),
    ssn AS (
      SELECT vec_id, m, sub,
        CAST(list_sum(list_transform(sub, x -> x * x)) AS BIGINT) AS sn2
      FROM subs),
    cb AS (SELECT m, vec_id AS code, sub AS csub, sn2 AS cn2
           FROM ssn WHERE vec_id < $PqK),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
          row_number() OVER (PARTITION BY s.vec_id, s.m
            ORDER BY s.sn2 - 2 * $subDot + cb.cn2, cb.code) AS rn
        FROM ssn s JOIN cb ON s.m = cb.m)
      WHERE rn = 1),
    pt AS (
      SELECT s.vec_id AS probe_id, s.m, cb.code,
        s.sn2 - 2 * $subDot + cb.cn2 AS dm
      FROM ssn s JOIN cb ON s.m = cb.m
      WHERE s.vec_id % 50 = 0 AND s.vec_id < $ProbeIdBound),
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
  }

  // ----------------------------------------------------------- IVF+PQ (ANN)

  /** IVF-PQ ANN — the composition every billion-scale vector index ships
    * (FAISS `IVFxx,PQyy`): the IVF coarse quantizer prunes the corpus to
    * `NProbe` cells per probe, and within those cells candidates are scored
    * by PQ asymmetric distance over their one-byte codes — the raw vectors
    * are touched only to build the index, never at query time.
    *
    * Plan shape: cell assignment and code assignment are each one broadcast
    * join + a map-side-combining `min_by` over the corpus; at query time the
    * probe's cell list and distance tables are broadcast dims, candidate
    * selection is an equi-join on the cell key, and scoring is a sum of
    * `PqM` lookups keyed by (probe, vector). The per-probe work is
    * `nprobe/ncells` of the corpus × 8 additions — no q_dot against raw
    * vectors in the query path at all. All-integer distances keep the gate
    * hash-tight.
    */
  def annIvfPq(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn = qdf(s, dir)
    // IVF: corpus → cell, probes → nprobe cells (as in annIvf)
    val cents = qn.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    val asg = qn.join(broadcast(cents))
      .withColumn("d2",
        col("n2") - lit(2L) * expr("q_dot(q, cq)") + col("cn2"))
    val cells = asg.groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))
    val pw = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probeCells = probesOf(asg)
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("probe_id"), col("cid").as("pcell"))
    // PQ: per-subspace codebooks, corpus codes, probe distance tables
    // (as in annPq)
    val subs = qn.select(col("vec_id"),
        posexplode(array((0 until PqM).map(m =>
          expr(s"slice(q, ${m * PqSub + 1}, $PqSub)")): _*)).as(Seq("m", "sub")))
      .withColumn("sn2", expr("q_dot(sub, sub)"))
    val cb = subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("code"),
        col("sub").as("csub"), col("sn2").as("cn2q"))
    val dExpr = col("sn2") - lit(2L) * expr("q_dot(sub, csub)") + col("cn2q")
    val enc = subs.join(broadcast(cb), "m")
      .withColumn("dq", dExpr)
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("dq"), col("code"))).as("code"))
    val pt = probesOf(subs).join(broadcast(cb), "m")
      .select(col("vec_id").as("probe_id"), col("m"), col("code"),
        dExpr.as("dm"))
    // IVF-pruned candidates, ADC-scored over codes only
    val cand = cells.join(broadcast(probeCells),
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("vec_id"))
    cand.join(enc, "vec_id")
      .join(broadcast(pt), Seq("probe_id", "m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("dm")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc"))
      .orderBy("probe_id", "rank")
  }

  def annIvfPqSql(k: Int = 5): String = {
    val subDot =
      s"CAST(list_sum(list_transform(generate_series(1, $PqSub), i -> s.sub[i] * cb.csub[i])) AS BIGINT)"
    s"""
    WITH $QuantSql,
    cents AS (SELECT vec_id AS cid, q AS cq FROM qn
              WHERE vec_id % $CentroidMod = 0),
    asg AS (
      SELECT vec_id, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM (
        SELECT qn.vec_id, cents.cid,
          CAST(list_sum(list_transform(generate_series(1, len(q)),
            i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT) AS d2
        FROM qn, cents)),
    cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
    probe_cells AS (
      SELECT vec_id, cid AS cell FROM asg
      WHERE vec_id % 50 = 0 AND vec_id < $ProbeIdBound AND rn <= $NProbe),
    ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
    subs AS (
      SELECT vec_id, m, list_slice(q, m * $PqSub + 1, m * $PqSub + $PqSub) AS sub
      FROM qn, ms),
    ssn AS (
      SELECT vec_id, m, sub,
        CAST(list_sum(list_transform(sub, x -> x * x)) AS BIGINT) AS sn2
      FROM subs),
    cb AS (SELECT m, vec_id AS code, sub AS csub, sn2 AS cn2
           FROM ssn WHERE vec_id < $PqK),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
          row_number() OVER (PARTITION BY s.vec_id, s.m
            ORDER BY s.sn2 - 2 * $subDot + cb.cn2, cb.code) AS rn
        FROM ssn s JOIN cb ON s.m = cb.m)
      WHERE rn = 1),
    pt AS (
      SELECT s.vec_id AS probe_id, s.m, cb.code,
        s.sn2 - 2 * $subDot + cb.cn2 AS dm
      FROM ssn s JOIN cb ON s.m = cb.m
      WHERE s.vec_id % 50 = 0 AND s.vec_id < $ProbeIdBound),
    cand AS (
      SELECT pc.vec_id AS probe_id, cy.vec_id AS vec_id
      FROM probe_cells pc JOIN cells cy ON cy.cell = pc.cell
      WHERE cy.vec_id <> pc.vec_id),
    adc AS (
      SELECT c.probe_id, c.vec_id, CAST(sum(dm) AS BIGINT) AS adc
      FROM cand c
      JOIN enc e ON e.vec_id = c.vec_id
      JOIN pt ON pt.probe_id = c.probe_id AND pt.m = e.m AND pt.code = e.code
      GROUP BY 1, 2),
    ranked AS (
      SELECT probe_id, vec_id, adc,
        row_number() OVER (PARTITION BY probe_id ORDER BY adc, vec_id) AS rank
      FROM adc)
    SELECT probe_id, CAST(rank AS INT) AS rank, vec_id, adc
    FROM ranked WHERE rank <= $k ORDER BY probe_id, rank"""
  }

  // ------------------------------------------------------------- kNN graph

  /** k-nearest-neighbour graph over the WHOLE corpus — every vector gets
    * its top-k cosine neighbours among vectors sharing an LSH bucket in any
    * of the two hash tables. This is the other scale regime from the
    * probe-set ANNs: the "probe" side IS the corpus, so nothing is
    * broadcastable — candidate generation must be a shuffle equi-join on
    * the (table, bucket) key, and the top-k must reduce map-side (Spark's
    * WindowGroupLimit keeps each task's local top-k per source before the
    * rank exchange). kNN graphs feed semantic dedup, graph clustering and
    * diversity sampling in training-data pipelines.
    *
    * Vectors sharing a bucket with nobody produce no row — at scale those
    * are exactly the vectors a denser hash family (more tables) would
    * recover, the standard recall/cost knob.
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    knnGraphOf(s, dir, k)

  /** Memoized SCORED candidate frame of the multi-table LSH index —
    * (probe_id, vec_id, cos_raw) for every distinct bucket-mate pair.
    * Shared by the kNN graph (top-k cut) and the corpus-wide
    * hard-negative miner (role split on the dup bar): in production the
    * scored candidate list is the expensive artifact — one LSH
    * self-join + one exact re-score — and every consumer downstream is
    * a cheap per-anchor window over it.
    */
  private[operators] def knnScoredOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "knn_scored", dir) {
      val qn = qdf(s, dir)
      val buckets = qn.select(col("vec_id"),
        posexplode(array((0 until LshTables).map(tableBucketCol): _*))
          .as(Seq("tbl", "bucket")))
      val cand = buckets.alias("a")
        .join(buckets.alias("b"),
          col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("probe_id"), col("b.vec_id").as("vec_id"))
        .distinct()
      cand
        .join(qn.select(col("vec_id").as("probe_id"), col("q").as("pq"),
          col("n2").as("pn2")), "probe_id")
        .join(qn, "vec_id")
        .withColumn("dot", expr("q_dot(pq, q)"))
        .withColumn("cos_raw", cosCol(col("dot"), col("pn2"), col("n2")))
        .select(col("probe_id"), col("vec_id"), col("cos_raw"))
    }

  /** Memoized kNN graph — shared between the `knn_graph` gate and the
    * NN-descent refinement pass (in production the graph is a persisted
    * index artifact that refinement rounds iterate on). The per-probe
    * top-k over the shared scored frame reduces map-side
    * (WindowGroupLimit) exactly like [[topkTail]].
    */
  private[operators] def knnGraphOf(s: SparkSession, dir: String,
                                    k: Int = 3): DataFrame =
    graft.Memo.cachedLeaf(s,
      if (k == 3) "knn_graph" else s"knn_graph_k$k", dir) {
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_raw").desc, col("vec_id"))
      knnScoredOf(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("probe_id").as("src"), col("rank"),
          col("vec_id").as("nbr"), round(col("cos_raw"), 6).as("cos"))
        .orderBy("src", "rank")
    }

  /** One NN-descent round (Dong et al., WWW'11) over the kNN graph: a
    * vector's improved neighbour candidates are its neighbours'
    * neighbours — the local-closure observation that lets kNN graphs
    * converge without re-scanning the corpus. Candidates = current edges ∪
    * two-hop edges, re-scored exactly, per-source top-k re-taken. The
    * output dominates the input graph (the candidate set is a superset,
    * so every source's k-th cosine is ≥ its previous k-th).
    *
    * Scale: the self-join is on the neighbour id key — O(n·k) rows join
    * O(n·k) rows producing ≤ n·k² candidates, all shuffle-bounded by the
    * graph size (never the corpus); scoring re-joins the quantized
    * vectors on their id and reduces map-side via WindowGroupLimit like
    * every other top-k.
    */
  def knnRefine(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val g = knnGraphOf(s, dir, k).select(col("src"), col("nbr"))
    val twoHop = g.alias("a").join(g.alias("b"), col("a.nbr") === col("b.src"))
      .filter(col("b.nbr") =!= col("a.src"))
      .select(col("a.src").as("src"), col("b.nbr").as("nbr"))
    val qn = qdf(s, dir)
    val paired = g.unionByName(twoHop).distinct()
      .withColumnRenamed("src", "probe_id").withColumnRenamed("nbr", "vec_id")
      .join(qn.select(col("vec_id").as("probe_id"), col("q").as("pq"),
        col("n2").as("pn2")), "probe_id")
      .join(qn, "vec_id")
    topkTail(paired, k)
      .select(col("probe_id").as("src"), col("rank"),
        col("vec_id").as("nbr"), col("cos"))
  }

  /** Oracle CTE chain ending in `graph(src, rank, nbr, cos_raw)` — shared
    * by the kNN-graph gate and the NN-descent refinement gate.
    */
  private[operators] def knnCtesSql(k: Int): String = s"""
    $QuantSql,
    ${projSql(LshTables * NumPlanes)},
    buckets AS (
      SELECT vec_id, h // $NumPlanes AS tbl,
        sum(CASE WHEN proj >= 0 THEN 1 ELSE 0 END * (1 << (h % $NumPlanes)))
          AS bucket
      FROM proj GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT x.vec_id AS probe_id, y.vec_id AS cand_id
      FROM buckets x JOIN buckets y
        ON x.tbl = y.tbl AND x.bucket = y.bucket
      WHERE x.vec_id <> y.vec_id),
    pairs AS (
      SELECT probe_id, cand_id AS vec_id, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM cand
      JOIN qn x ON probe_id = x.vec_id
      JOIN qn y ON cand_id = y.vec_id),
    scored AS (
      SELECT probe_id, vec_id, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs),
    graph AS (
      SELECT probe_id AS src, rank, vec_id AS nbr, cos_raw
      FROM scored WHERE rank <= $k)"""

  def knnGraphSql(k: Int = 3): String = s"""
    WITH ${knnCtesSql(k)}
    SELECT src, CAST(rank AS INT) AS rank, nbr, round(cos_raw, 6) AS cos
    FROM graph ORDER BY src, rank"""

  def knnRefineSql(k: Int = 3): String = s"""
    WITH ${knnCtesSql(k)},
    cand2 AS (
      SELECT src, nbr FROM graph
      UNION
      SELECT a.src, b.nbr FROM graph a JOIN graph b ON a.nbr = b.src
      WHERE b.nbr <> a.src),
    pairs2 AS (
      SELECT src, nbr, x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM cand2
      JOIN qn x ON src = x.vec_id
      JOIN qn y ON nbr = y.vec_id),
    scored2 AS (
      SELECT src, nbr, $PairCosSql AS cos_raw,
        row_number() OVER (PARTITION BY src
          ORDER BY $PairCosSql DESC, nbr) AS rank
      FROM pairs2)
    SELECT src, CAST(rank AS INT) AS rank, nbr, round(cos_raw, 6) AS cos
    FROM scored2 WHERE rank <= $k ORDER BY src, rank"""

  // ------------------------------------------------------ int8 quantization

  /** Int8 scale: |x| < 0.635 in any unit-ish embedding keeps
    * round(x·200) within [−127, 127], so the stored vector is one byte per
    * dimension — 4× smaller than float32, the standard serving-memory
    * optimization for ANN indexes.
    */
  private val Int8Scale = 200
  /** 10^7 / Int8Scale: one int8 step measured in fine-quantization units. */
  private val StepFine = 50000

  /** Int8 quantization audit: per vector, the squared reconstruction error
    * and max per-dimension error of the 1-byte representation, measured
    * against the 10^7 fine quantization — all integer arithmetic, so the
    * gate is exact. A narrow single-scan projection (zero shuffle); the
    * production path stores `q8` and serves `q_dot(q8, q8probe)` with the
    * scale factored out of the cosine.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val qn = qdf(s, dir)
    qn.join(
        Tables.embeddings(s, dir).select(col("vec_id"),
          expr(s"transform(embedding, x -> cast(floor(cast(x as double) * $Int8Scale + 0.5) as bigint))")
            .as("q8")),
        "vec_id")
      .withColumn("err", expr(s"zip_with(q, q8, (a, b) -> a - ${StepFine}L * b)"))
      .select(col("vec_id"),
        expr("q_dot(err, err)").as("sse"),
        expr("array_max(transform(err, x -> abs(x)))").as("max_err"))
      .orderBy("vec_id")
  }

  val embedQuantizeSql: String = s"""
    WITH e7 AS (SELECT vec_id, $QvecSql AS q FROM embeddings),
    e8 AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * $Int8Scale + 0.5) AS BIGINT))
               AS q8
           FROM embeddings),
    er AS (
      SELECT vec_id,
        list_transform(generate_series(1, len(q)),
          i -> q[i] - $StepFine * q8[i]) AS err
      FROM e7 JOIN e8 USING (vec_id))
    SELECT vec_id,
      CAST(list_sum(list_transform(err, x -> x * x)) AS BIGINT) AS sse,
      CAST(list_max(list_transform(err, x -> abs(x))) AS BIGINT) AS max_err
    FROM er ORDER BY vec_id"""

  /** Gate: hard-negative mining for retrieval/embedder training — per
    * probe, the positive (exact nearest neighbor) plus the top
    * [[HardNegK]] HARD negatives: high-cosine neighbors that are NOT
    * near-dups (cos < [[DupCosBar]] — the SAME bar `dedup_embedding`
    * verifies with, so "not a duplicate" has exactly one definition).
    * This is the (anchor, positive, negatives) triple miner every
    * contrastive-training pipeline runs over its corpus; near-dup
    * "negatives" would be false negatives and poison the loss, which is
    * why the dedup bar composes here.
    *
    * Scale: rides the exact top-k frame (broadcast probe set over the
    * corpus scan); the per-probe negative cut is a WindowGroupLimit
    * keyed by probe — no new corpus pass, no new shuffle shape.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val base = annTopk(s, dir, 10)
    val pos = base.filter(col("rank") === 1)
      .select(col("probe_id"), lit("positive").as("role"),
        lit(1).as("pick"), col("vec_id"), col("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val negs = base.filter(col("rank") >= 2 && col("cos") < DupCosBar)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= HardNegK)
      .select(col("probe_id"), lit("negative").as("role"), col("pick"),
        col("vec_id"), col("cos"))
    pos.unionByName(negs).orderBy("probe_id", "role", "pick")
  }

  /** Hard negatives kept per probe. */
  private val HardNegK = 2

  val hardNegativesSql: String = s"""
    WITH base AS (${annTopkSql(10)}),
    hpos AS (SELECT probe_id, 'positive' AS role, 1 AS pick, vec_id, cos
             FROM base WHERE rank = 1),
    hneg AS (SELECT probe_id, 'negative' AS role,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, vec_id) AS INT) AS pick,
               vec_id, cos
             FROM base WHERE rank >= 2 AND cos < $DupCosBar)
    SELECT * FROM hpos
    UNION ALL
    SELECT * FROM hneg WHERE pick <= $HardNegK
    ORDER BY probe_id, role, pick"""

  /** Gate: CORPUS-WIDE hard-negative mining over the LSH index — the
    * [[hardNegatives]] triple miner lifted from the 2%-probe regime to
    * every vector as an anchor (the [[knnGraphOf]] regime): candidates
    * come from the multi-table LSH buckets, the positive/negative split
    * is the SAME [[DupCosBar]] the `dedup_embedding` gate verifies with
    * (a near-dup can never be emitted as a negative — false negatives
    * would poison a contrastive loss), and an anchor is emitted only
    * when it HAS a positive (a triple needs one). Per anchor: pick-1
    * positive (highest cosine ≥ bar) + top [[HardNegK]] hard negatives
    * (highest cosines < bar).
    *
    * Scale: one consumer of the memoized scored-candidate frame — zero
    * new corpus passes, zero new shuffle shapes; both role cuts are
    * per-anchor WindowGroupLimits, and the anchors-with-a-positive
    * restriction is a LEFT SEMI join against the positive frame, left
    * unhinted (it scales with corpus duplication — the r11 advice
    * lesson — so AQE picks the side).
    */
  def hardNegativesKnn(s: SparkSession, dir: String): DataFrame = {
    val scored = knnScoredOf(s, dir)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val pos = scored.filter(col("cos_raw") >= DupCosBar)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1)
    val neg = scored.filter(col("cos_raw") < DupCosBar)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= HardNegK)
      .join(pos.select(col("probe_id")), Seq("probe_id"), "left_semi")
    def shaped(df: DataFrame, role: String) = df
      .select(col("probe_id").as("anchor_id"), lit(role).as("role"),
        col("pick"), col("vec_id"), round(col("cos_raw"), 6).as("cos"))
    shaped(pos, "positive").unionByName(shaped(neg, "negative"))
      .orderBy("anchor_id", "role", "pick")
  }

  val hardNegativesKnnSql: String = s"""
    WITH ${knnCtesSql(3)},
    hkpos AS (
      SELECT probe_id, vec_id, cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY cos_raw DESC, vec_id) AS pick
      FROM scored WHERE cos_raw >= $DupCosBar),
    hkneg AS (
      SELECT probe_id, vec_id, cos_raw,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY cos_raw DESC, vec_id) AS pick
      FROM scored WHERE cos_raw < $DupCosBar),
    hka AS (SELECT probe_id FROM hkpos WHERE pick = 1)
    SELECT probe_id AS anchor_id, 'positive' AS role, CAST(pick AS INT)
        AS pick, vec_id, round(cos_raw, 6) AS cos
    FROM hkpos WHERE pick = 1
    UNION ALL
    SELECT n.probe_id, 'negative', CAST(n.pick AS INT), n.vec_id,
      round(n.cos_raw, 6)
    FROM hkneg n JOIN hka USING (probe_id) WHERE n.pick <= $HardNegK
    ORDER BY anchor_id, role, pick"""

  // --------------------------------------------------- Matryoshka audit

  /** Prefix dims the MRL audit measures (full [[Dim]] rides along as the
    * identity self-check row — its recall is 1.0 by construction).
    */
  private val MrlDims = Seq(8, 16, 32)

  /** Truncated-dim top-k ids for one prefix width (the oracle twin of
    * the sliced Spark plan).
    */
  private def mrlApSql(d: Int, k: Int): String = s"""
    WITH e AS (SELECT vec_id, ($QvecSql)[1:$d] AS q FROM embeddings),
    qn AS (SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
           FROM e),
    pairs AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qn x JOIN qn y ON x.vec_id % 50 = 0 AND x.vec_id < $ProbeIdBound AND x.vec_id <> y.vec_id),
    scored AS (
      SELECT probe_id, vec_id,
        row_number() OVER (PARTITION BY probe_id
          ORDER BY $PairCosSql DESC, vec_id) AS rank
      FROM pairs)
    SELECT probe_id, vec_id FROM scored WHERE rank <= $k"""

  /** Gate: the Matryoshka (MRL, Kusupati et al. NeurIPS'22) truncation
    * audit — recall\@k of cosine top-k computed over each PREFIX of the
    * embedding against the full-width exact top-k. This is the serving
    * decision artifact for MRL-trained embedders: the stored vector's
    * prefix IS a valid lower-dim embedding, so the table tells the
    * owner which truncation (8/16/32 of 64 dims here) keeps enough
    * recall to serve — the memory/recall knob that PQ answers by
    * codebooks ([[pqRecall]]) and int8 by value width
    * ([[embedQuantize]]); prefix truncation is the third production
    * axis, and the cheapest (a `slice` of the stored array, no
    * training, no codebook).
    *
    * Scale: the exact full-dim baseline is the expensive side —
    * memoized once and shared by all prefix widths, and bounded by the
    * fixed-size probe sample ([[ProbeCap]]), so each scoring pass is
    * O(ProbeCap × corpus), linear in the corpus; each
    * truncated pass re-slices the memoized quantized frame (narrow
    * map), scores via the same broadcast-probe nested loop, and cuts
    * per-probe map-side. Union of per-dim audits is O(dims × probes)
    * rows.
    */
  def embedMrl(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // k in the memo key: a k=10 call must not reuse a k=5 baseline (the
    // minhash_pairs_$threshold convention)
    val exact = graft.Memo.cachedLeaf(s, s"ann_exact_ids_$k", dir) {
      annTopk(s, dir, k).select(col("probe_id"), col("vec_id"))
    }
    val qn = qdf(s, dir)
    val audits = (MrlDims :+ Dim).map { d =>
      val t = qn.select(col("vec_id"), expr(s"slice(q, 1, $d)").as("q"))
        .withColumn("n2", expr("q_dot(q, q)"))
      val probes = probesOf(t).select(col("vec_id").as("probe_id"),
        col("q").as("pq"), col("n2").as("pn2"))
      val approx = topkTail(
        t.join(broadcast(probes), col("probe_id") =!= col("vec_id")), k)
      exact
        .join(approx.select(col("probe_id").as("p2"), col("vec_id").as("v2")),
          col("probe_id") === col("p2") && col("vec_id") === col("v2"), "left")
        .groupBy(col("probe_id"))
        .agg(count(col("v2")).as("hits"), count(lit(1)).as("k"))
        .select(lit(d.toLong).as("dim"), col("probe_id"), col("hits"),
          col("k"),
          round(col("hits").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
    }
    audits.reduce(_.unionByName(_)).orderBy("dim", "probe_id")
  }

  def embedMrlSql(k: Int = 5): String = {
    val dims = MrlDims :+ Dim
    val aps = dims.map(d => s"a$d AS (${mrlApSql(d, k)})").mkString(",\n")
    val audits = dims.map(d => s"""
      SELECT CAST($d AS BIGINT) AS dim, ex.probe_id,
        count(a$d.vec_id) AS hits, count(*) AS k,
        round(CAST(count(a$d.vec_id) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS recall
      FROM ex LEFT JOIN a$d
        ON ex.probe_id = a$d.probe_id AND ex.vec_id = a$d.vec_id
      GROUP BY ex.probe_id""").mkString(" UNION ALL ")
    s"""
    WITH ex AS (${annTopkSql(k)}),
    $aps
    $audits ORDER BY dim, probe_id"""
  }

  // ---------------------------------------------------- IVF nprobe sweep

  /** Probe-cell counts the sweep measures (the index ships
    * [[NProbe]] = 2; the table shows what 1 and 4 would trade).
    */
  private val SweepNprobes = Seq(1, 2, 4)

  /** Gate: the IVF `nprobe` TUNING TABLE — per probed-cell count, each
    * probe's candidate volume (`n_scanned`, the cost axis: every
    * candidate is one exact distance) next to its recall\@k against the
    * exact top-k (the quality axis). The recall/latency knob every
    * served IVF index exposes, measured instead of guessed — the
    * third entry in the tuning-table family ([[Dedup.lshTuning]] for
    * the dedup index, [[embedMrl]] for stored-width truncation).
    *
    * Scale: cell assignment builds ONCE (broadcast-centroid argmin,
    * memoized — the same frame any consumer of the built index reads)
    * and each nprobe branch only re-cuts the PROBE side's cell ranking
    * (probe-sample-sized) before the inverted-list join; the exact
    * baseline is the shared memoized frame. Candidate sets nest across
    * nprobe values, so recall and n_scanned are monotone — the spec
    * pins it.
    */
  def ivfNprobeSweep(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val asg = ivfAsgOf(s, dir)
    val cells = ivfCellsOf(s, dir)
    val exact = graft.Memo.cachedLeaf(s, s"ann_exact_ids_$k", dir) {
      annTopk(s, dir, k).select(col("probe_id"), col("vec_id"))
    }
    val pw = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val ranked = probesOf(asg).withColumn("rn", row_number().over(pw))
    SweepNprobes.map { np =>
      val probeCells = ranked.filter(col("rn") <= np)
        .select(col("vec_id").as("probe_id"), col("cid").as("pcell"),
          col("q").as("pq"), col("n2").as("pn2"))
      val paired = cells.join(broadcast(probeCells),
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id"))
      val nsc = paired.groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_scanned"))
      val approx = topkTail(paired, k)
      exact
        .join(approx.select(col("probe_id").as("p2"), col("vec_id").as("v2")),
          col("probe_id") === col("p2") && col("vec_id") === col("v2"),
          "left")
        .groupBy(col("probe_id"))
        .agg(count(col("v2")).as("hits"), count(lit(1)).as("k"))
        .join(nsc, Seq("probe_id"), "left")
        .select(lit(np.toLong).as("nprobe"), col("probe_id"),
          coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
          col("hits"), col("k"),
          round(col("hits").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
    }.reduce(_.unionByName(_)).orderBy("nprobe", "probe_id")
  }

  def ivfNprobeSweepSql(k: Int = 5): String = {
    val branches = SweepNprobes.map { np => s"""
    pc$np AS (SELECT vec_id, cid AS cell FROM iasg
              WHERE vec_id % 50 = 0 AND vec_id < $ProbeIdBound AND rn <= $np),
    pr$np AS (
      SELECT x.vec_id AS probe_id, y.vec_id AS vec_id,
             x.n2 AS na, y.n2 AS nb,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i] * y.q[i])) AS BIGINT) AS dot
      FROM qn x
      JOIN pc$np pc ON pc.vec_id = x.vec_id
      JOIN icells cy ON cy.cell = pc.cell
      JOIN qn y ON y.vec_id = cy.vec_id AND y.vec_id <> x.vec_id),
    ns$np AS (SELECT probe_id, count(*) AS n_scanned FROM pr$np GROUP BY 1),
    ap$np AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY $PairCosSql DESC, vec_id) AS rank
        FROM pr$np)
      WHERE rank <= $k),
    au$np AS (
      SELECT ex.probe_id, count(ap$np.vec_id) AS hits, count(*) AS k
      FROM ex LEFT JOIN ap$np
        ON ex.probe_id = ap$np.probe_id AND ex.vec_id = ap$np.vec_id
      GROUP BY ex.probe_id)"""
    }.mkString(",")
    val sel = SweepNprobes.map { np => s"""
    SELECT CAST($np AS BIGINT) AS nprobe, au.probe_id,
      coalesce(ns.n_scanned, 0) AS n_scanned, au.hits, au.k,
      round(CAST(au.hits AS DOUBLE) / CAST(au.k AS DOUBLE), 6) AS recall
    FROM au$np au LEFT JOIN ns$np ns ON au.probe_id = ns.probe_id"""
    }.mkString("\n    UNION ALL\n    ")
    s"""
    WITH $QuantSql,
    icents AS (SELECT vec_id AS cid, q AS cq FROM qn
               WHERE vec_id % $CentroidMod = 0),
    iasg AS (
      SELECT vec_id, cid,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM (
        SELECT qn.vec_id, icents.cid,
          CAST(list_sum(list_transform(generate_series(1, len(q)),
            i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT) AS d2
        FROM qn, icents)),
    icells AS (SELECT vec_id, cid AS cell FROM iasg WHERE rn = 1),
    ex AS (${annTopkSql(k)}),
    $branches
    $sel
    ORDER BY nprobe, probe_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_mrl" -> (embedMrl(_, _)),
    "ivf_nprobe_sweep" -> (ivfNprobeSweep(_, _)),
    "hard_negatives" -> (hardNegatives _),
    "hard_negatives_knn" -> (hardNegativesKnn _),
    "dedup_embedding" -> (dedupEmbedding _),
    "embed_dedup_sweep" -> (embedDedupSweep _),
    "embed_width_sweep" -> (embedWidthSweep _),
    "decontaminate_semantic" -> (decontaminateSemantic _),
    "ann_topk" -> (annTopk(_, _)),
    "ann_topk_filtered" -> (annTopkFiltered(_, _)),
    "ann_filtered_recall" -> (annFilteredRecall(_, _)),
    "ann_recall" -> (annRecall(_, _)),
    "ivf_recall" -> (ivfRecall(_, _)),
    "pq_recall" -> (pqRecall(_, _)),
    "ann_lsh" -> (annLsh(_, _)),
    "ann_lsh_multi" -> (annLshMulti(_, _)),
    "ann_ivf" -> (annIvf(_, _)),
    "ann_pq" -> (annPq(_, _)),
    "ann_ivf_pq" -> (annIvfPq(_, _)),
    "knn_graph" -> (knnGraph(_, _)),
    "knn_refine" -> (knnRefine(_, _)),
    "ann_range" -> (annRange _),
    "embed_norm_stats" -> (embedNormStats _),
    "lsh_bucket_stats" -> (lshBucketStats _),
    "embed_quantize" -> (embedQuantize(_, _)),
    "ivf_append" -> (ivfAppend _),
    "ivf_split" -> (ivfSplit _),
    "ivf_split_multi" -> ((s, d) => ivfSplitMulti(s, d)))

  val oracles: Map[String, String] = Map(
    "embed_mrl" -> embedMrlSql(),
    "ivf_nprobe_sweep" -> ivfNprobeSweepSql(),
    "hard_negatives" -> hardNegativesSql,
    "hard_negatives_knn" -> hardNegativesKnnSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "embed_dedup_sweep" -> embedDedupSweepSql,
    "embed_width_sweep" -> embedWidthSweepSql,
    "decontaminate_semantic" -> decontaminateSemanticSql,
    "ann_topk" -> annTopkSql(),
    "ann_topk_filtered" -> annTopkFilteredSql(),
    "ann_filtered_recall" -> annFilteredRecallSql(),
    "ann_recall" -> annRecallSql(),
    "ivf_recall" -> ivfRecallSql,
    "pq_recall" -> pqRecallSql,
    "ann_lsh" -> annLshSql(),
    "ann_lsh_multi" -> annLshMultiSql(),
    "ann_ivf" -> annIvfSql(),
    "ann_pq" -> annPqSql(),
    "ann_ivf_pq" -> annIvfPqSql(),
    "knn_graph" -> knnGraphSql(),
    "knn_refine" -> knnRefineSql(),
    "ann_range" -> annRangeSql,
    "embed_norm_stats" -> embedNormStatsSql,
    "lsh_bucket_stats" -> lshBucketStatsSql,
    "embed_quantize" -> embedQuantizeSql,
    "ivf_append" -> ivfAppendSql,
    "ivf_split" -> ivfSplitSql,
    "ivf_split_multi" -> ivfSplitMultiSql)
}
