package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AUDIO near-duplicate detection over the REAL decoded PCM — the audio
  * modality's analog of the image phash family, completing the dedup
  * symmetry the r16 verdict asked for: an audio-LM pipeline must
  * near-dedup clips BEFORE pricing them, or a duplicated clip is
  * double-counted by `audio_interleave` with nothing to catch it.
  *
  * The fingerprint is the chromaprint/shazam shape reduced to the gate's
  * deterministic corpus: the clip's PCM (decoded by the real
  * `javax.sound.sampled` WAV codec — a codec regression that drops or
  * reorders frames changes the fingerprint and fails the gate) splits
  * into [[FpWindows]] fixed time windows; per-window ENERGY (sum of
  * squared samples — integer-exact, SQL-replayable) is reduced to one
  * bit by comparing NEIGHBOURING windows: bit k set iff energy(k) >
  * energy((k+1) mod 64) — the chromaprint-style difference bit (see
  * [[fpOfSamples]] for why above-mean bits failed at scale). The 64
  * bits ship as two BIGINT halves, and near-dup pairs come from the
  * SAME banded-hamming search
  * as the image family ([[Multimodal.hammingBandPairs]] — four 16-bit
  * bands, lossless blocking for hamming ≤ [[AudioFpMaxHamming]] by
  * pigeonhole, popcount verify) — one definition, the modalities cannot
  * drift.
  *
  * Deliberate duplicates (the decorrelated generator has no incidental
  * ones): every [[Multimodal.PlantMod]]-th doc plants a byte-copy of its
  * WAV under id + [[Multimodal.PlantShift]] (the phash store's plant
  * convention), and the re-crawl family ([[Multimodal.genOf]]) makes
  * every 10th doc ship the clip of the doc 4 ids earlier — so clusters
  * chain plant → source → re-crawl source across incremental partitions.
  *
  * Scale: fingerprinting is one batched `mapPartitions` pass over the
  * payload column (payloads never visit the driver); the pair search
  * shuffles 16 bytes per clip on the band key; clusters reuse the
  * pointer-jumping component loop. No all-pairs comparison anywhere.
  *
  * Reference analog: the dedup discipline of `_bde_FixChangedIncKeyRecords`
  * (`sql/02-bde_control_functions.sql.in:2146`) — arriving rows that
  * duplicate stored content must resolve to the stored copy.
  */
object AudioFp extends graft.GateModule {

  import Multimodal.{AudSamples, PlantMod, PlantShift, genSqlOf, sampleSql}

  /** Fingerprint windows per clip (64 bits); at [[AudSamples]] = 256 each
    * window spans 4 samples.
    */
  private val FpWindows = 64

  private[operators] val AudioFpMaxHamming = 3

  /** The 64-bit energy fingerprint of one clip's samples — shared by the
    * codec path and the specs' generator-side expectations, so they
    * cannot drift.
    *
    * Bit k compares NEIGHBOURING window energies (energy(k) >
    * energy((k+1) mod 64)) — the chromaprint-style difference bit — not
    * energy-above-mean: above-mean bits are strongly correlated across
    * clips (the energy PROFILE shape dominates; measured: 50 k clips
    * occupied only ~5.9 k distinct 16-bit band values, max bucket 691,
    * so banded candidates grew ~n²/6k and the 100× pair join exploded).
    * Difference bits are ~fair coin flips for unrelated clips — band
    * values spread over the full 16-bit space, bucket occupancy stays
    * ~n/65536 per band and candidate volume linear — while byte-copies
    * (plants, re-crawls) still fingerprint identically.
    */
  private[graft] def fpOfSamples(samples: Array[Int]): (Long, Long) = {
    val wlen = samples.length / FpWindows
    val esum = new Array[Long](FpWindows)
    var i = 0
    while (i < samples.length) {
      val e = samples(i).toLong * samples(i)
      esum(math.min(FpWindows - 1, i / wlen)) += e
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var k = 0
    while (k < FpWindows) {
      if (esum(k) > esum((k + 1) % FpWindows)) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      k += 1
    }
    (hi, lo)
  }

  /** Memoized per-clip fingerprint frame `(doc_id, hash_hi, hash_lo)` —
    * corpus clips plus the planted byte-copies — shared by the group,
    * pair and cluster gates and the streaming maintainer.
    */
  private[graft] def audioFpOf(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "audio_fp", dir)(audioFpCodec(s, dir))

  private[graft] def audioFpCodec(s: SparkSession, dir: String,
                                  batchSize: Int = 64): DataFrame = {
    import s.implicits._
    val base = Multimodal.withAudioPayload(s, dir)
    val planted = base.filter(col("doc_id") % PlantMod === 0)
      .select((col("doc_id") + PlantShift).as("doc_id"), col("payload"))
    base.unionByName(planted)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // <- a vectorized audio decoder would take `batch` in one call
          batch.iterator.map { case (id, bytes) =>
            val ais = Multimodal.WavCodec.read(bytes)
            val pcm = ais.readAllBytes()
            val n = pcm.length / 2
            val samples = new Array[Int](n)
            var i = 0
            while (i < n) {
              samples(i) =
                ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)).toShort
              i += 1
            }
            val (hi, lo) = fpOfSamples(samples)
            (id, hi, lo)
          }
        }
      }
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  /** Gate: fingerprint GROUPS — exact-duplicate clip detection, the
    * audio twin of `multimodal_phash` (plants and re-crawls surface as
    * groups of size ≥ 2; the decorrelated corpus has no incidental
    * collisions).
    */
  def audioFpGroups(s: SparkSession, dir: String): DataFrame =
    audioFpOf(s, dir)
      .groupBy(col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("n_clips"), min(col("doc_id")).as("rep_id"))
      .orderBy("hash_hi", "hash_lo", "rep_id")

  /** Gate: banded hamming near-dup PAIRS over the fingerprints — the
    * audio twin of `multimodal_phash_pairs`, riding the shared
    * [[Multimodal.hammingBandPairs]] machinery.
    */
  // memoized like the phash pair frame: the pair gate, the cluster
  // gate, the stream maintainer and the composed audio pipeline share
  // one band join + verify pass
  def audioFpPairs(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "audio_fp_pairs", dir)(
      Multimodal.hammingBandPairs(audioFpOf(s, dir), AudioFpMaxHamming))

  /** Gate: near-dup clip CLUSTERS — connected components over the
    * verified pairs (the `phash_clusters` convention: pointer-jumping
    * labels, per-cluster size).
    */
  def audioFpClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = audioFpPairs(s, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = Clustering.ccPointerJump(pairs)
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"))
    labels.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster"), col("csize"))
      .orderBy("doc_id")
  }

  /** The verified pair set as sharded edge observations — the
    * [[Clustering.pairObs]] shape over the AUDIO near-dup family, so the
    * streaming maintainer (`stream_audiofp_maintain`) rides the same
    * [[graft.streaming.StreamCluster]] per-shard spanning forests as the
    * text and image families.
    */
  private[graft] def audioFpPairObs(s: SparkSession, dir: String): DataFrame =
    audioFpPairs(s, dir).select(
      pmod(least(col("id_a"), col("id_b")),
        lit(Clustering.CcShards.toLong)).as("shard"),
      col("id_a").as("a"), col("id_b").as("b"))

  /** The fingerprint CTE chain (generator samples → window energies →
    * bits → hashes → bands → verified candidates
    * `afcand(id_a, id_b, hamming)`), shared by all three gate oracles —
    * the replay of the WHOLE chain from the sample arithmetic, so the
    * codec path is oracle-gated end to end.
    */
  private[operators] val audioFpCtesSql: String = s"""
    afids AS (
      SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, ${genSqlOf("doc_id")}
      FROM documents WHERE doc_id % $PlantMod = 0),
    afsx AS (
      SELECT afids.doc_id, i.i // ${AudSamples / FpWindows} AS k,
        CAST(${sampleSql("gen_id", "i.i")} AS BIGINT) AS sv
      FROM afids
      CROSS JOIN generate_series(0, ${AudSamples - 1}) AS i(i)),
    afes AS (SELECT doc_id, k, CAST(sum(sv * sv) AS BIGINT) AS esum
             FROM afsx GROUP BY 1, 2),
    afbits AS (
      SELECT a.doc_id, a.k,
        CASE WHEN a.esum > b.esum THEN 1 ELSE 0 END AS bit
      FROM afes a JOIN afes b
        ON a.doc_id = b.doc_id AND b.k = (a.k + 1) % $FpWindows),
    afhashes AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 AND bit = 1
          THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT)
          AS hash_hi,
        CAST(sum(CASE WHEN k < 32 AND bit = 1
          THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS hash_lo
      FROM afbits GROUP BY doc_id),
    afbands AS (
      SELECT doc_id, hash_hi, hash_lo, u.band,
        CASE u.band
          WHEN 0 THEN hash_lo & 65535
          WHEN 1 THEN (hash_lo >> 16) & 65535
          WHEN 2 THEN hash_hi & 65535
          ELSE (hash_hi >> 16) & 65535 END AS bv
      FROM afhashes, UNNEST(generate_series(0, 3)) AS u(band)),
    afcand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        CAST(bit_count(xor(x.hash_hi, y.hash_hi))
          + bit_count(xor(x.hash_lo, y.hash_lo)) AS BIGINT) AS hamming
      FROM afbands x JOIN afbands y
        ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)"""

  val audioFpGroupsSql: String = s"""
    WITH $audioFpCtesSql
    SELECT hash_hi, hash_lo, count(*) AS n_clips, min(doc_id) AS rep_id
    FROM afhashes GROUP BY 1, 2 ORDER BY hash_hi, hash_lo, rep_id"""

  val audioFpPairsSql: String = s"""
    WITH $audioFpCtesSql
    SELECT id_a, id_b, hamming FROM afcand
    WHERE hamming <= $AudioFpMaxHamming ORDER BY id_a, id_b"""

  val audioFpClustersSql: String = s"""
    WITH RECURSIVE $audioFpCtesSql,
    afedges AS (
      SELECT id_a AS src, id_b AS dst FROM afcand
      WHERE hamming <= $AudioFpMaxHamming
      UNION
      SELECT id_b, id_a FROM afcand WHERE hamming <= $AudioFpMaxHamming),
    afreach(id, lab) AS (
      SELECT src, src FROM afedges
      UNION
      SELECT e.src, r.lab FROM afedges e JOIN afreach r ON r.id = e.dst),
    afcomp AS (SELECT id AS doc_id, min(lab) AS cluster
               FROM afreach GROUP BY id),
    afsizes AS (SELECT cluster, count(*) AS csize FROM afcomp
                GROUP BY cluster)
    SELECT doc_id, cluster, csize FROM afcomp JOIN afsizes USING (cluster)
    ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "audio_fp" -> (audioFpGroups _),
    "audio_fp_pairs" -> (audioFpPairs _),
    "audio_fp_clusters" -> (audioFpClusters _))

  val oracles: Map[String, String] = Map(
    "audio_fp" -> audioFpGroupsSql,
    "audio_fp_pairs" -> audioFpPairsSql,
    "audio_fp_clusters" -> audioFpClustersSql)
}
