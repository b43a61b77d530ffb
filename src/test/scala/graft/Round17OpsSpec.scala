package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.PipelineMedia.{Audio, Image, fullLoad, incremental}

/** Round-17 operator specs: the audio dedup family (fingerprint, pairs,
  * clusters, composed pipeline) and the decorrelated media universe —
  * properties a cross-engine hash can't articulate: codec/direct
  * equality, plant-dies-to-source, re-crawl identity, universe growth.
  */
class Round17OpsSpec extends SparkSpec {

  test("decorrelated image universe: distinct images scale with the " +
    "corpus; only plants and re-crawls duplicate") {
    val M = operators.Multimodal
    val hs = M.phashesOf(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("hash_hi"), r.getAs[Long]("hash_lo")))).toMap
    val corpus = hs.keys.filter(_ < 100000L).toSeq
    // every duplicated hash group is explained by a plant or a re-crawl:
    // group by hash, check each group's ids form a {src, src+shift} or
    // {src, src+4-recrawl} chain via genOf
    val groups = hs.toSeq.groupBy(_._2).values.filter(_.size > 1)
    assert(groups.nonEmpty, "plants/re-crawls must duplicate")
    for (g <- groups) {
      val gens = g.map { case (id, _) =>
        M.genOf(if (id >= 100000L) id - 100000L else id)
      }.distinct
      assert(gens.size == 1,
        s"group ${g.map(_._1).sorted} not explained by plant/re-crawl")
    }
    // distinct-image count grows with the corpus (not capped at 256):
    // 500 docs at sf0.001 → ≥ 400 distinct images (50 re-crawls collapse)
    val distinctImgs = corpus.map(hs).distinct.size
    assert(distinctImgs > 256,
      s"universe still clique-shaped: $distinctImgs distinct images")
  }

  test("re-crawl family: doc id%10==9 shares image AND clip with id-4, " +
    "across the incremental partition boundary") {
    val M = operators.Multimodal
    // residues: 9 % 5 = 4 (the incremental BATCH residue), 5 % 5 = 0
    // (base) — the cross-partition duplicate the existing-corpus-wins
    // path needs
    assert(M.ReImRes % 5 == 4 && (M.ReImRes - M.ReImDelta) % 5 == 0)
    assert(M.genOf(9L) == 5L && M.genOf(19L) == 15L && M.genOf(10L) == 10L)
    assert(java.util.Arrays.equals(M.rgbBytes(9L), M.rgbBytes(5L)))
    assert(java.util.Arrays.equals(M.pcmBytes(19L), M.pcmBytes(15L)))
    assert(!java.util.Arrays.equals(M.rgbBytes(8L), M.rgbBytes(4L)))
  }

  test("audioFpDirect equals the codec path exactly (WAV PCM " +
    "losslessness end to end) — the probe-mode fingerprint source " +
    "cannot drift") {
    val A = operators.AudioFp
    val direct = Round17OpsSpec.audioFpDirect(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val codec = A.audioFpCodec(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(direct.keySet == codec.keySet)
    for ((id, fp) <- codec) assert(direct(id) == fp, s"doc $id drifted")
  }

  test("audioFramesDirect equals the codec decode/resample frames " +
    "exactly (WAV PCM losslessness) — the probe-mode frame source " +
    "cannot drift") {
    val M = operators.Multimodal
    def key(r: org.apache.spark.sql.Row): (Long, String) =
      (r.getAs[Long]("doc_id"), r.toString)
    val dc = M.decodeAudioUncachedForSpec(spark, sf).collect().map(key).sorted
    val dd = Round17OpsSpec.audioFramesDirect(spark, sf, resampled = false)
      .collect().map(key).sorted
    assert(dc.toSeq == dd.toSeq)
    val rc = M.resampleAudioUncachedForSpec(spark, sf).collect().map(key).sorted
    val rd = Round17OpsSpec.audioFramesDirect(spark, sf, resampled = true)
      .collect().map(key).sorted
    assert(rc.toSeq == rd.toSeq)
  }

  test("audio_fp plants and re-crawls: every planted clip fingerprints " +
    "identically to its source; clusters chain plant → source → " +
    "re-crawl source and keep the min id") {
    val A = operators.AudioFp
    val fp = A.audioFpOf(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("hash_hi"), r.getAs[Long]("hash_lo")))).toMap
    // plants: byte-copy under id + 100000 → identical fingerprint
    for (src <- fp.keys.filter(id => id < 100000L && id % 9 == 0))
      assert(fp(src + 100000L) == fp(src), s"plant of $src drifted")
    // re-crawls: id%10==9 shares the clip of id-4
    for (id <- fp.keys.filter(id => id < 100000L && id % 10 == 9))
      assert(fp(id) == fp(id - 4), s"re-crawl $id drifted")
    // clusters: each component labels by its min member, sizes consistent
    val cl = A.audioFpClusters(spark, sf).collect()
    val byCluster = cl.groupBy(_.getAs[Long]("cluster"))
    for ((lab, rows) <- byCluster) {
      assert(rows.map(_.getAs[Long]("doc_id")).min == lab)
      assert(rows.forall(_.getAs[Long]("csize") == rows.length))
    }
    // the plant+re-crawl chain: 45 (%9==0 → planted) and 49 (%10==9 →
    // re-crawl of 45) and 100045 (plant) must share one cluster
    val labOf = cl.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(labOf(45L) == labOf(49L) && labOf(45L) == labOf(100045L))
  }

  test("stream_audiofp_maintain: the forest read equals the batch " +
    "cluster propagation") {
    val a = streaming.StreamScenarios.streamAudioFpMaintain(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val b = operators.AudioFp.audioFpClusters(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("pipeline_mm_incr_state: the maintained-state ledger is " +
    "hash-identical to the derived-base ledger") {
    val a = incremental(Image)(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val b = incremental(Image, maintained = true)(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("pack_k_sweep: K=4 matches the shipped packer's layout, waste " +
    "falls monotonically in K on this corpus, K=1 is next-fit") {
    val T = operators.TrainPrep
    val rows = operators.TrainPrep.packKSweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("k_open"))
    assert(rows.map(_.getAs[Long]("k_open")).toSeq ==
      T.FfdKSweep.map(_.toLong))
    // the K=FfdOpenBins row reproduces packBoundedFfd's bins and waste
    val shipped = T.packBoundedFfd(spark, sf).collect()
    val shippedBins = shipped
      .map(r => (r.getAs[Long]("writer"), r.getAs[Long]("seq_id")))
      .distinct.length.toLong
    val shippedWaste =
      shippedBins * T.FfdBudget - shipped.map(_.getAs[Long]("n_tokens")).sum
    val k4 = rows.find(_.getAs[Long]("k_open") == T.FfdOpenBins).get
    assert(k4.getAs[Long]("n_bins") == shippedBins)
    assert(k4.getAs[Long]("waste_tokens") == shippedWaste)
    // measured on the gate corpus: more open slots never pay more waste
    val wastes = rows.map(_.getAs[Long]("waste_tokens")).toSeq
    assert(wastes == wastes.sorted.reverse,
      s"waste not monotone in K: $wastes")
    // K=1 is next-fit: every unfit document evicts (bins - writers =
    // evictions, since each writer's first bin opens eviction-free)
    val k1 = rows.find(_.getAs[Long]("k_open") == 1L).get
    assert(k1.getAs[Long]("evictions") ==
      k1.getAs[Long]("n_bins") - T.FfdWriters)
  }

  test("pipeline_e2e_audio_incr: conservation chain holds, re-crawled " +
    "clips die to the base (existing corpus wins), and the " +
    "maintained-state ledger is hash-identical") {
    val rows = incremental(Audio)(spark, sf)
      .collect().sortBy(_.getAs[Long]("stage_id"))
    assert(rows.length == 5)
    def d(i: Int, k: String): Long =
      "%s=(-?\\d+)".format(k).r.findFirstMatchIn(
        rows(i).getAs[String]("detail")).get.group(1).toLong
    for (i <- 0 until 4)
      assert(rows(i).getAs[Long]("docs_kept") ==
        rows(i + 1).getAs[Long]("docs_in"), s"chain broke at $i")
    for (r <- rows)
      assert(r.getAs[Long]("docs_in") == r.getAs[Long]("docs_kept") +
        r.getAs[Long]("docs_dropped"))
    // the audio re-crawl family exercises dies-to-base: batch doc
    // id%10==9 plays the clip of id-4 (base residue)
    assert(d(0, "planted") > 0)
    assert(d(2, "vs_base") > 0, "no batch clip died to the base store")
    assert(d(0, "base_docs") > 0 && d(0, "base_tokens") > 0)
    // audio tokens enter exactly at interleave; shard delta conserves
    assert(d(3, "audio_tokens") == 13L * d(3, "clips"))
    assert(rows(4).getAs[Long]("tokens_in") ==
      rows(4).getAs[Long]("tokens_out"))
    // the maintained-state twin reads forests + high-water counters and
    // must be value-identical (the verbatim-shared oracle's claim)
    val a = rows.map(_.toString).sorted.toSeq
    val b = incremental(Audio, maintained = true)(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("pipeline_e2e_audio: conservation chain holds, audio tokens " +
    "enter only at interleave at the rate-derived per-clip cost, and " +
    "planted duplicate clips all die by audio dedup") {
    val rows = fullLoad(Audio)(spark, sf)
      .collect().sortBy(_.getAs[Long]("stage_id"))
    assert(rows.length == 5)
    def d(i: Int, k: String): Long =
      "%s=(-?\\d+)".format(k).r.findFirstMatchIn(
        rows(i).getAs[String]("detail")).get.group(1).toLong
    for (i <- 0 until 4)
      assert(rows(i).getAs[Long]("docs_kept") ==
        rows(i + 1).getAs[Long]("docs_in"), s"chain broke at $i")
    for (r <- rows)
      assert(r.getAs[Long]("docs_in") == r.getAs[Long]("docs_kept") +
        r.getAs[Long]("docs_dropped"))
    // text tokens conserve through dedup; audio tokens enter EXACTLY at
    // interleave — and the per-clip cost is duration-derived, so both
    // the full-rate and half-rate streams price ⌈256·400/8000⌉ = 13
    assert(rows(2).getAs[Long]("tokens_out") ==
      rows(3).getAs[Long]("tokens_in"))
    assert(d(3, "audio_tokens") == 13L * d(3, "clips"))
    assert(rows(3).getAs[Long]("tokens_out") -
      rows(3).getAs[Long]("tokens_in") == d(3, "audio_tokens"))
    // the shard tail conserves the interleaved total
    assert(rows(4).getAs[Long]("tokens_in") ==
      rows(4).getAs[Long]("tokens_out"))
    // plants are nonzero at arrive and the in-plan assert guarantees
    // none survived dedup (a survivor would have thrown); dedup must
    // actually drop someone (plants + re-crawls)
    assert(d(0, "planted") > 0)
    assert(rows(2).getAs[Long]("docs_dropped") > 0)
  }
}

object Round17OpsSpec {

  /** Each document's clip samples straight from the generator
    * ([[operators.Multimodal.pcmBytes]], little-endian 16-bit PCM).
    */
  private def samplesOf(id: Long): Array[Int] = {
    val pcm = operators.Multimodal.pcmBytes(id)
    Array.tabulate(pcm.length / 2)(i =>
      ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)).toShort.toInt)
  }

  /** The fingerprint computed WITHOUT the codec — generator samples, same
    * windows, same bit rule ([[operators.AudioFp.fpOfSamples]]), over the
    * corpus plus the planted copies. Identical to
    * [[operators.AudioFp.audioFpCodec]] by WAV PCM losslessness.
    */
  def audioFpDirect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = operators.Multimodal
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs.select(col("doc_id"), col("doc_id").as("src"))
      .unionByName(docs.filter(col("doc_id") % M.PlantMod === 0)
        .select((col("doc_id") + M.PlantShift).as("doc_id"),
          col("doc_id").as("src")))
      .as[(Long, Long)]
      .map { case (id, src) =>
        val (hi, lo) = operators.AudioFp.fpOfSamples(samplesOf(src))
        (id, hi, lo)
      }
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  /** The decoded (or decimated) audio frame computed WITHOUT the codec —
    * generator samples (every other one when `resampled`), in the column
    * layout of `decodeAudio` (or `resampleAudio`).
    */
  def audioFramesDirect(s: SparkSession, dir: String,
                        resampled: Boolean): DataFrame = {
    import s.implicits._
    val M = operators.Multimodal
    val stride = if (resampled) 2 else 1
    val n = M.AudSamples / stride
    val rate = M.AudRate.toInt / stride
    val rows = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val kept = samplesOf(id).zipWithIndex
          .collect { case (v, i) if i % stride == 0 => v }
        val pcm = kept.flatMap(v => Array((v & 0xff).toByte,
          ((v >> 8) & 0xff).toByte))
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(pcm).map("%02x".format(_)).mkString
        (id, kept.map(_.toLong).sum, md5)
      }
      .toDF("doc_id", "sample_sum", "pcm_md5")
    if (!resampled)
      rows.select(col("doc_id"), lit(rate).as("rate"),
        lit(1).as("channels"), lit(16).as("bits"),
        lit(n).as("n_samples"), col("sample_sum"), col("pcm_md5"))
    else
      rows.select(col("doc_id"), lit(n).as("out_samples"),
        lit(rate).as("out_rate"), col("sample_sum").as("out_sample_sum"))
        .orderBy("doc_id")
  }
}
