package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.PipelineMedia.{Image, incremental}

/** Round-16 operator specs: the derived LSH signature width's ladder
  * (the r15 weak's fix — properties a cross-engine hash can't
  * articulate: gate-corpus invariance, scale behavior, occupancy
  * coverage).
  */
class Round16OpsSpec extends SparkSpec {

  test("widthFor: gate corpora derive width 4 (r15 hashes unchanged), " +
    "probe scales derive wider, ladder is monotone and capped") {
    val S = operators.Similarity
    // the two gate corpora (sf0.01: 500 embeddings; sf0.1: 2000) sit at
    // the bottom of the ladder — every pre-derivation gate hash holds
    assert(S.widthFor(500) == 4)
    assert(S.widthFor(2000) == 4)
    // the r15 10×/100× probe scales (ScaleUp over sf0.1) now widen:
    // 20k vectors → 8 planes/band, 200k → 11 — the candidate-volume
    // blowup the r15 probe measured (3.5× super-linear at 10×) is what
    // these widths exist to remove
    assert(S.widthFor(20000) == 8)
    assert(S.widthFor(200000) == 11)
    // monotone in n, floored and capped by the ladder bounds
    val widths = Seq(1L, 100L, 1000L, 10000L, 100000L, 1000000L,
      1000000000L).map(S.widthFor)
    assert(widths == widths.sorted, s"not monotone: $widths")
    assert(widths.head == S.MinBandPlanes)
    assert(widths.last == S.MaxBandPlanes)
    // coverage invariant the occupancy guard relies on: below the cap,
    // the chosen width's bucket count covers ceil(n/target)
    for (n <- Seq(500L, 2000L, 20000L, 200000L)) {
      val w = S.widthFor(n)
      val nb = (n + S.TargetBucket - 1) / S.TargetBucket
      assert(nb <= (1L << w), s"n=$n w=$w does not cover nb=$nb")
    }
  }

  test("pack_bounded_ffd: waste <= both shipped no-split layouts at the " +
    "same budget, and within the stranded-open-slot bound of true FFD") {
    val T = operators.TrainPrep
    val out = T.packBoundedFfd(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    val nBins = out.map(r => (r.getAs[Long]("writer"), r.getAs[Long]("seq_id")))
      .distinct.length
    val waste = nBins * T.FfdBudget - total
    // the shipped layouts at the same budget, from the tuning table the
    // packer exists to answer (same corpus, same oversize filter)
    val eff = T.packEfficiency(spark, sf).collect()
      .filter(_.getAs[Long]("budget") == T.FfdBudget)
    for (strat <- Seq("nf_doc", "nf_len")) {
      val wNf = eff.find(_.getAs[String]("strategy") == strat).get
        .getAs[Long]("waste_tokens")
      assert(waste <= wNf,
        s"bounded-FFD waste $waste exceeds $strat waste $wNf")
    }
    // the unbounded true-FFD replay over the SAME per-writer streams —
    // the apples-to-apples floor (a single global stream would also
    // remove the writer fan-out, a different axis). What the K-slot
    // bound can cost is stranded open slots: at most (K-1) extra
    // partial bins per writer beyond FFD's own tail.
    def ffdWaste(nsx: Seq[Long]): Long = {
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (n <- nsx.sortBy(x => -x)) {
        val i = bins.indexWhere(_ >= n)
        if (i >= 0) bins(i) -= n else bins += (T.FfdBudget - n)
      }
      bins.sum
    }
    val pwFfd = (0 until T.FfdWriters).map { w =>
      ffdWaste(out.filter(_.getAs[Long]("writer") == w)
        .map(_.getAs[Long]("n_tokens")).toSeq)
    }.sum
    assert(waste >= pwFfd, "bounded state cannot beat unbounded FFD")
    val bound = pwFfd +
      T.FfdWriters.toLong * (T.FfdOpenBins - 1) * T.FfdBudget
    assert(waste <= bound,
      s"bounded-FFD waste $waste exceeds the open-slot bound $bound " +
        s"over per-writer FFD $pwFfd")
    // measured at the spec corpus: the actual gap is 2 bins (1024
    // tokens), far inside the 12-bin structural bound
    assert(waste - pwFfd <= 2 * T.FfdBudget,
      s"measured gap regressed: waste=$waste pwFfd=$pwFfd")
  }

  test("pipeline_incr_state: the maintained-state ledger is " +
    "hash-identical to the derived-base ledger") {
    val a = operators.PipelineIncr.pipelineE2eIncr(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val b = operators.PipelineIncr.pipelineIncrState(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("pipeline_e2e_mm_incr: conservation chain holds, vision tokens " +
    "enter only at interleave, and replayed identical images (the " +
    "planted feed arriving with the batch) all die by image dedup") {
    val rows = incremental(Image)(spark, sf)
      .collect().sortBy(_.getAs[Long]("stage_id"))
    assert(rows.length == 5)
    def d(i: Int, k: String): Long =
      "%s=(-?\\d+)".format(k).r.findFirstMatchIn(
        rows(i).getAs[String]("detail")).get.group(1).toLong
    // hand-off chain: each stage's kept is the next stage's in
    for (i <- 0 until 4)
      assert(rows(i).getAs[Long]("docs_kept") ==
        rows(i + 1).getAs[Long]("docs_in"), s"chain broke at $i")
    // every row conserves docs_in = kept + dropped
    for (r <- rows)
      assert(r.getAs[Long]("docs_in") == r.getAs[Long]("docs_kept") +
        r.getAs[Long]("docs_dropped"))
    // text tokens conserve through dedup; vision tokens enter EXACTLY
    // at interleave, at the fixed per-image projector cost
    assert(rows(2).getAs[Long]("tokens_out") ==
      rows(3).getAs[Long]("tokens_in"))
    assert(d(3, "vision_tokens") == 64L * d(3, "images"))
    assert(rows(3).getAs[Long]("tokens_out") -
      rows(3).getAs[Long]("tokens_in") == d(3, "vision_tokens"))
    // the shard delta conserves the interleaved total
    assert(rows(4).getAs[Long]("tokens_in") ==
      rows(4).getAs[Long]("tokens_out"))
    // idempotent replay of identical content: plants (byte-identical
    // images re-arriving WITH the batch under fresh ids) are nonzero at
    // arrive and ALL dead after image dedup — the in-plan assert makes
    // a survivor throw, and the existing-corpus-wins path is exercised
    assert(d(0, "planted") > 0)
    assert(d(2, "vs_base") > 0, "no batch doc died to the base store")
    // delta shards continue from the base layout (base totals recorded)
    assert(d(0, "base_docs") > 0 && d(0, "base_tokens") > 0)
  }

  test("phashesDirect equals the codec path exactly (PNG losslessness " +
    "end to end) — the probe-mode hash source cannot drift") {
    val M = operators.Multimodal
    val direct = Round16OpsSpec.phashesDirect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val codec = M.phashesCodec(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(direct.nonEmpty)
    assert(direct == codec)
  }

  test("audio_interleave: audio tokens enter as f(samples, rate) and the " +
    "cost is DURATION-derived — resampling changes samples, not tokens") {
    val rows = operators.Multimodal.audioInterleave(spark, sf).collect()
    assert(rows.nonEmpty)
    val audio = rows.filter(_.getAs[Long]("n_clips") > 0)
    assert(audio.nonEmpty, "no audio-bearing docs at the spec corpus")
    val tps = operators.Multimodal.AudioTokensPerSec
    for (r <- rows) {
      val (nc, cs, cr) = (r.getAs[Long]("n_clips"),
        r.getAs[Long]("clip_samples"), r.getAs[Long]("clip_rate"))
      // the token-entry invariant: total - text = n_clips * ceil(s*tps/r)
      val expect = if (nc == 0) 0L else nc * ((cs * tps + cr - 1) / cr)
      assert(r.getAs[Long]("n_audio_tokens") == expect)
      assert(r.getAs[Long]("n_total_tokens") ==
        r.getAs[Long]("n_text_tokens") + expect)
    }
    // resampling invariance: half-rate docs (odd ids: 128 samples at
    // 4000 Hz) pay the SAME per-clip cost as full-rate docs (256 at
    // 8000) — the cost prices the waveform's duration, not its encoding
    val perClip = audio.map(r => (r.getAs[Long]("clip_rate"),
      r.getAs[Long]("n_audio_tokens") / r.getAs[Long]("n_clips")))
    val byRate = perClip.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).distinct.toSeq }
    assert(byRate.keySet == Set(8000L, 4000L),
      s"expected both stream variants, got ${byRate.keySet}")
    assert(byRate.values.flatten.toSet.size == 1,
      s"per-clip cost differs across rates: $byRate")
    // clip inventories actually vary (1-3 clips) so the shard balance
    // has something to balance
    assert(audio.map(_.getAs[Long]("n_clips")).distinct.length > 1)
  }

  test("StreamHashIndex: content-hash state evolves across batches and " +
    "converges to the batch min/count regardless of arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[streaming.HashPart]
    val query = streaming.StreamHashIndex.states(input.toDS())
      .writeStream.format("memory").queryName("hidx_state")
      .outputMode(OutputMode.Update).start()
    try {
      def latest(): Map[String, (Long, Long)] =
        spark.table("hidx_state").collect()
          .groupBy(_.getAs[String]("h"))
          .map { case (h, rs) =>
            // Update mode appends one row per batch; the converged state
            // is the monotone extremum (min keep, max count)
            h -> (rs.map(_.getAs[Long]("keep_doc")).min,
              rs.map(_.getAs[Long]("n_docs")).max)
          }
      // batch 1: hash A seen from docs {7, 9}, hash B from {4}
      input.addData(streaming.HashPart("A", 7L, 2L),
        streaming.HashPart("B", 4L, 1L))
      query.processAllAvailable()
      assert(latest() == Map("A" -> (7L, 2L), "B" -> (4L, 1L)))
      // batch 2 arrives OUT OF ORDER (an earlier doc id lands later):
      // the min fold still converges to the global keep rule
      input.addData(streaming.HashPart("A", 3L, 1L),
        streaming.HashPart("B", 8L, 2L))
      query.processAllAvailable()
      assert(latest() == Map("A" -> (3L, 3L), "B" -> (4L, 3L)))
    } finally query.stop()
  }

  test("StreamHighWater: per-stratum pack offsets accumulate across " +
    "batches (the base's historical loads)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[streaming.HwmPart]
    val query = streaming.StreamHighWater.states(input.toDS())
      .writeStream.format("memory").queryName("hwm_state")
      .outputMode(OutputMode.Update).start()
    try {
      def latest(): Map[String, (Long, Long)] =
        spark.table("hwm_state").collect()
          .groupBy(_.getAs[String]("strat"))
          .map { case (k, rs) =>
            k -> (rs.map(_.getAs[Long]("n_docs")).max,
              rs.map(_.getAs[Long]("n_tokens")).max)
          }
      input.addData(streaming.HwmPart("train:en", 10L, 500L),
        streaming.HwmPart("val:en", 2L, 90L))
      query.processAllAvailable()
      assert(latest() == Map("train:en" -> (10L, 500L),
        "val:en" -> (2L, 90L)))
      // a second load day lands — counters carry, never reset
      input.addData(streaming.HwmPart("train:en", 5L, 250L))
      query.processAllAvailable()
      assert(latest() == Map("train:en" -> (15L, 750L),
        "val:en" -> (2L, 90L)))
    } finally query.stop()
  }

  test("dupBandsOf: derived-width band frame has DedupBands bands and " +
    "its occupancy clears the in-plan guard") {
    val bands = operators.Similarity.dupBandsOf(spark, sf)
    val stats = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n"))
      .agg(countDistinct(col("band")).as("nb"), max(col("n")).as("mx"))
      .head()
    assert(stats.getAs[Long]("nb") == 4L)
    assert(stats.getAs[Long]("mx") <= operators.Similarity.OccBound)
  }
}

object Round16OpsSpec {

  /** The aHash computed WITHOUT the codec — each document's pixels straight
    * from the generator ([[operators.Multimodal.rgbBytes]]), same 8×8
    * grid of block luma sums, same bit rule as
    * [[operators.Multimodal.phashesCodec]], over the corpus plus the
    * planted copies. Identical to the codec path by PNG losslessness.
    */
  def phashesDirect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = operators.Multimodal
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs.select(col("doc_id"), col("doc_id").as("src"))
      .unionByName(docs.filter(col("doc_id") % M.PlantMod === 0)
        .select((col("doc_id") + M.PlantShift).as("doc_id"),
          col("doc_id").as("src")))
      .as[(Long, Long)]
      .map { case (id, src) =>
        val (hi, lo) = aHash(operators.Multimodal.rgbBytes(src))
        (id, hi, lo)
      }
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  private def aHash(rgb: Array[Byte]): (Long, Long) = {
    val (w, h) = (operators.Multimodal.ImgW, operators.Multimodal.ImgH)
    val (bw, bh) = (w / 8, h / 8)
    val bsum = new Array[Long](64)
    var total = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val i = 3 * (y * w + x)
      val lum = (rgb(i) & 0xff) + (rgb(i + 1) & 0xff) + (rgb(i + 2) & 0xff)
      bsum(math.min(7, y / bh) * 8 + math.min(7, x / bw)) += lum
      total += lum
    }
    var (hi, lo) = (0L, 0L)
    for (k <- 0 until 64 if bsum(k) * 64L > total) {
      if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
    }
    (hi, lo)
  }
}
