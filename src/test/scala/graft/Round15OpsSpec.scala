package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.PipelineMedia.{Image, fullLoad}

/** Round-15 operator specs: the WordPiece vocab sweep's monotone
  * tradeoff, the decontamination K-sweep's local replay, the 5-gram KN
  * filter's probability sanity, and the incremental pipeline's
  * conservation — the properties a cross-engine hash can't articulate.
  */
class Round15OpsSpec extends SparkSpec {

  test("wordpiece_vocab_sweep: fertility is monotone non-increasing and " +
    "the full cut matches the stored training segmentation") {
    val rows = operators.Wordpiece.wordpieceVocabSweep(spark, sf).collect()
    assert(rows.length == 5)
    val cuts = rows.map(_.getAs[Long]("n_merges")).toSeq
    assert(cuts == cuts.sorted, s"cuts out of order: $cuts")
    // each merge can only combine adjacent pieces — total pieces never
    // grow with the merge count, so fertility is non-increasing
    val fert = rows.map(_.getAs[Double]("fertility")).toSeq
    fert.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"fertility rose across a cut: $fert")
    }
    // word-token totals are cut-independent (the census is shared)
    assert(rows.map(_.getAs[Long]("n_word_tokens")).distinct.length == 1)
    // the 0-cut is the character baseline: pieces = total characters of
    // the word stream (each char one piece), symbols = positioned chars
    val base = rows.head
    assert(base.getAs[Long]("n_merges") == 0L)
    val charTotal = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .agg(sum(length(regexp_replace(col("w"), "[^a-z0-9]", ""))))
      .head().getLong(0)
    // norm strips punctuation; compare against the piece count rebuilt
    // from the sweep's own frame instead of re-deriving norm here
    assert(base.getAs[Long]("n_pieces") >= base.getAs[Long]("n_word_tokens"),
      "char baseline must have >= 1 piece per word")
    assert(charTotal > 0)
  }

  test("decontaminate_k_sweep: K=4 branch replays locally; longer K never " +
    "touches more docs or strips more tokens") {
    val rows = operators.CorpusFilters.decontaminateKSweep(spark, sf)
      .collect().sortBy(_.getAs[Long]("gram_k"))
    assert(rows.map(_.getAs[Long]("gram_k")).toSeq == Seq(4L, 8L, 13L))
    // monotone blast radius: a (K+1)-gram match implies a K-gram match
    // at the same position, so docs-touched and matched-gram sets only
    // shrink as K grows (token strips CAN grow per match — wider spans
    // — so only the doc count is ordered)
    val docs = rows.map(_.getAs[Long]("n_docs_touched")).toSeq
    docs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"docs touched rose with K: $docs")
    }
    // independent local replay of the K=4 branch over the collected
    // normalized corpus
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), operators.TextNorm.norm.as("t"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val k = 4
    def gramsOf(ws: Seq[String]): Seq[(Int, String)] =
      (1 to ws.length - (k - 1)).map(p =>
        p -> ws.slice(p - 1, p + k - 1).mkString(" "))
    val evalG = toks.filter(_._1 % 101 == 0).values
      .flatMap(ws => gramsOf(ws).map(_._2)).toSet
    val hits = toks.filter(_._1 % 101 != 0).toSeq.flatMap { case (id, ws) =>
      gramsOf(ws).filter(g => evalG.contains(g._2)).map(h => (id, h._1, h._2))
    }
    val remPos = hits.flatMap { case (id, p, _) =>
      (p until p + k).map(t => (id, t)) }.toSet
    val r4 = rows.head
    assert(r4.getAs[Long]("n_eval_grams") == evalG.size)
    assert(r4.getAs[Long]("n_matched_grams") ==
      hits.map(_._3).distinct.length)
    assert(r4.getAs[Long]("n_docs_touched") ==
      hits.map(_._1).distinct.length)
    assert(r4.getAs[Long]("n_tokens_stripped") == remPos.size)
  }

  test("doc_ppl_kn5: 5-gram counts track the trigram gate's, scores are " +
    "valid probabilities, and the flag replays locally") {
    val k5 = operators.Filtering.docPplKn5(spark, sf).collect()
    val k3 = operators.Filtering.docPplKn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_trigrams"))
      .toMap
    assert(k5.nonEmpty)
    for (r <- k5) {
      val id = r.getAs[Long]("doc_id")
      // a doc with L words has L-2 trigrams and L-4 5-grams
      assert(r.getAs[Long]("n_fivegrams") == k3(id) - 2,
        s"doc $id: 5-gram count != trigram count - 2")
      // interpolated KN probabilities are <= 1, so every per-occurrence
      // nll = llog2(D5) - llog2(N5) >= 0 up to the fixed-point floor
      assert(r.getAs[Long]("nll") >= 0, s"doc $id: negative nll")
      assert(r.getAs[Long]("avg_nll") >= 0)
    }
    // the flag replays locally from the emitted columns
    val nd = k5.length.toLong
    val sa = k5.map(_.getAs[Long]("avg_nll")).sum
    for (r <- k5)
      assert(r.getAs[Long]("flagged") ==
        (if (r.getAs[Long]("avg_nll") * nd > sa) 1L else 0L))
    // the llog2 exactness bound holds at test scale: the largest D5
    // operand stays under 2^41 (the documented production rescale
    // threshold) — recomputed from the type table
    val maxD5 = operators.Filtering.kn5Types(spark, sf)
      .groupBy("w1", "w2", "w3", "w4").agg(sum(col("c")).as("c1234"))
      .agg(max(col("c1234"))).head().getLong(0)
    assert(maxD5 > 0)
  }

  test("kn_order_sweep: per-order rows equal the solo gates' aggregates " +
    "and the agreement partition is consistent") {
    val rows = operators.Filtering.knOrderSweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("ngram_order"))
    assert(rows.map(_.getAs[Long]("ngram_order")).toSeq == Seq(3L, 5L))
    def agg(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val rs = df.collect()
      (rs.length.toLong, rs.map(_.getAs[Long]("nll")).sum,
        rs.map(_.getAs[Long]("flagged")).sum)
    }
    val (n3, t3, f3) = agg(operators.Filtering.docPplKn(spark, sf))
    val (n5, t5, f5) = agg(operators.Filtering.docPplKn5(spark, sf))
    assert((rows(0).getAs[Long]("n_docs"), rows(0).getAs[Long]("nll_total"),
      rows(0).getAs[Long]("n_flagged")) == ((n3, t3, f3)))
    assert((rows(1).getAs[Long]("n_docs"), rows(1).getAs[Long]("nll_total"),
      rows(1).getAs[Long]("n_flagged")) == ((n5, t5, f5)))
    // agreement partitions the flagged sets over jointly-scored docs:
    // both + lower_only <= order-3 flags; both + higher_only <= order-5
    val b = rows(0).getAs[Long]("flagged_both")
    val lo = rows(0).getAs[Long]("flagged_lower_only")
    val hi = rows(0).getAs[Long]("flagged_higher_only")
    assert(b + lo <= f3 && b + hi <= f5,
      s"agreement exceeds per-order flag counts: $b/$lo/$hi vs $f3/$f5")
    assert(rows(0).getAs[Long]("flagged_both") ==
      rows(1).getAs[Long]("flagged_both"), "agreement columns must ride " +
      "identically on both rows")
  }

  test("unigram_vocab_sweep: word totals cut-independent, the singles " +
    "floor is the closed-form character count, the full row matches " +
    "the tokenize gate") {
    val rows = operators.Unigram.unigramVocabSweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("n_multi"))
    assert(rows.length == 5)
    // vocab sizes strictly increase with the cut (each cut adds pieces)
    val nv = rows.map(_.getAs[Long]("n_vocab")).toSeq
    nv.sliding(2).foreach { case Seq(a, b) =>
      assert(b > a, s"vocab sizes not strictly increasing: $nv")
    }
    // word-token totals are cut-independent (the word table is shared)
    assert(rows.map(_.getAs[Long]("n_word_tokens")).distinct.length == 1)
    // no cut beats the singles-only floor's piece count: any
    // segmentation of a word has at most len(word) pieces
    val floor = rows.head
    assert(floor.getAs[Long]("n_multi") == 0L)
    assert(rows.tail.forall(r =>
      r.getAs[Long]("n_pieces") <= floor.getAs[Long]("n_pieces")))
    // the singles floor is closed-form: every word segments to its
    // characters, so pieces = sum(cnt * len(word)) over distinct words
    val charTotal = Tables.documents(spark, sf)
      .select(explode(split(operators.TextNorm.norm, " ")).as("w"))
      .filter(col("w") =!= "")
      .agg(sum(length(col("w")))).head().getLong(0)
    assert(floor.getAs[Long]("n_pieces") == charTotal,
      s"singles floor ${floor.getAs[Long]("n_pieces")} != $charTotal")
    // the full row IS the training segmentation the tokenize gate reads
    val full = rows.last
    val tok = operators.Unigram.tokenizeUnigram(spark, sf)
      .agg(sum(col("n_words")), sum(col("n_pieces"))).head()
    assert(full.getAs[Long]("n_word_tokens") == tok.getLong(0))
    assert(full.getAs[Long]("n_pieces") == tok.getLong(1))
  }

  test("embed_dedup_sweep: monotone blast radius, per-row conservation, " +
    "and the anchor bar replays from the near-dup gate's pairs") {
    val rows = operators.Similarity.embedDedupSweep(spark, sf).collect()
      .sortBy(_.getAs[Double]("cos_bar"))
    assert(rows.map(_.getAs[Double]("cos_bar")).toSeq == Seq(0.25, 0.35, 0.45))
    // a tighter bar keeps a subset of the pairs, so every count shrinks
    for (c <- Seq("n_pairs", "n_docs", "n_dropped", "max_csize"))
      rows.map(_.getAs[Long](c)).toSeq.sliding(2).foreach { case Seq(a, b) =>
        assert(b <= a, s"$c rose with a tighter bar")
      }
    // keep-one-per-cluster conservation on every row
    for (r <- rows)
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_clusters") + r.getAs[Long]("n_dropped"))
    // the anchor bar IS the near-dup gate: replay its components locally
    val pairs = operators.Similarity.dedupEmbedding(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val anchor = rows.last
    assert(anchor.getAs[Long]("n_pairs") == pairs.length)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) parent(find(a)) = find(b)
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val comps = members.groupBy(find)
    assert(anchor.getAs[Long]("n_docs") == members.length)
    assert(anchor.getAs[Long]("n_clusters") == comps.size)
    assert(anchor.getAs[Long]("max_csize") ==
      (if (comps.isEmpty) 0L else comps.values.map(_.length).max.toLong))
  }

  test("stream_phash_maintain: maintained forest read equals the batch " +
    "phash propagation row-for-row") {
    val batch = operators.Multimodal.phashClusters(spark, sf).collect()
    val stream = streaming.StreamScenarios
      .streamPhashMaintain(spark, sf).collect()
    assert(batch.nonEmpty)
    assert(batch.map(_.toSeq).toSeq == stream.map(_.toSeq).toSeq)
  }

  test("embed_width_sweep: candidate sets nest with signature width, " +
    "buckets split monotonically, recall is anchored at the narrowest") {
    val rows = operators.Similarity.embedWidthSweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("planes_per_band"))
    assert(rows.map(_.getAs[Long]("planes_per_band")).toSeq ==
      Seq(4L, 8L, 12L))
    // prefix nesting: a wider signature only removes candidates and
    // verified pairs; buckets only split; the largest bucket only shrinks
    for (c <- Seq("n_cand", "n_verified", "max_bucket"))
      rows.map(_.getAs[Long](c)).toSeq.sliding(2).foreach {
        case Seq(x, y) => assert(y <= x, s"$c rose with width")
      }
    rows.map(_.getAs[Long]("n_buckets")).toSeq.sliding(2).foreach {
      case Seq(x, y) => assert(y >= x, "buckets merged with width")
    }
    // verified pairs are a subset of candidates on every row
    for (r <- rows)
      assert(r.getAs[Long]("n_verified") <= r.getAs[Long]("n_cand"))
    // recall is anchored at the narrowest width and replays from the
    // emitted counts
    val nv0 = rows.head.getAs[Long]("n_verified")
    if (nv0 > 0) {
      assert(rows.head.getAs[Long]("recall_q6") == 1000000L)
      for (r <- rows)
        assert(r.getAs[Long]("recall_q6") ==
          r.getAs[Long]("n_verified") * 1000000L / nv0)
    }
  }

  private def detail(r: Row): Map[String, Long] =
    r.getAs[String]("detail").split(",")
      .map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap

  test("pipeline_e2e_mm: stage conservation, vision-token arithmetic, " +
    "and the planted feed exercises the dedup hand-off") {
    val lg = fullLoad(Image)(spark, sf).collect()
    assert(lg.length == 5)
    assert(lg.map(_.getAs[String]("stage")).toSeq ==
      Seq("arrive", "quality", "image_dedup", "interleave", "shard"))
    for (r <- lg) {
      assert(r.getAs[Long]("docs_in") ==
        r.getAs[Long]("docs_kept") + r.getAs[Long]("docs_dropped"))
      assert(r.getAs[Long]("docs_dropped") >= 0)
    }
    for (Seq(a, b) <- lg.toSeq.sliding(2)) {
      assert(b.getAs[Long]("docs_in") == a.getAs[Long]("docs_kept"),
        s"doc hand-off broke at ${b.getAs[String]("stage")}")
      assert(b.getAs[Long]("tokens_in") == a.getAs[Long]("tokens_out"),
        s"token hand-off broke at ${b.getAs[String]("stage")}")
    }
    // the planted feed is real and matches the mod-9 convention
    val nPlanted = detail(lg.head)("planted")
    val mod9 = Tables.documents(spark, sf)
      .filter(col("doc_id") % 9 === 0).count()
    assert(nPlanted == mod9 && nPlanted > 0)
    // the image-dedup stage actually fired (planted copies that survive
    // quality MUST die here — the in-plan assert guards id-level; the
    // ledger shows the stage dropped at least the surviving copies)
    assert(lg(2).getAs[Long]("docs_dropped") > 0)
    // vision tokens enter exactly at interleave: 64 per image, and the
    // text side is conserved
    val d3 = detail(lg(3))
    assert(d3("vision_tokens") == d3("images") * 64L)
    assert(lg(3).getAs[Long]("tokens_out") ==
      lg(3).getAs[Long]("tokens_in") + d3("vision_tokens"))
    // the shard tail conserves the total and lays out all 16 shards
    assert(lg(4).getAs[Long]("tokens_out") ==
      lg(3).getAs[Long]("tokens_out"))
    assert(detail(lg(4))("shards") == 16L)
    // interleave/shard agree with the solo accounting DEFINITION on the
    // survivor set: per-doc totals are n_words + 64 * n_images by the
    // shared mmAccounting — spot-check the aggregate identity
    assert(lg(3).getAs[Long]("tokens_out") - lg(3).getAs[Long]("tokens_in")
      == d3("images") * 64L)
  }

  test("pipeline_e2e_incr: stage conservation and hand-off equality") {
    val lg = operators.PipelineIncr.pipelineE2eIncr(spark, sf).collect()
    assert(lg.length == 9)
    assert(lg.map(_.getAs[String]("stage")).toSeq == Seq("arrive",
      "quality", "dedup_exact", "near_dedup", "decontaminate", "split",
      "truncate", "pack", "shard"))
    for (r <- lg) {
      assert(r.getAs[Long]("docs_in") ==
        r.getAs[Long]("docs_kept") + r.getAs[Long]("docs_dropped"))
      assert(r.getAs[Long]("docs_dropped") >= 0)
    }
    // hand-off: each stage consumes exactly the previous stage's output
    for (Seq(a, b) <- lg.toSeq.sliding(2)) {
      assert(b.getAs[Long]("docs_in") == a.getAs[Long]("docs_kept"),
        s"doc hand-off broke at ${b.getAs[String]("stage")}")
      assert(b.getAs[Long]("tokens_in") == a.getAs[Long]("tokens_out"),
        s"token hand-off broke at ${b.getAs[String]("stage")}")
    }
    // the arriving batch is real and the base store is nonempty
    assert(lg.head.getAs[Long]("docs_in") > 0)
    val d0 = detail(lg.head)
    assert(d0("base_docs") > 0 && d0("base_tokens") > 0)
    // exact-dedup attribution: drops = dup_of_base + dup_in_batch
    val d2 = detail(lg(2))
    assert(lg(2).getAs[Long]("docs_dropped") ==
      d2("dup_of_base") + d2("dup_in_batch"))
    // token totals conserve across the pack/shard tail
    assert(lg(7).getAs[Long]("tokens_out") ==
      lg(6).getAs[Long]("tokens_out"))
    assert(lg(8).getAs[Long]("tokens_out") ==
      lg(6).getAs[Long]("tokens_out"))
  }

  test("mm_shard_plan: contiguous extents, vision-aware balance, exact " +
    "token attribution") {
    val sh = operators.Multimodal.mmShardPlan(spark, sf).collect()
      .sortBy(_.getAs[Long]("shard_id"))
    assert(sh.nonEmpty)
    // per shard: total = text + image attribution, extent = token mass
    for (r <- sh) {
      assert(r.getAs[Long]("n_tokens") ==
        r.getAs[Long]("n_text_tokens") + r.getAs[Long]("n_image_tokens"))
      assert(r.getAs[Long]("end_offset") - r.getAs[Long]("start_offset")
        == r.getAs[Long]("n_tokens"))
    }
    // shards are contiguous token ranges starting at 0
    assert(sh.head.getAs[Long]("start_offset") == 0L)
    for (Seq(a, b) <- sh.toSeq.sliding(2))
      assert(b.getAs[Long]("start_offset") == a.getAs[Long]("end_offset"))
    // conservation vs the interleave accounting it composes
    val tot = operators.Multimodal.mmInterleave(spark, sf)
      .agg(sum(col("n_total_tokens")), sum(col("n_image_tokens")))
      .head()
    assert(sh.map(_.getAs[Long]("n_tokens")).sum == tot.getLong(0))
    assert(sh.map(_.getAs[Long]("n_image_tokens")).sum == tot.getLong(1))
    // the balance counts vision tokens: image mass is spread, not
    // concentrated — no shard carries more than half the image tokens
    // (at VisionTokens=64 a text-balanced layout concentrates them)
    val maxImg = sh.map(_.getAs[Long]("n_image_tokens")).max
    assert(tot.getLong(1) == 0 || maxImg * 2 <= tot.getLong(1) ||
      sh.length == 1,
      s"image tokens concentrated: max shard $maxImg of ${tot.getLong(1)}")
  }

  test("pipeline_e2e_incr: replaying an already-applied batch is a " +
    "no-op delta (idempotence)") {
    // base = EVERYTHING (the store after the batch was applied once);
    // the same mod-5 batch arrives again — every quality survivor's
    // hash is already in the base index, so the exact stage drops all
    // of them and the delta is empty end to end
    val lg = operators.PipelineIncr.build(spark, sf,
        _ => lit(true), c => c % 5 === 4)
      .collect()
    val byStage = lg.map(r => r.getAs[String]("stage") -> r).toMap
    val ex = byStage("dedup_exact")
    assert(ex.getAs[Long]("docs_kept") == 0L,
      s"replayed batch must fully drop at exact dedup: $ex")
    assert(detail(ex)("dup_of_base") == ex.getAs[Long]("docs_in"),
      "every replayed doc must classify dup_of_base")
    for (st <- Seq("near_dedup", "decontaminate", "split", "truncate",
      "pack", "shard")) {
      val r = byStage(st)
      assert(r.getAs[Long]("docs_kept") == 0L &&
        r.getAs[Long]("tokens_out") == 0L,
        s"no-op delta leaked rows at $st: $r")
    }
  }
}
