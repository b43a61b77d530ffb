package graft

import graft.operators.Bpe

class BpeSpec extends SparkSpec {

  private def docs(rows: (Int, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("merge order follows weighted pair counts with lexicographic ties") {
    // words: ab x3, abc x1 → round 1 counts (a b)=4, (b c)=1 → merge "a b";
    // round 2 only (ab c)=1 remains; round 3 finds nothing and stops early
    val d = docs(1 -> "ab ab ab", 2 -> "abc")
    val (merges, segs) = Bpe.trainOn(d, 5)
    assert(merges == Seq(("a b", 4L), ("ab c", 1L)))
    val byWord = segs.collect()
      .map(r => r.getAs[String]("word") -> r.getAs[String]("seg")).toMap
    assert(byWord == Map("ab" -> "ab", "abc" -> "abc"))
    segs.unpersist()
  }

  test("tie on count breaks toward the lexicographically smaller pair") {
    // "xy" and "pq" both appear twice: counts (x y)=2, (p q)=2 → "p q"
    // must win round 1
    val d = docs(1 -> "xy pq", 2 -> "pq xy")
    val (merges, segs) = Bpe.trainOn(d, 1)
    assert(merges.head == ("p q", 2L))
    segs.unpersist()
  }

  test("repeated-symbol runs follow left-to-right replace semantics") {
    // "aaaa" with merge (a,a): the padded replace consumes ' a a ' and
    // does not rescan its output, yielding [aa, a, a] after round 1 —
    // round 2 then merges the remaining pair
    val d = docs(1 -> "aaaa aa", 2 -> "aa")
    val (merges, segs) = Bpe.trainOn(d, 2)
    assert(merges.head._1 == "a a")
    val seg4 = segs.collect()
      .find(_.getAs[String]("word") == "aaaa").get.getAs[String]("seg")
    // after (a,a): 'a a a a' -> 'aa a a'; round 2 best pair is (a a)
    // again? no: pairs now (aa a)=1, (a a)=1 -> 'a a' < 'aa a' wins? both
    // count 1 from aaaa only; 'a a' sorts before 'aa a' so round 2
    // re-merges the tail: 'aa aa'
    assert(seg4 == "aa aa", s"got $seg4")
    segs.unpersist()
  }

  test("gate: trained merges are deterministic and counts are consistent") {
    val t1 = Bpe.bpeTrain(spark, sf).collect()
    val t2 = Bpe.bpeTrain(spark, sf).collect()
    assert(t1.map(_.toSeq).toSeq == t2.map(_.toSeq).toSeq)
    assert(t1.nonEmpty && t1.length <= 20)
    // merge ranks are 1..n and pair counts never increase as training
    // consumes the most frequent pair first... (they CAN increase when a
    // merge creates a new frequent pair, so only sanity-check positivity)
    assert(t1.map(_.getAs[Int]("merge_rank")).toSeq == (1 to t1.length))
    assert(t1.forall(_.getAs[Long]("pair_count") > 0L))
  }

  test("Memo.clear drops the trained merges; retraining tokenizes identically") {
    import graft.operators.Wordpiece
    def run(): Seq[Seq[Seq[Any]]] = Seq(Bpe.bpeTrain(spark, sf),
      Bpe.tokenizeBpe(spark, sf), Wordpiece.wordpieceTrain(spark, sf),
      Wordpiece.tokenizeWordpiece(spark, sf))
      .map(_.collect().map(_.toSeq).toSeq)
    val first = run()
    Memo.clear(spark)
    assert(run() == first)
  }

  test("segmentExpr tokenizes UNSEEN words with the trained merges") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // train on ab/abc; apply to unseen words containing the learned units
    val d = docs(1 -> "ab ab ab", 2 -> "abc")
    val (merges, _) = Bpe.trainOn(d, 5) // [(a b), (ab c)]
    val unseen = Seq("abab", "cab", "xyz").toDF("word")
      .withColumn("seg", Bpe.segmentExpr(col("word"), merges.map(_._1)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // one left-to-right pass per merge rank, same as training: the first
    // ' a b ' consumes the separator the second needs, so the second pair
    // stays split (training would re-pick it in a later round)
    assert(unseen("abab") == "ab a b", "single pass per merge rank")
    assert(unseen("cab") == "c ab", "prefix char stays unmerged")
    assert(unseen("xyz") == "x y z", "no merges apply")
  }

  test("pack_sequences accepts trained-tokenizer counts") {
    import org.apache.spark.sql.functions.col
    val tc = Bpe.tokenizeBpe(spark, sf)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    val packed = operators.TextOps.packSequences(spark, sf, 2048, Some(tc))
      .collect()
    assert(packed.length == 500)
    // cumulative packing stays monotone per language under the BPE counts
    packed.groupBy(_.getAs[String]("lang")).values.foreach { g =>
      val ordered = g.sortBy(_.getAs[Long]("doc_id"))
      val seqIds = ordered.map(_.getAs[Long]("seq_id"))
      assert(seqIds.zip(seqIds.drop(1)).forall { case (a, b) => a <= b })
    }
  }

  test("gate: tokenization conserves words and shortens token streams") {
    val rows = Bpe.tokenizeBpe(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val words = r.getAs[Long]("n_words")
      val toks = r.getAs[Long]("n_bpe_tokens")
      assert(toks >= words, "each word is at least one token")
      assert(r.getAs[String]("tok_hash").length == 32)
    }
  }
}
