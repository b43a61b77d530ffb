package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the noop sink
  * (a bare `count()` would let Catalyst prune away computed columns), and
  * prints one JSON line of per-query wall seconds.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** The scale factor every warm-up run reads. */
  val WarmDir = "/root/testdata/sf0.001"

  /** Run `fn` at `dir` to completion through the noop sink. */
  def force(spark: SparkSession, fn: Query, dir: String): Unit =
    fn(spark, dir).write.format("noop").mode("overwrite").save()

  /** Warm-up pass: run every query once at the smallest scale factor.
    * Generated code depends on plan shape, not data volume, so this
    * compiles each query's whole-stage codegen classes (janino costs
    * seconds per distinct plan) and a timed pass after it measures
    * steady-state throughput at the target scale. A failure here is left
    * for the timed pass to report.
    */
  def warm(spark: SparkSession, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (_, fn) =>
      try force(spark, fn, WarmDir) catch { case _: Throwable => }
    }

  /** Wall seconds of one forced run, or the -1 sentinel if it failed — a
    * failed query never records a normal-looking time.
    */
  def time(spark: SparkSession, name: String, fn: Query,
           dir: String): Double = {
    val t0 = System.nanoTime()
    try { force(spark, fn, dir); (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
    }
  }

  /** One cold timed pass: memoized frames and the Spark block cache are
    * dropped first, so a pass never reads an earlier pass's cached RDDs.
    */
  def coldPass(spark: SparkSession, queries: Seq[(String, Query)],
               dir: String): Seq[(String, Double)] = {
    Memo.clear(spark)
    spark.catalog.clearCache()
    queries.map { case (name, fn) => name -> time(spark, name, fn, dir) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Spark.session("graft-bench")
    // Attribution: gates that BUILD a memoized training artifact run
    // FIRST, in dependency order, so each artifact's construction cost
    // lands on the gate NAMED for it instead of on whichever consumer
    // happens to sort alphabetically earlier (r9 example:
    // `clf_calibration`, a trivial bucketed aggregate, absorbed the
    // 16-round perceptron training chain because it sorts before
    // `perceptron_train`). The remainder keeps the stable alphabetical
    // order; totals are unchanged — only which gate pays the shared
    // build moves.
    val artifactOwners = Seq(
      "audio_fp",           // audio fingerprint frame
      "audio_fp_pairs",     // verified audio near-dup pair frame
      "suffix_array",       // prefix-doubling rank tables (sa_q*)
      "bpe_train",          // BPE merge table
      "dedup_minhash_lsh",  // minhash signature/candidate frames
      "kmeans_parallel",    // k-means|| centroids
      "pq_cb_kmpll",        // grouped-k-means|| PQ codebooks
      "perceptron_train",   // binary filter weight chain (clf_*)
      "perceptron_ordinal", // ordinal (PRank) weight chain
      "dsir_select",        // DSIR unigram importance model
      "dsir_select_bigram", // DSIR bigram model
      "dsir_domain",        // DSIR domain model
      "doc_ppl",            // bigram LM counts
      "site_rank",          // link-graph site-PR frame
      "unigram_train")      // unigram-LM vocab + segmentation table (ug_*)
    val ordered = {
      val all = SparkEntry.queries
      artifactOwners.filter(all.contains).map(n => n -> all(n)) ++
        all.toSeq.sortBy(_._1).filterNot(q => artifactOwners.contains(q._1))
    }
    // Two timed passes, report per-query min: a transient load burst on a
    // shared box hits one contiguous time window, so the min across passes
    // separated in time is a far more stable steady-state estimate than a
    // single sample (run-to-run noise on a contended host reached 3.7×).
    // Both passes are cold (see coldPass) — otherwise pass 2 would read
    // pass 1's cached RDDs and min() would report warm numbers for every
    // memoized-heavy query. With both passes equally cold, min()
    // suppresses host noise and nothing else.
    warm(spark, SparkEntry.queries.toSeq.sortBy(_._1))
    val (p1, p2) = (coldPass(spark, ordered, sfDir),
      coldPass(spark, ordered, sfDir))
    val results = p1.zip(p2).map { case ((name, a), (_, b)) =>
      name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    // The harness keeps only a stdout tail, so a single long line loses its
    // own head. Emit the bulky per-query detail FIRST, persist the complete
    // JSON to bench_full.json, and make the LAST stdout line a short summary
    // that always survives truncation.
    println(full)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (full + "\n").getBytes("UTF-8"))
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failed":$failed,"sf":"$sfDir","detail":"bench_full.json"}""")
    spark.stop()
  }
}
