package graft.tools

import graft.{Spark, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: materialize an F×-replicated copy of a testdata directory for
  * scale probes (`Probe time` at ~sf1 from the sf0.1 input).
  *
  * Replication must keep per-query work LINEAR in F for the probe to be
  * meaningful, so replicas are decorrelated, not cloned:
  *
  *  - every key column is offset by `replica * KeyStride`, so fact↔fact and
  *    fact↔dim joins fan out linearly (dims `region`/`nation` stay single —
  *    they are broadcast in every plan and replicating them would turn a
  *    broadcast dim into a ×F-match join, a workload change, not a scale-up);
  *  - document TEXT gets every word suffixed with the replica index: word
  *    shingles across replicas become disjoint, so LSH buckets, pair graphs
  *    and components grow linearly instead of quadratically (cloned text
  *    would make every doc a near-dup of its F−1 replicas — a different,
  *    super-linear workload);
  *  - embedding vectors are cyclically shifted by the replica index, which
  *    preserves each replica cloud's internal geometry exactly while
  *    decorrelating replicas, so LSH/IVF buckets don't collapse into
  *    F-times-denser clusters.
  *
  * Writes parquet tables with the harness layout (`<out>/<table>.parquet`).
  * The events table keeps its long nanos `ts` (written back as the same
  * physical type Verify's sessions expect via nanosAsLong).
  */
object ScaleUp {
  private val KeyStride = 100000000L

  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/sf1")
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = Spark.session("graft-scaleup", sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))

    def replicate(df: DataFrame, keyCols: Seq[String],
                  textCols: Seq[String] = Nil,
                  vecCols: Seq[String] = Nil): DataFrame = {
      val reps = spark.range(factor).select(col("id").as("rep"))
      var r = df.crossJoin(reps)
      for (k <- keyCols)
        r = r.withColumn(k, col(k) + col("rep") * KeyStride)
      // suffix every NON-STOPWORD word with the replica index: shingles
      // across replicas stay disjoint (any k-window contains a content
      // word), near-dup pair graphs grow linearly — but the quality
      // gate's stopword rule still sees its stopwords. Suffixing the
      // stoplist too (the pre-r16 form) made EVERY replica doc fail
      // r_stopwords, so the composed-pipeline probe cells measured the
      // quality scan plus EMPTY downstream stages (0 of 50 000 docs
      // survived on the 10× copy — measured, and it silently flattered
      // the r15 pipeline probe rows).
      // The LAST word is suffixed unconditionally (stopword or not): an
      // all-stopword document would otherwise be byte-identical across
      // every replica, making exact-dedup group sizes grow with the
      // replica count instead of staying constant (advice finding, r16).
      // Uniform across replicas — every replica sees the same one-word
      // deviation from the stopword rule, so scaling stays linear.
      val stop = graft.operators.Stoplists.en
      for (t <- textCols) {
        val ws = split(col(t), " ")
        r = r.withColumn(t,
          array_join(transform(ws,
            (w, i) => when(i < size(ws) - 1 && w.isin(stop: _*), w)
              .otherwise(concat(w, lit("r"), col("rep")))), " "))
      }
      for (v <- vecCols) {
        val n = size(col(v))
        val shift = (col("rep") % n).cast("int")
        r = r.withColumn(v,
          concat(slice(col(v), shift + 1, n - shift), slice(col(v), lit(1), shift)))
      }
      r.drop("rep")
    }

    def write(name: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name written")
    }

    write("region", Tables.region(spark, in))
    write("nation", Tables.nation(spark, in))
    write("customer", replicate(Tables.customer(spark, in), Seq("c_custkey")))
    write("supplier", replicate(Tables.supplier(spark, in), Seq("s_suppkey")))
    write("part", replicate(Tables.part(spark, in), Seq("p_partkey")))
    write("orders", replicate(Tables.orders(spark, in),
      Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(Tables.lineitem(spark, in),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    // keep raw long nanos ts: read the parquet directly, not via Tables.events
    write("events", replicate(Tables.table(spark, in, "events"),
      Seq("event_id", "user_id")))
    write("documents", replicate(Tables.documents(spark, in),
      Seq("doc_id"), textCols = Seq("text")))
    write("embeddings", replicate(Tables.embeddings(spark, in),
      Seq("vec_id"), vecCols = Seq("embedding")))
    spark.stop()
  }
}
