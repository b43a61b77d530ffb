package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A module of gates: each name maps to the function computing its
  * DataFrame and, where the operator is SQL-expressible, to the DuckDB
  * oracle run on the same parquet tables.
  */
trait GateModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Queries.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every gate module, listed once; both maps below derive from it. */
  private def modules: Seq[GateModule] = Seq(
    operators.Queries,
    operators.TpchMore,
    operators.TpchFill,
    operators.JoinShapes,
    operators.Reshape,
    operators.AsOf,
    operators.RangeJoin,
    operators.Sketch,
    operators.Quantile,
    operators.Skew,
    operators.MergeScenarios,
    operators.Clustering,
    operators.ZOrder,
    operators.Quality,
    operators.TextOps,
    operators.TrainPrep,
    operators.CorpusFilters,
    operators.Pipeline,
    operators.PipelineIncr,
    operators.PipelineMedia,
    operators.Filtering,
    operators.Dedup,
    operators.SubstringDedup,
    operators.SuffixArray,
    operators.LineDedup,
    operators.Bpe,
    operators.Wordpiece,
    operators.Unigram,
    operators.Similarity,
    operators.Retrieval,
    operators.Hnsw,
    operators.PqTrain,
    operators.GraphOps,
    operators.UrlOps,
    operators.Multimodal,
    operators.AudioFp,
    operators.VersionedScenarios,
    operators.DatasetRevScenarios,
    sources.BdeScenarios,
    sources.UploadScenarios,
    sources.ResumeScenarios,
    sources.JsonlCorpus,
    sources.OrcCorpus,
    sources.CsvCorpus,
    sources.JdbcUpsert,
    streaming.StreamScenarios)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = modules.map(_.oracles).reduce(_ ++ _)
}
