package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The conservation-ledger format every composed pipeline emits — text,
  * image and audio, full load and incremental: one 8-column row per
  * stage (`stage_id, stage, docs_in, docs_kept, docs_dropped, tokens_in,
  * tokens_out, detail`), each read off ONE checkpointed scalar row (the
  * stage branches would otherwise each re-analyse and re-execute every
  * cross-joined aggregate subtree), with `detail` a `key=value,…` reason
  * attribution. The quality stage is the same in every pipeline: the
  * five Gopher rule-failure counts ([[Pipeline.gopherFrame]]).
  *
  * Reference analog: the per-table insert/update/delete counts
  * `_bde_RecordDatasetLoaded` records
  * (`sql/02-bde_control_functions.sql.in:975`).
  */
private[operators] object Ledger {

  /** One ledger stage over the scalar row's columns. */
  final case class Stage(name: String, docsIn: Column, docsKept: Column,
                         tokensIn: Column, tokensOut: Column,
                         detail: Column)

  private val Rules = Seq("r_words" -> "fw", "r_mean_len" -> "fm",
    "r_symbols" -> "fs", "r_alpha" -> "fa", "r_stopwords" -> "fst")

  /** The five rule-failure counts (`fw`, `fm`, `fs`, `fa`, `fst`) as
    * aggregate columns over a Gopher rule frame.
    */
  def ruleFailures: Seq[Column] = Rules.map { case (r, a) =>
    sum(when(!col(r), 1L).otherwise(0L)).as(a)
  }

  /** `k1=v1,k2=v2,…` over scalar-row columns. */
  def detail(kvs: (String, Column)*): Column =
    concat(kvs.zipWithIndex.flatMap { case ((k, v), i) =>
      Seq(lit((if (i == 0) "" else ",") + k + "="), v.cast("string"))
    }: _*)

  /** The quality stage: the rule gate's survivors, attributed to the
    * five [[ruleFailures]] counts.
    */
  def quality(docsIn: Column, docsKept: Column, tokensIn: Column,
              tokensOut: Column): Stage =
    Stage("quality", docsIn, docsKept, tokensIn, tokensOut,
      detail(Rules.map { case (r, a) => r -> col(a) }: _*))

  /** The stages numbered in order, one row each off `scalars`, as one
    * sorted checkpointed frame.
    */
  def apply(scalars: DataFrame, stages: Stage*): DataFrame =
    stages.zipWithIndex.map { case (st, id) =>
      scalars.select(lit(id.toLong).as("stage_id"), lit(st.name).as("stage"),
        st.docsIn.as("docs_in"), st.docsKept.as("docs_kept"),
        (st.docsIn - st.docsKept).as("docs_dropped"),
        st.tokensIn.as("tokens_in"), st.tokensOut.as("tokens_out"),
        st.detail.as("detail"))
    }.reduce(_ unionByName _)
      .orderBy("stage_id")
      .localCheckpoint(true)
}
