package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** CSV corpus source/sink with the same contract as [[JsonlCorpus]]:
  * explicit schema (no inference pass), gzip shards at file granularity,
  * shard layout controlled by upstream partitioning. Malformed-row policy
  * mirrors the BDE reader's error budget philosophy via Spark's CSV modes:
  * `PERMISSIVE` (null out bad cells, count them via a corrupt-record
  * column) or `DROPMALFORMED` — a 100 TB load never aborts on one bad
  * line.
  */
object CsvCorpus extends graft.GateModule {

  def write(df: DataFrame, path: String, gzip: Boolean = true): Unit = {
    val w = df.write.mode("overwrite").option("header", "true")
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }

  def read(s: SparkSession, path: String,
           schema: StructType = JsonlCorpus.DocumentsSchema,
           mode: String = "PERMISSIVE"): DataFrame =
    s.read.schema(schema).option("header", "true").option("mode", mode)
      .csv(path)

  private def roundtripDir(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-csv/${new java.io.File(dir).getName}/documents"

  /** Gate: parquet → gzipped CSV shards → DataFrame roundtrip against a
    * direct SELECT of the source table (quoting, header, type parsing all
    * on the line).
    */
  def csvRead(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir)
    write(Tables.documents(s, dir), out)
    read(s, out)
      .select(JsonlCorpus.DocumentsSchema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy("doc_id")
  }

  val csvReadSql: String = "SELECT * FROM documents ORDER BY doc_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_read" -> (csvRead _))

  val oracles: Map[String, String] = Map(
    "csv_read" -> csvReadSql)
}
