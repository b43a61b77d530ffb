package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** JSONL (one-JSON-object-per-line) corpus source/sink — the lingua franca
  * of LLM training-data interchange (every public web corpus ships as
  * gzipped JSONL shards). The reference engine's analog is its BDE text
  * format (fixed column set per file, escaped values); JSONL replaces the
  * header contract with per-record keys.
  *
  * Scale design: the reader takes an EXPLICIT schema — no inference pass
  * over 100 TB — so a read is a single scan; uncompressed JSONL splits by
  * line, and gzipped shards parallelize at file granularity (one task per
  * shard), which is why corpora ship as many medium shards rather than few
  * huge ones. The writer shards by Spark partition, so upstream
  * `repartition(n)` directly controls the shard layout.
  */
object JsonlCorpus extends graft.GateModule {

  /** The `documents` corpus schema, declared once — readers never infer. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def write(df: DataFrame, path: String, gzip: Boolean = true): Unit = {
    val w = df.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  def read(s: SparkSession, path: String, schema: StructType = DocumentsSchema): DataFrame =
    s.read.schema(schema).json(path)

  private def roundtripDir(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-jsonl/${new java.io.File(dir).getName}/documents"

  /** Gate: parquet → gzipped JSONL shards → DataFrame roundtrip against a
    * direct SELECT of the source table. Any writer/reader asymmetry
    * (string escaping, unicode, integer formatting, null handling) breaks
    * the hash.
    */
  def jsonlRead(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir(dir)
    write(Tables.documents(s, dir), out)
    read(s, out).select(DocumentsSchema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .orderBy("doc_id")
  }

  val jsonlReadSql: String = "SELECT * FROM documents ORDER BY doc_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jsonl_read" -> (jsonlRead _))

  val oracles: Map[String, String] = Map(
    "jsonl_read" -> jsonlReadSql)
}
