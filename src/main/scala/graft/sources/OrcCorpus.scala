package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** ORC source/sink — the second columnar format a lakehouse engine must
  * speak (Spark's ORC reader is vectorized and supports the same pushdown
  * surface as parquet: predicate pushdown into stripe/row-group skipping,
  * column pruning, partition discovery). Nothing format-specific leaks
  * into query code: a frame read from ORC is the same declarative scan,
  * so every operator in the library runs unchanged over ORC inputs.
  *
  * The gate is a parquet → ORC → DataFrame roundtrip compared against a
  * direct SELECT of the source table: any writer/reader asymmetry in
  * timestamp (NTZ) encoding, double bit patterns, or null handling breaks
  * the hash.
  */
object OrcCorpus extends graft.GateModule {

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def read(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  private def roundtripDir(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-orc/${new java.io.File(dir).getName}/orders"

  def orcRead(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(s, dir)
    val out = roundtripDir(dir)
    write(src, out)
    read(s, out)
      .select(src.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy("o_orderkey")
  }

  val orcReadSql: String = "SELECT * FROM orders ORDER BY o_orderkey"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orc_read" -> (orcRead _))

  val oracles: Map[String, String] = Map(
    "orc_read" -> orcReadSql)
}
