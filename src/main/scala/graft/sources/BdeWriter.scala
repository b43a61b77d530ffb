package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Distributed BDE (.crs / .crs.gz) writer: one self-describing file per
  * partition, each with its own header — the same shape the reference
  * consumes (a dataset directory of per-table .crs files). Executors stream
  * rows straight to the Hadoop FileSystem resolved from the driver's
  * configuration (local disk, HDFS or an object store); nothing but the
  * written path names is collected on the driver.
  */
object BdeWriter {

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val TsFmtFrac = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def fmtLdt(ldt: java.time.LocalDateTime): String =
    if (ldt.getNano == 0) TsFmt.format(ldt) else TsFmtFrac.format(ldt)

  // NULL is written as \N (the PG COPY text convention the reference's end
  // target uses), so it stays distinct from the empty string; a literal
  // backslash in data escapes to \\ so no data value can collide with it.
  private def format(v: Any): String = v match {
    case null => "\\N"
    case s: String => Bde.escape(s)
    case t: java.sql.Timestamp => fmtLdt(t.toLocalDateTime)
    case ldt: java.time.LocalDateTime => fmtLdt(ldt) // TimestampNTZType
    case i: java.time.Instant =>
      fmtLdt(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: Boolean => if (b) "true" else "false"
    case other => other.toString
  }

  private def headerText(table: String, schema: StructType,
                         start: String, end: String): String = {
    val cols = schema.fields.map { f =>
      val nul = if (f.nullable) "NULL" else "NOT NULL"
      f"COLUMN\t ${f.name}%-30s ${Bde.bdeType(f.dataType)} $nul"
    }
    (Seq(
      "HEDR\t 2.0.0",
      "SOFTWARE graft V1.0",
      "SCHEMA\t V1.0",
      "USER\t graft",
      s"START\t $start",
      s"END\t $end",
      s"SQL\t SELECT * FROM $table",
      s"TABLE\t$table") ++ cols ++ Seq("DESC", "SIZE          0", Bde.DataMarker)
      ).mkString("", "\n", "\n")
  }

  /** Write `df` as BDE files under `outDir` (one per partition); returns the
    * written paths. START/END are caller-supplied dataset timestamps
    * (`YYYY-MM-DD hh:mm:ss`), as in the reference's dataset bookkeeping.
    */
  def write(df: DataFrame, outDir: String, table: String,
            start: String = "2026-01-01 00:00:00",
            end: String = "2026-01-01 00:00:00",
            gzip: Boolean = false): Seq[String] = {
    val hconf = new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val dirPath = new Path(outDir)
    val fs = dirPath.getFileSystem(hconf.value)
    fs.mkdirs(dirPath)
    fs.listStatus(dirPath)
      .filter(_.getPath.getName.startsWith("part-"))
      .foreach(st => fs.delete(st.getPath, false))
    val schema = df.schema
    val head = headerText(table, schema, start, end)
    val ext = if (gzip) ".crs.gz" else ".crs"
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val path = new Path(f"$outDir/part-$idx%05d$ext")
        val raw = path.getFileSystem(hconf.value).create(path, true)
        val out = if (gzip) new GZIPOutputStream(raw) else raw
        val w = new BufferedWriter(
          new OutputStreamWriter(out, StandardCharsets.UTF_8))
        try {
          w.write(head)
          rows.foreach { r =>
            var i = 0
            while (i < r.length) { w.write(format(r.get(i))); w.write("|"); i += 1 }
            w.write("\n")
          }
        } finally w.close()
        Iterator(path.toString)
      }
    }.collect().toSeq.sorted // paths only (metadata), never row data
  }

  /** Write `df` as the one BDE file `<dsDir>/<name>.crs`, staged by
    * [[write]] and renamed into place.
    */
  def writeFile(df: DataFrame, dsDir: String, name: String, table: String): Unit = {
    val stage = new Path(s"$dsDir/.stage_$name")
    val fs = stage.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val paths = write(df.coalesce(1), stage.toString, table)
    fs.rename(new Path(paths.head), new Path(s"$dsDir/$name.crs"))
    fs.delete(stage, true): Unit
  }
}
