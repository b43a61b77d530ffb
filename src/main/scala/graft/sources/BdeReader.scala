package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Distributed BDE (.crs / .crs.gz) reader over the Hadoop FileSystem API
  * (local paths, HDFS and object stores all resolve through the driver's
  * Hadoop configuration, broadcast to tasks as a [[SerializableHadoopConf]]).
  *
  * Parallelism unit = file, matching the reference pipeline where each BDE
  * file is one load stream (gzip is unsplittable anyway). Each task parses
  * its *own* file's header and reconciles that file's column order against
  * the target schema (`bde_SelectValidColumns` semantics,
  * `sql/02-bde_control_functions.sql.in:1336`): file columns missing from
  * the target are dropped, target columns missing from the file are null —
  * so a dataset whose files disagree on column order or carry extra
  * columns still lands correctly. Executors stream-parse without ever
  * materializing a whole file, so a 10 GB .crs.gz costs one task and
  * O(line) memory; at 100 TB the dataset is many files and the stage
  * scales wide.
  *
  * Data errors follow the bde_copy policy
  * (`conf/linz_bde_uploader.conf:360-390`, [[BdeErrorPolicy]]):
  * `column_count` rows and out-of-range dates are ignored / warned /
  * counted against `max_errors` / fatal per configuration; dates with year
  * below `minimum_year` are substituted with the configured invalid-date
  * value. The error budget is enforced per file — each file is one load
  * stream, as in the reference — and totals are surfaced through Spark
  * accumulators.
  *
  * Reference behavior: `lib/LINZ/BdeUpload.pm:1150` pipes files through
  * `bde_copy` into a PG COPY; here the same parse lands directly in a
  * DataFrame.
  */
object BdeReader {

  private def open(conf: Configuration, path: String): BufferedReader = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val raw: java.io.InputStream = fs.open(p)
    val in = if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw
    new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
  }

  /** Read just the header of one file (stops at the data marker). */
  def header(path: String,
             conf: Configuration = new Configuration()): Bde.BdeHeader = {
    val r = open(conf, path)
    try {
      val lines = Iterator.continually(r.readLine()).takeWhile(_ != null)
      Bde.parseHeader(lines)
    } finally r.close()
  }

  private val LdtFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss[.SSSSSS]")

  private def parseDateSub(s: String): java.sql.Date =
    try java.sql.Date.valueOf(s.trim)
    catch { case _: IllegalArgumentException =>
      // the reference's default invalid_date_string is dd/MM/yyyy
      val p = s.trim.split("/")
      java.sql.Date.valueOf(f"${p(2)}-${p(1)}-${p(0)}")
    }

  private def convert(v: String, dt: DataType): Any = {
    // \N = NULL (PG COPY text convention; what BdeWriter emits). An empty
    // field is NULL for non-text types (nothing parses to a number) but a
    // real empty string for text — matching COPY text semantics, and making
    // the writer→reader pair lossless for both NULL and "".
    if (v == "\\N") return null
    if (v.isEmpty && dt != StringType) return null
    val u = Bde.unescape(v)
    dt match {
      case IntegerType => u.trim.toInt
      case LongType => u.trim.toLong
      case DoubleType => u.trim.toDouble
      case d: DecimalType => new java.math.BigDecimal(u.trim)
      case TimestampNTZType => java.time.LocalDateTime.parse(u.trim, LdtFmt)
      case TimestampType => java.sql.Timestamp.valueOf(u.trim)
      case DateType => java.sql.Date.valueOf(u.trim)
      case BooleanType => u.trim == "t" || u.trim == "true" || u.trim == "Y"
      case _ => u
    }
  }

  /** Read a set of BDE files into a DataFrame with the given target schema
    * (defaults to the first file's header). Per-file column reconciliation
    * and error policy as documented on the object.
    */
  def read(spark: SparkSession, paths: Seq[String],
           schema: Option[StructType] = None,
           policy: BdeErrorPolicy = BdeErrorPolicy()): DataFrame = {
    require(paths.nonEmpty, "no BDE files given")
    val sc = spark.sparkContext
    // broadcast, not captured: a task ships its RDD's whole lineage, and a
    // cached frame read from these files would otherwise carry the full
    // Hadoop configuration (about 100 KB) into every task that reads it
    val hconf = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    val target = schema.getOrElse(header(paths.head, sc.hadoopConfiguration).schema)
    val targetFields = target.fields
    val nErrors = spark.sparkContext.longAccumulator("bde_data_errors")
    val nWarnings = spark.sparkContext.longAccumulator("bde_data_warnings")
    val nSubstituted = spark.sparkContext.longAccumulator("bde_date_substitutions")
    val rows = spark.sparkContext
      .parallelize(paths, paths.length)
      .flatMap { p =>
        import BdeErrorAction._
        val reader = open(hconf.value.value, p)
        val lines = Iterator.continually(reader.readLine())
          .takeWhile(l => l != null || { reader.close(); false })
        // one streaming pass: parseHeader consumes through the data marker,
        // what remains of the iterator is this file's data section
        val fh = Bde.parseHeader(lines)
        // this file's column → target position map (case-insensitive,
        // bde_SelectValidColumns semantics)
        val fileCols = fh.columns.map(_.name)
        val targetIdx = fileCols.map(fc =>
          targetFields.indexWhere(_.name.equalsIgnoreCase(fc)))
        var budgetUsed = 0L
        def handle(action: BdeErrorAction, what: String, detail: String): Unit =
          action match {
            case Ignore => ()
            case Warning => nWarnings.add(1)
            case Fatal =>
              throw new IllegalStateException(s"fatal $what in $p: $detail")
            case Error =>
              nErrors.add(1); budgetUsed += 1
              if (budgetUsed > policy.maxErrors)
                throw new IllegalStateException(
                  s"$what errors exceed max_errors=${policy.maxErrors} in $p: $detail")
          }
        def yearBelowMin(u: String): Boolean =
          policy.minimumYear > 0 && {
            val t = Bde.unescape(u).trim
            t.length >= 4 && t.take(4).forall(_.isDigit) &&
              t.take(4).toInt < policy.minimumYear
          }
        lines.filter(_.nonEmpty).flatMap { line =>
          val parts = Bde.splitRow(line)
          if (parts.length != fileCols.length) {
            handle(policy.columnCount, "column_count",
              s"row has ${parts.length} fields, file header has ${fileCols.length}: $line")
            None
          } else {
            val out = new Array[Any](targetFields.length)
            var i = 0
            while (i < parts.length) {
              val ti = targetIdx(i)
              if (ti >= 0) {
                val dt = targetFields(ti).dataType
                val v = parts(i)
                val isDateLike = dt == DateType || dt == TimestampType ||
                  dt == TimestampNTZType
                if (isDateLike && v.nonEmpty && v != "\\N" && yearBelowMin(v)) {
                  handle(policy.dateRange, "date_range",
                    s"year below minimum_year=${policy.minimumYear}: $v")
                  nSubstituted.add(1)
                  out(ti) =
                    if (dt == DateType) parseDateSub(policy.invalidDateString)
                    else convert(policy.invalidDatetimeString, dt)
                } else out(ti) = convert(v, dt)
              }
              i += 1
            }
            Some(Row.fromSeq(out.toIndexedSeq))
          }
        }
      }
    spark.createDataFrame(rows, target)
  }

  /** All .crs/.crs.gz files under a directory, name-ordered. */
  def listFiles(dir: String,
                conf: Configuration = new Configuration()): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      .filter(Bde.fileStem(_).isDefined)
      .sorted.toSeq
  }
}
