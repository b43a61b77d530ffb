package graft.sources

import org.apache.spark.sql.types._

/** BDE (.crs) file format: header model, type mapping and value escaping.
  *
  * Format (reference: the sample .crs files under `/root/reference/t/data`,
  * `conf/linz_bde_uploader.conf:349` bde_copy configuration): a text header
  * of `KEY value` lines (`HEDR`, `SOFTWARE`, `SCHEMA`, `USER`, `START`,
  * `END`, `SQL`, `TABLE`, `COLUMN name type NULL|NOT NULL`, `DESC`, `SIZE`)
  * followed by a `{CRS-DATA}` marker and pipe-delimited rows with a trailing
  * `|`, one per `\x0A`-terminated line. Files may be gzipped.
  *
  * Escapes: the reference's `bde_copy` maps newline → `\n`, CR → `\r` and
  * destructively replaces `|` and `\` with spaces
  * (`conf/linz_bde_uploader.conf:416-419`). graft keeps the same escape
  * alphabet but is lossless: `\` → `\\`, `|` → `\x7c`, and other control
  * characters → `\xHH`. The reader accepts the full `\n`/`\r`/`\\`/`\xHH`
  * set either way. NULL is `\N` (PG COPY text convention) so it stays
  * distinct from the empty string; `datetime` columns are wall-clock
  * (TimestampNTZ), as in the PG tables the reference loads.
  */
object Bde {

  val DataMarker = "{CRS-DATA}"

  private val FileRe = """(.*)\.crs(?:\.gz)?""".r

  /** The table stem a BDE file name carries — `pab1.crs` and
    * `pab1.crs.gz` are both `pab1` — or None when the name (or the last
    * segment of a path) is not a BDE file. The one place the repository
    * layout's file-naming rule lives.
    */
  def fileStem(path: String): Option[String] =
    path.substring(path.lastIndexOf('/') + 1) match {
      case FileRe(stem) => Some(stem)
      case _ => None
    }

  case class BdeColumn(name: String, bdeType: String, nullable: Boolean) {
    def dataType: DataType = Bde.dataType(bdeType)
    def field: StructField = StructField(name, dataType, nullable)
  }

  case class BdeHeader(table: String, columns: Seq[BdeColumn],
                       start: String, end: String, size: Long) {
    def schema: StructType = StructType(columns.map(_.field))
  }

  private val DecimalRe = """(?:decimal|numeric)\((\d+),(\d+)\)""".r

  /** BDE header type token → Spark type. */
  def dataType(t: String): DataType = t.toLowerCase match {
    case "integer" | "int" | "int4" | "serial" | "smallint" => IntegerType
    case "bigint" | "int8" => LongType
    case "double" | "float8" | "real" | "float" => DoubleType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case "datetime" | "timestamp" => TimestampNTZType
    case "date" => DateType
    case "bool" | "boolean" => BooleanType
    case _ => StringType // char, varchar, text, geometry (WKT), unknown
  }

  /** Spark type → BDE header type token (writer side). */
  def bdeType(dt: DataType): String = dt match {
    case IntegerType => "integer"
    case LongType => "bigint"
    case DoubleType | FloatType => "double"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case TimestampType | TimestampNTZType => "datetime"
    case DateType => "date"
    case BooleanType => "boolean"
    case _ => "varchar"
  }

  /** Parse the header lines (everything before `{CRS-DATA}`). */
  def parseHeader(lines: Iterator[String]): BdeHeader = {
    var table = ""; var start = ""; var end = ""; var size = 0L
    val cols = Seq.newBuilder[BdeColumn]
    lines.takeWhile(_.trim != DataMarker).foreach { line =>
      val trimmed = line.trim
      val (key, rest) = trimmed.span(c => !c.isWhitespace)
      val value = rest.trim
      key match {
        case "TABLE" => table = value
        case "START" => start = value
        case "END" => end = value
        case "SIZE" => size = value.toLong
        case "COLUMN" =>
          val parts = value.split("\\s+").toSeq
          val nullable = !(parts.takeRight(2) == Seq("NOT", "NULL"))
          val typeTok =
            if (nullable && parts.last == "NULL") parts(parts.length - 2)
            else if (nullable) parts.last
            else parts(parts.length - 3)
          cols += BdeColumn(parts.head, typeTok, nullable)
        case _ => // HEDR / SOFTWARE / SCHEMA / USER / SQL / DESC — ignored
      }
    }
    BdeHeader(table, cols.result(), start, end, size)
  }

  /** Unescape one field: `\n`, `\r`, `\\`, `\xHH`. */
  def unescape(v: String): String = {
    if (v.indexOf('\\') < 0) return v
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'x' if i + 3 < v.length =>
            sb.append(Integer.parseInt(v.substring(i + 2, i + 4), 16).toChar)
            i += 4
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Escape one field so the row stays one `|`-delimited line. */
  def escape(v: String): String = {
    val needs = v.exists(c => c == '\\' || c == '|' || c < ' ')
    if (!needs) return v
    val sb = new StringBuilder(v.length + 8)
    v.foreach {
      case '\\' => sb.append("\\\\")
      case '|' => sb.append("\\x7c")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\x${c.toInt}%02x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Split a data row: pipe-delimited with a trailing `|`. */
  def splitRow(line: String): Array[String] = {
    val parts = line.split("\\|", -1)
    if (parts.nonEmpty && parts.last.isEmpty) parts.dropRight(1) else parts
  }
}
