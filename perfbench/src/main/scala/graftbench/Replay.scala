package graftbench

import scala.collection.mutable

import graft.operators.{Merge, Versioned}
import graft.sources._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A phase-split replay of the loop [[Upload.run]] composes, through the
  * same public functions:
  * `BdeRepository.datasets` → `BdeReader.read` →
  * `Merge.changeKeysFromChangeTable`/`changesetActions`/`diffActions` →
  * `Merge.applyWithBookkeeping` → `Merge.rowCountChecks` →
  * `Versioned.build` → `Upload.publishState`/`seedFrom`.
  *
  * Each frame is forced at the end of its span, so the span holds its own
  * work. Only the frames `Upload.run` itself caches (each revision) and the
  * parsed files are cached; every other frame keeps the plan shape it has
  * in `Upload.run` (caching a frame that holds the revision chain nests the
  * chain once more inside each plan string, and the driver runs out of
  * memory). The benchmark checks that the replay's outputs hash-equal
  * `Upload.run`'s, so the two cannot drift apart unnoticed.
  */
final class Replay(spark: SparkSession, spans: Spans) {

  /** Row count and hash of each table's versioned output, taken when the
    * version span forces it.
    */
  val versioned: mutable.Map[String, (Long, String)] = mutable.Map()

  /** Numbers the spans alone do not give. */
  val stats: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)

  private val conf = spark.sparkContext.hadoopConfiguration

  private def stem(f: String): String =
    new Path(f).getName.replaceAll("\\.crs(\\.gz)?$", "")

  private def filesFor(ds: BdeRepository.Dataset, t: BdeTableDef): Seq[String] =
    ds.files.filter(f => t.files.contains(stem(f)))

  private def forced(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  private def read(paths: Seq[String], schema: Option[StructType],
                   policy: BdeErrorPolicy): DataFrame = spans("read") {
    val (df, n) = forced(BdeReader.read(spark, paths, schema, policy))
    stats("read.rows") += n
    stats("read.bytes") += paths.map(p =>
      new Path(p).getFileSystem(conf).getFileStatus(new Path(p)).getLen).sum
    df
  }

  private val ChecksSchema = StructType(Seq(
    StructField("check_name", StringType, false),
    StructField("expected_count", LongType, false),
    StructField("actual_count", LongType, false)))

  private def checksRow(name: String, expected: Long, actual: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(Row(name, expected, actual)),
      ChecksSchema)

  /** Replay one `Upload.run` over `root`; with `seedStore`, every table
    * resumes from the state published there (daily mode).
    */
  def run(root: String, tables: Seq[BdeTableDef],
          seedStore: Option[String],
          policy: BdeErrorPolicy = BdeErrorPolicy()): Map[String, UploadedTable] = {
    val datasets = spans("discover")(BdeRepository.datasets(root, conf))
    stats("discover.files") += datasets.map(_.files.size).sum
    val changeDef = tables.find(_.levels.contains("C"))
    tables.filterNot(_.levels.contains("C")).map { t =>
      val seed = seedStore.map { store =>
        spans("seed") {
          val sd = Upload.seedFrom(spark, s"$store/${t.name}")
          UploadSeed(forced(sd.current)._1, sd.lastDataset)
        }
      }
      t.name -> spans("table")(runTable(datasets, t, changeDef, policy, seed))
    }.toMap
  }

  private def runTable(datasets: Seq[BdeRepository.Dataset], t: BdeTableDef,
                       changeDef: Option[BdeTableDef], policy: BdeErrorPolicy,
                       seed: Option[UploadSeed]): UploadedTable = {
    val l0opt =
      if (!t.levels.contains("0")) None
      else datasets
        .filter(d => d.level == 0 && filesFor(d, t).nonEmpty)
        .filter(d => seed.forall(_.lastDataset < d.name))
        .lastOption
    val (startCur, startDs, startLevel) = l0opt match {
      case Some(l0) => (read(filesFor(l0, t), None, policy), l0.name, 0)
      case None =>
        val sd = seed.getOrElse(sys.error(s"no level-0 and no seed for ${t.name}"))
        (sd.current, sd.lastDataset, 5)
    }
    var later5 = datasets.filter(d =>
      d.level == 5 && d.name > startDs && t.levels.contains("5") &&
        filesFor(d, t).nonEmpty)
    if (t.level5IsFull) later5 = later5.takeRight(1)

    var cur = startCur.cache()
    val key = t.keyColumn.getOrElse(cur.columns.head)
    val keyType = cur.schema(key).dataType
    var rev = 1
    var snapshots = List(rev -> cur)
    var book: DataFrame =
      if (startLevel == 0) spans("book") {
        val bk = Merge.bookkeeping(cur.select(lit("I").as(Merge.Action)), startDs, t.name)
        bk.collect()
        bk
      } else null
    val l0n = cur.count()
    val startCheck =
      if (startLevel == 0) s"${t.name}@$startDs" else s"${t.name}@seed:$startDs"
    var checks = checksRow(startCheck, l0n, l0n)
    var before = l0n

    later5.foreach { ds =>
      val incoming = read(filesFor(ds, t), Some(cur.schema), policy)
      val actions =
        if (t.level5IsFull) spans("actions") {
          val a = Merge.diffActions(cur, incoming, key)
          a.count()
          a
        } else {
          val keys = changeDef
            .map(cd => filesFor(ds, cd))
            .filter(_.nonEmpty)
            .map { fs =>
              val ct = read(fs, None, policy)
              Merge.changeKeysFromChangeTable(ct, t.name, key)
            }
            .getOrElse(incoming.select(col(key)))
            .select(col(key).cast(keyType).as(key))
          spans("actions") {
            stats("merge.announced_keys") += keys.count()
            val a = Merge.changesetActions(cur, incoming, keys, key)
            a.count()
            a
          }
        }
      val (merged, bk) = spans("apply") {
        val (m, b) = Merge.applyWithBookkeeping(cur, incoming, actions, key, ds.name, t.name)
        (forced(m)._1, b)
      }
      spans("book") {
        val r = bk.head()
        if (!t.level5IsFull)
          stats("merge.useful") += r.getLong(2) + r.getLong(3) + r.getLong(5)
      }
      cur = merged
      rev += 1
      snapshots = snapshots :+ (rev -> cur)
      book = if (book == null) bk else book.unionByName(bk)
      val after = cur.count()
      checks = checks.unionByName(checksRow(s"${t.name}@${ds.name}", before, after))
      before = after
    }
    val graded = spans("checks") {
      val g = Merge.rowCountChecks(checks,
        warnTol = t.rowTolWarning.getOrElse(1.0),
        errTol = t.rowTolError.getOrElse(1.0))
      g.collect()
      g
    }
    if (book == null)
      book = Merge.bookkeeping(
        cur.limit(0).select(lit("I").as(Merge.Action)), startDs, t.name)
    val ver = spans("version") {
      val v = Versioned.build(snapshots, key)
      versioned(t.name) = Runner.tableHash(v)
      stats("version.rows") += versioned(t.name)._1
      v
    }
    UploadedTable(cur, ver, book, graded)
  }
}
