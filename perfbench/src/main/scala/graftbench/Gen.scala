package graftbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.{BdeConfig, BdeTableDef, BdeWriter}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Size of one generated BDE repository. `changeShare` is the share of a
  * delta table's live keys one level-5 dataset announces. `full` has two
  * thirds of the row counts of TPC-H scale factor 0.1 (150,000 orders,
  * 600,000 lineitem), so that one run stays near 53 s on a 4-core host
  * (66 s at the full counts) and a round of repeated runs fits its time.
  */
final case class Scale(orders: Long, lineitem: Long, zones: Long,
                       l0Files: Int, changeShare: Double)

object Scale {
  val full = Scale(orders = 100000, lineitem = 400000, zones = 300,
    l0Files = 4, changeShare = 0.015)
  val tiny = Scale(orders = 600, lineitem = 2400, zones = 40,
    l0Files = 2, changeShare = 0.05)
}

/** One generated table. Row content is a pure function of
  * (seed, row index `k`, version), so any state of the table can be
  * rebuilt from the generator's bookkeeping alone.
  */
final case class TableGen(name: String, stem: String, key: String,
                          full: Boolean, base: Scale => Long,
                          keyOf: Long => Long,
                          content: (Long, Column, Column) => Seq[Column]) {
  def files(sc: Scale): Seq[String] =
    if (full) Seq(stem) else (0 until sc.l0Files).map(i => s"${stem}_$i")
}

/** I/U/0/D counts of one apply, as the generator chose them. */
final case class Counts(ins: Long, upd: Long, same: Long, del: Long) {
  def useful: Long = ins + upd + del
}

/** The live rows of one table: every index below `next` that is not in
  * `dead`, at version `ver(k)` (0 when absent).
  */
final case class TableState(next: Long, dead: Set[Long], ver: Map[Long, Int]) {
  def live(k: Long): Boolean = k >= 0 && k < next && !dead(k)
  def rows: Long = next - dead.size
  def version(k: Long): Int = ver.getOrElse(k, 0)
}

/** What one level-5 dataset changed in one delta table. `absent` keys are
  * announced but exist on neither side.
  */
final case class Delta(upd: Seq[(Long, Int)], same: Seq[(Long, Int)],
                       del: Seq[Long], ins: Seq[Long], absent: Seq[Long]) {
  def counts: Counts = Counts(ins.size, upd.size, same.size, del.size)
  def announced: Long = upd.size + same.size + del.size + ins.size + absent.size
}

/** Ground truth for one table after one dataset: its state, the I/U/0/D
  * counts the dataset's apply must record, and the keys it announced.
  */
final case class Truth(dataset: String, state: TableState, counts: Counts,
                       announced: Long)

/** Seeded, deterministic BDE repository generator: one level-0 of several
  * gzipped `.crs` files per table plus level-5 datasets, each carrying an
  * `l5_change_table` and new row images, written through
  * [[graft.sources.BdeWriter]]. Truth (row states and I/U/0/D counts) is
  * recorded from the generator's own choices, never by running the merge.
  */
final class Gen(spark: SparkSession, val seed: Long, val scale: Scale) {
  import Gen._

  private val conf = spark.sparkContext.hadoopConfiguration

  private val states = mutable.Map[String, TableState]()
  private var datasetsMade = 0

  /** Truth per table, one entry per dataset made so far (level-0 first). */
  val truth: mutable.Map[String, mutable.ArrayBuffer[Truth]] =
    mutable.Map(tables.map(t => t.name -> mutable.ArrayBuffer[Truth]()): _*)

  def tableDefs: Seq[BdeTableDef] = BdeConfig.parseTables(config(scale))

  /** Rows the current state of `t` holds, as the reader would parse them. */
  def frame(t: TableGen, st: TableState): DataFrame = {
    import spark.implicits._
    val dead = st.dead.toSeq.toDF("k")
    val ver = st.ver.toSeq.toDF("k", "v")
    spark.range(0, st.next, 1, 1).toDF("k")
      .join(broadcast(dead), Seq("k"), "left_anti")
      .join(broadcast(ver), Seq("k"), "left")
      .select(t.content(seed, col("k"), coalesce(col("v"), lit(0))): _*)
  }

  private def imageFrame(t: TableGen, rows: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.sortBy(_._1).toDF("k", "v").coalesce(1)
      .select(t.content(seed, col("k"), col("v")): _*)
  }

  /** Write the level-0 dataset: every table at version 0. */
  def writeLevel0(root: String): String = {
    require(datasetsMade == 0, "level-0 is the first dataset")
    val name = datasetName(0)
    tables.foreach { t =>
      val n = t.base(scale)
      val st = TableState(n, Set.empty, Map.empty)
      states(t.name) = st
      truth(t.name) += Truth(name, st, Counts(n, 0, 0, 0), 0)
      val parts = if (t.full) 1 else scale.l0Files
      val df = spark.range(0, n, 1, parts).toDF("k")
        .select(t.content(seed, col("k"), lit(0)): _*)
      writeFiles(df, s"$root/level_0/$name", t.files(scale), t.name, name)
    }
    datasetsMade = 1
    name
  }

  /** Write the next level-5 dataset under `root` and advance the truth. */
  def writeLevel5(root: String): String = {
    require(datasetsMade > 0, "write the level-0 first")
    val j = datasetsMade
    val name = datasetName(j)
    val dir = s"$root/level_5/$name"
    val change = mutable.ArrayBuffer[Row]()
    tables.foreach { t =>
      val before = states(t.name)
      val rng = new SplittableRandom(seed * 1000003L + j * 7919L + t.name.hashCode)
      val d = delta(t, before, rng, j)
      val after = TableState(before.next + d.ins.size,
        before.dead ++ d.del,
        before.ver ++ d.upd)
      states(t.name) = after
      if (t.full) {
        writeFiles(frame(t, after), dir, t.files(scale), t.name, name)
        truth(t.name) += Truth(name, after, diffCounts(before, after), 0)
      } else {
        val images = d.upd ++ d.same ++ d.ins.map(_ -> 0)
        writeFiles(imageFrame(t, images), dir, Seq(t.files(scale).head), t.name, name)
        truth(t.name) += Truth(name, after, d.counts, d.announced)
        def ann(k: Long, action: String): Unit =
          change += Row(change.size.toLong + 1, t.name, t.keyOf(k), action, dsTime(j))
        d.upd.foreach(u => ann(u._1, "U"))
        d.same.foreach(u => ann(u._1, "U"))
        d.del.foreach(ann(_, "D"))
        d.ins.foreach(ann(_, "I"))
        d.absent.foreach(ann(_, "D"))
      }
    }
    val ct = spark.createDataFrame(java.util.Arrays.asList(change.toSeq: _*),
      ChangeSchema).coalesce(1)
    writeFiles(ct, dir, Seq(ChangeStem), "l5_change_table", name)
    datasetsMade += 1
    name
  }

  /** Choose one dataset's changes: about `changeShare` of the live keys,
    * split into updates, identical re-deliveries and deletes, plus new keys
    * and keys that exist nowhere. A full table re-delivers every row, so
    * only its state moves.
    */
  private def delta(t: TableGen, st: TableState, rng: SplittableRandom,
                    j: Int): Delta = {
    val share = if (t.full) 0.05 else scale.changeShare
    val m = math.max(8, math.round(st.rows * share)).toInt
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < m) {
      val k = rng.nextLong(st.next)
      if (st.live(k)) picked += k
    }
    val upd = mutable.ArrayBuffer[(Long, Int)]()
    val same = mutable.ArrayBuffer[(Long, Int)]()
    val del = mutable.ArrayBuffer[Long]()
    picked.toSeq.sorted.foreach { k =>
      val r = rng.nextInt(100)
      if (r < 60) upd += k -> (st.version(k) + 1)
      else if (r < 85) same += k -> st.version(k)
      else del += k
    }
    val nIns = math.max(1, m / 10)
    val ins = (0 until nIns).map(i => st.next + i)
    // announced keys no side holds: indexes past every key ever issued
    val absent = (0 until math.max(1, m / 20)).map(i => st.next + 1000000L * j + nIns + i)
    Delta(upd.toSeq, same.toSeq, del.toSeq, ins.toSeq, absent)
  }

  private def writeFiles(df: DataFrame, dir: String, stems: Seq[String],
                         table: String, dataset: String): Unit = {
    val stage = s"$dir/.stage_${stems.head}"
    val paths = BdeWriter.write(df, stage, table, start = dsStamp(dataset),
      end = dsStamp(dataset), gzip = true)
    require(paths.size == stems.size,
      s"$table: wrote ${paths.size} files, expected ${stems.size}")
    val fs = FileSystem.get(new Path(dir).toUri, conf)
    paths.zip(stems).foreach { case (p, s) =>
      fs.rename(new Path(p), new Path(s"$dir/$s.crs.gz")): Unit
    }
    fs.delete(new Path(stage), true): Unit
  }
}

object Gen {

  val ChangeStem = "xaud"

  val ChangeSchema: StructType = StructType(Seq(
    StructField("id", LongType, false),
    StructField("tablename", StringType, false),
    StructField("tablekeyvalue", LongType, false),
    StructField("action", StringType, false),
    StructField("timestamp", StringType, false)))

  private def h(seed: Long, salt: Int, k: Column): Column =
    xxhash64(lit(seed), lit(salt), k)

  private def pick(seed: Long, salt: Int, k: Column, vs: String*): Column =
    element_at(array(vs.map(lit): _*), (pmod(h(seed, salt, k), lit(vs.size.toLong)) + 1).cast("int"))

  private def cents(seed: Long, salt: Int, k: Column, max: Long, v: Column): Column =
    ((pmod(h(seed, salt, k), lit(max)) + v * 100) / 100.0).cast("double")

  private val Epoch = lit(java.sql.Date.valueOf("1992-01-01"))

  val orders = TableGen("orders", "ord", "o_orderkey", full = false, _.orders,
    k => k + 1,
    (seed, k, v) => Seq(
      (k + 1).as("o_orderkey"),
      (pmod(h(seed, 1, k), lit(5000L)) + 1).as("o_custkey"),
      pick(seed, 2, k, "F", "O", "P").as("o_orderstatus"),
      cents(seed, 3, k, 50000000L, v).as("o_totalprice"),
      date_add(Epoch, pmod(h(seed, 4, k), lit(2400L)).cast("int")).as("o_orderdate"),
      pick(seed, 5, k, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"),
      // nulls and the field separator exercise the writer's escaping
      when(pmod(h(seed, 6, k), lit(40L)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("c"), pmod(h(seed, 7, k), lit(1000000L)).cast("string"),
          lit("|r"), v.cast("string"))).as("o_comment")))

  val lineitem = TableGen("lineitem", "lin", "l_key", full = false, _.lineitem,
    k => (k / 4 + 1) * 8 + k % 4 + 1,
    (seed, k, v) => Seq(
      ((k.divide(4).cast("long") + 1) * 8 + pmod(k, lit(4L)) + 1).as("l_key"),
      (k.divide(4).cast("long") + 1).as("l_orderkey"),
      (pmod(k, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 11, k), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(seed, 12, k), lit(50L)) + 1).cast("double").as("l_quantity"),
      cents(seed, 13, k, 10000000L, v).as("l_extendedprice"),
      (pmod(h(seed, 14, k), lit(11L)) / 100.0).as("l_discount"),
      pick(seed, 15, k, "A", "N", "R").as("l_returnflag"),
      date_add(Epoch, pmod(h(seed, 16, k), lit(2500L)).cast("int")).as("l_shipdate")))

  val zones = TableGen("zones", "zon", "z_code", full = true, _.zones,
    k => k + 1,
    (seed, k, v) => Seq(
      (k + 1).as("z_code"),
      concat(lit("zone-"), k.cast("string")).as("z_name"),
      cents(seed, 21, k, 100000L, v).as("z_rate")))

  val tables: Seq[TableGen] = Seq(orders, lineitem, zones)

  /** Row-count tolerances: `row_tol=error,warning`. */
  val ErrTol = 0.2
  val WarnTol = 0.1

  def config(sc: Scale): String =
    (s"TABLE l5_change_table files $ChangeStem" +: tables.map { t =>
      val full = if (t.full) " l5_is_full" else ""
      s"TABLE ${t.name} key=${t.key}$full row_tol=$ErrTol,$WarnTol files ${t.files(sc).mkString(" ")}"
    }).mkString("\n")

  private val Base = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val NameFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
  private val StampFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def datasetName(j: Int): String = NameFmt.format(Base.plusDays(j))
  private def dsTime(j: Int): String = StampFmt.format(Base.plusDays(j).plusSeconds(1))
  private def dsStamp(name: String): String =
    StampFmt.format(LocalDateTime.parse(name, NameFmt))

  /** I/U/0/D of a full-table snapshot against the previous one. */
  def diffCounts(a: TableState, b: TableState): Counts = {
    var ins, upd, same, del = 0L
    val n = math.max(a.next, b.next)
    var k = 0L
    while (k < n) {
      (a.live(k), b.live(k)) match {
        case (true, true) => if (a.version(k) == b.version(k)) same += 1 else upd += 1
        case (false, true) => ins += 1
        case (true, false) => del += 1
        case _ =>
      }
      k += 1
    }
    Counts(ins, upd, same, del)
  }

  /** Expected row-count check status for a `before → after` apply. */
  def status(before: Long, after: Long): String = {
    val dev = math.abs(after.toDouble / before - 1.0)
    if (dev > ErrTol) "error" else if (dev > WarnTol) "warn" else "ok"
  }
}
