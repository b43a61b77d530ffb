package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.operators.{Merge, Versioned}
import graft.sources._
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.functions.lit

/** End-to-end upload pipeline: repository discovery → level-0 load →
  * level-5 change applies → bookkeeping, count checks and revision history
  * — the reference's `ApplyUpdates` loop on synthetic BDE data.
  */
class UploadSpec extends SparkSpec {
  import UploadSpec._

  private def put(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.stripMargin.getBytes(StandardCharsets.UTF_8))
  }

  private def mkRepo(): String = {
    val root = Files.createTempDirectory("graft-upload").toString
    put(s"$root/level_0/20240101000000/ord.crs",
      """TABLE orders
        |START  2024-01-01 00:00:00
        |END    2024-01-01 01:00:00
        |COLUMN id bigint NOT NULL
        |COLUMN v varchar NULL
        |COLUMN price double NULL
        |{CRS-DATA}
        |1|a|10.0|
        |2|b|20.0|
        |3|c|30.0|
        |4|d|40.0|
        |5|e|50.0|
        |6|f|60.0|
        |""")
    put(s"$root/level_5/20240102000000/xaud.crs",
      """TABLE cbe_data
        |COLUMN id integer NOT NULL
        |COLUMN tablename varchar NOT NULL
        |COLUMN tablekeyvalue integer NOT NULL
        |COLUMN action char NOT NULL
        |COLUMN timestamp datetime NOT NULL
        |{CRS-DATA}
        |1|orders|7|I|2024-01-02 00:00:01|
        |2|orders|2|U|2024-01-02 00:00:01|
        |3|orders|5|D|2024-01-02 00:00:01|
        |4|other_table|99|I|2024-01-02 00:00:01|
        |""")
    put(s"$root/level_5/20240102000000/ord.crs",
      """TABLE orders
        |COLUMN id bigint NOT NULL
        |COLUMN v varchar NULL
        |COLUMN price double NULL
        |{CRS-DATA}
        |7|g|70.0|
        |2|b|21.0|
        |""")
    root
  }

  private val Config = """
    TABLE l5_change_table                       files xaud
    TABLE orders  key=id  row_tol=0.5,0.4      files ord
  """

  test("upload run: L0 load + L5 change apply, bookkeeping, checks, history") {
    val root = mkRepo()
    val result = Upload.run(spark, root, BdeConfig.parseTables(Config))
    val orders = result("orders")

    // final table: 5 deleted, 2 updated, 7 inserted
    val cur = orders.current.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(cur == Map(1L -> 10.0, 2L -> 21.0, 3L -> 30.0, 4L -> 40.0,
      6L -> 60.0, 7L -> 70.0))

    // bookkeeping: one row per (dataset, apply)
    val bk = orders.bookkeeping.collect()
      .map(r => r.getAs[String]("dataset") ->
        (r.getAs[Long]("n_insert"), r.getAs[Long]("n_update"),
          r.getAs[Long]("n_null_update"), r.getAs[Long]("n_delete"))).toMap
    assert(bk("20240101000000") == ((6L, 0L, 0L, 0L)))
    assert(bk("20240102000000") == ((1L, 1L, 0L, 1L)))

    // count checks graded against the configured tolerances
    val checks = orders.countChecks.collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("status")).toMap
    assert(checks.values.forall(_ == "ok"), checks.toString)

    // revision history: r1 is the pre-apply table, diff r1→r2 is the change
    val r1 = Versioned.atRevision(orders.versioned, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r1 == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0,
      5L -> 50.0, 6L -> 60.0))
    val d = Versioned.diff(orders.versioned, 1, 2, "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "U", 5L -> "D", 7L -> "I"))
  }

  test("change keys for other tables do not leak into the apply") {
    val root = mkRepo()
    val result = Upload.run(spark, root, BdeConfig.parseTables(Config))
    // key 99 was announced for other_table only — must not appear anywhere
    assert(!result("orders").current.collect().exists(_.getLong(0) == 99L))
  }

  test("with no change table configured, the incoming file's keys are the announced keys") {
    val root = mkRepo()
    val orders = Upload.run(spark, root, BdeConfig.parseTables(
      "TABLE orders  key=id  files ord"))("orders")
    // 7 inserted and 2 updated; the delete of 5 is announced only in the
    // change table, which this registry does not name
    val cur = orders.current.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(cur == Map(1L -> 10.0, 2L -> 21.0, 3L -> 30.0, 4L -> 40.0,
      5L -> 50.0, 6L -> 60.0, 7L -> 70.0))
    val d = Versioned.diff(orders.versioned, 1, 2, "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "U", 7L -> "I"))
  }

  test("post-load hooks fire per level with the full apply context") {
    val root = mkRepo()
    val applies = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    val level0s = scala.collection.mutable.ArrayBuffer[Int]()
    val uploads = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    Upload.run(spark, root, BdeConfig.parseTables(Config),
      postApply = Seq(ev => { applies += ((ev.dataset, ev.level)): Unit }),
      postLevel0 = Seq(ev => {
        assert(ev.previous.isEmpty && ev.actions.isEmpty,
          "a fresh level-0 snapshot has no delta")
        level0s += ev.level: Unit
      }),
      postUpload = Seq(ev => { uploads += ((ev.dataset, ev.level)): Unit }))
    // postApply: once per apply, in dataset order, with the right level
    assert(applies.toSeq ==
      Seq(("20240101000000", 0), ("20240102000000", 5)))
    assert(level0s.toSeq == Seq(0), "postLevel0 fires exactly once, at L0")
    // postUpload: once, carrying the LAST apply's context
    assert(uploads.toSeq == Seq(("20240102000000", 5)))
  }

  test("hook-maintained aggregate tracks the table through the L5 apply") {
    val root = mkRepo()
    var state: DataFrame = null
    val maintain: Upload.PostApplyHook = ev =>
      state =
        if (ev.level == 0) operators.Merge.aggState(ev.current, "v", "price")
        else operators.Merge.incrementalAgg(state, ev.previous.get,
          ev.incoming.get, ev.actions.get, "id", "v", "price")
    val result = Upload.run(spark, root, BdeConfig.parseTables(Config),
      postApply = Seq(maintain))
    // the incrementally-maintained aggregate == a fresh scan of the final
    // table (level-5 actions flowed through the hook exactly once)
    val direct = operators.Merge
      .aggState(result("orders").current, "v", "price")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue)).toSet
    val maintained = state.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2).doubleValue)).toSet
    assert(maintained == direct)
  }

  test("l5_only tables refuse to run without a seeded previous upload") {
    val root = mkRepo()
    val cfg = BdeConfig.parseTables(
      "TABLE orders key=id l5_only files ord")
    val e = intercept[IllegalStateException] {
      Upload.run(spark, root, cfg)
    }
    assert(e.getMessage.contains("l5_only"))
  }

  // ------------------------------------------- persisted-state resume

  private def putD2(root: String): Unit = {
    put(s"$root/level_5/20240103000000/xaud.crs",
      """TABLE cbe_data
        |COLUMN id integer NOT NULL
        |COLUMN tablename varchar NOT NULL
        |COLUMN tablekeyvalue integer NOT NULL
        |COLUMN action char NOT NULL
        |COLUMN timestamp datetime NOT NULL
        |{CRS-DATA}
        |1|orders|8|I|2024-01-03 00:00:01|
        |2|orders|3|U|2024-01-03 00:00:01|
        |3|orders|1|D|2024-01-03 00:00:01|
        |""")
    put(s"$root/level_5/20240103000000/ord.crs",
      """TABLE orders
        |COLUMN id bigint NOT NULL
        |COLUMN v varchar NULL
        |COLUMN price double NULL
        |{CRS-DATA}
        |8|h|80.0|
        |3|c|31.0|
        |""")
  }

  test("seeded resume run matches the single uninterrupted run") {
    // full run: D0 + D1 + D2 in one process
    val rootFull = mkRepo(); putD2(rootFull)
    val full = Upload.run(spark, rootFull, BdeConfig.parseTables(Config))
    // run #1: D0 + D1 only, publish its state
    val rootA = mkRepo()
    val store = Files.createTempDirectory("graft-resume-store").toString
    val r1 = Upload.run(spark, rootA, BdeConfig.parseTables(Config))
    Upload.publishState(r1("orders").current, "20240102000000", store)
    // run #2: a repo holding ONLY the later D2, table registered l5_only
    val rootB = Files.createTempDirectory("graft-resume-b").toString
    putD2(rootB)
    val seed = Upload.seedFrom(spark, store)
    assert(seed.lastDataset == "20240102000000")
    val cfg2 = BdeConfig.parseTables("""
      TABLE l5_change_table               files xaud
      TABLE orders  l5_only  key=id      files ord
    """)
    val r2 = Upload.run(spark, rootB, cfg2, seeds = Map("orders" -> seed))
    val got = r2("orders").current.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val want = full("orders").current.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got == want)
    // run #2's bookkeeping covers exactly the one new dataset
    val bk = r2("orders").bookkeeping.collect()
      .map(r => r.getAs[String]("dataset") ->
        (r.getAs[Long]("n_insert"), r.getAs[Long]("n_update"),
          r.getAs[Long]("n_null_update"), r.getAs[Long]("n_delete"))).toMap
    assert(bk == Map("20240103000000" -> ((1L, 1L, 0L, 1L))))
    // versioned history: rev 1 = the seed, diff 1→2 = the D2 changes
    val d = operators.Versioned.diff(r2("orders").versioned, 1, 2, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(8L -> "I", 3L -> "U", 1L -> "D"))
  }

  test("a level-0 newer than the seed supersedes it") {
    val root = mkRepo()
    val unseeded = Upload.run(spark, root, BdeConfig.parseTables(Config))
    // a stale seed (pre-D0 timestamp, deliberately wrong content) must be
    // ignored: the newest level-0 snapshot wins, as in GetLevel0Updates
    import spark.implicits._
    val bogus = Seq((99L, "z", 0.0)).toDF("id", "v", "price")
    val seeded = Upload.run(spark, root, BdeConfig.parseTables(Config),
      seeds = Map("orders" -> UploadSeed(bogus, "20231231000000")))
    assert(seeded("orders").current.collect().map(_.getLong(0)).sorted.toSeq ==
      unseeded("orders").current.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("seeded run with no newer datasets returns the seed, zero bookkeeping") {
    val rootB = Files.createTempDirectory("graft-resume-empty").toString
    putD2(rootB)
    import spark.implicits._
    val seedDf = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "price")
    val cfg2 = BdeConfig.parseTables("""
      TABLE l5_change_table               files xaud
      TABLE orders  l5_only  key=id      files ord
    """)
    // seed is AT the only available dataset — nothing newer to apply
    val r = Upload.run(spark, rootB, cfg2,
      seeds = Map("orders" -> UploadSeed(seedDf, "20240103000000")))
    assert(r("orders").current.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    val bk = r("orders").bookkeeping.collect()
    assert(bk.length == 1 && bk.head.getAs[Long]("n_insert") == 0L &&
      bk.head.getAs[Long]("n_delete") == 0L)
  }

  // ------------------------------------------- revision chain length

  /** The level-0 of [[mkRepo]] plus `k` level-5 datasets. Dataset i inserts
    * key 100+i, updates key 1 + (i-1) mod 4 (price + i), re-delivers key 6
    * unchanged, and deletes the key the dataset before it inserted (5 for
    * the first). Returns the repository, the expected final table and the
    * keys the datasets announce.
    */
  private def mkRepoK(k: Int): (String, Map[Long, (String, Double)], Set[Long]) = {
    val root = Files.createTempDirectory("graft-upload-k").toString
    put(s"$root/level_0/20240101000000/ord.crs",
      """TABLE orders
        |COLUMN id bigint NOT NULL
        |COLUMN v varchar NULL
        |COLUMN price double NULL
        |{CRS-DATA}
        |1|a|10.0|
        |2|b|20.0|
        |3|c|30.0|
        |4|d|40.0|
        |5|e|50.0|
        |6|f|60.0|
        |""")
    var table = Map[Long, (String, Double)](1L -> ("a", 10.0), 2L -> ("b", 20.0),
      3L -> ("c", 30.0), 4L -> ("d", 40.0), 5L -> ("e", 50.0), 6L -> ("f", 60.0))
    var announced = Set.empty[Long]
    for (i <- 1 to k) {
      val ds = f"$root/level_5/202401${i + 1}%02d000000"
      val (ins, upd, del) = (100L + i, 1L + (i - 1) % 4, if (i == 1) 5L else 99L + i)
      val updated = (table(upd)._1, table(upd)._2 + i)
      put(s"$ds/xaud.crs",
        s"""TABLE cbe_data
          |COLUMN id integer NOT NULL
          |COLUMN tablename varchar NOT NULL
          |COLUMN tablekeyvalue integer NOT NULL
          |COLUMN action char NOT NULL
          |COLUMN timestamp datetime NOT NULL
          |{CRS-DATA}
          |1|orders|$ins|I|2024-01-02 00:00:01|
          |2|orders|$upd|U|2024-01-02 00:00:01|
          |3|orders|6|U|2024-01-02 00:00:01|
          |4|orders|$del|D|2024-01-02 00:00:01|
          |""")
      put(s"$ds/ord.crs",
        s"""TABLE orders
          |COLUMN id bigint NOT NULL
          |COLUMN v varchar NULL
          |COLUMN price double NULL
          |{CRS-DATA}
          |$ins|n$i|${100.0 + i}|
          |$upd|${updated._1}|${updated._2}|
          |6|f|60.0|
          |""")
      table = table - del + (ins -> ((s"n$i", 100.0 + i))) + (upd -> updated)
      announced ++= Set(ins, upd, 6L, del)
    }
    (root, table, announced)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Row counts of every relation the session's cache holds. */
  private def cachedRowCounts(): Seq[Long] = {
    val cm = spark.sharedState.cacheManager
    val entries = cm.getClass.getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    entries.invoke(cm).asInstanceOf[IndexedSeq[CachedData]]
      .map(_.cachedRepresentation.cacheBuilder.rowCountStats.value.longValue).toSeq
  }

  test("each revision is one cached leaf: plans stay flat in the chain length") {
    def leaves(df: DataFrame): Int =
      df.queryExecution.analyzed.collectLeaves().size
    val currentLeaves = for (k <- Seq(2, 6)) yield {
      val (root, want, announced) = mkRepoK(k)
      val orders = Upload.run(spark, root, BdeConfig.parseTables(Config))("orders")
      val got = orders.current.collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      assert(got == want, s"K=$k final table")
      val bk = orders.bookkeeping.collect()
        .map(r => r.getAs[String]("dataset") ->
          ((r.getAs[Long]("n_insert"), r.getAs[Long]("n_update"),
            r.getAs[Long]("n_null_update"), r.getAs[Long]("n_delete")))).toMap
      assert(bk.size == k + 1 && bk("20240101000000") == ((6L, 0L, 0L, 0L)))
      assert((bk - "20240101000000").values.forall(_ == ((1L, 1L, 1L, 1L))),
        s"K=$k bookkeeping $bk")
      val checks = orders.countChecks.collect()
      assert(checks.length == k + 1 && checks.forall(r =>
        r.getAs[Long]("expected_count") == 6L &&
          r.getAs[Long]("actual_count") == 6L &&
          r.getAs[String]("status") == "ok"), s"K=$k count checks")
      assert(leaves(orders.versioned) == k + 2,
        s"K=$k: versioned must read one leaf per delta plus the start and the slice")
      if (k == 6) {
        // what the run leaves cached: one copy of the start table (6 rows,
        // as many as the final table: the count checks above), the final
        // slice (the final rows under an announced key) and one delta per
        // apply, each at most the 4 keys it announced
        val slice = want.keys.count(announced)
        val cached = cachedRowCounts()
        assert(cached.sum <= want.size + slice + 4L * k,
          s"K=$k: cached relations hold ${cached.sum} rows ($cached), " +
            s"expected at most ${want.size} + $slice + 4 x $k")
      }
      // the leaves read their cached blocks through lineage: once the
      // cache is dropped they recompute, where a localCheckpoint leaf fails
      val (cur, ver) = (rows(orders.current), rows(orders.versioned))
      spark.catalog.clearCache()
      // the session is shared: drop Memo's now-uncached frames too, so a
      // later suite rebuilds and re-caches them instead of recomputing
      Memo.clear(spark)
      assert(rows(orders.current) == cur && rows(orders.versioned) == ver,
        s"K=$k: leaves must read back after the cache is dropped")
      leaves(orders.current)
    }
    assert(currentLeaves.distinct.size == 1,
      s"current's leaf count at K = 2, 6: $currentLeaves")
  }

  test("task lineage stays small at K = 6: no leaf carries the plans before it") {
    // a cached leaf whose last stage holds a physical plan, reads the leaf
    // before it narrowly, or captures its reader's Hadoop configuration
    // ships all of that with every task that reads it. Measured this way:
    // current 55 KB, versioned 106 KB, each delta 23 KB; with the BDE reader
    // capturing its configuration instead of broadcasting it, current reads
    // 161 KB and versioned 212 KB. versioned reads K + 2 = 8 leaves, so its
    // bound is twice the one for a single revision or delta.
    val (root, _, _) = mkRepoK(6)
    val actions = ArrayBuffer[(String, DataFrame)]()
    val orders = Upload.run(spark, root, BdeConfig.parseTables(Config),
      postApply = Seq(ev => ev.actions.foreach(a => actions += ev.dataset -> a)))("orders")
    assert(actions.size == 6)
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def kb(df: DataFrame): Double = ser.serialize(df.queryExecution.toRdd).limit / 1024.0
    val sizes = (("current", orders.current, LineageBoundKb) +:
      ("versioned", orders.versioned, 2 * LineageBoundKb) +:
      actions.toSeq.map { case (ds, a) => (s"delta $ds", a, LineageBoundKb) })
      .map { case (what, df, bound) => (what, kb(df), bound) }
    assert(sizes.forall { case (_, n, bound) => n < bound },
      "serialized task lineage: " +
        sizes.map { case (w, n, bound) => f"$w $n%.1f KB (bound $bound)" }.mkString(", "))
    spark.catalog.clearCache()
  }

  // ------------------------------------------- history and bookkeeping

  private def dsName(i: Int): String = f"202401${i + 1}%02d000000"

  /** A random history of `k` level-5 datasets. Every dataset re-delivers a
    * key unchanged, announces a key neither side holds, and moves a price
    * to or from null; dataset 1 deletes key 1 and dataset 2 re-inserts it.
    */
  private def history(k: Int, rnd: Random): History = {
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    def img(): Img = (pick(Some("a"), Some("b"), None), pick(Some(1.5), Some(2.5), None))
    def zones(): Map[Long, Option[String]] =
      (1L to 5L).filter(_ => rnd.nextInt(3) > 0).map(_ -> pick(Some("n"), Some("m"), None)).toMap
    var st = (2L to 8L).filter(_ => rnd.nextInt(4) > 0).map(_ -> img()).toMap + (1L -> img())
    val orders0 = st
    val steps = (1 to k).map { r =>
      val random = (2L to 10L).filter(_ => rnd.nextInt(3) == 0)
      val rest = st.keys.filterNot(k => k == 1L || random.contains(k)).toSeq.sorted
      val same = rest.headOption.map(k => k -> st(k))
      val nulled = rest.drop(1).headOption.map { k =>
        val (v, p) = st(k)
        k -> ((v, if (p.isEmpty) Some(9.5) else None))
      }
      val images = random.flatMap { k =>
        pick(0, 1, 2, 3) match {
          case 0 => None
          case 1 if st.contains(k) => Some(k -> st(k))
          case _ => Some(k -> img())
        }
      }.toMap ++ same ++ nulled ++ (if (r == 2) Some(1L -> img()) else None)
      val announced = random ++ same.map(_._1) ++ nulled.map(_._1) ++
        (if (r <= 2) Seq(1L) else Nil) :+ (100L + r)
      st = st -- announced ++ images
      Step(announced, images, zones())
    }
    History(keyFirst = k % 2 == 0, orders0, zones(), steps)
  }

  private def crs(table: String, cols: Seq[String], rows: Seq[Seq[Option[Any]]]): String =
    ((s"TABLE $table" +: cols.map("COLUMN " + _) :+ "{CRS-DATA}") ++
      rows.map(_.map(_.fold("\\N")(_.toString)).mkString("", "|", "|"))).mkString("", "\n", "\n")

  private def orderCols(h: History): Seq[String] =
    if (h.keyFirst) Seq("id bigint NOT NULL", "v varchar NULL", "price double NULL")
    else Seq("v varchar NULL", "id bigint NOT NULL", "price double NULL")

  private def orderRows(h: History, m: Map[Long, Img]): Seq[Seq[Option[Any]]] =
    m.toSeq.sortBy(_._1).map { case (id, (v, p)) =>
      if (h.keyFirst) Seq(Some(id), v, p) else Seq(v, Some(id), p)
    }

  private def zoneRows(m: Map[Long, Option[String]]): Seq[Seq[Option[Any]]] =
    m.toSeq.sortBy(_._1).map { case (z, n) => Seq(Some(z), n) }

  /** Write the level-0 and the first `until` level-5 datasets of `h`. */
  private def writeRepo(h: History, until: Int): String = {
    val root = Files.createTempDirectory("graft-upload-h").toString
    val zoneCols = Seq("zid bigint NOT NULL", "name varchar NULL")
    put(s"$root/level_0/${dsName(0)}/ord.crs", crs("orders", orderCols(h), orderRows(h, h.orders0)))
    put(s"$root/level_0/${dsName(0)}/zon.crs", crs("zones", zoneCols, zoneRows(h.zones0)))
    h.steps.take(until).zipWithIndex.foreach { case (d, i) =>
      val dir = s"$root/level_5/${dsName(i + 1)}"
      put(s"$dir/xaud.crs", crs("cbe_data",
        Seq("id integer NOT NULL", "tablename varchar NOT NULL",
          "tablekeyvalue integer NOT NULL", "action char NOT NULL",
          "timestamp datetime NOT NULL"),
        d.announced.zipWithIndex.map { case (key, n) =>
          Seq(Some(n + 1), Some("orders"), Some(key), Some("U"), Some("2024-01-02 00:00:01"))
        }))
      put(s"$dir/ord.crs", crs("orders", orderCols(h), orderRows(h, d.images)))
      put(s"$dir/zon.crs", crs("zones", zoneCols, zoneRows(d.zones)))
    }
    root
  }

  private val HistoryConfig = """
    TABLE l5_change_table                   files xaud
    TABLE orders  key=id                    files ord
    TABLE zones   key=zid  l5_is_full       files zon
  """

  private def ordersDf(h: History, m: Map[Long, Img]): DataFrame = {
    import spark.implicits._
    val df = m.toSeq.map { case (id, (v, p)) => (id, v, p) }.toDF("id", "v", "price")
    if (h.keyFirst) df else df.select("v", "id", "price")
  }

  private def zonesDf(m: Map[Long, Option[String]]): DataFrame = {
    import spark.implicits._
    m.toSeq.toDF("zid", "name")
  }

  private def byName(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.map(df.col).toIndexedSeq: _*)

  /** One [[Upload.run]] whose `postApply` hook records, at every apply, the
    * table, the dataset, and the rows of the event's `previous` and
    * `current` (columns by name), collected while the apply's caches live.
    */
  private def runSeen(root: String, seeds: Map[String, UploadSeed] = Map.empty)
      : (Map[String, UploadedTable], Seq[Seen]) = {
    val seen = ArrayBuffer[Seen]()
    val got = Upload.run(spark, root, BdeConfig.parseTables(HistoryConfig), seeds = seeds,
      postApply = Seq(ev => seen += Seen(ev.table, ev.dataset,
        ev.previous.map(p => rows(byName(p))), rows(byName(ev.current)))))
    (got, seen.toSeq)
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.dtypes.toSeq == want.dtypes.toSeq, s"$what: column order and types")
    assert(rows(got) == rows(want), s"$what: rows")
  }

  /** One upload run over datasets `from` to `until` of `h` — a fresh
    * level-0 load when `from` is 0, else seeded from the run before — held
    * against [[Versioned.build]] over the true snapshots, against
    * bookkeeping over actions derived again by [[Merge.changesetActions]] /
    * [[Merge.diffActions]], and its hooks' `previous`/`current` against the
    * true snapshots before and after each apply.
    */
  private def checkRun(h: History, run: (Map[String, UploadedTable], Seq[Seen]), from: Int,
                       until: Int, what: String): Unit = {
    import spark.implicits._
    val (got, seen) = run
    val revs = from to until
    val orders = got("orders")
    // by name: the column order of `current` is pinned by its own test
    assertSame(byName(orders.current), byName(ordersDf(h, h.orders(until))),
      s"$what orders current")
    assertSame(orders.versioned,
      Versioned.build(revs.map(i => (i - from + 1) -> ordersDf(h, h.orders(i))), "id"),
      s"$what orders versioned")
    def inserts(df: DataFrame, ds: String, t: String): Seq[DataFrame] =
      if (from == 0) Seq(Merge.bookkeeping(df.select(lit("I").as(Merge.Action)), ds, t))
      else Nil
    val orderBooks = inserts(ordersDf(h, h.orders0), dsName(0), "orders") ++
      revs.tail.map { i =>
        val d = h.steps(i - 1)
        Merge.bookkeeping(Merge.changesetActions(ordersDf(h, h.orders(i - 1)),
          ordersDf(h, d.images), d.announced.toDF("id"), "id"), dsName(i), "orders")
      }
    assertSame(orders.bookkeeping, orderBooks.reduce(_ unionByName _), s"$what orders bookkeeping")
    // a full table applies only the newest snapshot
    val zones = got("zones")
    val zoneRevs = if (until > from) Seq(from, until) else Seq(from)
    assertSame(zones.current, zonesDf(h.zones(until)), s"$what zones current")
    assertSame(zones.versioned,
      Versioned.build(zoneRevs.zipWithIndex.map { case (i, r) => (r + 1) -> zonesDf(h.zones(i)) }, "zid"),
      s"$what zones versioned")
    val zoneBooks = inserts(zonesDf(h.zones0), dsName(0), "zones") ++
      zoneRevs.tail.map(i => Merge.bookkeeping(Merge.diffActions(
        zonesDf(h.zones(from)), zonesDf(h.zones(i)), "zid"), dsName(i), "zones"))
    assertSame(zones.bookkeeping, zoneBooks.reduce(_ unionByName _), s"$what zones bookkeeping")
    // every apply's hook frames: the level-0 load has no previous table
    def snap(df: DataFrame): Seq[String] = rows(byName(df))
    def applies(t: String)(df: Int => DataFrame, after: Seq[Int], prev: Int => Int): Seq[Seen] =
      (if (from == 0) Seq(Seen(t, dsName(0), None, snap(df(0)))) else Nil) ++
        after.map(i => Seen(t, dsName(i), Some(snap(df(prev(i)))), snap(df(i))))
    val wantSeen =
      applies("orders")(i => ordersDf(h, h.orders(i)), revs.tail, _ - 1) ++
        applies("zones")(i => zonesDf(h.zones(i)), zoneRevs.tail, _ => from)
    Seq("orders", "zones").foreach { t =>
      val (g, w) = (seen.filter(_.table == t), wantSeen.filter(_.table == t))
      assert(g.map(_.dataset) == w.map(_.dataset), s"$what $t hook applies")
      g.zip(w).foreach { case (a, b) =>
        assert(a.previous == b.previous, s"$what $t@${a.dataset} hook previous")
        assert(a.current == b.current, s"$what $t@${a.dataset} hook current")
      }
    }
  }

  test("versioned and bookkeeping equal the rebuild over the true snapshots") {
    for (k <- 1 to 6) {
      val h = history(k, new Random(7919L * k))
      val cfg = BdeConfig.parseTables(HistoryConfig)
      checkRun(h, runSeen(writeRepo(h, k)), 0, k, s"K=$k")
      if (k >= 2) {
        // the same history in two runs: the second resumes from the
        // state the first published
        val j = k / 2
        val first = Upload.run(spark, writeRepo(h, j), cfg)
        val store = Files.createTempDirectory("graft-upload-h-store").toString
        val seeds = Seq("orders", "zones").map { t =>
          Upload.publishState(first(t).current, dsName(j), s"$store/$t")
          t -> Upload.seedFrom(spark, s"$store/$t")
        }.toMap
        checkRun(h, runSeen(writeRepo(h, k), seeds), j, k, s"K=$k seeded after $j")
      }
      spark.catalog.clearCache()
    }
  }

  test("current keeps the table's column order when the key is not first") {
    val h = history(1, new Random(7919L))
    val got = Upload.run(spark, writeRepo(h, 1), BdeConfig.parseTables(HistoryConfig))
    assert(got("orders").current.columns.toSeq == Seq("v", "id", "price"))
  }

  test("job lock: single writer, stale locks broken, withLock releases") {
    val dir = Files.createTempDirectory("graft-lock").toString
    assert(JobLock.acquire(dir, "job-a", ttlMs = 60000))
    assert(!JobLock.acquire(dir, "job-b", ttlMs = 60000), "second writer must fail")
    assert(JobLock.holder(dir).map(_._1).contains("job-a"))
    assert(!JobLock.release(dir, "job-b"), "only the owner releases")
    assert(JobLock.release(dir, "job-a"))
    // stale lock: ttl 0 means any existing lock is a zombie
    assert(JobLock.acquire(dir, "job-c", ttlMs = 60000))
    assert(JobLock.acquire(dir, "job-d", ttlMs = 0), "zombie lock must break")
    JobLock.release(dir, "job-d")
    // withLock runs the body and always releases
    val got = JobLock.withLock(dir, "job-e")(42)
    assert(got == 42 && JobLock.holder(dir).isEmpty)
    JobLock.acquire(dir, "job-f", ttlMs = 60000)
    intercept[IllegalStateException] {
      JobLock.withLock(dir, "job-g")(0)
    }
  }
}

object UploadSpec {
  type Img = (Option[String], Option[Double])

  /** Bound on the closure-serialized RDD of one revision or delta that
    * `Upload.run` hands out: what a task reading it deserializes.
    */
  val LineageBoundKb = 64

  /** One level-5 dataset of a random history: the `orders` keys it
    * announces, the images it delivers for them, and the full `zones`
    * snapshot it carries.
    */
  final case class Step(announced: Seq[Long], images: Map[Long, Img],
                                zones: Map[Long, Option[String]])

  /** What a `postApply` hook saw at one apply: the rows of `previous`
    * (None at a level-0 load) and of `current`, columns by name.
    */
  final case class Seen(table: String, dataset: String,
                        previous: Option[Seq[String]], current: Seq[String])

  final case class History(keyFirst: Boolean, orders0: Map[Long, Img],
                                   zones0: Map[Long, Option[String]], steps: Seq[Step]) {
    /** `orders` after each dataset, the level-0 first. */
    val orders: Seq[Map[Long, Img]] = steps.scanLeft(orders0)((st, d) =>
      st -- d.announced ++ d.images)
    /** `zones` after each dataset, the level-0 first. */
    val zones: Seq[Map[Long, Option[String]]] = zones0 +: steps.map(_.zones)
  }
}
