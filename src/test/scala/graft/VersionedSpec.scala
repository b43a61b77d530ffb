package graft

import graft.operators.{Versioned, VersionedScenarios}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class VersionedSpec extends SparkSpec {

  private def df(rows: Seq[(Long, String)], rev: Int) = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), schema)
  }

  test("build: insert / change / delete / re-insert lifecycles") {
    // id=1 stable; id=2 changes at r2; id=3 deleted at r2; id=4 deleted at
    // r2, re-inserted at r3; id=5 appears at r3
    val s1 = df(Seq(1L -> "a", 2L -> "x", 3L -> "gone", 4L -> "first"), 1)
    val s2 = df(Seq(1L -> "a", 2L -> "y"), 2)
    val s3 = df(Seq(1L -> "a", 2L -> "y", 4L -> "second", 5L -> "new"), 3)
    val v = Versioned.build(Seq(1 -> s1, 2 -> s2, 3 -> s3), "id")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[Int]("_ver_created"),
        Option(r.getAs[Integer]("_ver_expired")).map(_.toInt)))
      .toSet
    assert(v == Set(
      (1L, "a", 1, None),
      (2L, "x", 1, Some(2)), (2L, "y", 2, None),
      (3L, "gone", 1, Some(2)),
      (4L, "first", 1, Some(2)), (4L, "second", 3, None),
      (5L, "new", 3, None)))
  }

  test("atRevision reconstructs each snapshot exactly") {
    val s1 = df(Seq(1L -> "a", 2L -> "x"), 1)
    val s2 = df(Seq(1L -> "b", 3L -> "z"), 2)
    val v = Versioned.build(Seq(1 -> s1, 2 -> s2), "id")
    val at1 = Versioned.atRevision(v, 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val at2 = Versioned.atRevision(v, 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at1 == Set(1L -> "a", 2L -> "x"))
    assert(at2 == Set(1L -> "b", 3L -> "z"))
  }

  test("diff emits only I/U/D") {
    val s1 = df(Seq(1L -> "a", 2L -> "x"), 1)
    val s2 = df(Seq(1L -> "b", 3L -> "z"), 2)
    val v = Versioned.build(Seq(1 -> s1, 2 -> s2), "id")
    val d = Versioned.diff(v, 1, 2, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set(1L -> "U", 2L -> "D", 3L -> "I"))
  }

  test("scenario store: one shuffle exchange feeding the version window") {
    // builder-plan assertion — bypass the memo leaf handover
    val plan = Memo.withoutLeafHandover(
      VersionedScenarios.versionedTable(spark, sf)
        .queryExecution.executedPlan.toString)
    assert(plan.contains("Window"), "SCD2 must run as a window, not a loop")
  }

  test("scd2_lookup returns the version each fact's revision saw") {
    val rows = VersionedScenarios.scd2Lookup(spark, sf).collect()
    assert(rows.nonEmpty)
    val store = Versioned.build(
      Seq(1 -> VersionedScenarios.r1(spark, sf),
        2 -> VersionedScenarios.r2(spark, sf),
        3 -> VersionedScenarios.r3(spark, sf)), "o_orderkey")
    for (r <- Seq(1, 2, 3)) {
      val snap = Versioned.atRevision(store, r).collect()
        .map(x => x.getAs[Long]("o_orderkey") -> x.getAs[Double]("o_totalprice"))
        .toMap
      rows.filter(_.getAs[Int]("rev") == r).foreach { x =>
        assert(snap(x.getAs[Long]("o_orderkey")) == x.getAs[Double]("o_totalprice"))
      }
    }
  }

  test("dataset bracketing: every table reconstructs consistently at every dataset") {
    import graft.operators.DatasetRev
    val (da, db, dc) = ("20240101000000", "20240102000000", "20240103000000")
    val revOf = DatasetRev.revisionMap(Seq(dc, da, db)) // order-insensitive
    assert(revOf == Map(da -> 1, db -> 2, dc -> 3))
    // table A changes in all three datasets; table B skips the middle one
    val a1 = df(Seq(1L -> "a", 2L -> "x"), 1)
    val a2 = df(Seq(1L -> "a", 2L -> "y"), 2)
    val a3 = df(Seq(1L -> "b", 2L -> "y", 3L -> "n"), 3)
    val b1 = df(Seq(10L -> "p", 11L -> "q"), 1)
    val b3 = df(Seq(10L -> "p2"), 3)
    val storeA = DatasetRev.buildBracketed(
      Seq(da -> a1, db -> a2, dc -> a3), revOf, "id")
    val storeB = DatasetRev.buildBracketed(Seq(da -> b1, dc -> b3), revOf, "id")
    def at(store: org.apache.spark.sql.DataFrame, d: String) =
      DatasetRev.atDataset(store, revOf, d).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
    // as of each dataset, BOTH tables answer from the same revision number:
    // A shows its per-dataset applies, B spans the dataset it skipped
    assert(at(storeA, da) == Set(1L -> "a", 2L -> "x"))
    assert(at(storeA, db) == Set(1L -> "a", 2L -> "y"))
    assert(at(storeA, dc) == Set(1L -> "b", 2L -> "y", 3L -> "n"))
    assert(at(storeB, da) == Set(10L -> "p", 11L -> "q"))
    assert(at(storeB, db) == Set(10L -> "p", 11L -> "q"),
      "a table untouched by a dataset must span its revision unchanged")
    assert(at(storeB, dc) == Set(10L -> "p2"))
  }

  test("dataset bracketing rejects a revision map missing a dataset or out of dataset order") {
    import graft.operators.DatasetRev
    val (da, db) = ("20240101000000", "20240102000000")
    val snaps = Seq(db -> df(Seq(1L -> "b"), 2), da -> df(Seq(1L -> "a"), 1))
    val swapped = intercept[IllegalArgumentException](
      DatasetRev.buildBracketed(snaps, Map(da -> 2, db -> 1), "id"))
    assert(swapped.getMessage.contains(db), swapped.getMessage)
    val missing = intercept[IllegalArgumentException](
      DatasetRev.buildBracketed(snaps, Map(da -> 1), "id"))
    assert(missing.getMessage.contains(db), missing.getMessage)
  }

  test("vacuum keeps every revision at or after retention reconstructable") {
    val store = Versioned.build(
      Seq(1 -> VersionedScenarios.r1(spark, sf),
        2 -> VersionedScenarios.r2(spark, sf),
        3 -> VersionedScenarios.r3(spark, sf)), "o_orderkey")
    val vac = Versioned.vacuum(store, 2)
    assert(vac.count() < store.count(), "retention must drop expired history")
    for (r <- Seq(2, 3)) {
      val before = Versioned.atRevision(store, r)
      val after = Versioned.atRevision(vac, r)
      assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
        s"revision $r changed by vacuum")
    }
  }
}
