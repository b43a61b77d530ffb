package graft

import graft.operators.Versioned
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks of the versioning algebra on ARBITRARY snapshot
  * histories (the gate scenarios are arithmetic; these are random):
  * incremental append ≡ from-scratch rebuild, at-revision reconstruction
  * is exact, and retention vacuum never disturbs surviving revisions.
  */
class VersionedPropSpec extends SparkSpec {
  import spark.implicits._

  private val snapGen: Gen[Map[Long, Int]] =
    Gen.mapOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0, 5)))

  private def df(m: Map[Long, Int]): DataFrame = m.toSeq.toDF("k", "v")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  test("property: appendRevision equals the from-scratch rebuild") {
    check(Prop.forAll(snapGen, snapGen, snapGen) { (m1, m2, m3) =>
      val snaps = Seq(1 -> df(m1), 2 -> df(m2), 3 -> df(m3))
      val rebuilt = Versioned.build(snaps, "k")
      val appended = Versioned.appendRevision(
        Versioned.build(snaps.take(2), "k"), df(m3), 3, "k")
      sameRows(rebuilt, appended)
    })
  }

  test("property: a 3-dataset bracketed store equals the from-scratch rebuild") {
    import graft.operators.DatasetRev
    val dss = (1 to 3).map(i => s"2024010${i}000000")
    val revOf = DatasetRev.revisionMap(dss)
    check(Prop.forAll(Gen.listOfN(dss.size, snapGen)) { ms =>
      val snaps = dss.zip(ms.map(df))
      sameRows(DatasetRev.buildBracketed(snaps, revOf, "k"),
        Versioned.build(snaps.map { case (d, f) => revOf(d) -> f }, "k"))
    })
  }

  test("property: a bracketed store over gapped revisions answers every dataset") {
    import graft.operators.DatasetRev
    val dss = (1 to 8).map(i => s"2024010${i}000000")
    val revOf = DatasetRev.revisionMap(dss)
    val applies = for {
      n <- Gen.choose(1, 6)
      written <- Gen.pick(n, dss)
      ms <- Gen.listOfN(n, snapGen)
    } yield written.sorted.zip(ms).toSeq
    check(Prop.forAll(applies) { snaps =>
      val store = DatasetRev.buildBracketed(snaps.map { case (d, m) => d -> df(m) }, revOf, "k")
      // as of each dataset: the table's last apply at or before it, else empty
      dss.forall { d =>
        val want = snaps.filter(_._1 <= d).lastOption.fold(Map.empty[Long, Int])(_._2)
        DatasetRev.atDataset(store, revOf, d).as[(Long, Int)].collect().toMap == want
      }
    })
  }

  test("a 6-dataset bracketed store reads each snapshot once") {
    import graft.operators.DatasetRev
    val dss = (1 to 8).map(i => s"2024010${i}000000")
    val revOf = DatasetRev.revisionMap(dss)
    val written = Seq(1, 2, 4, 5, 7, 8).map(i => dss(i - 1))
    val snaps = written.zipWithIndex.map { case (d, i) =>
      d -> df((0L until 4L).map(k => k -> (k.toInt + i) % 3).toMap)
    }
    val store = DatasetRev.buildBracketed(snaps, revOf, "k")
    val leaves = store.queryExecution.analyzed.collectLeaves().size
    assert(leaves == snaps.size, s"the store's plan reads $leaves leaves")
    assert(DatasetRev.atDataset(store, revOf, dss(5)).as[(Long, Int)].collect().toMap ==
      snaps(3)._2.as[(Long, Int)].collect().toMap)
  }

  test("property: atRevision reconstructs every input snapshot exactly") {
    check(Prop.forAll(snapGen, snapGen, snapGen) { (m1, m2, m3) =>
      val snaps = Seq(1 -> df(m1), 2 -> df(m2), 3 -> df(m3))
      val store = Versioned.build(snaps, "k")
      snaps.forall { case (r, snap) =>
        sameRows(Versioned.atRevision(store, r), snap)
      }
    })
  }

  test("property: vacuum preserves all revisions at or after retention") {
    check(Prop.forAll(snapGen, snapGen, snapGen) { (m1, m2, m3) =>
      val store = Versioned.build(
        Seq(1 -> df(m1), 2 -> df(m2), 3 -> df(m3)), "k")
      val vac = Versioned.vacuum(store, 2)
      Seq(2, 3).forall(r =>
        sameRows(Versioned.atRevision(vac, r), Versioned.atRevision(store, r)))
    })
  }
}
