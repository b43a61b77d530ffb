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
