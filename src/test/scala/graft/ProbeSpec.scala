package graft

import java.nio.file.Files

import graft.tools.Probe

/** The probe's subcommands run as functions on the shared spec session
  * (`Probe.main` would stop it).
  */
class ProbeSpec extends SparkSpec {

  test("parse: command, query list, sf dir, per-command runs and flags") {
    val t = Probe.parse(Array("time", "q1_agg,q3_join", sf))
    assert(t.command == "time" && t.queries == Seq("q1_agg", "q3_join"))
    assert(t.sfDir == sf && t.runs == 3 && !t.keep && !t.verbose)
    val p = Probe.parse(Array("plandump", "q1_agg", sf, "--out", "x",
      "--suffix", "after"))
    assert(p.out == "x" && p.suffix == "after")
    assert(Probe.parse(Array("cold", "q1_agg", sf)).runs == 2)
    assert(Probe.parse(Array("cold", "--runs", "5", "q1_agg", sf)).runs == 5)
    assert(Probe.parse(Array("profile", "q1_agg", sf, "--keep")).keep)
    assert(Probe.parse(Array("explain", "q1_agg", sf, "--verbose")).verbose)
    intercept[IllegalArgumentException](
      Probe.parse(Array("bogus", "q1_agg", sf)))
    intercept[IllegalArgumentException](
      Probe.parse(Array("time", "q1_agg", sf, "--fast")))
    intercept[IllegalArgumentException](Probe.parse(Array("time", "q1_agg")))
    intercept[IllegalArgumentException](
      Probe.parse(Array("time", "q1_agg", sf, sf)))
  }

  test("time and cold return one timing per run") {
    val t = Probe.time(spark, Seq("q1_agg"), sf, 2)
    assert(t.map(_._1) == Seq("q1_agg", "q1_agg"))
    assert(t.forall(_._2 >= 0))
    val c = Probe.cold(spark, Seq("q1_agg"), sf, 3)
    assert(c.map(_._1) == Seq.fill(3)("q1_agg"))
    assert(c.forall(_._2 >= 0))
  }

  test("profile counts the run's jobs, stages and tasks") {
    val Seq(p) = Probe.profile(spark, Seq("q1_agg"), sf, keep = false)
    assert(p.query == "q1_agg" && p.seconds >= 0)
    assert(p.jobs > 0 && p.stages > 0 && p.tasks > 0)
    assert(p.bySite.map(_._2).sum == p.jobs)
  }

  test("explain counts plan operators; plandump writes under its dir") {
    val Seq((name, counts)) = Probe.explain(spark, Seq("q1_agg"), sf,
      verbose = false)
    assert(name == "q1_agg" && counts.toMap.apply("FileScan") > 0)
    val dir = Files.createTempDirectory("graft-probe")
    val Seq(path) = Probe.plandump(spark, Seq("q1_agg"), sf, dir.toString,
      "after")
    assert(path == dir.resolve("q1_agg_after.txt"))
    assert(Files.readString(path).contains("Physical Plan"))
  }
}
