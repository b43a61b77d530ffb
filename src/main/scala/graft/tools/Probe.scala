package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{ListenerBus, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Memo, Spark, SparkEntry}

/** Dev probe for registered queries: timing, job profiles and plans, in
  * one session from [[graft.Spark.session]], with Bench's own warm-up and
  * cold-pass code.
  *
  * Usage: `runMain graft.tools.Probe <command> <q1,q2,...> <sfDir>
  * [--runs N] [--keep] [--verbose] [--out DIR] [--suffix S]`
  *
  *  - `time`: run each query `--runs` times (default 3) with caches kept,
  *    and print each run's seconds.
  *  - `cold`: Bench's protocol — warm every query at sf0.001, then
  *    `--runs` cold passes (default 2), each with Memo and the block
  *    cache cleared first.
  *  - `profile`: per query, warm it at sf0.001, clear Memo and the block
  *    cache (`--keep` keeps them, to profile a query after the gates
  *    before it built the shared artifacts), and time one run under a
  *    job listener. Prints the jobs, stages, tasks and executor
  *    task-seconds, and the seconds per call site. At gate scale every
  *    action costs a near-constant scheduling and planning quantum, so
  *    the job count is the budget; stage count and task-seconds move
  *    with structural change and not with host noise.
  *  - `explain`: plan-shape operator counts per query (`--verbose` also
  *    prints the formatted plan).
  *  - `plandump`: write each query's formatted plan to
  *    `DIR/<query>_<S>.txt` (default `plans/probe`, suffix `plan`).
  *    A gate that materializes inside its builder shows a `LogicalRDD`
  *    leaf here; `profile` is its plan evidence.
  *
  * The session has `SPARK_GRAFT_CPUS` cores.
  */
object Probe {

  final case class Args(command: String, queries: Seq[String], sfDir: String,
                        runs: Int, keep: Boolean, verbose: Boolean,
                        out: String, suffix: String)

  /** Command -> default `--runs` (read by `time` and `cold` only). */
  private val Commands = Map(
    "time" -> 3, "cold" -> 2, "profile" -> 1, "explain" -> 1, "plandump" -> 1)

  private val Usage = "usage: Probe <time|cold|profile|explain|plandump> " +
    "<q1,q2,...> <sfDir> [--runs N] [--keep] [--verbose] [--out DIR] " +
    "[--suffix S]"

  def parse(args: Array[String]): Args = {
    val pos = mutable.ArrayBuffer[String]()
    var (runs, keep, verbose) = (Option.empty[Int], false, false)
    var (out, suffix) = ("plans/probe", "plan")
    val it = args.iterator
    def value(flag: String): String = {
      require(it.hasNext, s"$flag needs a value; $Usage")
      it.next()
    }
    while (it.hasNext) it.next() match {
      case "--runs" => runs = Some(value("--runs").toInt)
      case "--keep" => keep = true
      case "--verbose" => verbose = true
      case "--out" => out = value("--out")
      case "--suffix" => suffix = value("--suffix")
      case f if f.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown flag $f; $Usage")
      case p => pos += p
    }
    require(pos.size == 3, Usage)
    val runsDefault = Commands.getOrElse(pos(0),
      throw new IllegalArgumentException(s"unknown command ${pos(0)}; $Usage"))
    Args(pos(0), pos(1).split(',').toSeq, pos(2),
      runs.getOrElse(runsDefault), keep, verbose, out, suffix)
  }

  private def lookup(names: Seq[String]): Seq[(String, Bench.Query)] = {
    val all = SparkEntry.queries
    names.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"no registered query $n")))
  }

  /** Each query `runs` times, caches kept: one (query, seconds) per run. */
  def time(spark: SparkSession, names: Seq[String], dir: String,
           runs: Int): Seq[(String, Double)] =
    for ((name, fn) <- lookup(names); i <- 1 to runs) yield {
      val sec = Bench.time(spark, name, fn, dir)
      println(f"[time] $name run $i: $sec%.2f s")
      name -> sec
    }

  /** Bench's warm-up, then `passes` cold passes: one (query, seconds) per
    * query and pass.
    */
  def cold(spark: SparkSession, names: Seq[String], dir: String,
           passes: Int): Seq[(String, Double)] = {
    val qs = lookup(names)
    Bench.warm(spark, qs)
    (1 to passes).flatMap { i =>
      Bench.coldPass(spark, qs, dir).map { case (name, sec) =>
        println(f"[cold] $name pass $i: $sec%.2f s")
        name -> sec
      }
    }
  }

  final case class Profile(query: String, seconds: Double, jobs: Int,
                           stages: Int, tasks: Int, taskSeconds: Double,
                           bySite: Seq[(String, Int, Double)])

  /** Every job, stage and task of the run it listens to. */
  private class Counter extends SparkListener {
    val starts = mutable.Map[Int, (Long, String)]()
    val jobs = mutable.ArrayBuffer[(String, Double)]()
    var (stages, tasks, taskMs) = (0, 0, 0L)
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
      starts(js.jobId) = (System.nanoTime(), site)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      starts.remove(je.jobId).foreach { case (t0, site) =>
        jobs += ((site, (System.nanoTime() - t0) / 1e9))
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += sc.stageInfo.numTasks
      taskMs += sc.stageInfo.taskMetrics.executorRunTime
    }
  }

  def profile(spark: SparkSession, names: Seq[String], dir: String,
              keep: Boolean): Seq[Profile] =
    lookup(names).map { case (name, fn) =>
      Bench.warm(spark, Seq(name -> fn))
      if (!keep) { Memo.clear(spark); spark.catalog.clearCache() }
      // the bus delivers events asynchronously: drain it before adding the
      // listener (so the warm-up's events stay out) and before reading and
      // removing it (so the run's last events are in)
      ListenerBus.drain(spark)
      val c = new Counter
      spark.sparkContext.addSparkListener(c)
      val sec = Bench.time(spark, name, fn, dir)
      ListenerBus.drain(spark)
      spark.sparkContext.removeSparkListener(c)
      val bySite = c.jobs.groupBy(_._1).map { case (site, js) =>
        (site, js.size, js.map(_._2).sum)
      }.toSeq.sortBy(-_._3)
      println(f"== $name: $sec%.2f s, ${c.jobs.size} jobs, " +
        f"${c.stages} stages, ${c.tasks} tasks, " +
        f"${c.taskMs / 1e3}%.1f task-sec ==")
      for ((site, n, s) <- bySite) println(f"[prof] $s%7.2f s  n=$n%-4d $site")
      println(f"[prof] job-covered ${c.jobs.map(_._2).sum}%.2f s of " +
        f"$sec%.2f s (gap = driver planning/analysis)")
      Profile(name, sec, c.jobs.size, c.stages, c.tasks, c.taskMs / 1e3, bySite)
    }

  private val PlanOps = Seq("FileScan", "Exchange", "SortMergeJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate", "Window",
    "WholeStageCodegen")

  /** Operator counts of each query's executed plan. */
  def explain(spark: SparkSession, names: Seq[String], dir: String,
              verbose: Boolean): Seq[(String, Seq[(String, Int)])] =
    lookup(names).map { case (name, fn) =>
      val df = fn(spark, dir)
      if (verbose) df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      val counts = PlanOps.map(op => op -> op.r.findAllIn(plan).length)
      println(s"== $name ==")
      for ((op, n) <- counts) println(f"$op%-25s $n")
      name -> counts
    }

  /** Each query's formatted plan, written to `out/<query>_<suffix>.txt`. */
  def plandump(spark: SparkSession, names: Seq[String], dir: String,
               out: String, suffix: String): Seq[Path] = {
    Files.createDirectories(Paths.get(out))
    lookup(names).map { case (name, fn) =>
      val txt = fn(spark, dir).queryExecution.explainString(FormattedMode)
      val path = Paths.get(out, s"${name}_$suffix.txt")
      Files.write(path, txt.getBytes("UTF-8"))
      println(s"[plandump] $name -> $path")
      path
    }
  }

  def run(spark: SparkSession, a: Args): Unit = a.command match {
    case "time" => time(spark, a.queries, a.sfDir, a.runs)
    case "cold" => cold(spark, a.queries, a.sfDir, a.runs)
    case "profile" => profile(spark, a.queries, a.sfDir, a.keep)
    case "explain" => explain(spark, a.queries, a.sfDir, a.verbose)
    case "plandump" => plandump(spark, a.queries, a.sfDir, a.out, a.suffix)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = Spark.session("graft-probe")
    try run(spark, a) finally spark.stop()
  }
}
