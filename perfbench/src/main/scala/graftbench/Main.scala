package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.sources._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One measured operation. */
final case class Op(runS: Double, rows: Long, steps: Seq[Double],
                    engine: EngineCounts, layers: Map[String, Double],
                    problems: Seq[String])

/** What one upload produced for one table, forced: row count and hash of
  * the current and versioned tables, bookkeeping and count-check rows.
  */
final case class Outputs(current: (Long, String), versioned: (Long, String),
                         book: Seq[Row], checks: Seq[Row])

/** Options of one benchmark invocation. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, scale: Scale, k: Int,
                      perturb: Boolean, out: String)

/** The end-to-end benchmark's JVM side: set up, measure, check, and write
  * one JSON result for `run.py` to finish (oracle check, summary line).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, trace = a("trace") == "1",
      work = a("work"),
      scale = if (a("scale") == "tiny") Scale.tiny else Scale.full,
      k = a("k").toInt, perturb = a("perturb") == "1", out = a("out"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Spark.session("graftbench", a("cores"))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try {
      val result = new Runner(spark, o, sessionS).run()
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new java.io.File(o.out), result)
    } finally spark.stop()
  }
}

final class Runner(spark: SparkSession, o: Opts, sessionS: Double) {
  import Runner._

  private val engine = new Engine(spark)
  private val spans = new Spans(spark)
  private val conf = spark.sparkContext.hadoopConfiguration
  private val problems = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0
  private val extra = mutable.LinkedHashMap[String, Any]()

  private def path(p: String): Path = new Path(p)
  private def rm(p: String): Unit = path(p).getFileSystem(conf).delete(path(p), true): Unit
  private def bytesUnder(p: String): Long =
    path(p).getFileSystem(conf).getContentSummary(path(p)).getLength

  private def now: Double = System.nanoTime() / 1e9

  /** Run `ops` until `seconds` have passed (at least `min` times). */
  private def loop(min: Int)(op: Int => Op): Seq[Op] = {
    val t0 = now
    val out = mutable.ArrayBuffer[Op]()
    var i = 0
    var go = true
    while (go && (i < min || now - t0 < o.seconds)) {
      attempted += 1
      try {
        val r = op(i)
        if (r.problems.nonEmpty) { failed += 1; problems ++= r.problems }
        out += r
      } catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"op $i threw: $e"
          go = false
      }
      spark.catalog.clearCache()
      i += 1
    }
    out.toSeq
  }

  def run(): Map[String, Any] = {
    val (prepS, warmS, ops) = o.workload match {
      case "bde_catchup" => catchup()
      case "bde_daily" => daily()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // JVM start to the first timed operation: session, warm-up, set-up
    val setupS = sessionS + warmS + prepS
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("run_s", median(ops.map(_.runS)), "s"),
      ("rows_per_s", median(ops.map(op => op.rows / op.runS)), "rows/s"),
      ("apply_p50_s", median(ops.flatMap(_.steps)), "s"),
      ("cache_peak_mb", median(ops.map(_.engine.cachePeakMb)), "MB"))
    val layers = (ops.head.engine.metrics ++ ops.head.layers.toSeq).map(_._1).distinct
      .map(n => n -> median(ops.map(op => (op.engine.metrics.toMap ++ op.layers)(n))))
    val capacityMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / Engine.MB
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> attempted, "failed" -> failed, "problems" -> problems.toSeq,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS, "prep_s" -> prepS),
      "storage_capacity_mb" -> capacityMb,
      "end_to_end" -> e2e.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (n, v) => Map("name" -> n, "value" -> v, "unit" -> unitOf(n)) },
      "ops" -> ops.map(op => Map("run_s" -> op.runS, "rows" -> op.rows, "steps" -> op.steps,
        "engine" -> op.engine.metrics.toMap, "cache_peak_mb" -> op.engine.cachePeakMb,
        "layers" -> op.layers, "problems" -> op.problems)),
      "spans" -> spans.records) ++ extra
  }

  // ------------------------------------------------------------- BDE

  private def upload(root: String, gen: Gen, store: String,
                     seeded: Boolean): (Map[String, Outputs], Seq[Double], Double) = {
    val stamps = mutable.ArrayBuffer[Double]()
    val t0 = now
    val seeds =
      if (!seeded) Map.empty[String, UploadSeed]
      else Gen.tables.map(t => t.name -> Upload.seedFrom(spark, s"$store/${t.name}")).toMap
    val res = Upload.run(spark, root, gen.tableDefs,
      postApply = Seq(_ => stamps += now), seeds = seeds)
    val outs = Gen.tables.map(t =>
      t.name -> outputsOf(res(t.name), tableHash(res(t.name).versioned))).toMap
    publishAll(res, outs, store)
    val t1 = now
    val marks = t0 +: stamps.toSeq
    val steps = marks.zip(marks.tail).map { case (x, y) => y - x }
    (outs, steps, t1 - t0)
  }

  /** Force the remaining outputs of one table. The versioned table is
    * forced by hashing it, so checks need not build it again.
    */
  private def outputsOf(u: UploadedTable, versioned: (Long, String)): Outputs =
    Outputs(tableHash(u.current), versioned, u.bookkeeping.collect().toSeq,
      u.countChecks.collect().toSeq)

  private def publishAll(res: Map[String, UploadedTable], outs: Map[String, Outputs],
                         store: String): Unit =
    Gen.tables.foreach { t =>
      Upload.publishState(res(t.name).current,
        outs(t.name).book.map(_.getString(0)).max, s"$store/${t.name}")
    }

  private val truthHashes = mutable.Map[(String, String), (Long, String)]()

  private def truthHash(gen: Gen, t: TableGen, tr: Truth): (Long, String) =
    truthHashes.getOrElseUpdate((t.name, tr.dataset), {
      val (n, h) = tableHash(gen.frame(t, tr.state))
      if (o.perturb) (n + 1, h) else (n, h)
    })

  /** Compare one upload's outputs and its published state with the
    * generator's truth; returns what differs.
    */
  private def check(gen: Gen, outs: Map[String, Outputs], store: String,
                    seeded: Boolean): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    Gen.tables.foreach { t =>
      val u = outs(t.name)
      val hist = gen.truth(t.name)
      val end = hist.last
      val want = truthHash(gen, t, end)
      if (u.current != want) bad += s"${t.name}: final table ${u.current}, expected $want"
      val pub = Upload.seedFrom(spark, s"$store/${t.name}")
      if (tableHash(pub.current) != want || pub.lastDataset != end.dataset)
        bad += s"${t.name}: published state differs from truth"
      // the applies of this run: all of them (catch-up), or the newest
      // dataset on top of the seed (daily); a full table applies only its
      // newest snapshot, against the state it started from
      val (start, applied) =
        if (seeded) (hist(hist.size - 2), Seq(end))
        else if (t.full) (hist.head, Seq(end))
        else (hist.head, hist.tail.toSeq)
      val books = (if (seeded) Nil else Seq(hist.head)) ++ applied.map { tr =>
        if (t.full) tr.copy(counts = Gen.diffCounts(start.state, tr.state)) else tr
      }
      val wantBook = books.map(tr => (tr.dataset, t.name, tr.counts.ins,
        tr.counts.upd, tr.counts.same, tr.counts.del)).sorted
      val gotBook = u.book.map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sorted
      if (gotBook != wantBook) bad += s"${t.name}: bookkeeping $gotBook, expected $wantBook"
      val startName =
        if (seeded) s"${t.name}@seed:${start.dataset}" else s"${t.name}@${start.dataset}"
      var before = start.state.rows
      val wantChecks = (startName, before, before, "ok") +: applied.map { tr =>
        val row = (s"${t.name}@${tr.dataset}", before, tr.state.rows,
          Gen.status(before, tr.state.rows))
        before = tr.state.rows
        row
      }
      val gotChecks = u.checks.map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getString(4)))
      if (gotChecks.sorted != wantChecks.sorted)
        bad += s"${t.name}: count checks $gotChecks, expected $wantChecks"
    }
    bad.toSeq
  }

  /** Rows in the input files one upload parses (each file once). */
  private def inputRows(gen: Gen, seeded: Boolean): Long =
    Gen.tables.map { t =>
      val hist = gen.truth(t.name)
      if (t.full) hist.last.state.rows + (if (seeded) 0 else hist.head.state.rows)
      else {
        val l5 = if (seeded) Seq(hist.last) else hist.tail.toSeq
        (if (seeded) 0L else hist.head.state.rows) +
          l5.map(tr => tr.announced + tr.counts.ins + tr.counts.upd + tr.counts.same).sum
      }
    }.sum

  /** Run one upload op: in trace mode, the phase-split replay first, then
    * the untraced `Upload.run` it must equal.
    */
  private def uploadOp(i: Int, gen: Gen, root: String, store: String,
                       seeded: Boolean): Op = {
    val traced = if (o.trace) Some(replay(i, gen, root, store, seeded)) else None
    // the replay's cached frames would serve Upload.run's own reads
    spark.catalog.clearCache()
    val ((outs, steps, runS), eng) = engine.measure(upload(root, gen, store, seeded))
    val bad = mutable.ArrayBuffer[String]() ++ check(gen, outs, store, seeded)
    val layers = traced.map { case (routs, lay) =>
      Gen.tables.foreach { t =>
        val (a, b) = (outs(t.name), routs(t.name))
        if (a.current != b.current || a.versioned != b.versioned ||
          a.book.sortBy(_.toString) != b.book.sortBy(_.toString) ||
          a.checks.sortBy(_.toString) != b.checks.sortBy(_.toString))
          bad += s"${t.name}: traced replay differs from Upload.run"
      }
      lay + ("trace.overhead_s" -> (lay("trace.total_s") - runS))
    }.getOrElse(Map.empty)
    Op(runS, inputRows(gen, seeded), steps, eng, layers, bad.toSeq)
  }

  private def replay(i: Int, gen: Gen, root: String, store: String,
                     seeded: Boolean): (Map[String, Outputs], Map[String, Double]) = {
    val run = s"${o.workload}-$i"
    spans.run = run
    engine.resetSpans()
    val rp = new Replay(spark, spans)
    val out = s"${o.work}/replay_store_$i"
    val t0 = now
    val res = spans("upload") {
      val r = rp.run(root, gen.tableDefs, if (seeded) Some(store) else None)
      val outs = Gen.tables.map(t =>
        t.name -> spans("book")(outputsOf(r(t.name), rp.versioned(t.name)))).toMap
      spans("publish")(publishAll(r, outs, out))
      outs
    }
    val total = now - t0
    val publishB = bytesUnder(out)
    val published = Gen.tables.map(t => gen.truth(t.name).last.state.rows).sum
    val changed = Gen.tables.map { t =>
      val hist = gen.truth(t.name)
      if (seeded) hist.last.counts.useful
      else if (t.full) hist.head.counts.useful + Gen.diffCounts(hist.head.state, hist.last.state).useful
      else hist.map(_.counts.useful).sum
    }.sum
    rm(out)
    val s = rp.stats
    (res, Map(
      "trace.total_s" -> total,
      "discover.s" -> spans.seconds(run, "discover"),
      "discover.files" -> s("discover.files"),
      "read.s" -> spans.seconds(run, "read"),
      "read.rows" -> s("read.rows"),
      "read.mb" -> s("read.bytes") / Engine.MB,
      "read.task_s" -> engine.spanTaskS("read"),
      "merge.actions_s" -> spans.seconds(run, "actions"),
      "merge.apply_s" -> spans.seconds(run, "apply"),
      "merge.shuffle_mb" -> (engine.spanShuffleMb("actions") + engine.spanShuffleMb("apply")),
      "merge.announced_keys" -> s("merge.announced_keys"),
      "merge.useful_ratio" ->
        (if (s("merge.announced_keys") > 0) s("merge.useful") / s("merge.announced_keys") else 0.0),
      "book.s" -> spans.seconds(run, "book", "checks"),
      "version.s" -> spans.seconds(run, "version"),
      "version.rows" -> s("version.rows"),
      "version.shuffle_mb" -> engine.spanShuffleMb("version"),
      "publish.s" -> spans.seconds(run, "publish"),
      "publish.mb" -> publishB / Engine.MB,
      "publish.write_amp" -> published.toDouble / math.max(1L, changed),
      "seed.s" -> spans.seconds(run, "seed")))
  }

  private def genRepo(seed: Long, scale: Scale, root: String, k: Int): Gen = {
    rm(root)
    val gen = new Gen(spark, seed, scale)
    gen.writeLevel0(root)
    (1 to k).foreach(_ => gen.writeLevel5(root))
    gen
  }

  /** Untimed warm-up: uploads over a tiny repository take the JIT and the
    * codegen cache through every phase the timed runs use.
    */
  private def warmUp(seeded: Boolean): Double = {
    val w0 = now
    val root = s"${o.work}/warm_repo"
    val store = s"${o.work}/warm_store"
    val warm = genRepo(o.seed, Scale.tiny, root, if (seeded) 0 else 1)
    upload(root, warm, store, seeded = false)
    if (seeded) {
      warm.writeLevel5(root)
      upload(root, warm, store, seeded = true)
    }
    spark.catalog.clearCache()
    now - w0
  }

  /** The set-up's time, and what it made. */
  private def timed[T](mk: => T): (Double, T) = {
    val t0 = now
    val r = mk
    (now - t0, r)
  }

  private def catchup(): (Double, Double, Seq[Op]) = {
    val warmS = warmUp(seeded = false)
    val root = s"${o.work}/repo"
    val (prepS, gen) = timed(genRepo(o.seed, o.scale, root, o.k))
    extra("k") = o.k
    val ops = loop(1) { i =>
      val store = s"${o.work}/store_$i"
      val op = uploadOp(i, gen, root, store, seeded = false)
      rm(store)
      op
    }
    (prepS, warmS, ops)
  }

  private def daily(): (Double, Double, Seq[Op]) = {
    val warmS = warmUp(seeded = true)
    val root = s"${o.work}/repo"
    val store = s"${o.work}/store"
    // set-up: the level-0 lands and its state is published once
    val (prepS, gen) = timed {
      val g = genRepo(o.seed, o.scale, root, 0)
      upload(root, g, store, seeded = false)
      spark.catalog.clearCache()
      g
    }
    val ops = loop(2) { i =>
      gen.writeLevel5(root)
      val op = uploadOp(i, gen, root, store, seeded = true)
      Gen.tables.foreach(t => ManifestStore.vacuum(spark, s"$store/${t.name}", keep = 1))
      op
    }
    extra("days") = ops.size
    (prepS, warmS, ops)
  }
}

object Runner {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no measurements")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Row count and an order-independent hash of every row. */
  def tableHash(df: DataFrame): (Long, String) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb") || name.endsWith(".mb")) "MB"
    else if (name.endsWith("ratio") || name.endsWith("amp")) "ratio"
    else "count"
}
