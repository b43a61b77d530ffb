package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one operation, already differenced. */
final case class EngineCounts(jobs: Long, stages: Long, tasks: Long,
                              taskS: Double, taskCpuS: Double, gcS: Double,
                              shuffleMb: Double, spillMb: Double,
                              planS: Double, gapS: Double, heapPeakMb: Double,
                              cachePeakMb: Double) {
  def metrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble, "spark.task_s" -> taskS,
    "spark.task_cpu_s" -> taskCpuS, "spark.gc_s" -> gcS,
    "spark.shuffle_mb" -> shuffleMb, "spark.spill_mb" -> spillMb,
    "driver.plan_s" -> planS, "driver.gap_s" -> gapS,
    "driver.heap_peak_mb" -> heapPeakMb)
}

/** Counts what the engine does: a SparkListener for jobs, stages, tasks and
  * cached blocks, a QueryExecutionListener for driver planning time, and a
  * sampler for the driver heap. Task metrics are also attributed to the
  * innermost open [[Spans]] span through a job-local property.
  */
final class Engine(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Engine._

  private val sc = spark.sparkContext
  private var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleB, spillB = 0L
  private var planMs = 0L
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val stageSpan = mutable.Map[Int, String]()
  private val spanRunMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val spanShuffleB = mutable.Map[String, Long]().withDefaultValue(0L)
  private val blocks = mutable.Map[String, Long]()
  private var blockB, blockPeakB = 0L
  @volatile private var heapPeakB = 0L

  private val heap = ManagementFactory.getMemoryMXBean
  private val sampler = new Thread(() => {
    while (true) {
      val used = heap.getHeapMemoryUsage.getUsed
      if (used > heapPeakB) heapPeakB = used
      Thread.sleep(10)
    }
  }, "graftbench-heap")
  sampler.setDaemon(true)
  sampler.start()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    if (span != null) e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += (s -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val shuffle = m.shuffleWriteMetrics.bytesWritten
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleB += shuffle
      spillB += m.diskBytesSpilled
      stageSpan.get(e.stageId).foreach { s =>
        spanRunMs(s) += m.executorRunTime
        spanShuffleB(s) += shuffle
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      blockB += info.memSize - blocks.getOrElse(id, 0L)
      if (info.memSize == 0) blocks.remove(id) else blocks(id) = info.memSize
      blockPeakB = math.max(blockPeakB, blockB)
    }
  }

  // an unpersisted RDD's blocks are dropped without a block update
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach(id => blockB -= blocks.remove(id).get)
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  private case class Mark(wallMs: Long, jobs: Long, stages: Long,
                          tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleB: Long, spillB: Long, planMs: Long)

  private def mark(): Mark = {
    BenchAccess.drain(sc)
    synchronized {
      Mark(System.currentTimeMillis(), jobs, stages, tasks, runMs, cpuNs,
        gcMs, shuffleB, spillB, planMs)
    }
  }

  /** Run `f` and count what the engine did meanwhile. */
  def measure[T](f: => T): (T, EngineCounts) = {
    val a = mark()
    synchronized { blockPeakB = blockB }
    heapPeakB = heap.getHeapMemoryUsage.getUsed
    val out = f
    val b = mark()
    // read under the lock before building the result: a synchronized block
    // inside constructor arguments does not pass bytecode verification
    val (busy, cachePeakB) = synchronized((busyMs(a.wallMs, b.wallMs), blockPeakB))
    (out, EngineCounts(b.jobs - a.jobs, b.stages - a.stages, b.tasks - a.tasks,
      (b.runMs - a.runMs) / 1e3, (b.cpuNs - a.cpuNs) / 1e9,
      (b.gcMs - a.gcMs) / 1e3, (b.shuffleB - a.shuffleB) / MB,
      (b.spillB - a.spillB) / MB, (b.planMs - a.planMs) / 1e3,
      math.max(0L, b.wallMs - a.wallMs - busy) / 1e3, heapPeakB / MB,
      cachePeakB / MB))
  }

  /** Milliseconds of [t0, t1] during which at least one job ran. */
  private def busyMs(t0: Long, t1: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total, end = 0L
    var start = -1L
    clipped.foreach { case (s, e) =>
      if (start < 0 || s > end) {
        if (start >= 0) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start >= 0) total += end - start
    total
  }

  /** Executor seconds and shuffle MB of tasks run under span `name`. */
  def spanTaskS(name: String): Double = spanTotal(spanRunMs, name) / 1e3
  def spanShuffleMb(name: String): Double = spanTotal(spanShuffleB, name) / MB
  private def spanTotal(m: mutable.Map[String, Long], name: String): Long = {
    BenchAccess.drain(sc)
    synchronized(m(name))
  }
  def resetSpans(): Unit = {
    BenchAccess.drain(sc)
    synchronized { spanRunMs.clear(); spanShuffleB.clear(); stageSpan.clear() }
  }
}

object Engine {
  val SpanKey = "graftbench.span"
  val MB = 1024.0 * 1024.0
}

final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Nested timing spans, kept in memory and written when the benchmark
  * ends. Jobs started inside a span carry its name, so [[Engine]] can
  * attribute their tasks.
  */
final class Spans(spark: SparkSession) {
  private val sc = spark.sparkContext
  val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String)]
  private var next = 0
  var run = ""

  def apply[T](name: String)(f: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id -> name) :: open
    sc.setLocalProperty(Engine.SpanKey, name)
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, name, parent, run, t0, System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Engine.SpanKey, open.headOption.map(_._2).orNull)
    }
  }

  def seconds(run: String, names: String*): Double =
    done.iterator.filter(s => s.run == run && names.contains(s.name)).map(_.seconds).sum

  /** Every span with its self time: its duration less its children's. */
  def records: Seq[Map[String, Any]] = {
    val child = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    val t0 = done.map(_.startNs).minOption.getOrElse(0L)
    done.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (s.seconds - child.getOrElse(s.id, 0.0)))
    }.toSeq
  }
}
