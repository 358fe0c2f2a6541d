package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{GraftBenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed statement of the closed loop. `step` is its place in the
  * cycle's statement mix; `rows` is the statement's input-row base for
  * `rows_per_s`; `cls` is "read" or "write". */
final case class Sample(step: Int, kind: String, cls: String, seconds: Double,
    rows: Long, traced: Boolean)

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What the Spark scheduler and Catalyst did between two harvests. */
final class Bucket {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, scanBytes, shuffleWriteBytes = 0L
  var plannings, analyzeMs, optimizeMs, physicalMs = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
}

/** Scheduler listener plus query-execution listener, registered by the
  * benchmark on the traced run only. Events accumulate into one bucket
  * that the driver thread takes after draining the bus. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private var cur = new Bucket
  private val jobStarts = mutable.Map.empty[Int, Long]

  def take(): Bucket = synchronized { val b = cur; cur = new Bucket; b }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      cur.stages += 1
      cur.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        cur.runMs += m.executorRunTime
        cur.cpuNs += m.executorCpuTime
        cur.scanBytes += m.inputMetrics.bytesRead
        cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) synchronized { cur.taskFailures += 1 }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    cur.plannings += 1
    cur.analyzeMs += ms("analysis")
    cur.optimizeMs += ms("optimization")
    cur.physicalMs += ms("planning")
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}

/** An in-memory span: one call into a layer, on one statement. */
final case class Span(id: Int, parent: Int, stmt: Int, name: String,
    startNs: Long, endNs: Long)

/** The closed-loop client's bookkeeping: statement timing, output checks,
  * and on the traced run the spans and listener counters around each
  * statement. Untraced statements pay two clock readings at each end
  * and nothing else. */
final class Harness(val spark: SparkSession, traceMode: Boolean) {
  private val sc = spark.sparkContext
  private val listener: LayerListener =
    if (!traceMode) null
    else {
      val l = new LayerListener
      sc.addSparkListener(l)
      spark.listenerManager.register(l)
      l
    }

  /** Set by the driver loop: inside the timed window / this step traced /
    * the step of the cycle that runs now. */
  var recording = false
  var tracing = false
  var step = 0

  val samples = ArrayBuffer.empty[Sample]
  /** Per recorded traced statement: layer metric -> value. */
  val stmtLayers = ArrayBuffer.empty[Map[String, Double]]
  val spans = ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  private var stmtId = 0
  private var stack: List[Int] = Nil
  private var cur = mutable.Map.empty[String, Double]

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** Run one statement; `body` returns its input-row count. A thrown
    * statement counts as failed and yields None. */
  def stmt(kind: String, cls: String)(body: => Long): Option[Long] = {
    attempted += 1
    val traced = tracing && listener != null
    if (traced) {
      GraftBenchBus.drain(sc)
      listener.take()
      cur = mutable.Map.empty
      stmtId += 1
    }
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(if (traced) span("stmt." + kind)(body) else body)
      catch { case NonFatal(e) => fail(s"$kind: $e"); None }
    val dt = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    if (traced) {
      GraftBenchBus.drain(sc)
      harvest(listener.take(), wall0, wall1)
    }
    r.foreach { rows =>
      if (recording) {
        samples += Sample(step, kind, cls, dt, rows, traced)
        if (traced) stmtLayers += cur.toMap
      }
    }
    r
  }

  /** A call into one layer. On a traced statement it becomes a span and
    * adds `<name>_ms` to the statement's layer counters. */
  def span[T](name: String)(body: => T): T =
    if (!(tracing && listener != null)) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      spans += null // reserve the slot so ids stay in start order
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Span(id, parent, stmtId, name, t0, t1)
        if (!name.startsWith("stmt.")) add(name + "_ms", (t1 - t0) / 1e6)
      }
    }

  /** Whether the current statement is traced (layer probes that cost
    * extra work run only then). */
  def probing: Boolean = tracing && listener != null

  /** Add to a layer counter of the current traced statement. */
  def add(metric: String, v: Double): Unit =
    if (probing) cur(metric) = cur.getOrElse(metric, 0.0) + v

  /** An output check: counted into attempted, and into failed unless it
    * holds. Never skipped. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case NonFatal(e) => fail(s"$what: $e"); return }
    if (!good) fail(what)
  }

  private def harvest(b: Bucket, wall0: Long, wall1: Long): Unit = {
    add("spark.jobs_per_stmt", b.jobs.toDouble)
    add("spark.stages_per_stmt", b.stages.toDouble)
    add("spark.tasks_per_stmt", b.tasks.toDouble)
    add("spark.task_failures", b.taskFailures.toDouble)
    add("spark.executor_run_ms", b.runMs.toDouble)
    add("spark.executor_cpu_ms", b.cpuNs / 1e6)
    add("spark.scan_mb", b.scanBytes / 1048576.0)
    add("spark.shuffle_write_mb", b.shuffleWriteBytes / 1048576.0)
    add("catalyst.plannings_per_stmt", b.plannings.toDouble)
    add("catalyst.analyze_ms", b.analyzeMs.toDouble)
    add("catalyst.optimize_ms", b.optimizeMs.toDouble)
    add("catalyst.physical_ms", b.physicalMs.toDouble)
    // driver gap: statement wall not covered by any running job
    val clipped = b.jobSpans.map { case (s, e) =>
      (math.max(s, wall0), math.min(e, wall1)) }.filter(x => x._2 > x._1)
        .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    add("spark.driver_gap_ms", math.max(0L, (wall1 - wall0) - covered).toDouble)
  }

  /** Self time per span name, in ms per recorded traced statement: each
    * span's duration minus its children's. */
  def selfTimes(): Map[String, Double] = {
    val done = spans.filter(_ != null)
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0)
      childNs(s.parent) += s.endNs - s.startNs)
    val n = math.max(1, stmtLayers.length)
    done.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6 / n
    }
  }
}
