package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A call the benchmark made into one layer. `parent` is 0 for a pass's
  * top-level calls; spans of one pass share `pass`. Wall-clock bounds
  * (ms) place SQL executions, whose events carry only wall-clock times.
  */
final case class Span(id: Long, layer: String, name: String, parent: Long,
                      pass: Int, startNs: Long, endNs: Long, startMs: Long, endMs: Long)

/** One finished SQL execution: when it started and what it cost. */
final case class Execution(startMs: Long, planMs: Double, execMs: Double,
                           broadcastBytes: Long, filesRead: Long)

/** What the listeners saw while one span was innermost. */
final class SpanCounts {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var planMs = 0.0
  var execMs = 0.0
  var broadcastBytes = 0L
  var filesRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Times the benchmark's calls into the engine and, in traced passes,
  * records a span per call plus the Spark work each span caused.
  *
  * `op` is a timed engine call: its wall time and the executor CPU time of
  * the tasks it starts count toward the pass, and a throw counts as a failed operation. Everything
  * outside an `op` (correctness checks, hygiene probe, trace bookkeeping)
  * is untimed.
  */
final class Recorder(spark: SparkSession, val traceMode: Boolean) {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = new ConcurrentHashMap[Long, SpanCounts]()
  private var nextId = 1L
  private var stack: List[Long] = Nil

  var pass = 0
  var traced = false
  var attempted = 0L
  var failed = 0L
  /** Whether the pass's last throw came from an op (already counted). */
  var opThrew = false
  private var passNs = 0L
  private val passAdds = mutable.LinkedHashMap.empty[String, Double]

  /** Wall milliseconds of every op, by layer.name, in every pass. */
  val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Per-operation samples across the traced passes (commit latency...). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-pass totals, one value per traced pass. */
  val perPass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Finished SQL executions not yet attributed to a span. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[Execution]()

  if (traceMode) sc.addSparkListener(new Listeners(this))

  // executor CPU of the tasks that ops start, counted in every mode
  private val TimedProp = "perfbench.timed"
  private val timedCpuNs = new java.util.concurrent.atomic.AtomicLong()
  sc.addSparkListener(new SparkListener {
    private val timedStages = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(TimedProp) != null)
        e.stageIds.foreach(timedStages.add)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && timedStages.contains(e.stageId))
        timedCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  })
  private var passCpuStart = 0L

  /** Wait for the listeners, then give each finished SQL execution to the
    * innermost span open when it started (the benchmark is one thread).
    */
  def drainBus(): Unit = if (traced) {
    PerfbenchInternals.drain(sc)
    var e = executions.poll()
    while (e != null) {
      val at = e.startMs
      spans.reverseIterator.filter(s => s.startMs <= at && at <= s.endMs)
        .maxByOption(_.startMs).foreach { s =>
          val c = counts.get(s.id)
          c.synchronized {
            c.planMs += e.planMs; c.execMs += e.execMs
            c.broadcastBytes += e.broadcastBytes; c.filesRead += e.filesRead
          }
        }
      e = executions.poll()
    }
  }

  def beginPass(i: Int, traceThis: Boolean): Unit = {
    PerfbenchInternals.drain(sc)
    pass = i; traced = traceThis; opThrew = false; passNs = 0L; passAdds.clear()
    passCpuStart = timedCpuNs.get()
  }

  /** Ends the pass: returns (timed seconds, executor CPU seconds of its ops). */
  def endPass(): (Double, Double) = {
    PerfbenchInternals.drain(sc)
    if (traced) {
      drainBus()
      passAdds.foreach { case (k, v) =>
        perPass.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    }
    (passNs / 1e9, (timedCpuNs.get() - passCpuStart) / 1e9)
  }

  /** A call into `layer`, recorded as a span when the pass is traced. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!traced) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    counts.put(id, new SpanCounts)
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      spans += Span(id, layer, name, parent, pass, t0, t1, m0, System.currentTimeMillis())
    }
  }

  /** A timed engine call. */
  def op[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    sc.setLocalProperty(TimedProp, "1")
    val t0 = System.nanoTime()
    try {
      val r = try span(layer, name)(body) finally sc.setLocalProperty(TimedProp, null)
      val dt = System.nanoTime() - t0
      passNs += dt
      opTimes.getOrElseUpdate(s"$layer.$name", mutable.ArrayBuffer.empty) += dt / 1e6
      r
    } catch {
      case e: Throwable =>
        failed += 1
        opThrew = true
        System.err.println(s"[perfbench] $layer.$name failed in pass $pass: $e")
        throw e
    }
  }

  /** A correctness check on the last operation's result. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED in pass $pass: $what $detail")
    }

  /** Add to a per-pass total (traced passes only). */
  def add(name: String, v: Double): Unit =
    if (traced) passAdds(name) = passAdds.getOrElse(name, 0.0) + v

  /** Record one sample of a per-operation quantity (traced passes only). */
  def sample(name: String, v: Double): Unit =
    if (traced) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Counters of the most recent span named (layer, name). */
  def lastCounts(layer: String, name: String): Option[SpanCounts] =
    if (!traced) None
    else spans.reverseIterator.find(s => s.layer == layer && s.name == name)
      .map(s => counts.get(s.id))

  private[perfbench] def countsFor(prop: String): SpanCounts =
    if (prop == null) null else counts.get(prop.toLong)
}

/** Attributes Spark jobs and tasks to the innermost span open when they
  * were submitted (carried as a local property), and queues finished SQL
  * executions with their planning time, broadcast bytes and files read.
  */
private final class Listeners(rec: Recorder) extends SparkListener with AdaptiveSparkPlanHelper {
  private val stageSpan = new ConcurrentHashMap[Int, SpanCounts]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val execStartMs = new ConcurrentHashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p == null) return
    val c = rec.countsFor(p.getProperty("perfbench.span"))
    if (c == null) return
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(stageSpan.put(_, c))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageSpan.get(e.stageId)
    if (c == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val submitted = stageSubmitMs.getOrDefault(e.stageId, info.launchTime)
    c.synchronized {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.waitMs += math.max(0L, info.launchTime - submitted)
      c.taskMs += info.duration
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execStartMs.put(e.executionId, e.time)
    case e: SparkListenerSQLExecutionEnd =>
      val start = Option(execStartMs.remove(e.executionId)).map(_.longValue).getOrElse(e.time)
      val qe = PerfbenchInternals.queryExecution(e)
      if (qe != null) {
        val phases = qe.tracker.phases
        val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
        val plan = qe.executedPlan
        val broadcast = collectWithSubqueries(plan) {
          case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
        }.sum
        val files = collectWithSubqueries(plan) {
          case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
        }.sum
        rec.executions.add(Execution(start, planMs.toDouble, (e.time - start).toDouble, broadcast, files))
      }
    case _ =>
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); the maximum when there are fewer than 11.
    */
  def tail(xs: Seq[Double]): (Int, Double) =
    if (xs.isEmpty) (0, 0.0)
    else {
      val s = xs.sorted
      val n = s.length
      if (n < 11) (100, s.last)
      else {
        val p = math.floor(100.0 * (n - 10) / n).toInt
        val idx = math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))
        (p, s(idx))
      }
    }
}
