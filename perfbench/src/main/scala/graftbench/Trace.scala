package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in fractional epoch milliseconds: listener events carry epoch
  * millis, so the benchmark's own spans use the same base, with nanoTime
  * resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A timed interval at one layer boundary. `op` is the operation that
  * caused it, or -1 when the event carried no link and is placed by time. */
final case class Span(name: String, op: Long, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Task counters from one task-end event. */
final case class TaskSample(op: Long, time: Double, runMs: Double, cpuMs: Double,
    gcMs: Double, shuffleWriteB: Double, spillB: Double)

/** One micro-batch progress report. */
final case class Trigger(runId: String, batchId: Long, start: Double, triggerMs: Double,
    addBatchMs: Double, walCommitMs: Double, stateCommitMs: Double, stateRows: Double)

/** Everything the listeners see, held in memory until the run ends. The
  * operation link for jobs is the local property set on the client thread;
  * catalyst phases and micro-batches carry no link and are placed in the
  * operation whose interval holds their start (one client thread, so
  * operations never overlap). */
final class Tracer(spark: SparkSession) {
  val OpProp = "graftbench.op"
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskSample]()
  val stages = new ConcurrentLinkedQueue[(Long, Double)]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  val executions = new ConcurrentLinkedQueue[Double]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toLong).getOrElse(-1L)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobStart.put(e.jobId, (op, e.time.toDouble))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        spans.add(Span("exec.job", op, t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add((stageOp.getOrDefault(e.stageInfo.stageId, -1L),
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskSample(stageOp.getOrDefault(e.stageId, -1L),
        e.taskInfo.finishTime.toDouble, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble, m.memoryBytesSpilled.toDouble))
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span(s"catalyst.$phase", -1L, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      executions.add(System.currentTimeMillis().toDouble)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = d.getOrElse("triggerExecution", 0.0)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      triggers.add(Trigger(p.runId.toString, p.batchId, start, trig,
        d.getOrElse("addBatch", 0.0), d.getOrElse("walCommit", 0.0),
        ops.map(_.commitTimeMs.toDouble).sum, ops.map(_.numRowsTotal.toDouble).sum))
      spans.add(Span("streaming.trigger", -1L, start, start + trig))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }
}

/** Span arithmetic. Layers nest: the operation root, then operator build
  * and action, then micro-batch triggers, then jobs, then catalyst phases.
  * A layer's self time is the time during which it is the innermost layer
  * with an open span: its spans' duration minus the part deeper spans cover.
  * Overlapping spans of one layer (concurrent jobs) count once. */
object SpanMath {
  def level(name: String): Int =
    if (name == "op") 0
    else if (name.startsWith("operators.")) 1
    else if (name == "streaming.trigger") 2
    else if (name == "exec.job") 3
    else 4

  def layer(name: String): String = if (name.startsWith("catalyst.")) "catalyst" else name

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer for the spans of one operation: each stretch
    * between span boundaries inside the operation's root span goes to the
    * deepest layer open during it. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = scala.collection.mutable.Map[String, Double]()
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val open = spans.filter(s => s.start <= mid && mid < s.end)
      if (open.exists(s => level(s.name) == 0)) {
        val l = layer(open.maxBy(s => level(s.name)).name)
        self(l) = self.getOrElse(l, 0.0) + (b - a)
      }
    }
    self.toMap
  }
}
