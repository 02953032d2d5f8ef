package perfbench

import java.util.IdentityHashMap
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans and Spark's listener timestamps share one time axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `op` is the operation id ("<pass>/<op name>") that
  * every span of one operation shares; `parent` 0 marks a root span.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

final case class TaskRec(op: String, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, resultBytes: Long,
                         inputBytes: Long, outputBytes: Long, failed: Boolean)

final case class JobRec(jobId: Int, op: String, start: Long, var end: Long,
                        stages: Int)

/** Spans recorded around the harness's calls into the engine, plus Spark's
  * own events from a SparkListener and a QueryExecutionListener. All of
  * it stays in memory until the run ends. One client thread drives the
  * engine, so a plain stack gives each span its parent.
  */
final class Tracer(spark: SparkSession) {
  val OpProperty = "perfbench.op"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var currentOp = ""

  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOp = mutable.HashMap.empty[Int, String]
  /** Catalyst phases per QueryExecution, deduplicated by identity:
    * (op or "" when only the time tells, phase, start ms, duration ms).
    */
  private val seenQe = new IdentityHashMap[QueryExecution, java.lang.Boolean]()
  val phases = mutable.ArrayBuffer.empty[(String, String, Double, Double)]
  /** Guards everything the listener threads and the client thread share. */
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
      e.stageIds.foreach(s => stageOp(s) = op)
      jobs(e.jobId) = JobRec(e.jobId, op, e.time, e.time, e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      val op = stageOp.getOrElse(e.stageId, "")
      if (m == null) tasks += TaskRec(op, info.launchTime, info.finishTime,
        0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
      else tasks += TaskRec(op, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        failed = e.reason != Success)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      noteQe(qe, "")
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      noteQe(qe, "")
  }

  /** Listen only while a traced pass runs. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Record a plan's analysis/optimization/planning phases once. */
  def noteQe(qe: QueryExecution, op: String): Unit = lock.synchronized {
    if (seenQe.put(qe, java.lang.Boolean.TRUE) == null)
      qe.tracker.phases.foreach { case (phase, s) =>
        phases += ((op, phase, s.startTimeMs.toDouble, s.durationMs.toDouble))
      }
  }

  /** The operation whose "op" span holds time `t`, else "". */
  def opAt(t: Double): String = lock.synchronized {
    spans.find(s => s.name == "op" && s.start - 1 <= t && t <= s.end + 1).map(_.op)
      .getOrElse("")
  }

  def beginOp(op: String): Unit = {
    currentOp = op
    spark.sparkContext.setLocalProperty(OpProperty, op)
  }

  def endOp(): Unit = spark.sparkContext.setLocalProperty(OpProperty, null)

  def span[T](name: String)(f: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val start = Clock.now()
    try f
    finally {
      stack.pop()
      val s = Span(id, parent, currentOp, name, start, Clock.now())
      lock.synchronized(spans += s)
    }
  }

  /** Jobs as child spans of the innermost harness span that holds their
    * start, for the trace file and for self times.
    */
  def jobSpans(): Seq[Span] = lock.synchronized {
    var id = nextId
    jobs.values.toSeq.map { j =>
      val holders = spans.filter(s => s.op == j.op && s.start <= j.start + 1 && j.start <= s.end + 1)
      val parent = if (holders.isEmpty) 0 else holders.minBy(_.ms).id
      id += 1
      Span(id, parent, j.op, "exec.job", j.start.toDouble, j.end.toDouble)
    }
  }

  /** Self time per span name: duration minus the part its children cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.ms - Tracer.covered(children.getOrElse(s.id, Nil)
        .map(c => (c.start max s.start, c.end min s.end)), s.ms)).sum
    }
  }
}

object Tracer {
  /** Length of the union of intervals, capped at `cap`. */
  def covered(iv: Seq[(Double, Double)], cap: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total min cap
  }
}
