package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.IdentityHashMap
import graft.{GraftSession, SparkEntry}
import graft.functions.expressions.GraftFunctions
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Where a gate's time goes, layer by layer.
  *
  * Each selected gate runs once untimed, then `reps` timed runs
  * that write its DataFrame to the `noop` sink, so every output column
  * is computed (a `count()` lets Catalyst prune the outputs it does not
  * need, aggregates and all). One table row reports the
  * median-wall run: DataFrame construction, Catalyst analysis,
  * optimization and planning, jobs / completed stages / tasks, task
  * CPU, run and GC time, the scheduling split (job submit → first task
  * launch, summed job span, and the driver gap: wall minus job span),
  * shuffle read/write bytes and spill bytes. With `--out=DIR` it also
  * writes `<gate>.plan.txt` (the formatted plan of the gate's
  * DataFrame) and `<gate>.jobs.txt` (one line per job and per stage of
  * the median run).
  *
  * Usage:
  * {{{
  * runMain graft.tools.Profile <sfDir> [--reps=N] [--out=DIR]
  *   [spark.key=value ...] <gate substring> ...
  * }}}
  * The session is Verify's: `local[SPARK_GRAFT_CPUS]` (default: all
  * cores) with as many shuffle partitions; `spark.*=value` arguments
  * override any setting. Every gate whose name contains one of the
  * substrings runs, in name order.
  */
object Profile {
  val Phases = Seq("analysis", "optimization", "planning")
  val Header: Seq[String] = Seq("gate", "wall_ms", "construct_ms") ++ Phases.map(_ + "_ms") ++
    Seq("jobs", "stages", "tasks", "cpu_ms", "run_ms", "gc_ms", "first_task_ms",
      "job_span_ms", "driver_gap_ms", "shuffle_read_b", "shuffle_write_b", "spill_b")

  final case class Row(gate: String, wallMs: Double, constructMs: Double,
                       phasesMs: Map[String, Long], jobs: Int, stages: Int, tasks: Int,
                       cpuMs: Long, runMs: Long, gcMs: Long, firstTaskMs: Long,
                       jobSpanMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
                       spillB: Long, lines: Seq[String]) {
    def driverGapMs: Double = wallMs - jobSpanMs
    def cells: Seq[String] =
      Seq(gate, f"$wallMs%.1f", f"$constructMs%.1f") ++
        Phases.map(p => phasesMs.get(p).fold("-")(_.toString)) ++
        Seq(jobs, stages, tasks, cpuMs, runMs, gcMs, firstTaskMs, jobSpanMs).map(_.toString) ++
        Seq(f"$driverGapMs%.1f") ++ Seq(shuffleReadB, shuffleWriteB, spillB).map(_.toString)
  }

  def tableLine(cells: Seq[String]): String = cells.mkString("| ", " | ", " |")

  /** Everything the listener bus reports between two `reset`s. The bus
    * delivers from one thread; `synchronized` publishes its writes to
    * the caller, which reads only after draining the bus.
    */
  private final class Meter extends SparkListener with QueryExecutionListener {
    private var jobs, stages, tasks = 0
    private var cpuNs, runMs, gcMs, firstTaskMs, jobSpanMs, shRead, shWrite, spill = 0L
    private val phases = mutable.Map.empty[String, Long]
    private val seen = new IdentityHashMap[QueryExecution, java.lang.Boolean]()
    private val started = mutable.HashMap.empty[Int, (Long, String)]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val firstTask = mutable.HashMap.empty[Int, Long]
    private val jobLines = mutable.ArrayBuffer.empty[(Int, String)]
    private val stageLines = mutable.ArrayBuffer.empty[(Int, String)]

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0
      cpuNs = 0; runMs = 0; gcMs = 0; firstTaskMs = 0; jobSpanMs = 0; shRead = 0; shWrite = 0; spill = 0
      Seq(phases, started, stageJob, firstTask, jobLines, stageLines).foreach(_.clear())
      seen.clear()
    }

    def row(gate: String, wallMs: Double, constructMs: Double): Row = synchronized {
      Row(gate, wallMs, constructMs, phases.toMap, jobs, stages, tasks, cpuNs / 1000000,
        runMs, gcMs, firstTaskMs, jobSpanMs, shRead, shWrite, spill,
        jobLines.sortBy(_._1).map(_._2).toSeq ++ stageLines.sortBy(_._1).map(_._2))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .getOrElse("-").replaceAll("\\s+", " ")
      // the result stage is created last, so it has the highest id and the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("-")(_.name)
      jobs += 1
      e.stageIds.foreach(stageJob(_) = e.jobId)
      started(e.jobId) = (e.time, s"job ${e.jobId} exec=${prop("spark.sql.execution.id")} " +
        s"root=${prop("spark.sql.execution.root.id")} site=$site " +
        s"desc=${prop("spark.job.description").take(100)}")
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      stageJob.get(e.stageId).foreach(j => firstTask.getOrElseUpdate(j, e.taskInfo.launchTime))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
        shRead += m.shuffleReadMetrics.totalBytesRead
        shWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      val (run, cpu) = Option(si.taskMetrics).fold((0L, 0L))(m => (m.executorRunTime, m.executorCpuTime / 1000000))
      stages += 1
      stageLines += si.stageId -> (s"stage ${si.stageId} job=${stageJob.getOrElse(si.stageId, -1)} " +
        s"tasks=${si.numTasks} wall=${wall}ms run=${run}ms cpu=${cpu}ms " +
        s"rdds=${si.rddInfos.map(r => s"${r.id}:${r.name}").mkString(",")}")
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, line) =>
        jobSpanMs += e.time - t0
        firstTaskMs += firstTask.get(e.jobId).fold(0L)(t => math.max(0L, t - t0))
        jobLines += e.jobId -> s"$line wall=${e.time - t0}ms"
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)

    private def note(qe: QueryExecution): Unit = synchronized {
      if (seen.put(qe, java.lang.Boolean.TRUE) == null)
        qe.tracker.phases.foreach { case (p, s) => phases(p) = phases.getOrElse(p, 0L) + s.durationMs }
    }
  }

  /** Profiles gates on `spark` with one listener of each kind, attached
    * until `close`.
    */
  final class Profiler(spark: SparkSession) extends AutoCloseable {
    private val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)

    private def drain(): Unit = GraftColumnBridge.drainListenerBus(spark.sparkContext)

    private def gate(name: String, sfDir: String, reps: Int, warmups: Int,
                     out: Option[Path]): Row = {
      val fn = SparkEntry.queries(name)
      def action(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      (1 to warmups).foreach(_ => action(fn(spark, sfDir)))
      var df: DataFrame = null
      val runs = (1 to reps).map { _ =>
        drain()
        meter.reset()
        val t0 = System.nanoTime()
        df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        action(df)
        val t2 = System.nanoTime()
        drain()
        meter.row(name, (t2 - t0) / 1e6, (t1 - t0) / 1e6)
      }
      val row = runs.sortBy(_.wallMs).apply(runs.size / 2)
      out.foreach { dir =>
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"$name.plan.txt"),
          df.queryExecution.explainString(FormattedMode))
        Files.write(dir.resolve(s"$name.jobs.txt"), row.lines.asJava)
      }
      row
    }

    /** Profiles every gate whose name contains one of `substrings`, in
      * name order, printing each row as its gate completes.
      */
    def run(sfDir: String, substrings: Seq[String], reps: Int = 5, warmups: Int = 1,
            out: Option[Path] = None): Seq[Row] = {
      val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => substrings.exists(n.contains))
      require(names.nonEmpty, s"no gate name contains any of: ${substrings.mkString(" ")}")
      names.map { n =>
        val row = gate(n, sfDir, reps, warmups, out)
        println(tableLine(row.cells))
        row
      }
    }

    override def close(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(meter)
      spark.listenerManager.unregister(meter)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (opts, rest) = args.tail.toSeq.partition(_.startsWith("--"))
    val (confs, gates) = rest.partition(a => a.startsWith("spark.") && a.contains("="))
    def opt(k: String) = opts.collectFirst { case o if o.startsWith(s"--$k=") => o.drop(k.length + 3) }
    require(opts.forall(o => o.startsWith("--reps=") || o.startsWith("--out=")),
      s"unknown option in: ${opts.mkString(" ")} (expected --reps=N, --out=DIR)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    val reps = opt("reps").fold(5)(_.toInt)
    println(s"[profile] ${spark.conf.get("spark.master")} $sfDir reps=$reps ${confs.mkString(" ")}")
    println(tableLine(Header))
    println(tableLine(Header.map(_ => "---")))
    val profiler = new Profiler(spark)
    try profiler.run(sfDir, gates, reps, out = opt("out").map(Paths.get(_)))
    finally profiler.close()
    spark.stop()
  }
}
