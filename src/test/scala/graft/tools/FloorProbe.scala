package graft.tools

import org.apache.spark.scheduler._
import graft.{GraftSession, SparkEntry}

/** Decompose the sequential per-query floor (VERDICT r6 #3: ~0.2 s ×
  * 87 queries ≈ 17 s of the 26.9 s sequential wall is NOT data path).
  * Runs a handful of cheap queries with a listener that attributes wall
  * time to: driver-only gaps (planning/analysis/AQE re-optimization —
  * time between jobs), job scheduling latency (submit → first task
  * launch), and task execution. Prints per-query job/stage/task counts
  * so "which constant dominates" is a number, not a guess.
  *
  * Usage: runMain graft.tools.FloorProbe [sfDir] [reps] [q...]
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q14_string_funcs", "q21_math_case", "q01_scan_prune",
        "q02_agg_pricing", "q93_token_budget", "q89_dedup_clusters")
    val seqp = sys.env.getOrElse("GRAFT_SEQP", "8")
    var b2 = GraftSession.builder("local[32]", Some(seqp.toInt))
      .config("spark.sql.files.minPartitionNum", seqp)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.sql.maxPlanStringLength",
        sys.env.getOrElse("GRAFT_PLANSTR", "2147483632"))
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
      .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "1048576")
      .config("spark.ui.enabled", "false")
    sys.env.get("GRAFT_BENCH_CONF").foreach { conf =>
      conf.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b2 = b2.config(k, v)
      }
    }
    val spark = b2.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var submitToFirstLaunchMs = 0L
    @volatile var jobSpanMs = 0L
    val jobSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobFirstTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += 1
        jobSubmit.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages += 1
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks += 1
        val j = stageToJob.getOrDefault(e.stageId, -1)
        if (j >= 0) jobFirstTask.putIfAbsent(j, System.currentTimeMillis())
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null) taskTimeMs += e.taskInfo.duration
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val sub = jobSubmit.getOrDefault(e.jobId, e.time)
        jobSpanMs += e.time - sub
        val ft = jobFirstTask.getOrDefault(e.jobId, e.time)
        submitToFirstLaunchMs += math.max(0, ft - sub)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (q <- names) {
      // warm: plan cache + codegen + page cache
      (1 to 2).foreach(_ => SparkEntry.queries(q)(spark, sfDir).count())
      val samples = (1 to reps).map { _ =>
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0; submitToFirstLaunchMs = 0; jobSpanMs = 0
        jobSubmit.clear(); jobFirstTask.clear(); stageToJob.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        Thread.sleep(60) // let listener events drain
        val wallMs = (System.nanoTime() - t0) / 1e6
        (wallMs, jobs, stages, tasks, taskTimeMs, submitToFirstLaunchMs, jobSpanMs)
      }.sortBy(_._1)
      // phase decomposition of one fresh run: construction vs catalyst
      val c0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      val constructMs = (System.nanoTime() - c0) / 1e6
      val p0 = System.nanoTime()
      df.queryExecution.executedPlan // forces analysis+optimization+planning
      val planMs = (System.nanoTime() - p0) / 1e6
      val e0 = System.nanoTime()
      df.count()
      val execMs = (System.nanoTime() - e0) / 1e6
      // same result via the already-planned QueryExecution: one catalyst
      // pass, no extra count-agg stage pair, full column materialization
      val df2 = SparkEntry.queries(q)(spark, sfDir)
      df2.queryExecution.executedPlan
      val r0 = System.nanoTime()
      df2.queryExecution.toRdd.count()
      val rddMs = (System.nanoTime() - r0) / 1e6
      println(f"[phase] $q%-22s construct=$constructMs%6.1fms catalyst=$planMs%6.1fms " +
        f"execute(count)=$execMs%7.1fms execute(toRdd)=$rddMs%7.1fms")
      val m = samples(samples.size / 2)
      val wall = m._1 - 60.0 // minus the drain sleep
      println(f"[floor] $q%-22s wall=$wall%7.1fms jobs=${m._2}%2d stages=${m._3}%2d tasks=${m._4}%3d " +
        f"taskSum=${m._5}%5dms submit->firstTask=${m._6}%4dms jobSpan=${m._7}%5dms driverGaps=${wall - m._7}%6.1fms")
    }
    spark.stop()
  }
}
