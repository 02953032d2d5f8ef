package graft.tools

import graft.GraftSession

/** Scratch: per-stage wall/CPU breakdown of one gate query — find
  * whether a slow query is compute-bound or stage-floor-bound before
  * optimizing it. Usage:
  *   runMain graft.tools.StageProbe <sfDir> <queryName>
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q37_embed_neardup_lsh")
    val spark = GraftSession.builder("local[32]", Some(8))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.sql.files.minPartitionNum",
        sys.env.getOrElse("GRAFT_PROBE_SCAN_PARTITIONS", "1"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    val fn = graft.SparkEntry.queries(name)
    (1 to 3).foreach(_ => fn(spark, sfDir).count()) // warm
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for {s <- si.submissionTime; c <- si.completionTime} yield c - s
        val m = si.taskMetrics
        stages.add(f"stage${si.stageId}%-4d tasks=${si.numTasks} " +
          f"wall=${dur.getOrElse(-1L)}%4dms run=${m.executorRunTime}%4dms " +
          f"cpu=${m.executorCpuTime / 1000000}%4dms " +
          si.rddInfos.map(r => s"${r.id}:${r.name}").mkString(" "))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(600)
    spark.sparkContext.removeSparkListener(listener)
    println(f"[stageprobe] $name wall=$wall%.3f jobs=${jobs.get()}")
    stages.forEach(s => println("[stageprobe] " + s))
    if (sys.env.contains("GRAFT_PROBE_PLAN")) {
      val df = fn(spark, sfDir)
      df.collect()
      println("[stageprobe] === final plan (executed) ===")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
