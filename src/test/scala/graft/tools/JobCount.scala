package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.GraftSession

/** Scratch: jobs/stages per gate query — the fixed per-job driver floor
  * (~50-100 ms on this box) times the job count is most of a small-SF
  * query's latency, so the count IS the optimization target for the
  * audit-heavy vector queries. Usage:
  *   runMain graft.tools.JobCount <sfDir> q41_ann_lsh q77_ann_ivf ...
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q41_ann_lsh", "q77_ann_ivf", "q104_ivf_persisted",
        "q109_cluster_assign", "q111_semdedup", "q116_semdedup_learned")
    val spark = GraftSession.builder("local[32]", Some(8))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    })
    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm
      Thread.sleep(300)
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"[jobs] $n: ${jobs.get()} jobs, ${stages.get()} stages, $dt%.3f s")
    }
    spark.stop()
  }
}
