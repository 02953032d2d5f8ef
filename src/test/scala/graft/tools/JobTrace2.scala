package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.GraftSession

/** Scratch: group a gate query's jobs by SQL execution id, with wall
  * per job — attributes the ~30-60 ms/job driver floor to the actions
  * (collects / checkpoints / final count) that spawn them.
  * Usage: runMain graft.tools.JobTrace2 <sfDir> <query>
  */
object JobTrace2 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q143_ivfpq_topk"
    val spark = GraftSession.builder("local[32]", Some(8))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm
    Thread.sleep(300)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val eid = Option(j.properties.getProperty("spark.sql.execution.id")).getOrElse("-")
        val root = Option(j.properties.getProperty("spark.sql.execution.root.id")).getOrElse("-")
        starts.put(j.jobId, (System.nanoTime(), eid, root))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.get(e.jobId)).foreach { case (t0, eid, root) =>
          val ms = (System.nanoTime() - t0) / 1e6
          lines.add(f"job ${e.jobId}%3d exec=$eid%-4s root=$root%-4s ${ms}%7.1f ms")
        }
      }
    })
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    lines.forEach(s => println(s"[jt2] $s"))
    println(f"[jt2] TOTAL $name $total%.3f s")
    spark.stop()
  }
}
