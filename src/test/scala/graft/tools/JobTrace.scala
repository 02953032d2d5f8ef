package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.GraftSession

/** Scratch: per-job callsite trace for a gate query. */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q154_upsert_statements"
    val spark = GraftSession.builder("local[32]", Some(8))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("JT_AQE", "true"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
        val cs = j.stageInfos.headOption.map(si => si.name + " :: " + si.rddInfos.map(_.name).mkString(",")).getOrElse("")
        log.add(s"job ${j.jobId}: $cs | ${d.take(100)}")
      }
    })
    fn(spark, sfDir).count()
    Thread.sleep(500)
    log.forEach(s => println(s"[trace] $s"))
    spark.stop()
  }
}
