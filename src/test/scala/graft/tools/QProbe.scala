package graft.tools

import graft.{GraftSession, SparkEntry}

/** Scratch: median-of-N latency for a handful of gate queries at one
  * SF, uncontended — for before/after comparison of targeted operator
  * changes without paying a full Bench pass (and without its
  * concurrent-stream noise). Usage:
  *   runMain graft.tools.QProbe <sfDir> <reps> q41_ann_lsh q77_ann_ivf ...
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q40_cosine_topk", "q41_ann_lsh", "q77_ann_ivf",
        "q89_dedup_clusters", "q93_token_budget", "q94_sequence_pack")
    val spark = GraftSession.builder("local[32]", Some(8))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[qprobe] $n median=${ts(ts.size / 2)}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
