package graft.tools

import graft.GraftSession

/** Driver-contract smoke: SparkEntry.entry must return rows > 0 on
  * sf0.001 (the driver runs exactly this check each round).
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", Some(4))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
