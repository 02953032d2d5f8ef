package graft.tools

import graft.GraftSession

/** Scratch: write every declared query's `.explain("formatted")` to
  * <outDir>/<query>_<tag>.txt — the r18 optimization round's plan
  * evidence (plans/r18/<q>_before.txt / _after.txt). Queries whose
  * construction is eager (index builds, statement batches) run their
  * build jobs during construction; the dump is the plan of the
  * RETURNED DataFrame, which is what the bench times.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r18")
    val tag = args.lift(2).getOrElse("before")
    val only = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.builder("local[32]", Some(8))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.contains)))
    var ok = 0
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${n}_$tag.txt")
        w.println(plan); w.close()
        ok += 1
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] FAILED $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"[plandump] wrote $ok/${names.size} plans to $outDir (tag=$tag)")
    spark.stop()
  }
}
