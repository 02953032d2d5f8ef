package graft.tools
import graft.GraftSession

/** Scratch: seventh dialect probe sweep — run every DuckDB-validated
  * scalar call (gen_duck_probes.py → /tmp/duck_probe7.tsv) through
  * SqlStage and report the ones that throw (candidates for closure or
  * guided errors). The r15 generator adds TIME/BLOB/INTERVAL/UUID/JSON
  * typed sample args the earlier sweeps lacked.
  */
object Sweep7 {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", Some(4))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(1).toDF("z")
    val in = args.headOption.getOrElse("/tmp/duck_probe7.tsv")
    if (!new java.io.File(in).isFile) {
      println(s"[sweep7] $in missing — run: python3 gen_duck_probes.py $in")
      spark.stop()
      return
    }
    val entries = scala.io.Source.fromFile(in).getLines()
      .map(_.split("\t")).collect { case a if a.length >= 2 => (a(0), a(1)) }
      .toSeq
    // r16 terminal-state classification: a miss is GUIDED when graft
    // raises DuckDialectException (the COVERAGE.md exclusion table) and
    // RAW when a bare Catalyst error escapes — the closed catalog state
    // is "raw=0, guided == the exclusion table".
    var okN, guidedN, rawN = 0
    entries.foreach { case (fn, sql) =>
      try {
        graft.operators.SqlStage("s", sql).apply(spark, df).collect()
        okN += 1
      } catch {
        case e: Throwable =>
          val guided = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
            .exists(_.isInstanceOf[graft.functions.expressions.DuckDialectException])
          if (guided) guidedN += 1 else rawN += 1
          val tag = if (guided) "guided" else "RAW"
          println(s"[miss:$tag] $fn :: $sql :: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(110)}")
      }
    }
    println(s"[sweep7] ok=$okN guided=$guidedN raw=$rawN of ${entries.size}")
    spark.stop()
  }
}
