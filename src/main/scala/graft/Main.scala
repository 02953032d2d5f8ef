package graft

import graft.operators.{Pipeline, ProgressListener}
import org.apache.spark.sql.SparkSession

/** CLI parity with the reference (O23, /root/reference/filefilter.py:381-409):
  * `graft.Main IN CONFIG OUT [-i] [-v] [-d]` — load IN, fold the YAML
  * stages, write OUT.
  *
  *  - `-i`/`--interactive`: live per-stage progress/ETA status line
  *    ([[ProgressListener]]) + per-stage row counts on completion.
  *  - `-v`/`--verbose`: INFO-level Spark logging (default WARN; the
  *    reference's DEBUG maps to Spark INFO — Spark DEBUG is firehose).
  *  - `-d`/`--delete`: delete a previous OUT path before running. The
  *    reference's flag wipes its persisted per-chunk state; graft keeps
  *    no such state (Spark recomputes lineage), so OUT is all there is
  *    to delete.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("-"))
    require(positional.length >= 3, "usage: graft.Main <input> <config.yml> <output> [-i] [-v] [-d]")
    val Array(in, confPath, out) = positional.take(3)
    val interactive = flags.exists(f => f == "-i" || f == "--interactive")
    val verbose = flags.exists(f => f == "-v" || f == "--verbose")
    val delete = flags.exists(f => f == "-d" || f == "--delete")
    val unknown = flags.filterNot(Set("-i", "--interactive", "-v", "--verbose", "-d", "--delete"))
    require(unknown.isEmpty, s"unknown flag(s): ${unknown.mkString(" ")}")

    // spark-submit injects spark.master; GraftSession defaults local[*].
    // Only stop the session if this invocation created it — Main is also
    // callable in-process (tests, notebooks) against a live session.
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel(if (verbose) "INFO" else "WARN")

    if (delete) {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        println(s"[graft] -d: deleting previous output $out")
        fs.delete(p, true)
      }
    }

    val listener = if (interactive) {
      val l = new ProgressListener(
        cores = spark.sparkContext.defaultParallelism)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    try {
      val res = Pipeline.run(spark, graft.model.ConfigLoader.fromFile(confPath), in,
        Some(out), countStages = interactive, configPath = Some(confPath))
      res.stages.foreach { r =>
        val rows = r.rows.fold("")(n => s" rows=$n")
        println(s"[graft] stage ${r.name} (${r.actionType}) done$rows")
      }
    } finally {
      listener.foreach(spark.sparkContext.removeSparkListener)
      if (!preExisting) spark.stop()
    }
  }
}
