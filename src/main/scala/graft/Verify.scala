package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.expressions.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated substring filter for fast single-query
    // iteration (driver leaves it unset → full dump)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String) = only.forall(_.exists(name.contains))
    // Failure markers are PER-QUERY files under .failed/ (dot-prefixed:
    // the driver globs outDir subdirectories as query outputs, and a
    // visible marker dir showed up as a phantom "_failed" row with
    // err=no_oracle in CORRECTNESS_r08.json — VERDICT r8 #3), and
    // failed.json is rebuilt from the directory at the end of every
    // run. A fixed query's marker is cleared when (and only when) that
    // query actually re-runs — an unconditional delete would let a
    // SPARK_GRAFT_ONLY subset run (or a crash between delete and
    // rewrite) erase ANOTHER query's recorded failure while its stale
    // parquet still reads green (review r8 #2).
    val failedDir = Paths.get(s"$outDir/.failed")
    Files.createDirectories(failedDir)
    // one-time migration: MOVE any pre-r9 markers into the dot dir
    // (deleting them would erase another query's recorded failure while
    // its stale parquet still reads green — the exact hazard the policy
    // above forbids; review r9), then drop the legacy dir so it can't
    // resurface as a query-output lookalike
    val legacy = new java.io.File(s"$outDir/_failed")
    if (legacy.isDirectory) {
      Option(legacy.listFiles()).foreach(_.foreach { f =>
        Files.move(f.toPath, failedDir.resolve(f.getName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      })
      legacy.delete()
    }
    def marker(name: String) = failedDir.resolve(name)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Files.deleteIfExists(marker(name))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Files.writeString(marker(name),
          Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    val failed = {
      import scala.jdk.CollectionConverters._
      Files.list(failedDir).iterator().asScala.toSeq
        .sortBy(_.getFileName.toString)
        .map(p => p.getFileName.toString -> Files.readString(p))
    }
    writeJson(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.toSeq)
    // A thrown query must never become a silent omission from the
    // correctness report: record it as an explicit artifact AND exit
    // non-zero so the driver treats the round as failed, not green.
    // `failed` includes markers left by PREVIOUS runs whose queries this
    // run didn't re-execute — their stale parquet must not read green.
    if (failed.nonEmpty) {
      writeJson(Paths.get(s"$outDir/failed.json"), failed)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    Files.deleteIfExists(Paths.get(s"$outDir/failed.json"))
    spark.stop()
  }

  /** Write `entries` as one JSON object of strings, keys in the given
    * order (Jackson escapes every control char, so SQL with a tab or CR
    * still loads).
    */
  private[graft] def writeJson(path: java.nio.file.Path, entries: Seq[(String, String)]): Unit = {
    val obj = new java.util.LinkedHashMap[String, String]
    entries.foreach { case (k, v) => obj.put(k, v) }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(path.toFile, obj)
  }
}
