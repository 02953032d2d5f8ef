package graft

import graft.functions.expressions.GraftFunctions
import org.apache.spark.sql.SparkSession

/** The one session builder: AQE, UTC, nanos-parquet handling, a large
  * codegen cache, and shuffle partitions sized to the cluster instead
  * of the 200 default. Callers add only the settings where they differ.
  * graft's SQL functions and planner strategies come from
  * [[GraftFunctions.register]], which [[getOrCreate]], the pipeline and
  * every operator that needs them call on the session.
  */
object GraftSession {

  def builder(master: String = sys.props.getOrElse("spark.master", "local[*]"),
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .appName("graft")
      .config("spark.master", master)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // janino's compiled-class cache defaults to 100 entries; a suite of
      // ~90 queries x several codegen units each thrashes it, recompiling
      // every generated class on every pass (r7: sequential Bench wall
      // 24.4 s -> 16.3 s from this one setting)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
  }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
