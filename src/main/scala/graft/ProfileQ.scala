package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiler: runs selected queries N times each and prints per-run
  * timings, to separate one-time cost (analysis + codegen compile) from the
  * steady-state data path. Not part of the shipped API.
  *
  * Usage: runMain graft.ProfileQ [q01_scan_prune,q02_...] [repeats]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_PROF_CONF="k=v;k=v"
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names =
      if (args.nonEmpty && args(0).nonEmpty) args(0).split(",").toSeq
      else Seq("q01_scan_prune", "q02_agg_pricing", "q03_join_revenue_nation", "q13_set_ops")
    val repeats = if (args.length > 1) args(1).toInt else 3
    var b = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
    val confArg = if (args.length > 2) Some(args(2)) else sys.env.get("GRAFT_PROF_CONF")
    confArg.foreach { conf =>
      conf.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        println(s"PROFCONF $k=$v")
        b = b.config(k, v)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.expressions.GraftFunctions.register(spark)
    val cacheTables = sys.env.get("GRAFT_PROF_CACHE").exists(_ == "1")
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach { t =>
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        (if (cacheTables) df.cache() else df).count()
      }
    val micro: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "m_range" -> ((s, _) => s.range(1000).toDF()),
      "m_scan_lineitem" -> ((s, d) => s.read.parquet(s"$d/lineitem.parquet")),
      "m_scan_filter" -> ((s, d) => s.read.parquet(s"$d/lineitem.parquet")
        .filter(org.apache.spark.sql.functions.col("l_quantity") > 25)),
      "m_scan_groupby" -> ((s, d) => s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag").count()),
      "m_scan_orders" -> ((s, d) => s.read.parquet(s"$d/orders.parquet")),
      // q34 stage breakdown
      "m_j_shingles" -> ((s, d) => graft.functions.Dedup.shingleSet(
        graft.Tables.documents(s, d), "doc_id", "text", 3)),
      "m_j_index" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        graft.functions.Dedup.shingleSet(graft.Tables.documents(s, d), "doc_id", "text", 3)
          .groupBy(col("sh"))
          .agg(sort_array(collect_list(struct(col("doc"), col("n")))).as("ds"))
          .where(size(col("ds")) > 1)
      }),
      "m_j_pairs" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        val idx = graft.functions.Dedup.shingleSet(graft.Tables.documents(s, d), "doc_id", "text", 3)
          .groupBy(col("sh"))
          .agg(sort_array(collect_list(struct(col("doc"), col("n")))).as("ds"))
          .where(size(col("ds")) > 1)
        idx.select(col("ds"), posexplode(col("ds")).as(Seq("p", "a")))
          .select(col("a"), explode(
            slice(col("ds"), col("p") + lit(2), size(col("ds")) - col("p") - lit(1))).as("b"))
      })
    )
    val warmDir = sys.env.get("GRAFT_PROF_WARMDIR")
    for (name <- names) {
      val fn = micro.getOrElse(name, SparkEntry.queries(name))
      warmDir.foreach { wd => fn(spark, wd).count() }
      val times = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan // force analysis+optimize+plan
        val t1 = System.nanoTime()
        df.count()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
      println(f"PROF $name%-28s ${times.map(t => f"${t._1}%.3f+${t._2}%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
