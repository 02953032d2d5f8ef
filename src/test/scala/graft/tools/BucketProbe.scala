package graft.tools

import graft.Tables._
import graft.functions.Dedup
import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scratch: print MinHash band-bucket size distribution + candidate
  * pair counts per corpus — diagnoses whether a q35 slowdown is bucket
  * blowup (fix: cap) or verification cost. Usage:
  * runMain graft.tools.BucketProbe [dirs...]
  */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/scaledata/sf0.5", "/root/repo/scaledata/sf1")
    val spark = GraftSession.builder("local[32]", Some(32))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (d <- dirs) {
      val docs = documents(spark, d)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32)
      val banded = sigs.select(col("doc"),
        posexplode(array((0 until 8).map { b =>
          xxhash64((lit(b) +: (0 until 4).map(r =>
            element_at(col("mh"), b * 4 + r + 1))): _*)
        }: _*)).as(Seq("band", "sig")))
      val sizes = banded.groupBy("band", "sig").agg(count(lit(1)).as("m"))
      val stats = sizes.agg(max(col("m")).as("max_m"),
        sum(col("m") * (col("m") - 1) / 2).as("cand_pairs"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("m") > 100, 1).otherwise(0)).as("buckets_gt100")).collect()(0)
      println(s"[buckets] $d max=${stats.get(0)} candPairs=${stats.get(1)} " +
        s"buckets=${stats.get(2)} gt100=${stats.get(3)}")
    }
    spark.stop()
  }
}
