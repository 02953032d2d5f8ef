package graft.tools

import graft.Tables._
import graft.functions.{VectorFunctions => VF}
import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scratch: print the realized (deterministic) recall of the three
  * approximate vector operators at each SF, used to calibrate the
  * in-gate audit bounds of q37/q41/q77 (pairRecallAudit /
  * topKRecallAudit). Usage: runMain graft.tools.RecallProbe
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[16]", Some(8))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      val emb = embeddings(spark, d)
      val q = emb.filter(col("vec_id") < 10)

      val exactPairs = VF.exactNearDupPairs(emb, "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"))
      val lshPairs = VF.lshNearDupPairs(emb, "vec_id", "embedding", 0.45, 8, 16)
        .select(col("id_a"), col("id_b"))
      val nExact = exactPairs.count()
      val nLsh = lshPairs.count()
      val nHit = lshPairs.join(exactPairs, Seq("id_a", "id_b")).count()
      println(f"$sf q37 pairs: exact=$nExact lsh=$nLsh hit=$nHit recall=${
        if (nExact == 0) 1.0 else nHit.toDouble / nExact}%.3f")

      val exactTop = VF.bruteForceTopK(q, emb, 5).select(col("qid"), col("cid"))
      def topStats(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
        val a = approx.select(col("qid"), col("cid"))
        val n = a.count()
        val hit = a.join(exactTop, Seq("qid", "cid")).count()
        val perQ = a.join(exactTop.withColumn("m", lit(1)), Seq("qid", "cid"), "left")
          .groupBy("qid").agg(sum(coalesce(col("m"), lit(0))).as("h"))
          .agg(min(col("h"))).collect()(0).getLong(0)
        println(f"$sf $name: n=$n hit=$hit recall=${hit / 50.0}%.3f minPerQueryHits=$perQ")
      }
      // the shipped q41/q77 configurations (VectorQueries)
      topStats("q41 ann bits=4 tables=8 probes=4",
        VF.annTopK(q, emb, 5, bits = 4, tables = 8, probes = 4))
      topStats("q77 ivf nlist=16 nprobe=6 refine=1",
        VF.ivfTopK(q, emb, 5, nlist = 16, nprobe = 6, refine = 1))
      // the shipped q142 configuration
      val pqIdx = VF.buildPq(emb, m = 16, ksub = 64, iters = 1)
      topStats("q142 pq m=16 ksub=64 iters=1 rerank=128",
        VF.pqProbe(q, pqIdx, emb, k = 5, rerank = 128))
      // the shipped q145 configuration
      val sqIdx = VF.buildSq(emb)
      topStats("q145 sq8 rerank=64",
        VF.sqProbe(q, sqIdx, emb, k = 5, rerank = 64))
      for ((nl, np, m, ksub, rr) <- Seq((16, 6, 16, 64, 128),
                                        (16, 8, 16, 64, 128),
                                        (16, 6, 16, 64, 256))) {
        val idx = VF.buildIvfPq(emb, nlist = nl, refine = 1, m = m,
          ksub = ksub, iters = 1)
        topStats(s"ivfpq nlist=$nl nprobe=$np m=$m ksub=$ksub rerank=$rr",
          VF.ivfPqProbe(q, idx, emb, k = 5, nprobe = np, rerank = rr))
      }
      // the shipped q146 residual configuration
      val residIdx = VF.buildIvfPq(emb, nlist = 16, refine = 1, m = 16,
        ksub = 64, iters = 1, residual = true)
      topStats("q146 ivfpq RESIDUAL nlist=16 nprobe=8 rerank=128",
        VF.ivfPqProbe(q, residIdx, emb, k = 5, nprobe = 8, rerank = 128))
    }
    spark.stop()
  }
}
