package graft.tools

import graft.functions.Mix
import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe for the mix operators under STRATUM SKEW (VERDICT r5 #1):
  * a synthetic corpus with one language holding 85% of the rows — the
  * regime where a per-stratum window cumsum serializes — timed at
  * 1x/5x/10x row counts. Reports median-of-3 latencies and the scaling
  * exponent slope = ln(t_big/t_small)/ln(n_big/n_small) for
  * `tokenBudget` (two-level (stratum, hash-prefix) cumsum) and
  * `packSequences` at the default and widened shard counts. The input
  * is eagerly localCheckpoint'ed so generation cost never pollutes the
  * operator timing. Usage: runMain graft.tools.MixSkewProbe [baseN]
  */
object MixSkewProbe {
  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = GraftSession.builder("local[32]", Some(32))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(n: Long): DataFrame =
      spark.range(0, n, 1, 32).select(
        col("id").as("doc_id"),
        // 85% en, remainder spread over 3 strata — one dominant stratum
        when(pmod(col("id"), lit(100)) < 85, "en")
          .when(pmod(col("id"), lit(100)) < 90, "fr")
          .when(pmod(col("id"), lit(100)) < 95, "de").otherwise("zh").as("lang"),
        (pmod(xxhash64(col("id")), lit(191)) + 10).cast("long").as("n_tokens"))
        .localCheckpoint(true)

    def median3(f: => Long): Double = {
      f // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }

    val sizes = Seq(baseN, baseN * 5, baseN * 10)
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    for (n <- sizes) {
      val df = corpus(n)
      val enTokens = df.filter(col("lang") === "en")
        .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      // budgets BIND (60% of the dominant stratum, half of one minor one)
      val budgets = Map("en" -> (enTokens * 6 / 10), "fr" -> (enTokens / 20))
      for (fanout <- Seq(16, 256)) {
        val k = s"tokenBudget fanout=$fanout"
        val t = median3(Mix.tokenBudget(df, col("lang"), col("doc_id"),
          col("n_tokens"), budgets, fanout).count())
        results(k) = results.getOrElse(k, Seq()) :+ t
        println(f"[skew] n=$n $k: $t%.3f s")
      }
      for (shards <- Seq(16, 256)) {
        val k = s"packSequences shards=$shards"
        val t = median3(Mix.packSequences(df, col("doc_id"), col("n_tokens"),
          seqLen = 512L, shards = shards)
          .agg(max(col("pack_id"))).collect()(0).getLong(0))
        results(k) = results.getOrElse(k, Seq()) :+ t
        println(f"[skew] n=$n $k: $t%.3f s")
      }
      // r10: exact ntile buckets (one rank window per stratum — the 85%
      // stratum serializes through ONE task) vs the windowless
      // broadcast-cut-point twin — the skew-immunity claim, measured
      for ((k, f) <- Seq(
        "qualityBuckets (ntile window)" -> (() =>
          Mix.qualityBuckets(df, col("lang"), col("n_tokens"), col("doc_id"))
            .agg(max(col("bucket"))).collect()(0).getInt(0).toLong),
        "qualityBucketsApprox (cut points)" -> (() =>
          Mix.qualityBucketsApprox(df, col("lang"), col("n_tokens"))
            .agg(max(col("bucket"))).collect()(0).getInt(0).toLong))) {
        val t = median3(f())
        results(k) = results.getOrElse(k, Seq()) :+ t
        println(f"[skew] n=$n $k: $t%.3f s")
      }
      df.unpersist()
    }
    for ((name, ts) <- results if ts.size == sizes.size) {
      val s5 = math.log(ts(1) / ts.head) / math.log(5.0)
      val s10 = math.log(ts(2) / ts.head) / math.log(10.0)
      println(f"[skew] SLOPE $name: t1=${ts.head}%.3f t5=${ts(1)}%.3f t10=${ts(2)}%.3f slope5=$s5%.2f slope10=$s10%.2f")
    }
    spark.stop()
  }
}
