package graft.tools

import graft.Tables._
import graft.functions.{Dedup, VectorFunctions => VF}
import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-slope measurement (VERDICT r4 #7): time the scale-path
  * operators at sf0.1 (driver testdata) and at locally generated 5×/10×
  * corpora (`tools/gen_scaledata.py` → `scaledata/sf0.5`, `scaledata/
  * sf1`), and print per-operator scaling exponents
  * slope = ln(t_big/t_small) / ln(n_big/n_small) — turning the "this
  * plan survives 100×" argument from plan-shape reasoning into a
  * measured number. Results land in SCALE.md.
  *
  * Operators are timed WITHOUT their in-gate exact audits (the audits
  * are deliberately quadratic verification oracles; the slope claim is
  * about the scale path). ANN index parameters follow their documented
  * scaling rules (bits ≈ log₂n, nlist ≈ √N) — a fixed-parameter sketch
  * measured at 10× the corpus it was sized for would mis-measure the
  * design, not the implementation.
  *
  * Usage: runMain graft.tools.ScaleProbe [dir1 dir2 ...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/scaledata/sf0.5", "/root/repo/scaledata/sf1")
    val spark = GraftSession.builder("local[32]", Some(32))
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "48g"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)

    def time(f: => Long): (Double, Long) = {
      f // warm: plan + code cache + page cache
      // median of 3 timed runs: the box exhibits multi-second stalls
      // (CPU steal / GC walls) that land on whichever query is running —
      // a single-sample slope is hostage to one stall
      var rows = 0L
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        rows = f
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (runs(1), rows)
    }

    // (name, dir => row count of the materialized result)
    def probes(d: String): Seq[(String, () => Long)] = {
      val docs = documents(spark, d)
      val emb = embeddings(spark, d)
      val nEmb = emb.count()
      val nDocs = docs.count()
      // the documented sizing rules are the library defaults since r7
      // (VectorFunctions.Auto) — the probe exercises the same code path
      // a caller gets by omitting the parameters
      val bits = VF.autoLshBits(nEmb)
      val nlist = VF.autoNlist(nEmb)
      // a persisted probe's artifact, keyed on its input table's snapshot
      def probePath(kind: String, table: String, params: String, marker: String)(
          build: String => Unit): String =
        graft.Memo.persisted(s"scale_$kind",
          s"${graft.Memo.versioned(s"$d/$table.parquet")}|$params", marker)(build)
      Seq(
        "q30_dedup_exact" -> (() =>
          graft.queries.TextQueries.q30DedupExact(spark, d).count()),
        "q35_minhash_lsh" -> (() =>
          Dedup.minhashNearDups(docs, "doc_id", "text", 3, 32, 8, 0.6).count()),
        "q37_lsh_neardup" -> (() =>
          VF.lshNearDupPairs(emb, "vec_id", "embedding", 0.45,
            bits = bits, tables = 16).count()),
        "q77_ivf_topk" -> (() =>
          VF.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
            nlist = nlist, nprobe = VF.autoNprobe(nlist), refine = 1).count()),
        "q41_ann_multiprobe" -> (() =>
          VF.annTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
            bits = 4, tables = 8, probes = 4).count()),
        "q79_tfidf" -> (() =>
          graft.queries.TextQueries.q79Tfidf(spark, d).count()),
        "q80_approx_quantiles" -> (() =>
          graft.queries.ExtraQueries.q80ApproxQuantiles(spark, d).count()),
        "q86_contamination" -> (() =>
          graft.queries.TextQueries.q86Contamination(spark, d).count()),
        "q88_repetition" -> (() =>
          graft.queries.TextQueries.q88RepetitionFilter(spark, d).count()),
        "q89_dedup_clusters" -> (() =>
          graft.queries.TextQueries.q89DedupClusters(spark, d).count()),
        "q91_cross_dedup" -> (() =>
          graft.queries.TextQueries.q91CrossDedup(spark, d).count()),
        // sum(length) forces the reassembly: under a bare count() Catalyst
        // ELIMINATES the left join entirely (the rebuilt side is provably
        // unique on doc), which is nice for consumers but measures nothing
        "q92_span_dedup" -> (() =>
          graft.queries.TextQueries.q92SpanDedup(spark, d)
            .agg(sum(length(col("clean_text")))).collect()(0).getLong(0)),
        "q93_token_budget" -> (() =>
          graft.queries.TextQueries.q93TokenBudget(spark, d).count()),
        "q94_sequence_pack" -> (() =>
          // max forces the window evaluation (count alone could prune)
          graft.queries.TextQueries.q94SequencePack(spark, d)
            .agg(max(col("pack_id"))).collect()(0).getLong(0)),
        "q95_temperature" -> (() =>
          graft.queries.TextQueries.q95Temperature(spark, d).count()),
        // scale-default fpp (the gate runs 0.2 to force the FP path);
        // expectedItems sized to the benchmark like a real run would
        "q100_bloom_decontam" -> (() => {
          val bench = docs.filter(col("doc_id") < 50 || col("doc_id") % 17 === 0)
          Dedup.decontaminateExactBloom(
            docs.filter(col("doc_id") >= 50), bench, "text",
            expectedItems = math.max(1L << 14, nDocs / 17 + 50), fpp = 0.01).count()
        }),
        // hashKeys=true IS the 100 TB shape (8-byte count/anti-join keys)
        "q102_line_dedup" -> (() =>
          Dedup.dropFrequentLines(docs, "doc_id", "text", maxDf = 4,
            hashKeys = true)
            .agg(sum(length(col("clean_text")))).collect()(0).getLong(0)),
        // persisted-index probe (q104's steady state): build+save once
        // per corpus dir, load+probe timed
        "q104_ivf_probe" -> (() => {
          val path = probePath("ivf", "embeddings", s"nlist=$nlist|refine=1", "assigned")(
            VF.saveIvf(VF.buildIvf(emb, nlist = nlist, refine = 1), _))
          VF.ivfProbe(emb.filter(col("vec_id") < 10),
            VF.loadIvf(spark, path), k = 5, nprobe = VF.autoNprobe(nlist)).count()
        }),
        "q96_quality_filter" -> (() =>
          // sum forces the rank windows (count alone could prune columns)
          graft.queries.TextQueries.q96QualityFilter(spark, d)
            .agg(sum(col("score"))).collect()(0).getLong(0)),
        // auto-sized centroid count (the 100 TB knob: nlist ≈ √N keeps
        // the cluster-local pair quadratic at ~N^1.5 map-side flops)
        "q111_semdedup" -> (() => {
          val seeds = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
            .limit(nlist)
            .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
          VF.semDedup(emb, seeds, tau = 0.42).count()
        }),
        // learned-centroid SemDeDup (q116): one Lloyd pass from an
        // auto-sized hash-ranked seed sample, then cluster-then-prune —
        // adds one corpus argmax scan + one (cent_id, dim) aggregation
        // on top of the q111 shape
        "q116_semdedup_learned" -> (() => {
          val seeds = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
            .limit(nlist)
            .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
          val learned = VF.lloydRefine(emb, seeds, iters = 1)
          VF.semDedup(emb, learned, tau = 0.42).count()
        }),
        "q112_dsir_scores" -> (() =>
          graft.functions.Mix.dsirScores(docs,
            docs.filter(col("lang") === "en"), "doc_id", "text").count()),
        "q114_heavy_hitters" -> (() =>
          graft.queries.TextQueries.q114HeavyHitters(spark, d).count()),
        "q115_bigram_hitters" -> (() =>
          graft.queries.TextQueries.q115BigramHitters(spark, d).count()),
        // r9 quality bundles: row-local single passes — slope should
        // sit at ~1.0 (pure data volume), the measured proof of the
        // zero-shuffle claim
        "q122_gopher_rules" -> (() => docs.select(col("doc_id"),
          graft.functions.TextFunctions.gopherRules(col("text"),
            minWords = 30, minStopTypes = 1).as("g")).count()),
        "q123_c4_clean" -> (() => docs.select(col("doc_id"),
          graft.functions.TextFunctions.c4Clean(col("text")).as("c")).count()),
        "q129_repetition" -> (() => docs.select(col("doc_id"),
          graft.functions.TextFunctions.repetitionProfile(col("text")).as("r")).count()),
        // the window path (one rank pass per stratum, the q96 shape);
        // rarity scoring is the q97 two-shuffle pipeline underneath
        "q130_quality_buckets" -> (() => {
          val scores = graft.functions.TextFunctions
            .corpusFrequencyScores(docs, "doc_id", "text")
            .join(docs.select(col("doc_id").as("doc"), col("lang")), "doc")
          graft.functions.Mix.qualityBuckets(
            scores, col("lang"), col("rarity"), col("doc")).count()
        }),
        // r10: the windowless broadcast-cut-point twin (q132's scale
        // path) over the same rarity scoring — the slope DELTA vs
        // q130_quality_buckets is the per-stratum window's cost
        "q132_buckets_approx" -> (() => {
          val scores = graft.functions.TextFunctions
            .corpusFrequencyScores(docs, "doc_id", "text")
            .join(docs.select(col("doc_id").as("doc"), col("lang")), "doc")
          graft.functions.Mix.qualityBucketsApprox(
            scores, col("lang"), col("rarity")).count()
        }),
        // r13 compression family: fresh build + probe each run (the
        // in-gate pattern — the build's encode pass IS the linear-scan
        // claim under test; q104 above isolates the amortized probe)
        "q142_pq_topk" -> (() => {
          val idx = VF.buildPq(emb, m = 16, ksub = 64, iters = 1)
          VF.pqProbe(emb.filter(col("vec_id") < 10), idx, emb,
            k = 5, rerank = 128).count()
        }),
        "q145_sq_topk" -> (() => {
          val idx = VF.buildSq(emb)
          VF.sqProbe(emb.filter(col("vec_id") < 10), idx, emb,
            k = 5, rerank = 64).count()
        }),
        "q146_ivfpq_residual" -> (() => {
          val idx = VF.buildIvfPq(emb, nlist = nlist, refine = 1, m = 16,
            ksub = 64, iters = 1, residual = true)
          VF.ivfPqProbe(emb.filter(col("vec_id") < 10), idx, emb, k = 5,
            nprobe = VF.autoNprobe(nlist), rerank = 128).count()
        }),
        // r13 bigram-LM: train + score every doc (the gate shape; a
        // production run trains once on the trusted slice and only the
        // scoring scan grows with the corpus)
        "q147_ngram_ppl" -> (() => {
          val t = split(col("text"), " ")
          val lm = graft.functions.NgramLm.trainBigramLm(docs, t,
            maxVocab = 65536, minCount = 2)
          docs.select(graft.functions.NgramLm.perplexity(docs, lm, t)
            .as("p")).agg(count(col("p"))).collect()(0).getLong(0)
        }),
        // r13 order-3 LM: one more zipf-bounded count pass over the
        // same mapped stream
        "q149_trigram_ppl" -> (() => {
          val t = split(col("text"), " ")
          val lm = graft.functions.NgramLm.trainTrigramLm(docs, t,
            maxVocab = 65536, minCount = 2)
          docs.select(graft.functions.NgramLm.perplexity(docs, lm, t,
            lambda = 0.9, lambda3 = 0.5)
            .as("p")).agg(count(col("p"))).collect()(0).getLong(0)
        }),
        // r13 order-4 LM: the quadgram count pass on top — window
        // count rows ≈ tokens at every order, so the added pass should
        // hold the trigram slope
        "q166_quadgram_ppl" -> (() => {
          val t = split(col("text"), " ")
          val lm = graft.functions.NgramLm.trainQuadgramLm(docs, t,
            maxVocab = 65536, minCount = 2)
          docs.select(graft.functions.NgramLm.perplexity(docs, lm, t,
            lambda = 0.9, lambda3 = 0.5, lambda4 = 0.5)
            .as("p")).agg(count(col("p"))).collect()(0).getLong(0)
        }),
        // r13 sliding-window substring dedup; sum(length) forces the
        // rebuild exactly like q92 above
        "q148_substr_dedup" -> (() =>
          Dedup.dedupSubstrings(docs, "doc_id", "text", k = 20)
            .agg(sum(length(col("clean_text")))).collect()(0).getLong(0)),
        // r15 persisted compressed probes (VERDICT r14 #8): the
        // q104_ivf_probe scheme for the whole compression family —
        // build+save once per corpus dir (untimed via the marker
        // check), load+probe timed, so the slope prices SERVING; the
        // probe should scale with the corpus only through the
        // posting-list / encoded-scan side
        "q168_sq_probe" -> (() => {
          val path = probePath("sq", "embeddings", "sq8", "encoded")(VF.saveSq(VF.buildSq(emb), _))
          val idx = VF.SqIndex(graft.Memo.relation(spark, s"$path/params"),
            graft.Memo.relation(spark, s"$path/encoded"))
          VF.sqProbe(emb.filter(col("vec_id") < 10), idx, emb,
            k = 5, rerank = 64).count()
        }),
        "q169_pq_probe" -> (() => {
          val path = probePath("pq", "embeddings", "m=16|ksub=64|iters=1", "encoded")(
            VF.savePq(VF.buildPq(emb, m = 16, ksub = 64, iters = 1), _))
          val idx = VF.PqIndex(graft.Memo.relation(spark, s"$path/codebooks"),
            graft.Memo.relation(spark, s"$path/encoded"))
          VF.pqProbe(emb.filter(col("vec_id") < 10), idx, emb,
            k = 5, rerank = 128).count()
        }),
        "q170_ivfpq_probe" -> (() => {
          val path = probePath("ivfpq", "embeddings",
            s"nlist=$nlist|refine=1|m=16|ksub=64|iters=1|residual=1", "encoded")(
            VF.saveIvfPq(VF.buildIvfPq(emb, nlist = nlist, refine = 1,
              m = 16, ksub = 64, iters = 1, residual = true), _))
          val idx = VF.IvfPqIndex(graft.Memo.relation(spark, s"$path/centroids"),
            graft.Memo.relation(spark, s"$path/codebooks"),
            graft.Memo.relation(spark, s"$path/encoded"))
          VF.ivfPqProbe(emb.filter(col("vec_id") < 10), idx, emb, k = 5,
            nprobe = VF.autoNprobe(nlist), rerank = 128).count()
        }),
        // r15 persisted-LM scoring (VERDICT r14 #1's serving half):
        // train+save once per corpus (untimed), load+score timed —
        // the production CCNet shape where only the scoring scan
        // grows with the corpus
        "q179_lm_score" -> (() => {
          val t = split(col("text"), " ")
          val path = probePath("lm4", "documents", "v=65536|mc=2|o=4", "meta")(
            graft.functions.NgramLm.save(spark,
              graft.functions.NgramLm.trainQuadgramLm(docs, t,
                maxVocab = 65536, minCount = 2), _))
          val lm = graft.functions.NgramLm.load(spark, path)
          docs.select(graft.functions.NgramLm.perplexity(docs, lm, t,
            lambda = 0.9, lambda3 = 0.5, lambda4 = 0.5)
            .as("p")).agg(count(col("p"))).collect()(0).getLong(0)
        }),
      )
    }

    val results = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, (Double, Long, Long)]]()
    // GRAFT_PROBE_OPS=q100,q35 limits the run to the named probes
    // (prefix match) — re-measuring one new operator shouldn't cost a
    // full-suite pass
    val only = sys.env.get("GRAFT_PROBE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    for (d <- dirs) {
      val nDocs = documents(spark, d).count()
      for ((name, f) <- probes(d)
           if only.forall(_.exists(name.startsWith))) {
        val (sec, rows) = time(f())
        results.getOrElseUpdate(name, scala.collection.mutable.LinkedHashMap())
          .put(d, (sec, rows, nDocs))
        println(f"[scale] $d $name: $sec%.3f s ($rows rows)")
      }
    }
    println("\n[scale] slopes (t ~ n^slope), base = first dir:")
    val base = dirs.head
    for ((name, byDir) <- results) {
      val (t0, _, _) = byDir(base)
      val slopes = dirs.tail.map { d =>
        val (t, _, _) = byDir(d)
        val mult = d match {
          case x if x.endsWith("sf0.5") => 5.0
          case x if x.endsWith("sf1") => 10.0
          case _ => 1.0
        }
        f"${math.log(t / t0) / math.log(mult)}%.2f@${mult.toInt}x"
      }
      println(s"[scale] $name: t0=${f"$t0%.3f"}s ${slopes.mkString(" ")}")
    }
    spark.stop()
  }
}
