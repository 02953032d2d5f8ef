package graft

import org.apache.spark.sql.functions._
import graft.functions.NgramLm
import graft.functions.expressions.BigramPerplexityBroadcast

/** Capacity-bounded bigram LM + perplexity scorer
  * ([[graft.functions.NgramLm]]) — hand-computed model on a tiny
  * corpus, UNK/cap/prune behavior, determinism, and the CCNet
  * composition with quality bucketing. The full-corpus DuckDB replay is
  * q147's oracle.
  */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  private val Unk = BigramPerplexityBroadcast.Unk

  // "a b a b" ×2 + "a c" — unigrams a:5 b:4 c:1; bigrams (a,b):4 (b,a):2 (a,c):1
  private def tiny = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "a c"))
    .toDF("doc_id", "text")

  test("hand-computed counts: vocab, UNK fold, bigram prune") {
    val lm = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 2)
    assert(lm.nTokens == 10L)
    assert(lm.vSize == 3L) // a, b, c — no UNK (vocab cap not binding)
    assert(lm.uni.get("a") == 5L && lm.uni.get("b") == 4L && lm.uni.get("c") == 1L)
    assert(!lm.uni.containsKey(Unk))
    // (a,c) count 1 pruned by minCount = 2
    assert(lm.bi.get("a").get("b") == 4L)
    assert(lm.bi.get("b").get("a") == 2L)
    assert(!lm.bi.get("a").containsKey("c"))
  }

  test("vocab cap folds the tail into UNK; election is count-desc then token") {
    val lm = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 2, minCount = 1)
    // top-2 by (count desc, token): a(5), b(4); c folds to UNK
    assert(lm.uni.containsKey("a") && lm.uni.containsKey("b"))
    assert(!lm.uni.containsKey("c"))
    assert(lm.uni.get(Unk) == 1L)
    assert(lm.vSize == 3L) // a, b, UNK
    // the (a, c) bigram became (a, UNK)
    assert(lm.bi.get("a").get(Unk) == 1L)
  }

  test("perplexity matches the formula exactly; empty docs are NULL") {
    val lm = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 2)
    val scored = tiny.select(col("doc_id"),
        NgramLm.perplexity(tiny, lm, split(col("text"), " "), lambda = 0.9).as("ppl"))
      .orderBy(col("doc_id")).collect()
    // doc 1 = "a b a b": N+V = 13
    val pUa = 6.0 / 13; val pUb = 5.0 / 13; val pUc = 2.0 / 13
    val pAB = 0.9 * 4 / 5 + 0.1 * pUb // p(b|a)
    val pBA = 0.9 * 2 / 4 + 0.1 * pUa // p(a|b)
    val exp1 = math.exp(-(math.log(pUa) + math.log(pAB) + math.log(pBA) + math.log(pAB)) / 4)
    assert(math.abs(scored(0).getDouble(1) - exp1) < 1e-12)
    // doc 3 = "a c": (a, c) pruned → p(c|a) = 0.9·0/5 + 0.1·pUc
    val pAC = 0.9 * 0 / 5 + 0.1 * pUc
    val exp3 = math.exp(-(math.log(pUa) + math.log(pAC)) / 2)
    assert(math.abs(scored(2).getDouble(1) - exp3) < 1e-12)
    // a doc whose every token is out-of-vocabulary scores via the
    // UNK-absent fallback (c1 = 0 → unigram-only), stays finite
    val oov = Seq((9L, "zz qq")).toDF("doc_id", "text")
    val o = oov.select(NgramLm.perplexity(oov, lm, split(col("text"), " ")).as("p")).head()
    assert(!o.isNullAt(0) && o.getDouble(0) > 0 && !o.getDouble(0).isInfinite)
    // empty token array → NULL
    val empty = Seq((8L, Seq.empty[String])).toDF("doc_id", "ts")
    assert(empty.select(NgramLm.perplexity(empty, lm, col("ts")).as("p"))
      .head().isNullAt(0))
  }

  test("maxBigrams cap keeps the most frequent pairs deterministically") {
    val lm = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 1, maxBigrams = 1)
    var n = 0L
    lm.bi.values().forEach(m => n += m.size())
    assert(n == 1L)
    assert(lm.bi.get("a").get("b") == 4L) // the top pair survives
  }

  test("trigram order: hand-computed interpolation and pruned-context backoff") {
    // "a b a b" ×2 + "a c": trigrams (a,b,a):2 (b,a,b):2 — both survive
    // minCount = 2; everything through (a,c) prunes
    val lm = NgramLm.trainTrigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 2)
    assert(lm.tri.get("a").get("b").get("a") == 2L)
    assert(lm.tri.get("b").get("a").get("b") == 2L)
    var n = 0L
    lm.tri.values().forEach(_.values().forEach(m => n += m.size()))
    assert(n == 2L)
    val scored = tiny.select(col("doc_id"),
        NgramLm.perplexity(tiny, lm, split(col("text"), " "),
          lambda = 0.9, lambda3 = 0.5).as("ppl"))
      .orderBy(col("doc_id")).collect()
    // doc 1 = "a b a b": p(t1)=pU(a); p(t2)=p2(b|a);
    // p(t3) = .5·c(a,b,a)/c(a,b) + .5·p2(a|b); p(t4) same shape
    val pUa = 6.0 / 13; val pUb = 5.0 / 13
    val p2ab = 0.9 * 4 / 5 + 0.1 * pUb
    val p2ba = 0.9 * 2 / 4 + 0.1 * pUa
    val p3aba = 0.5 * 2.0 / 4 + 0.5 * p2ba // c(a,b,a)/c(a,b) = 2/4
    val p3bab = 0.5 * 2.0 / 2 + 0.5 * p2ab // c(b,a,b)/c(b,a) = 2/2
    val exp1 = math.exp(
      -(math.log(pUa) + math.log(p2ab) + math.log(p3aba) + math.log(p3bab)) / 4)
    assert(math.abs(scored(0).getDouble(1) - exp1) < 1e-12)
    // doc 3 = "a c": no third token — identical to the bigram score
    val pUc = 2.0 / 13
    val exp3 = math.exp(-(math.log(pUa) + math.log(0.1 * pUc)) / 2)
    assert(math.abs(scored(2).getDouble(1) - exp3) < 1e-12)
    // a PRUNED context pair backs off to the bigram estimate: "c a b"
    // has context (c, a) with bigram count pruned (c(c,a) = 0 in the
    // pruned table) → p(b | c, a) = p2(b | a)
    val probe = Seq((7L, "c a b")).toDF("doc_id", "text")
    val got = probe.select(NgramLm.perplexity(probe, lm,
      split(col("text"), " "), lambda = 0.9, lambda3 = 0.5).as("p")).head().getDouble(0)
    val expBackoff = math.exp(
      -(math.log(pUc) + math.log(0.1 * pUa) + math.log(p2ab)) / 3)
    assert(math.abs(got - expBackoff) < 1e-12)
    // lambda3 = 0 reproduces the pure bigram model bit-for-bit
    val asBigram = tiny.select(NgramLm.perplexity(tiny, lm,
      split(col("text"), " "), lambda = 0.9, lambda3 = 0.0).as("p"))
      .orderBy(col("doc_id")).collect().map(_.getDouble(0)).toSeq
    val bigramLm = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 2)
    val pure = tiny.select(NgramLm.perplexity(tiny, bigramLm,
      split(col("text"), " "), lambda = 0.9).as("p"))
      .orderBy(col("doc_id")).collect().map(_.getDouble(0)).toSeq
    assert(asBigram == pure)
  }

  test("Kneser-Ney: hand-computed stats, discount floor, contextless backoff") {
    // pruned table: (a,b):4 (b,a):2 → fanout a:1 b:1; cont a:1 b:1; P=2
    val lm = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 2)
    val kn = NgramLm.kneserNey(lm)
    assert(kn.pairCount == 2L)
    assert(kn.fanout.get("a") == 1L && kn.fanout.get("b") == 1L &&
      !kn.fanout.containsKey("c"))
    assert(kn.cont.get("a") == 1L && kn.cont.get("b") == 1L &&
      !kn.cont.containsKey("c"))
    val scored = tiny.select(col("doc_id"),
        NgramLm.knPerplexity(tiny, kn, split(col("text"), " "), discount = 0.75).as("ppl"))
      .orderBy(col("doc_id")).collect()
    // pv = P + V = 2 + 3 = 5; pc(a) = pc(b) = 2/5, pc(c) = 1/5
    val pcA = 0.4; val pcB = 0.4; val pcC = 0.2
    // doc 1 "a b a b": pKN(b|a) = (4−.75)/5 + .75·1/5·pc(b);
    //                  pKN(a|b) = (2−.75)/4 + .75·1/4·pc(a)
    val pAB = (4 - 0.75) / 5 + 0.75 * 1 / 5 * pcB
    val pBA = (2 - 0.75) / 4 + 0.75 * 1 / 4 * pcA
    val exp1 = math.exp(-(math.log(pcA) + math.log(pAB) + math.log(pBA) + math.log(pAB)) / 4)
    assert(math.abs(scored(0).getDouble(1) - exp1) < 1e-12)
    // doc 3 "a c": (a,c) pruned → the discount FLOOR: max(0−.75,0) = 0,
    // only the continuation term survives
    val pAC = 0.0 / 5 + 0.75 * 1 / 5 * pcC
    val exp3 = math.exp(-(math.log(pcA) + math.log(pAC)) / 2)
    assert(math.abs(scored(2).getDouble(1) - exp3) < 1e-12)
    // OOV context (no UNK in uni — cap not binding) → contextless
    // backoff straight to pCont; finite everywhere
    val oov = Seq((9L, "zz a")).toDF("doc_id", "text")
    val got = oov.select(NgramLm.knPerplexity(oov, kn,
      split(col("text"), " ")).as("p")).head().getDouble(0)
    val pcUnk = 1.0 / 5 // cont has no UNK entry → (0+1)/5
    val expOov = math.exp(-(math.log(pcUnk) + math.log(pcA)) / 2)
    assert(math.abs(got - expOov) < 1e-12)
    // in-vocab context whose every pair was pruned (c: c1 = 1 > 0 but
    // fanout 0) also backs off to pCont — the zero-backoff-weight guard
    val lmAll = NgramLm.trainBigramLm(tiny, split(col("text"), " "),
      maxVocab = 10, minCount = 1, maxBigrams = 2)
    val knAll = NgramLm.kneserNey(lmAll)
    assert(!knAll.fanout.containsKey("c")) // (a,c) capped out
    val probe = Seq((7L, "c a")).toDF("doc_id", "text")
    val g2 = probe.select(NgramLm.knPerplexity(probe, knAll,
      split(col("text"), " ")).as("p")).head().getDouble(0)
    val exp2 = math.exp(-(math.log(1.0 / 5) + math.log(2.0 / 5)) / 2)
    assert(math.abs(g2 - exp2) < 1e-12)
    // empty token array → NULL
    val empty = Seq((8L, Seq.empty[String])).toDF("doc_id", "ts")
    assert(empty.select(NgramLm.knPerplexity(empty, kn, col("ts")).as("p"))
      .head().isNullAt(0))
  }

  test("Kneser-Ney derivation is pure and deterministic over the corpus model") {
    val docs = Tables.documents(spark, sf)
    val t = split(col("text"), " ")
    val lm = NgramLm.trainBigramLm(docs, t, maxVocab = 24, minCount = 2,
      maxBigrams = 500)
    val kn1 = NgramLm.kneserNey(lm)
    val kn2 = NgramLm.kneserNey(lm)
    assert(kn1.pairCount == 500L) // the cap binds (625 distinct pairs)
    assert(kn1.fanout == kn2.fanout && kn1.cont == kn2.cont)
    var mass = 0L
    kn1.cont.values().forEach(mass += _)
    assert(mass == kn1.pairCount) // each pair contributes once
    val s1 = docs.select(NgramLm.knPerplexity(docs, kn1, t).as("p"))
      .agg(sum(round(col("p") * 1000)).cast("long")).head().getLong(0)
    val s2 = docs.select(NgramLm.knPerplexity(docs, kn2, t).as("p"))
      .agg(sum(round(col("p") * 1000)).cast("long")).head().getLong(0)
    assert(s1 == s2)
  }

  test("order 3 fits the training corpus better than order 2 (mean ppl drops)") {
    val docs = Tables.documents(spark, sf)
    val t = split(col("text"), " ")
    val lm2 = NgramLm.trainBigramLm(docs, t, maxVocab = 24, minCount = 2)
    val lm3 = NgramLm.trainTrigramLm(docs, t, maxVocab = 24, minCount = 2)
    val mean2 = docs.select(avg(NgramLm.perplexity(docs, lm2, t))).head().getDouble(0)
    val mean3 = docs.select(avg(NgramLm.perplexity(docs, lm3, t,
      lambda = 0.9, lambda3 = 0.5))).head().getDouble(0)
    assert(mean3 < mean2, s"trigram $mean3 not below bigram $mean2")
  }

  test("save/load round-trips every order and KN bit-identically (r15)") {
    val docs = Tables.documents(spark, sf)
    val t = split(col("text"), " ")
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_rt").toString
    val lm4 = NgramLm.trainQuadgramLm(docs, t, maxVocab = 24, minCount = 2)
    NgramLm.save(spark, lm4, s"$dir/quad")
    val rt4 = NgramLm.load(spark, s"$dir/quad")
    assert(rt4.uni == lm4.uni && rt4.bi == lm4.bi && rt4.tri == lm4.tri &&
      rt4.quad == lm4.quad && rt4.nTokens == lm4.nTokens && rt4.vSize == lm4.vSize)
    // scores are bit-identical (exact Longs in, same doubles out)
    val fresh = docs.select(NgramLm.perplexity(docs, lm4, t,
      lambda = 0.9, lambda3 = 0.5, lambda4 = 0.5).as("p"))
      .agg(sum(col("p"))).head().getDouble(0)
    val loaded = docs.select(NgramLm.perplexity(docs, rt4, t,
      lambda = 0.9, lambda3 = 0.5, lambda4 = 0.5).as("p"))
      .agg(sum(col("p"))).head().getDouble(0)
    assert(fresh == loaded)
    // a bigram-only model round-trips its EMPTY tri/quad tables
    val lm2 = NgramLm.trainBigramLm(docs, t, maxVocab = 24, minCount = 2, maxBigrams = 500)
    val kn = NgramLm.kneserNey(lm2)
    NgramLm.saveKn(spark, kn, s"$dir/kn")
    val rtKn = NgramLm.loadKn(spark, s"$dir/kn")
    assert(rtKn.base.uni == lm2.uni && rtKn.base.bi == lm2.bi &&
      rtKn.base.tri.isEmpty && rtKn.base.quad.isEmpty &&
      rtKn.fanout == kn.fanout && rtKn.cont == kn.cont &&
      rtKn.pairCount == kn.pairCount)
  }

  test("training is deterministic; repeated text lowers perplexity vs shuffled-rare") {
    val docs = Tables.documents(spark, sf)
    val t = split(col("text"), " ")
    val lm1 = NgramLm.trainBigramLm(docs, t, maxVocab = 24, minCount = 2)
    val lm2 = NgramLm.trainBigramLm(docs, t, maxVocab = 24, minCount = 2)
    assert(lm1.uni == lm2.uni && lm1.bi == lm2.bi &&
      lm1.nTokens == lm2.nTokens && lm1.vSize == lm2.vSize)
    // the CCNet composition: score + head/middle/tail buckets by ppl
    val scored = docs.select(col("doc_id"),
      NgramLm.perplexity(docs, lm1, t).as("ppl"))
    val buckets = graft.functions.Mix.qualityBuckets(
      scored, lit(1), col("ppl"), col("doc_id"), 3)
    assert(buckets.groupBy(col("bucket")).count().count() == 3)
  }

  test("r18: nTokens observed on the vocab election equals the exact token total; empty input gives 0") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame(Seq(
      Tuple1(Seq("a", "b", "a", "c")), Tuple1(Seq("b", "a")))).toDF("ts")
    val m = NgramLm.trainBigramLm(docs, col("ts"), maxVocab = 2, minCount = 1)
    assert(m.nTokens == 6L) // ALL tokens, vocab-capped or not
    val empty = spark.createDataFrame(Seq.empty[Tuple1[Seq[String]]]).toDF("ts")
    var n = -1L
    // the empty corpus's sum is observed as null: a value, so no
    // fallback sum() job
    val jobs = jobsIn { n = NgramLm.trainBigramLm(empty, col("ts")).nTokens }
    assert(n == 0L)
    assert(jobs == 1, s"jobs=$jobs")
  }
}
