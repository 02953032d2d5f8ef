package graft

import graft.queries.CoreQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan shape assertions: the scale properties claimed in
  * README/COVERAGE are checked against the actual planned operators, not
  * taken on faith — pushdown reaches the scan, dims broadcast, global
  * top-k avoids a full sort, the as-of join is windowed (never a
  * non-equi nested loop).
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: filter and projection are pushed into the parquet scan") {
    val s = formatted(CoreQueries.q01ScanPrune(spark, sf))
    assert(s.contains("PushedFilters") &&
      s.matches("(?s).*PushedFilters: \\[.*l_shipdate.*\\].*"), s)
    // pruned read schema: only the 4 projected + filter columns, no l_tax etc.
    assert(!s.contains("l_tax") && !s.contains("l_returnflag"), s)
  }

  test("q03: dimension joins broadcast (no shuffle of nation)") {
    val p = planOf(CoreQueries.q03JoinRevenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q12: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = planOf(CoreQueries.q12TopkGlobal(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q20 as-of join: single window, no nested-loop or cartesian join") {
    val p = planOf(CoreQueries.q20AsofJoin(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q99 ASOF SQL plans the native as-of exec — no window, no union sort, no pair-filter join") {
    val p = planOf(CoreQueries.q99AsofSql(spark, sf))
    // the strategy replaced the lead-window interval rewrite with a
    // native as-of exec (hash flavor at test SF — the right side is
    // tiny; merge flavor is forced + differentially checked in AsofSpec)
    assert(p.contains("AsofHashJoin") || p.contains("AsofMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // VERDICT r12 #1 acceptance: no global sort of any unioned stream —
    // there is no Union at all, and the only Sort is the final ORDER BY
    assert(!p.contains("Union"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
  }

  test("q141 forward multi-key ASOF plans the native exec (generic hash path)") {
    val p = planOf(CoreQueries.q141AsofForward(spark, sf))
    assert(p.contains("AsofHashJoin") || p.contains("AsofMergeJoin"), p)
    assert(!p.contains("Window") && !p.contains("Union"), p)
  }

  test("q02: aggregation is partial+final (map-side combine present)") {
    val p = planOf(CoreQueries.q02AggPricing(spark, sf))
    // two HashAggregate nodes around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("ORDER BY is eliminated under count() — bench doesn't pay verify's sort") {
    val counted = CoreQueries.q01ScanPrune(spark, sf).groupBy().count()
    val p = planOf(counted)
    assert(!p.contains("Sort"), p)
  }

  test("entry flagship contains no cartesian product") {
    val p = planOf(SparkEntry.entry(spark))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("r10 gate queries plan clean: no cartesian products, codegen'd natives") {
    // q136 (LSH pairs + CC + representative election): the heaviest r10
    // query must never degenerate into an unbounded nested loop
    val p136 = planOf(graft.queries.TextQueries.q136DedupByScore(spark, sf))
    assert(!p136.contains("CartesianProduct"), p136)
    // q137 (UNION BY NAME): a plain Union node over the two aggregates,
    // no join smuggled in by the name alignment
    val p137 = planOf(graft.queries.ExtraQueries.q137UnionByName(spark, sf))
    assert(p137.contains("Union") && !p137.contains("Join"), p137)
    // q133: the comprehension rewrite stays in higher-order functions —
    // ONE scan + project, no Generate/explode blow-up, and the only
    // exchange is the final ORDER BY's
    val p133f = formatted(graft.queries.ExtraQueries.q133Comprehension(spark, sf))
    assert(p133f.contains("transform(") && !p133f.contains("Generate"), p133f)
    val p133 = planOf(graft.queries.ExtraQueries.q133Comprehension(spark, sf))
    assert("Exchange".r.findAllIn(p133).length <= 1, p133)
    // q134: // and ** land in a partial+final aggregate (map-side
    // combine present), no expand, no extra shuffle
    val p134 = planOf(graft.queries.ExtraQueries.q134DivPow(spark, sf))
    assert("HashAggregate".r.findAllIn(p134).length >= 2, p134)
    assert(!p134.contains("Expand"), p134)
    // q138's deflate signal is one projection over the scan — no
    // exchange before the final single-row aggregate's
    val p138 = planOf(graft.queries.TextQueries.q138CompressionRatio(spark, sf))
    assert("Exchange".r.findAllIn(p138).length <= 1, p138)
  }

  test("native expressions codegen for real — no silent interpreted fallback") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // With fallback off, a broken doGenCode throws instead of silently
    // degrading to eval() (the 36x-slower failure mode documented for
    // janino blowups).
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val docs = Seq((1L, "a b c d e", Seq(1.0f, 2.0f), Seq(1.0f, 2.0f)))
        .toDF("id", "text", "va", "vb")
      val out = docs.select(
        call_function("norm_fingerprint", col("text")).as("fp"),
        call_function("shingle_hashes", split(col("text"), " "), lit(3)).as("sh"),
        call_function("minhash_signature", split(col("text"), " "), lit(3), lit(8)).as("mh"),
        call_function("cosine_sim", col("va"), col("vb")).as("cos"),
        call_function("dot_product", col("va"), col("vb")).as("dot"),
        call_function("lsh_signature", col("va"), lit(4), lit(2)).as("lsh"),
        call_function("vec_norm", col("va")).as("nrm"),
        call_function("simhash_sig", split(col("text"), " "), lit("md5")).as("sim"),
        call_function("simhash_sig", split(col("text"), " "), lit("xx")).as("simx"),
        call_function("shingle_strings", split(col("text"), " "), lit(3)).as("shs")).collect().head
      assert(out.getString(0).length == 32)
      assert(out.getSeq[Long](1).length == 3)
      assert(out.getSeq[Long](2).length == 8)
      assert(math.abs(out.getDouble(3) - 1.0) < 1e-12)
      assert(math.abs(out.getDouble(4) - 5.0) < 1e-12) // 1*1 + 2*2
      assert(out.getSeq[Long](5).length == 2)
      assert(out.getDouble(6) > 2.0)
      assert(out.getLong(7) >= 0L && out.getLong(7) < (1L << 60)) // md5 mode: 60 bits
      assert(out.getLong(8) != out.getLong(7))                    // xx mode differs
      assert(out.getSeq[String](9) == Seq("a b c", "b c d", "c d e"))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("q77 IVF: prebuilt index, top-k via WindowGroupLimit, no unbounded cartesian") {
    val p = planOf(graft.queries.VectorQueries.q77AnnIvf(spark, sf))
    // the only nested-loop joins are against broadcast nlist/1-row sides
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)      // rank<=k prunes before the window
    // the quantizer is a prebuilt checkpointed scan inside the probe
    // plan — NOT recomputed per reference (build/probe split)
    assert(p.contains("ExistingRDD"), p)
    // the centroid sample itself plans as TakeOrderedAndProject (hash
    // rank + limit, no full sort) — asserted on the build side
    val sample = planOf(
      graft.Tables.embeddings(spark, sf)
        .select(org.apache.spark.sql.functions.col("vec_id").as("cent_id"),
          org.apache.spark.sql.functions.col("embedding").as("cvec"))
        .orderBy(org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("cent_id")),
          org.apache.spark.sql.functions.col("cent_id")).limit(16))
    assert(sample.contains("TakeOrderedAndProject"), sample)
  }

  test("q79 TF-IDF: partial+final aggregation, count(1) scalar broadcast") {
    val p = planOf(graft.queries.TextQueries.q79Tfidf(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q78 BPE tokens: pure projection — no shuffle at all") {
    val p = planOf(graft.queries.TextQueries.q78BpeTokens(spark, sf)
      .limit(1)) // orderBy under limit -> TakeOrdered, still exchange-free pre-sort
    assert(!p.contains("Exchange") || p.contains("TakeOrderedAndProject"), p)
  }

  test("q36 portable simhash is shuffle-free (row-local native expression)") {
    val p = planOf(graft.queries.TextQueries.q36Simhash(spark, sf).limit(1))
    // only the top-k sort machinery may appear — no hash-partition exchange
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q85 chunking is exchange-free before the output sort") {
    val p = planOf(graft.queries.TextQueries.q85Chunk(spark, sf).limit(1))
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("Generate"), p) // posexplode of the row-local windows
  }

  test("q86 contamination broadcasts the benchmark shingle set") {
    val p = planOf(graft.queries.TextQueries.q86Contamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q87 upsert plans the anti join + union without a cartesian") {
    val p = planOf(graft.queries.ExtraQueries.q87Upsert(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q90 split is a pure projection — no shuffle at all") {
    val p = planOf(graft.queries.TextQueries.q90Split(spark, sf).limit(1))
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q91 cross-dedup: banded equality join, no cartesian, no nested loop") {
    val p = planOf(graft.queries.TextQueries.q91CrossDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // candidate generation is a hash-based equality join on (band, sig)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q93/q94 window cumsums partition by stratum/shard — never a single global sort") {
    // the heavy (per-row) window fans out over (stratum, hash-prefix),
    // not the raw stratum — the two-level skew decomposition
    val p93 = planOf(graft.queries.TextQueries.q93TokenBudget(spark, sf).limit(1))
    assert(p93.contains("hashpartitioning(__graft_stratum") &&
      p93.contains("__graft_pfx"), p93)
    val p94 = planOf(graft.queries.TextQueries.q94SequencePack(spark, sf).limit(1))
    assert(p94.contains("hashpartitioning(pack_shard"), p94)
    // SinglePartition exchanges would mean the cumsum serialized on one core
    assert(!p93.contains("SinglePartition") && !p94.contains("SinglePartition"),
      s"$p93\n$p94")
  }

  test("q95 temperature: broadcast factor join, no corpus-keyed exchange on the row path") {
    val p = planOf(graft.queries.TextQueries.q95Temperature(spark, sf).limit(1))
    // the factor table joins back via broadcast — the document rows are
    // never hash-exchanged (only the tiny count aggregates shuffle)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Generate"), p) // the copy explode
    assert(!p.contains("hashpartitioning(doc_id"), p)
  }

  test("q96/q97: stratum window + vocabulary-bounded partial aggregation") {
    val p96 = planOf(graft.queries.TextQueries.q96QualityFilter(spark, sf).limit(1))
    assert(p96.contains("hashpartitioning(lang"), p96)
    assert(!p96.contains("SinglePartition"), p96)
    val p97 = planOf(graft.queries.TextQueries.q97Rarity(spark, sf).limit(1))
    // token counts partial-aggregate map-side before the token exchange
    assert("HashAggregate".r.findAllIn(p97).length >= 2, p97)
    assert(!p97.contains("CartesianProduct"), p97)
  }

  test("packSequences window partitions by the parameterized shard count's prefix") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val p = planOf(graft.functions.Mix.packSequences(
      docs, col("doc_id"), col("n_tokens"), seqLen = 512L, shards = 256).limit(1))
    assert(p.contains("hashpartitioning(pack_shard"), p)
    // 2-hex-digit prefix → 256-way shard expression reaches the plan
    assert(p.contains(", 1, 2)") && !p.contains("SinglePartition"), p)
  }

  test("q111 semDedup: row-local assignment, no cartesian; drop-set anti join") {
    val p = planOf(graft.queries.VectorQueries.q111SemDedup(spark, sf))
    // assignment is the broadcast-argmax expression — no crossJoin of
    // corpus x centroids; the cluster-local pair join is an equality
    // join on cid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftAnti"), p) // dropped-id sliver anti-joins back
  }

  test("q112 DSIR: native featurization, bucket table broadcasts back") {
    val df = graft.queries.TextQueries.q112DsirScores(spark, sf)
    val p = planOf(df)
    // the enriched bucket table (<= buckets rows) joins back by
    // broadcast — the corpus-sized side never shuffles for the join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // featurization is the native one-pass expression, not a gram-string
    // explode + md5 chain
    assert(p.contains("dsirbuckets") || p.toLowerCase.contains("dsir"), p)
  }

  test("blanket sweep: no query in the inventory plans an unbounded CartesianProduct") {
    SparkEntry.queries.foreach { case (n, fn) =>
      val p = planOf(fn(spark, sf))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a CartesianProduct:\n$p")
    }
  }

  test("r13 pins: LM scoring exchange-free; substring rebuild row-local; compressed probes broadcast-shaped") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val t = split(col("text"), " ")
    // scoring under a broadcast model is a pure projection — the
    // literal form of the documents-never-shuffle-to-score claim
    val lm = graft.functions.NgramLm.trainBigramLm(docs, t,
      maxVocab = 64, minCount = 2)
    val scoreP = planOf(docs.select(col("doc_id"),
      graft.functions.NgramLm.perplexity(docs, lm, t).as("p")))
    assert(!scoreP.contains("Exchange"), scoreP)
    // q148: the only Generates are the window-key posexplode (once per
    // consumer of the prefix index — the first-occurrence aggregate and
    // the probe side); the coverage rebuild is the row-local
    // two-pointer native (removecoveredtokens in-plan), NOT a
    // token-explode interval join; no cartesian/nested-loop anywhere
    val sp = planOf(graft.functions.Dedup.dedupSubstrings(
      docs, "doc_id", "text", k = 20))
    assert(!sp.contains("CartesianProduct") &&
      !sp.contains("BroadcastNestedLoop"), sp)
    assert("Generate posexplode".r.findAllIn(sp).size == 2, sp)
    assert("\\bGenerate\\b".r.findAllIn(sp).size == 2, sp)
    assert(sp.contains("removecoveredtokens"), sp)
    // SQ8 / residual-IVFADC probes: id-only shortlists re-join raw
    // vectors and base terms by BROADCAST; never a cartesian
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val sqp = planOf(graft.functions.VectorFunctions.sqProbe(
      q, graft.functions.VectorFunctions.buildSq(emb), emb, k = 5, rerank = 32))
    assert(sqp.contains("BroadcastHashJoin") && !sqp.contains("CartesianProduct"), sqp)
    val res = graft.functions.VectorFunctions.buildIvfPq(emb, nlist = 16,
      refine = 1, m = 16, ksub = 64, iters = 1, residual = true)
    val rp = planOf(graft.functions.VectorFunctions.ivfPqProbe(
      q, res, emb, k = 5, nprobe = 6, rerank = 64))
    assert(rp.contains("BroadcastHashJoin") && !rp.contains("CartesianProduct"), rp)
  }

  test("cosine_sim returns null on ragged vectors instead of a truncated score") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(call_function("cosine_sim", col("a"), col("b")).as("cos"))
    assert(df.collect().head.isNullAt(0))
  }

  test("r13 frame-EXCLUDE rewrite adds no exchange: peer windows share the frame's partitioning") {
    // q161 carries FOUR excluded-frame aggregates over two window
    // families; the subtraction rewrite's peer windows (RANGE CURRENT
    // ROW both) must MERGE into the frame windows' Window nodes — the
    // plan holds exactly 2 Exchanges (aggregate + window sort) and 2
    // Window nodes, one per (partitioning, ordering) pair; an
    // un-merged peer window would add a third of either
    val df = graft.queries.ExtraQueries.all("q161_frame_exclude")(spark, sf)
    val p = planOf(df)
    assert("\\bExchange\\b".r.findAllIn(p).size <= 3, p) // AQE may split
    assert("\\bWindow\\b".r.findAllIn(p).size == 2, p)
  }

  test("r9 quality bundles plan as single-stage scans: zero exchanges") {
    import org.apache.spark.sql.functions._
    // gopherRules / c4Clean / repetitionProfile / scriptProfile are
    // row-local projections — the physical plan must carry NO Exchange
    // (the literal form of the zero-shuffle 100 TB claim; the final
    // orderBy belongs to the gate's determinism, so assert the
    // un-ordered projection)
    val docs = Tables.documents(spark, sf)
    Seq(
      graft.functions.TextFunctions.gopherRules(col("text")),
      graft.functions.TextFunctions.c4Clean(col("text")),
      graft.functions.TextFunctions.repetitionProfile(col("text")),
      graft.functions.TextFunctions.scriptProfile(col("text"))
    ).foreach { c =>
      val p = planOf(docs.select(col("doc_id"), c.as("x")))
      assert(!p.contains("Exchange"), p)
    }
  }

  test("connectedComponents pays ONE action per round (fused convergence metric)") {
    // The changed-count rides the round's localCheckpoint as an observed
    // metric (Dedup.connectedComponents) — the fallback count() must not
    // fire. With AQE OFF one action = one Spark job, so the job count is
    // the action count: 3 setup checkpoints (input pairs — computed once,
    // not once per union branch; edges; labels) + one job per doubling
    // round. A 200-node path converges in ≤ 12 rounds (~log2(199) +
    // slack + the zero-change confirmation) → ≤ 15 jobs; a
    // two-actions-per-round loop would pay ≥ 3 setup + 2 × rounds
    // ≈ 20+. The `jobs <= 17` assertion below locks the count.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.graft.cc.localEdges", "0") // force the distributed loop
    val path = (0L until 199L).map(i => (i, i + 1))
    val df = {
      import s2.implicits._
      path.toDF("doc_a", "doc_b")
    }
    graft.functions.Dedup.connectedComponents(df) // warm (JIT/codegen)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s2.sparkContext.addSparkListener(listener)
    try {
      val got = graft.functions.Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      Thread.sleep(500) // job-start events post async to the listener bus
      assert(got.length == 200 && got.forall(_._2 == 0L))
      // +1 for the final collect() above
      assert(jobs.get <= 17, s"jobs=${jobs.get} — CC rounds are paying more than one action")
    } finally s2.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` with the range-sort path forced: no child is ≤ 1 byte. */
  private def rangeSorted[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try body finally spark.conf.set(key, saved)
  }

  private def small: DataFrame =
    spark.range(0, 200, 1, 4).selectExpr("id % 7 AS k", "id")

  test("a small global sort plans one sorted partition: no range sampling job") {
    val df = small.orderBy("k", "id")
    val p = planOf(df)
    assert(p.contains("Exchange SinglePartition") && !p.contains("rangepartitioning"), p)
    var rows: Array[org.apache.spark.sql.Row] = null
    // the child's shuffle-map job and the result job; the range path
    // pays a third, the RangePartitioner's sampling run of the child
    assert(jobsIn { rows = df.collect() } == 2)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 200L).map(i => (i % 7, i)).sorted)
    val ranged = small.orderBy("k", "id")
    rangeSorted {
      assert(planOf(ranged).contains("rangepartitioning"), planOf(ranged))
      assert(jobsIn(ranged.collect()) == 3)
    }
  }

  test("orderBy + limit keeps TakeOrderedAndProject; AQE off gets the same single partition") {
    val top = planOf(small.orderBy("k", "id").limit(5))
    assert(top.contains("TakeOrderedAndProject") && !top.contains("SinglePartition"), top)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    graft.functions.expressions.GraftFunctions.register(s2)
    val p = s2.range(0, 200, 1, 4).selectExpr("id % 7 AS k", "id")
      .orderBy("k").queryExecution.executedPlan.toString
    assert(!p.contains("AdaptiveSparkPlan"), p)
    assert(p.contains("Exchange SinglePartition") && !p.contains("rangepartitioning"), p)
  }

  test("a sort whose input is already one partition adds no exchange") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    // the unpartitioned window gathers its input; its sort needs no shuffle
    val df = small.withColumn("rn", row_number().over(Window.orderBy("id")))
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .orderBy("k", "id")
    val p = planOf(df)
    assert("Exchange".r.findAllIn(p).length == 1 && !p.contains("rangepartitioning"), p)
    assert(jobsIn(df.collect()) == 2)
  }

  test("single-partition and range sorts give the same rows in the same order") {
    import spark.implicits._
    // ties on a and b, NULLs in both; id is unique, so the order is total
    val df = (0 until 300).map { i =>
      (i, if (i % 11 == 0) None else Some(i % 5), if (i % 13 == 0) null else s"s${i % 3}")
    }.toDF("id", "a", "b").repartition(4)
    val order = Seq($"a".desc_nulls_last, $"b".asc_nulls_first, $"id".desc)
    val single = df.orderBy(order: _*)
    assert(planOf(single).contains("SinglePartition"), planOf(single))
    val got = single.collect().toSeq
    val want = rangeSorted {
      val ranged = df.orderBy(order: _*)
      assert(planOf(ranged).contains("rangepartitioning"), planOf(ranged))
      ranged.collect().toSeq
    }
    assert(got.length == 300 && got == want)
  }

  test("DML over small session temp tables keeps its job floor") {
    import graft.operators.SqlStage
    val df = spark.range(1).toDF("z")
    def run(sql: String) = SqlStage("s", sql).apply(spark, df).collect()
    // a fresh typed table (small, so every snapshot is driver-side) and
    // a CTAS source before each statement
    def jobs(sql: String, count: Long): Int = {
      run("CREATE OR REPLACE TEMP TABLE pj_t (k INT PRIMARY KEY, v INT)")
      run("INSERT INTO pj_t VALUES (1, 10), (2, 20), (3, 30)")
      run("CREATE OR REPLACE TEMP TABLE pj_s AS SELECT * FROM (VALUES (1, 100), (3, 300)) s(k, y)")
      var rows: Array[org.apache.spark.sql.Row] = null
      val n = jobsIn { rows = run(sql) }
      assert(rows.head.getLong(0) == count, sql)
      n
    }
    // driver-side snapshots make the single-table forms job-free; the
    // joined forms pay for their joins over the checkpointed target
    val got = Seq(
      jobs("DELETE FROM pj_t WHERE v > 15", 2),
      jobs("UPDATE pj_t SET v = v + 1 WHERE k <> 2", 2),
      jobs("UPDATE pj_t SET v = pj_s.y FROM pj_s WHERE pj_t.k = pj_s.k", 2),
      jobs("INSERT INTO pj_t VALUES (3, 33), (4, 40) ON CONFLICT DO UPDATE SET v = excluded.v", 2))
    assert(got == Seq(0, 0, 9, 3))
  }
}
