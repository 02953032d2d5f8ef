package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.expressions.{BigramLmModel, BigramPerplexityBroadcast, GraftFunctions, KnModel, KnPerplexityBroadcast}

/** Capacity-bounded n-gram language model for perplexity-based quality
  * filtering — the CCNet pipeline's scoring half (Wenzek et al. 2020,
  * arXiv:1911.00359 §3.3: a small LM trained on trusted text ranks
  * pages by perplexity; [[Mix.qualityBuckets]] then cuts head/middle/
  * tail on that score). The reference pipeline consumes such scores as
  * opaque columns (`/root/reference/filefilter.py:340-342` passthrough
  * SQL over whatever scoring produced); this operator PRODUCES them
  * inside the engine.
  *
  * Training is two bounded aggregation passes (the classic
  * count-then-prune shape KenLM's pruning also takes — Heafield 2011):
  *
  *  1. unigram counts (one shuffle on token; distinct-token cardinality
  *     is zipf-bounded), vocabulary capped to the `maxVocab` most
  *     frequent (ties to the lexicographically smaller token —
  *     deterministic), everything else mapped to the UNK symbol;
  *  2. bigram counts over the UNK-mapped stream (one shuffle on the
  *     token pair), pruned to counts ≥ `minCount` AND the `maxBigrams`
  *     most frequent (same deterministic order) — the model size is
  *     bounded by its CAPS, never by the corpus.
  *
  * The collected model broadcasts to executors (maxVocab + maxBigrams
  * entries — the CCNet deployment shape: KenLM models ship to workers,
  * documents never shuffle to score); scoring is the row-local
  * codegen'd [[graft.functions.expressions.BigramPerplexityBroadcast]].
  *
  * At 100 TB: both training shuffles carry (token[-pair], partial
  * count) rows with map-side combine; the caps bound the driver collect
  * and the broadcast exactly like the heavy-hitter sketches
  * ([[TextFunctions.heavyHitters]]). In production CCNet the LM is
  * trained ONCE on a small trusted corpus (Wikipedia) and reused —
  * train on the trusted slice, score the 100 TB.
  */
object NgramLm {

  /** Train a [[BigramLmModel]] from `df`'s token arrays (pass
    * `TextFunctions.tokens(col)` or any array<string> column).
    */
  def trainBigramLm(df: DataFrame, tokensCol: Column,
                    maxVocab: Int = 65536, minCount: Int = 2,
                    maxBigrams: Int = 1 << 20): BigramLmModel =
    trainOrders(df, tokensCol, 2, maxVocab, minCount, maxBigrams, 0, 0)

  /** Order-3 upgrade (r13): [[trainBigramLm]]'s model plus pruned
    * trigram counts over the same UNK-mapped stream, with their own
    * prune (`minCount`) and cap (`maxTrigrams`) — the same KenLM
    * count-pruning shape one order up. Score with
    * `perplexity(..., lambda3 > 0)`: recursive Jelinek-Mercer —
    * λ3·c(u,v,w)/c(u,v) interpolating into the bigram estimate,
    * backing off THROUGH the pruned bigram table when the context
    * pair itself was pruned (the expression and the q149 oracle
    * replay agree on that rule exactly).
    */
  def trainTrigramLm(df: DataFrame, tokensCol: Column,
                     maxVocab: Int = 65536, minCount: Int = 2,
                     maxBigrams: Int = 1 << 20,
                     maxTrigrams: Int = 1 << 21): BigramLmModel = {
    require(maxTrigrams >= 0, "maxTrigrams >= 0")
    trainOrders(df, tokensCol, 3, maxVocab, minCount, maxBigrams, maxTrigrams, 0)
  }

  /** Order-4 upgrade (r13): [[trainTrigramLm]]'s model plus pruned
    * 4-gram counts over the same UNK-mapped stream, with their own
    * prune (`minCount`) and cap (`maxQuadgrams`). Score with
    * `perplexity(..., lambda4 > 0)`: λ4·c(t,u,v,w)/c(t,u,v)
    * interpolating into the trigram estimate, backing off through the
    * PRUNED trigram table when the context triple itself was pruned —
    * the identical recursion one order up (the q166 oracle replays the
    * whole order-4 construction).
    */
  def trainQuadgramLm(df: DataFrame, tokensCol: Column,
                      maxVocab: Int = 65536, minCount: Int = 2,
                      maxBigrams: Int = 1 << 20,
                      maxTrigrams: Int = 1 << 21,
                      maxQuadgrams: Int = 1 << 22): BigramLmModel = {
    require(maxTrigrams >= 0 && maxQuadgrams >= 0,
      "maxTrigrams >= 0, maxQuadgrams >= 0")
    trainOrders(df, tokensCol, 4, maxVocab, minCount, maxBigrams,
      maxTrigrams, maxQuadgrams)
  }

  /** Shared trainer (r15 — collapsed from one-pass-per-order): TWO
    * corpus scans total, at every order.
    *
    *  1. unigram counts (one shuffle on token), the relation persisted
    *     so both the vocabulary election (top-maxVocab collect) and the
    *     distributed `nTokens` sum read it without re-scanning the
    *     corpus (never collect the raw zipf token space — at web scale
    *     distinct tokens are billions of rows); unkCount falls out by
    *     subtraction from the collected vocab rows;
    *  2. ONE combined n-gram pass: per bigram position emit
    *     (w1, w2, w3?, w4?) with NULLs past the document end, count by
    *     raw 4-tuple, UNK-map the (small) distinct relation through
    *     broadcast joins against the vocab, then derive every order as
    *     an exact marginal — bigram = all rows, trigram = rows with a
    *     w3, quadgram = rows with a w4 (document-boundary edge effects
    *     fall out of the NULL pattern, so the counts are identical to
    *     the per-order explodes, row for row). Each order then prunes
    *     (`minCount`) and caps (count-desc, token tiebreaks —
    *     deterministic) exactly as before.
    *
    * The marginal aggregations re-shuffle only the UNK-mapped distinct
    * relation (bounded far below the corpus), which is persisted across
    * the per-order reads when more than one order consumes it.
    */
  private def trainOrders(df: DataFrame, tokensCol: Column, order: Int,
                          maxVocab: Int, minCount: Int, maxBigrams: Int,
                          maxTrigrams: Int, maxQuadgrams: Int): BigramLmModel = {
    require(maxVocab >= 1 && maxBigrams >= 0 && minCount >= 1,
      s"need maxVocab >= 1, maxBigrams >= 0, minCount >= 1")
    val spark = df.sparkSession
    val unk = BigramPerplexityBroadcast.Unk
    val sep = expressions.BigramLmModel.CtxSep
    val toks = df.select(explode(tokensCol).as("w"))
    val rawUni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // vocabulary: the maxVocab most frequent tokens, deterministic
    // ties. nTokens (= sum of ALL unigram counts, vocab or not) rides
    // the SAME action as an observed metric — TakeOrdered scans every
    // aggregate output row anyway, so the old separate sum() pass (and
    // the persist that existed only to share rawUni between the two
    // actions) bought nothing (r18 job shave; exact Long sum either way)
    val nObs = graft.Observed(sum(col("c")).cast("long").as("n"))
    val vocabRows = nObs.on(rawUni)
      .orderBy(col("c").desc, col("w")).limit(maxVocab).collect()
    val uni = new java.util.HashMap[String, Long]()
    var vocabTokens = 0L
    vocabRows.foreach { r =>
      uni.put(r.getString(0), r.getLong(1))
      vocabTokens += r.getLong(1)
    }
    // a pruned metrics node costs one bounded sum() over rawUni; an
    // empty corpus reports a null sum, which is 0 tokens
    val nTokens = nObs.read(rawUni)("n") match {
      case v: Number => v.longValue()
      case _ => 0L
    }
    val unkCount = nTokens - vocabTokens
    if (unkCount > 0) uni.put(unk, unkCount)
    val vocabDf = spark.createDataFrame(
      java.util.Arrays.asList(vocabRows.map(r => Row(r.getString(0))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vw",
          org.apache.spark.sql.types.StringType, nullable = false))))
    // the combined pass: one posexplode over bigram positions; w3/w4
    // guard on the doc end (NULL = the window ran out) so every order's
    // positions are exactly the per-order explode's
    val nullStr = lit(null).cast(org.apache.spark.sql.types.StringType)
    val w3col =
      if (order >= 3) when(col("p") + 3 <= size(col("ts")),
        element_at(col("ts"), col("p") + 3))
      else nullStr
    val w4col =
      if (order >= 4) when(col("p") + 4 <= size(col("ts")),
        element_at(col("ts"), col("p") + 4))
      else nullStr
    val rawN = df.select(tokensCol.as("ts"))
      .where(size(col("ts")) >= 2)
      .select(posexplode(slice(col("ts"), lit(1), size(col("ts")) - 1)).as(Seq("p", "w1")),
        col("ts"))
      .select(col("w1"), element_at(col("ts"), col("p") + 2).as("w2"),
        w3col.as("w3"), w4col.as("w4"))
      .groupBy(col("w1"), col("w2"), col("w3"), col("w4")).agg(count(lit(1)).as("c"))
    // UNK-map the distinct relation via broadcast joins (count-then-map
    // gives identical sums to mapping per token without a UDF in the
    // hot pass); a NULL slot stays NULL — it marks the window end, not
    // an out-of-vocabulary token
    var joined = rawN
      .join(broadcast(vocabDf.select(col("vw").as("m1"))), col("w1") === col("m1"), "left")
      .join(broadcast(vocabDf.select(col("vw").as("m2"))), col("w2") === col("m2"), "left")
    if (order >= 3) joined = joined
      .join(broadcast(vocabDf.select(col("vw").as("m3"))), col("w3") === col("m3"), "left")
    if (order >= 4) joined = joined
      .join(broadcast(vocabDf.select(col("vw").as("m4"))), col("w4") === col("m4"), "left")
    val mapped = joined.select(
      coalesce(col("m1"), lit(unk)).as("w1"),
      coalesce(col("m2"), lit(unk)).as("w2"),
      (if (order >= 3) when(col("w3").isNull, nullStr)
        .otherwise(coalesce(col("m3"), lit(unk))) else nullStr).as("w3"),
      (if (order >= 4) when(col("w4").isNull, nullStr)
        .otherwise(coalesce(col("m4"), lit(unk))) else nullStr).as("w4"),
      col("c"))
    val shared =
      if (order >= 3) mapped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else mapped
    val pairs = shared
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c"))
      .where(col("c") >= minCount)
      .orderBy(col("c").desc, col("w1"), col("w2")).limit(maxBigrams)
      .collect()
    val bi = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
    pairs.foreach { r =>
      bi.computeIfAbsent(r.getString(0), _ => new java.util.HashMap[String, Long]())
        .put(r.getString(1), r.getLong(2))
    }
    val tri = new java.util.HashMap[String,
      java.util.HashMap[String, java.util.HashMap[String, Long]]]()
    if (order >= 3) {
      val tris = shared.where(col("w3").isNotNull)
        .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("c")).as("c"))
        .where(col("c") >= minCount)
        .orderBy(col("c").desc, col("w1"), col("w2"), col("w3"))
        .limit(maxTrigrams).collect()
      tris.foreach { r =>
        tri.computeIfAbsent(r.getString(0),
            _ => new java.util.HashMap[String, java.util.HashMap[String, Long]]())
          .computeIfAbsent(r.getString(1), _ => new java.util.HashMap[String, Long]())
          .put(r.getString(2), r.getLong(3))
      }
    }
    val quad = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
    if (order >= 4) {
      val quads = shared.where(col("w4").isNotNull)
        .groupBy(col("w1"), col("w2"), col("w3"), col("w4")).agg(sum(col("c")).as("c"))
        .where(col("c") >= minCount)
        .orderBy(col("c").desc, col("w1"), col("w2"), col("w3"), col("w4"))
        .limit(maxQuadgrams).collect()
      quads.foreach { r =>
        val ctx = r.getString(0) + sep + r.getString(1) + sep + r.getString(2)
        quad.computeIfAbsent(ctx, _ => new java.util.HashMap[String, Long]())
          .put(r.getString(3), r.getLong(4))
      }
    }
    if (order >= 3) shared.unpersist(false)
    new BigramLmModel(uni, bi, nTokens, uni.size().toLong, tri, quad)
  }

  // ---------------------------------------------------------------
  // Model persistence (r15): the CCNet deployment shape trains ONCE
  // on the trusted slice and ships the model to every scoring job —
  // save/load makes that a parquet round-trip instead of a retrain.
  // Every table is bounded by the training caps (maxVocab, maxBigrams,
  // maxTrigrams, maxQuadgrams entries), so the write is a driver-side
  // createDataFrame and the load is a bounded collect — same posture
  // as the FAISS index save/load family (VectorFunctions.saveSq/...).
  // The maps hold exact Long counts and strings, so a reloaded model
  // scores BIT-IDENTICALLY to the freshly-trained one.
  // ---------------------------------------------------------------

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  private def writeRows(spark: SparkSession, path: String,
                        schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(1).write.mode("overwrite").parquet(path)

  /** Persist a trained [[BigramLmModel]] (any order — empty tri/quad
    * tables round-trip as empty) under `path` as five parquet tables.
    * `meta` is written LAST, so `meta/_SUCCESS` marks a complete save
    * (the build-if-absent pattern checks it).
    */
  def save(spark: SparkSession, model: BigramLmModel, path: String): Unit = {
    val sLong = (n: String) => StructField(n, LongType, nullable = false)
    val sStr = (n: String) => StructField(n, StringType, nullable = false)
    val uniRows = scala.collection.mutable.ArrayBuffer[Row]()
    model.uni.forEach((w, c) => uniRows += Row(w, c))
    writeRows(spark, s"$path/uni", StructType(Seq(sStr("w"), sLong("c"))), uniRows.toSeq)
    val biRows = scala.collection.mutable.ArrayBuffer[Row]()
    model.bi.forEach((w1, inner) => inner.forEach((w2, c) => biRows += Row(w1, w2, c)))
    writeRows(spark, s"$path/bi",
      StructType(Seq(sStr("w1"), sStr("w2"), sLong("c"))), biRows.toSeq)
    val triRows = scala.collection.mutable.ArrayBuffer[Row]()
    model.tri.forEach((w1, l2) => l2.forEach((w2, l3) =>
      l3.forEach((w3, c) => triRows += Row(w1, w2, w3, c))))
    writeRows(spark, s"$path/tri",
      StructType(Seq(sStr("w1"), sStr("w2"), sStr("w3"), sLong("c"))), triRows.toSeq)
    val quadRows = scala.collection.mutable.ArrayBuffer[Row]()
    model.quad.forEach((ctx, inner) =>
      inner.forEach((w4, c) => quadRows += Row(ctx, w4, c)))
    writeRows(spark, s"$path/quad",
      StructType(Seq(sStr("ctx"), sStr("w4"), sLong("c"))), quadRows.toSeq)
    writeRows(spark, s"$path/meta",
      StructType(Seq(sLong("n_tokens"), sLong("v_size"))),
      Seq(Row(model.nTokens, model.vSize)))
  }

  /** Union-of-columns schema for the ONE-scan model load below: every
    * persisted table's columns, all nullable — the parquet reader
    * fills columns absent from a given file with NULLs, so the five
    * (or, for KN, eight) capacity-bounded tables read as one relation
    * discriminated by `input_file_name()`.
    */
  private val loadSchema = StructType(Seq(
    StructField("w", StringType), StructField("c", LongType),
    StructField("w1", StringType), StructField("w2", StringType),
    StructField("w3", StringType), StructField("ctx", StringType),
    StructField("w4", StringType), StructField("n_tokens", LongType),
    StructField("v_size", LongType), StructField("f", LongType),
    StructField("pair_count", LongType)))

  /** Read `tables` (subdirectories of `path`) in ONE multi-path scan +
    * ONE bounded collect, keyed back to their table by file path — the
    * r18 concurrent-futures load paid the per-job floor once per
    * OVERLAP WINDOW but still ran 5-8 jobs; one job reads them all
    * (r19, VERDICT r18 #3). Row ordinals: 0 = source path, then
    * [[loadSchema]]'s columns 1-11.
    */
  private def loadTables(spark: SparkSession, path: String,
                         tables: Seq[String]): Map[String, Array[Row]] = {
    val rows = spark.read.schema(loadSchema)
      .parquet(tables.map(t => s"$path/$t"): _*)
      .select((input_file_name().as("__src") +:
        loadSchema.fields.map(f => col(f.name))): _*)
      .collect()
    rows.groupBy { r =>
      // the table is the part file's IMMEDIATE parent directory — a
      // substring match would misfire when the model path itself ends
      // in a table name (e.g. .../quad/meta/part-0.parquet)
      val segs = r.getString(0).split('/')
      val parent = if (segs.length >= 2) segs(segs.length - 2) else ""
      if (tables.contains(parent)) parent
      else throw new IllegalStateException(
        s"unrecognized model file: ${r.getString(0)}")
    }.map { case (k, v) => k -> v.toArray }
  }

  private def modelFromTables(t: Map[String, Array[Row]]): BigramLmModel = {
    def rows(name: String): Array[Row] = t.getOrElse(name, Array.empty)
    val uni = new java.util.HashMap[String, Long]()
    rows("uni").foreach(r => uni.put(r.getString(1), r.getLong(2)))
    val bi = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
    rows("bi").foreach { r =>
      bi.computeIfAbsent(r.getString(3), _ => new java.util.HashMap[String, Long]())
        .put(r.getString(4), r.getLong(2))
    }
    val tri = new java.util.HashMap[String,
      java.util.HashMap[String, java.util.HashMap[String, Long]]]()
    rows("tri").foreach { r =>
      tri.computeIfAbsent(r.getString(3),
          _ => new java.util.HashMap[String, java.util.HashMap[String, Long]]())
        .computeIfAbsent(r.getString(4), _ => new java.util.HashMap[String, Long]())
        .put(r.getString(5), r.getLong(2))
    }
    val quad = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
    rows("quad").foreach { r =>
      quad.computeIfAbsent(r.getString(6), _ => new java.util.HashMap[String, Long]())
        .put(r.getString(7), r.getLong(2))
    }
    val meta = rows("meta").head
    new BigramLmModel(uni, bi, meta.getLong(8), meta.getLong(9), tri, quad)
  }

  /** Load a model persisted by [[save]] — one scan + one collect,
    * bounded by the training caps the save inherited, never by any
    * corpus.
    */
  def load(spark: SparkSession, path: String): BigramLmModel =
    modelFromTables(loadTables(spark, path,
      Seq("uni", "bi", "tri", "quad", "meta")))

  /** Persist [[kneserNey]]'s derived statistics alongside their base
    * model (the base saves first; `knmeta` last = completion marker).
    */
  def saveKn(spark: SparkSession, model: KnModel, path: String): Unit = {
    save(spark, model.base, path)
    val sLong = (n: String) => StructField(n, LongType, nullable = false)
    val sStr = (n: String) => StructField(n, StringType, nullable = false)
    val fanRows = scala.collection.mutable.ArrayBuffer[Row]()
    model.fanout.forEach((w, f) => fanRows += Row(w, f))
    writeRows(spark, s"$path/fanout", StructType(Seq(sStr("w"), sLong("f"))), fanRows.toSeq)
    val contRows = scala.collection.mutable.ArrayBuffer[Row]()
    model.cont.forEach((w, c) => contRows += Row(w, c))
    writeRows(spark, s"$path/cont", StructType(Seq(sStr("w"), sLong("c"))), contRows.toSeq)
    writeRows(spark, s"$path/knmeta", StructType(Seq(sLong("pair_count"))),
      Seq(Row(model.pairCount)))
  }

  /** Load a [[KnModel]] persisted by [[saveKn]] — the base model's
    * five tables and the three KN tables read as ONE scan + ONE
    * bounded collect (see [[loadTables]]).
    */
  def loadKn(spark: SparkSession, path: String): KnModel = {
    val t = loadTables(spark, path,
      Seq("uni", "bi", "tri", "quad", "meta", "fanout", "cont", "knmeta"))
    val base = modelFromTables(t)
    val fanout = new java.util.HashMap[String, Long]()
    t.getOrElse("fanout", Array.empty[Row])
      .foreach(r => fanout.put(r.getString(1), r.getLong(10)))
    val cont = new java.util.HashMap[String, Long]()
    t.getOrElse("cont", Array.empty[Row])
      .foreach(r => cont.put(r.getString(1), r.getLong(2)))
    val pairs = t("knmeta").head.getLong(11)
    new KnModel(base, fanout, cont, pairs)
  }

  /** Derive interpolated Kneser-Ney statistics (Kneser & Ney 1995;
    * Chen & Goodman 1998 §2.7 — KenLM's default smoothing) from a
    * trained bigram model's PRUNED pair table: per-context fanout
    * N1+(v,·), per-word continuation counts N1+(·,w), total surviving
    * pairs N1+(·,·). Pure driver-side counting over the
    * capacity-bounded (≤ maxBigrams entries) collected table — no
    * extra corpus pass, no shuffle; the derived maps are bounded by
    * the same caps as the base model and broadcast with it.
    */
  def kneserNey(base: BigramLmModel): KnModel = {
    val fanout = new java.util.HashMap[String, Long]()
    val cont = new java.util.HashMap[String, Long]()
    var pairs = 0L
    base.bi.forEach { (w1, inner) =>
      fanout.put(w1, inner.size().toLong)
      pairs += inner.size()
      inner.keySet().forEach { w2 =>
        cont.merge(w2, 1L, (a, b) => a + b)
      }
    }
    new KnModel(base, fanout, cont, pairs)
  }

  /** Kneser-Ney perplexity column under [[kneserNey]]'s statistics —
    * the absolute-discount counterpart of [[perplexity]]'s
    * Jelinek-Mercer mix; same broadcast-once/score-row-locally shape.
    */
  def knPerplexity(df: DataFrame, model: KnModel, tokensCol: Column,
                   discount: Double = 0.75): Column = {
    require(discount > 0 && discount < 1, s"discount in (0, 1); got $discount")
    GraftFunctions.register(df.sparkSession)
    val bc = df.sparkSession.sparkContext.broadcast(model)
    org.apache.spark.sql.GraftColumnBridge.column(
      KnPerplexityBroadcast(bc, discount,
        org.apache.spark.sql.GraftColumnBridge.expression(tokensCol)))
  }

  /** Perplexity column over a token-array column under a trained model
    * (broadcast once per call; reuse the returned Column across
    * selects rather than re-calling per projection). `lambda3 > 0`
    * engages the model's trigram order ([[trainTrigramLm]]).
    */
  def perplexity(df: DataFrame, model: BigramLmModel, tokensCol: Column,
                 lambda: Double = 0.9, lambda3: Double = 0.0,
                 lambda4: Double = 0.0): Column = {
    require(lambda >= 0 && lambda < 1, s"lambda in [0, 1); got $lambda")
    require(lambda3 >= 0 && lambda3 < 1, s"lambda3 in [0, 1); got $lambda3")
    require(lambda4 >= 0 && lambda4 < 1, s"lambda4 in [0, 1); got $lambda4")
    GraftFunctions.register(df.sparkSession)
    val bc = df.sparkSession.sparkContext.broadcast(model)
    org.apache.spark.sql.GraftColumnBridge.column(
      BigramPerplexityBroadcast(bc, lambda,
        org.apache.spark.sql.GraftColumnBridge.expression(tokensCol), lambda3,
        lambda4))
  }
}
