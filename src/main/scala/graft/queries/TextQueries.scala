package graft.queries

import graft.Tables._
import graft.functions.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` and `events`:
  * dedup (exact / fingerprint / n-gram Jaccard / MinHash-LSH / SimHash),
  * text analysis (token stats, language ID, quality score), event-stream
  * batch analytics (tumbling windows, sessionization). EVERY gate query
  * here carries a DuckDB oracle and is hash-checked (rows + schema +
  * values); operators whose internals aren't portable SQL (xxhash64
  * sketches) are gated through portable md5 twins or exact-oracle
  * audits instead of weaker rows-only checks.
  */
object TextQueries {

  /** Exact dedup: hash group-by on full text, keep lowest doc_id. */
  def q30DedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(documents(s, d), col("text"), col("doc_id"))
      .select(col("keep_id").as("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  /** Token statistics per language. */
  def q31TokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(TF.tokenCount(col("text")).cast("long")).as("sum_tokens"),
           sum(length(col("text")).cast("long")).as("sum_chars"))
      .withColumn("avg_tokens", col("sum_tokens").cast("double") / col("n_docs"))
      .orderBy(col("lang"))

  /** Language-ID heuristic: marker n-gram hits per language. */
  def q32LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        TF.markerHits(col("text"), TF.EnMarkers).as("en_hits"),
        TF.markerHits(col("text"), TF.EsMarkers).as("es_hits"),
        TF.markerHits(col("text"), TF.DeMarkers).as("de_hits"),
        TF.langId(col("text")).as("predicted"),
        col("lang").as("labeled"))
      .orderBy(col("doc_id"))

  /** Quality scoring: deterministic branch-only score. */
  def q33Quality(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.avgTokenLen(col("text")).as("avg_token_len"),
        TF.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  /** BPE-ish token counting per document (training-data budgeting):
    * whitespace tokens vs GPT-2-style pre-tokens, plus the pre-token /
    * whitespace inflation ratio. Oracle-checked — the pattern is
    * RE2-compatible so DuckDB runs the identical regex.
    */
  def q78BpeTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("ws_tokens"),
        TF.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
      .withColumn("inflation",
        col("bpe_tokens").cast("double") / col("ws_tokens"))
      .orderBy(col("doc_id"))

  /** REAL BPE over a merge table learned from this corpus
    * ([[graft.functions.Bpe]] — one distributed word-count pass, a
    * driver-side Sennrich merge loop over the vocabulary-bounded
    * counts, then the broadcast encode expression). The iterative
    * merge application is not SQL-expressible, so the gate follows the
    * q37/q41 audit-sentinel pattern: DuckDB recomputes every exactly
    * recomputable component (doc count, character total, pre-token
    * total via the identical RE2 regex) and the BPE-specific numbers
    * enter as PINNED-TRUE invariant booleans — each proven as an exact
    * inequality over the real token totals on the Spark side
    * (pre ≤ tokens ≤ chars: merges act within pieces; compression:
    * 200 learned merges must shave ≥ 10% off the char count;
    * reconstruction: token concat must equal piece concat for every
    * document). The BpeSpec suite holds the hand-computed merge
    * fixture and the per-row reference parity.
    */
  def q110BpeReal(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val merges = graft.functions.Bpe.learnFromCorpus(docs, "text", numMerges = 200)
    val enc = docs.select(
      graft.functions.Bpe.bpeEncode(docs, col("text"), merges).as("toks"),
      TF.bpeTokenCount(col("text")).cast("long").as("pre"),
      length(col("text")).cast("long").as("chars"),
      concat_ws("", TF.bpeTokens(col("text"))).as("pjoined"))
    enc.agg(
        count(lit(1)).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        sum(col("pre")).as("total_pretokens"),
        sum(size(col("toks"))).as("t"),
        min((size(col("toks")) >= col("pre")) &&
            (size(col("toks")) <= col("chars"))).as("bounds_ok"),
        min(concat_ws("", col("toks")) === col("pjoined")).as("roundtrip_ok"))
      .select(col("n_docs"), col("total_chars"), col("total_pretokens"),
        col("bounds_ok"), col("roundtrip_ok"),
        (col("t") < col("total_chars") * lit(0.9)).as("compress_ok"))
  }

  /** TF-IDF: top-3 terms per document (doc_id < 50) by smoothed
    * tf·ln((N+1)/(df+1)). The emitted columns are exact integers
    * (tf, df, rank) — the transcendental ln only decides the RANKING,
    * which is stable across engines' last-ulp libm differences unless
    * two scores collide (ties break on term). One shuffle for tf, one
    * for df, df re-joined on the term key; at scale df is the small
    * side (vocabulary) and broadcasts.
    */
  def q79Tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val n = docs.select(count(lit(1)).as("n"))
    // ONE explode + one (doc, term) shuffle feed both aggregates: tf is
    // the doc_id<50 slice of the pair counts, and df — which must come
    // from the FULL corpus, not the slice — is a plain count over the
    // already-distinct (doc, term) pairs (equivalent to the previous
    // countDistinct formulation, minus its extra explode pass and
    // two-phase distinct aggregation; the pair exchange is reused by
    // both consumers).
    val pairCnt = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val tf = pairCnt.filter(col("doc_id") < 50)
    val df = pairCnt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Corpus-frequency rarity scoring
    * ([[graft.functions.TextFunctions.corpusFrequencyScores]], the
    * CCNet-style LM-quality proxy): the gate checks the INTEGER
    * columns (token count + harmonic rarity — exact div arithmetic both
    * engines); the transcendental cross_entropy companion stays out of
    * the hash (tests assert its ranking agrees).
    */
  def q97Rarity(s: SparkSession, d: String): DataFrame =
    TF.corpusFrequencyScores(documents(s, d), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n_tokens"), col("rarity"))
      .orderBy(col("doc_id"))

  /** HTML stripping ([[graft.functions.TextFunctions.stripHtml]]):
    * both engines wrap every document in the same synthetic markup
    * (tags + a script block + escaped entities), strip it, and must
    * produce byte-identical clean text — so the whole
    * strip/unescape/collapse chain is verified, not just its behavior
    * on tag-free input.
    */
  def q98HtmlStrip(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        TF.stripHtml(concat(
          lit("<div class=\"doc\"><p>"), col("text"),
          lit("</p><script>var a = 1 < 2;</script><!-- note --> " +
            "&amp;amp; &lt;b&gt; &nbsp;tail</div>"))).as("clean"))
      .orderBy(col("doc_id"))

  /** URL extraction + normalization
    * ([[graft.functions.TextFunctions.extractUrls]] /
    * [[TextFunctions.normalizeUrl]]): both engines append the same
    * synthetic URL tail to every document (mixed-case scheme/host, utm_*
    * tracking params, a #fragment, a trailing slash — every
    * normalization step provably fires), extract, normalize, and must
    * produce byte-identical URLs.
    */
  def q101UrlNormalize(s: SparkSession, d: String): DataFrame = {
    val wrapped = documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" see HTTPS://Example"), col("doc_id") % 7,
        lit(".COM/Path/?utm_source=feed&utm_id="), col("doc_id") % 5,
        lit("&ref="), col("doc_id") % 3,
        lit("#frag and http://plain.org/x"), col("doc_id") % 4,
        lit("/")).as("t"))
    wrapped
      .select(col("doc_id"), explode(TF.extractUrls(col("t"))).as("u"))
      .select(col("doc_id"), TF.normalizeUrl(col("u")).as("url"))
      .orderBy(col("doc_id"), col("url"))
  }

  /** Domain blocklist filtering
    * ([[graft.functions.TextFunctions.blockedByDomain]]): both engines
    * give every document two synthetic links — `exampleN.com` (exact
    * blocklist hit for N = 3) and `cdn.mirrorM.net` (SUBDOMAIN of the
    * blocked `mirror1.net` for M = 1, proving the suffix expansion) —
    * and must agree on every doc's blocked verdict. The blocklist entry
    * `MIRROR1.net` is deliberately mixed-case: both sides lowercase it.
    */
  def q103DomainBlock(s: SparkSession, d: String): DataFrame = {
    val wrapped = documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" http://Example"), col("doc_id") % 7, lit(".COM/a"),
        lit(" https://cdn.mirror"), col("doc_id") % 4, lit(".net/x")).as("t"))
    val blocklist = s.sql(
      "SELECT * FROM VALUES ('example3.com'), ('MIRROR1.net') AS b(domain)")
    val blocked = TF.blockedByDomain(wrapped, "doc_id", "t", blocklist)
      .withColumnRenamed("doc", "doc_id").withColumn("b", lit(true))
    wrapped.select(col("doc_id"),
        size(TF.extractUrls(col("t"))).cast("long").as("n_urls"))
      .join(blocked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_urls"),
        coalesce(col("b"), lit(false)).as("blocked"))
      .orderBy(col("doc_id"))
  }

  /** Line-level frequency dedup
    * ([[graft.functions.Dedup.dropFrequentLines]]): both engines wrap
    * every document in synthetic boilerplate — a universal header
    * (df = |corpus|), an every-other-doc footer (df = |corpus|/2), and a
    * `promo code N` line whose df is |corpus|/97 (UNDER the maxDf = 4
    * threshold at sf0.001, OVER it at sf0.01/sf0.1 — the cutoff provably
    * binds on real frequencies, both sides of it) — then drop lines with
    * document frequency > 4 and reassemble. Body lines survive,
    * boilerplate vanishes, byte-identically on both engines.
    */
  def q102LineDedup(s: SparkSession, d: String): DataFrame = {
    val wrapped = documents(s, d).select(col("doc_id"),
      concat_ws("\n",
        lit("home | about | contact"),
        when(col("doc_id") % 2 === 0, lit("subscribe to the newsletter")),
        concat(lit("promo code "), col("doc_id") % 97),
        col("text")).as("t"))
    Dedup.dropFrequentLines(wrapped, "doc_id", "t", maxDf = 4)
      .select(col("doc").as("doc_id"), col("clean_text"),
        col("n_lines"), col("n_kept"))
      .orderBy(col("doc_id"))
  }

  /** Training-mix rebalancing ([[graft.functions.Mix]]): deterministic
    * per-language down-sampling — keep 12/16 of en, 8/16 of es, 4/16 of
    * de, all of everything else. Row membership is the md5-prefix trick,
    * so DuckDB keeps the IDENTICAL rows and the gate hash-matches.
    */
  def q82LangRebalance(s: SparkSession, d: String): DataFrame =
    graft.functions.Mix.stratifiedSample(documents(s, d),
        col("lang"), col("doc_id"), Map("en" -> 12, "es" -> 8, "de" -> 4))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split ([[graft.functions.Mix.split]]):
    * 14/1/1 sixteenths by md5 first-hex-digit of the doc id — membership
    * is a pure function of the id, so the oracle reproduces the exact
    * per-row assignment (hash compare covers every row's label) and a
    * given document can never migrate between splits across runs or
    * corpus versions.
    */
  def q90Split(s: SparkSession, d: String): DataFrame =
    graft.functions.Mix.split(documents(s, d), col("doc_id"),
        Seq("train" -> 14, "val" -> 1, "test" -> 1))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))

  /** Exact n-gram (word-trigram) Jaccard near-dup pairs via the
    * PPJoin-filtered prefix index (prefix + length + positional
    * filters, row-local sorted-merge verification) — exact results,
    * scale-path plan. [[Dedup.jaccardPairs]] (inverted index) computes
    * the identical answer and remains the cross-check (DedupSpec).
    *
    * Corpus bound (r17, VERDICT r16 #2): this gate is the quadratic
    * VERIFICATION ORACLE certifying q35's LSH path — quadratic in
    * true-duplicate density BY ROLE. The `doc_id < 5000` slice is a
    * no-op at every gate SF (sf0.001/0.01 have 500 docs, sf0.1 exactly
    * 5,000 — results and hashes byte-identical), and at SF ≥ 1 it pins
    * the oracle to a FIXED deterministic slice (the full sf0.1
    * workload) so the suite's scale points stay runnable: at sf1 the
    * unbounded form was 49.6 s = 31% of the suite wall and sf10 would
    * be ~50 min. The DuckDB oracle text carries the identical slice.
    * The certification against q35 at gate SFs is unchanged (the slice
    * is the whole corpus there); at SF ≥ 1 the production operator is
    * q35 itself, which stays full-corpus.
    */
  def q34JaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairsPrefix(documents(s, d).filter(col("doc_id") < 5000),
        "doc_id", "text", k = 3, threshold = 0.6)
      .orderBy(col("doc_a"), col("doc_b"))

  /** MinHash+LSH near-dup pairs (the 100 TB path). Oracle-checked
    * against the EXACT Jaccard computation (same SQL as q34): the final
    * verification stage emits exact jaccard values, and 32 hashes × 8
    * bands find every J ≥ 0.6 pair on this corpus (asserted in
    * DedupSpec) — so the gate doubles as a banding-recall sentinel: if
    * LSH ever drops a true pair, the hash compare fails.
    */
  def q35MinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(documents(s, d), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.6)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Near-dup cluster summary: MinHash+LSH pairs (q35's operator) →
    * connected components ([[Dedup.connectedComponents]], min-label
    * propagation) → one row per cluster with its canonical id (minimum
    * member), size, and maximum member. The DuckDB oracle recomputes
    * the EXACT Jaccard pair set (q34/q35's SQL) and resolves components
    * independently with a recursive transitive-closure CTE — so the
    * gate proves banding recall (pairs match exact) AND the clustering
    * fixpoint (labels match min-reachable) in one hash compare.
    */
  def q89DedupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(documents(s, d), "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, threshold = 0.6)
    Dedup.connectedComponents(pairs)
      .groupBy(col("comp").as("cluster"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .orderBy(col("cluster"))
  }

  /** Token-budget mix ([[graft.functions.Mix.tokenBudget]]): keep en
    * docs up to 6k tokens and fr docs up to 2k tokens (hash-ordered,
    * deterministic), every other language whole. The oracle replays the
    * identical window cumsum over the identical md5 ordering, so the
    * kept set and every cumulative count hash-match.
    */
  def q93TokenBudget(s: SparkSession, d: String): DataFrame =
    graft.functions.Mix.tokenBudget(
        documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        col("lang"), col("doc_id"), col("n_tokens"),
        // budgets sized to BIND at every SF (en/fr corpus tokens exceed
        // them even at sf0.001), so the gate exercises the selection
        // boundary, not just the cumsum arithmetic
        Map("en" -> 6000L, "fr" -> 2000L))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))

  /** Sequence packing ([[graft.functions.Mix.packSequences]]): 512-token
    * packs over 16 hash-shard streams. The oracle replays the identical
    * shard assignment, stream order, cumulative offsets, and pack ids,
    * so every document's (shard, offset, pack) hash-matches.
    */
  def q94SequencePack(s: SparkSession, d: String): DataFrame =
    graft.functions.Mix.packSequences(
        documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        col("doc_id"), col("n_tokens"), seqLen = 512L)
      .select(col("doc_id"), col("n_tokens"), col("pack_shard"),
        col("pack_offset"), col("pack_id"))
      .orderBy(col("doc_id"))

  /** Temperature resampling ([[graft.functions.Mix.temperatureResample]],
    * alpha = 0.5): language shares move from p_i to √p_i (renormalized),
    * realized as deterministic md5-sixteenth repeats/drops. The oracle
    * replays the whole construction — counts, the decimal-exact Z sum,
    * the identical double-op-order factor, the md5 digit, the copy
    * explosion — so every (doc, copy) row hash-matches.
    */
  def q95Temperature(s: SparkSession, d: String): DataFrame =
    graft.functions.Mix.temperatureResample(
        documents(s, d).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), alpha = 0.5, copyCol = "copy_id")
      .orderBy(col("doc_id"), col("copy_id"))

  /** Per-language quality-percentile gate
    * ([[graft.functions.Mix.topFractionByScore]]): keep each language's
    * top half by token count, ties broken by (md5(id), id). The oracle
    * replays the identical rank-and-ceil construction.
    */
  def q96QualityFilter(s: SparkSession, d: String): DataFrame =
    graft.functions.Mix.topFractionByScore(
        documents(s, d).select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("score")),
        col("lang"), col("score"), col("doc_id"), keepFraction = 0.5)
      .orderBy(col("doc_id"))

  /** Cross-corpus near-dup decontamination
    * ([[Dedup.minhashNearDupsBetween]]): docs 0-49 stand in for a
    * held-out benchmark, the rest is the training corpus; emit every
    * (corpus doc, benchmark doc) pair with J ≥ 0.6 — the rows a
    * decontamination pass would drop from training. Oracle is the exact
    * cross-restricted Jaccard join, so the gate doubles as a
    * cross-banding recall sentinel (same argument as q35).
    */
  def q91CrossDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup.minhashNearDupsBetween(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", k = 3, numHashes = 32, bands = 8, threshold = 0.6)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact decontamination behind a Bloom prefilter
    * ([[Dedup.decontaminateExactBloom]]): benchmark = docs 0-49 plus
    * every 17th doc (a deterministic "benchmark leaked into training"
    * overlap, so drops are guaranteed at every SF); corpus = docs ≥ 50.
    * The Bloom filter is only a prefilter — misses skip the verify join
    * entirely, hits are exact-verified — so the result equals the plain
    * exact anti-join and the oracle IS that anti-join on the same
    * normalized-text fingerprint, independent of fpp. fpp is set
    * aggressively high (0.2, a deliberately tiny filter) so the
    * false-positive path provably exercises and still hash-matches.
    */
  def q100BloomDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 50 || col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") >= 50)
    Dedup.decontaminateExactBloom(corpus, bench, "text",
        expectedItems = 1 << 14, fpp = 0.2)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Span-level exact dedup ([[Dedup.dedupSpans]]): 20-token
    * non-overlapping windows, first global occurrence wins, documents
    * reassembled from surviving spans. The oracle replays the identical
    * construction (list slicing, two-step global-first resolution,
    * ordered string reassembly), so every byte of every cleaned
    * document hash-matches.
    */
  def q92SpanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.dedupSpans(documents(s, d), "doc_id", "text", width = 20)
      .withColumnRenamed("doc", "doc_id")
      .orderBy(col("doc_id"))

  /** SimHash signatures per document — the PORTABLE 60-bit md5 variant
    * ([[graft.functions.Dedup.simhashPortable]]), so the oracle
    * recomputes the exact signature in DuckDB SQL (per-bit ±1 majority
    * over distinct-token md5 hashes) and the gate hash-matches every
    * signature bit-for-bit. The xxhash64 fast path keeps its own gate
    * sentinel in q83.
    */
  def q36Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPortable(documents(s, d), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash invariant IN the gate (the q69/q80 pattern for hash-based
    * ops whose raw values are engine-internal): identical text must
    * collide to the same 64-bit simhash wherever it appears. The corpus
    * has no natural exact duplicates, so each document is cloned under a
    * shifted id inside the query — one invariant row per document,
    * signatures computed independently for original and clone across
    * different partitions. The oracle emits every (doc_id, doc_id +
    * 100000) pair with a literal TRUE; any nondeterminism or
    * row-position dependence in the signature fails the hash compare.
    */
  def q83SimhashInvariant(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val doubled = docs.unionAll(
      docs.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val sig = Dedup.simhash(doubled, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("simhash"))
    sig.as("sa")
      .join(sig.as("sb"), col("sa.doc_id") + 100000L === col("sb.doc_id"))
      .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"),
        (col("sa.simhash") === col("sb.simhash")).as("simhash_collides"))
      .orderBy(col("doc_a"))
  }

  /** Portable fingerprint dedup: md5 over normalized text (native
    * single-pass norm_fingerprint expression; output identical to the
    * DuckDB md5 ∘ regexp_replace ∘ trim ∘ lower oracle spelling).
    */
  def q38Fingerprint(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(s)
    documents(s, d)
      .groupBy(TF.fingerprintFast(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** PII scrubbing ([[graft.functions.TextFunctions.redactPii]]): the
    * corpus has no natural PII, so each document gets a deterministic
    * synthetic email + phone appended IN the query (the q83 clone
    * trick), redaction runs on that, and the oracle recomputes the
    * identical concat + RE2 regexes in DuckDB — redacted text
    * hash-matches character-for-character, and both engines re-scan the
    * output to prove nothing PII-shaped survived.
    */
  def q84PiiRedact(s: SparkSession, d: String): DataFrame = {
    val synth = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@mail.example.com or +1 555 010 "), col("doc_id"), lit("9"))
    documents(s, d)
      .select(col("doc_id"), TF.redactPii(synth).as("redacted"))
      .withColumn("clean",
        !col("redacted").rlike(TF.EmailRe) && !col("redacted").rlike(TF.PhoneRe))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing ([[graft.functions.TextFunctions.chunkWindows]]):
    * overlapping 40-token windows every 30 tokens, one row per chunk,
    * tail kept. Chunking is row-local (no shuffle at any scale); the
    * oracle regenerates the identical windows with DuckDB list slicing.
    */
  def q85Chunk(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        posexplode(TF.chunkWindows(col("text"), size = 40, stride = 30))
          .as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id"),
        col("c.chunk").as("chunk"), col("c.n_tokens").as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Benchmark-contamination screening: fraction of each document's
    * distinct word-trigram shingles that appear in a "benchmark" set
    * (docs 0-9 stand in for a held-out eval set). String shingles here
    * so the oracle replays the construction verbatim; the 100 TB path
    * swaps in `shingle_hashes` + a broadcast of the (small) benchmark
    * shingle set — same plan shape, 8-byte keys.
    */
  def q86Contamination(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(s)
    val docs = documents(s, d)
    def shingled(df: DataFrame) = df.select(col("doc_id"),
      explode(call_function("shingle_strings",
        TF.tokens(col("text")), lit(3))).as("s"))
    // ONE pass over the corpus with the native distinct-shingle-string
    // expression (the declarative transform/concat_ws form re-evaluates
    // the token split per element when interpreted); the benchmark side
    // explodes only its 10 docs (filter pushed before the explode),
    // broadcasts, and a single left join + aggregate produces both the
    // shingle count and the hit count (count(m) skips nulls).
    val bench = shingled(docs.filter(col("doc_id") < 10))
      .select(col("s")).distinct().withColumn("m", lit(1))
    shingled(docs)
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), count(col("m")).as("n_hit"))
      .select(col("doc_id"), col("n"), col("n_hit"),
        (col("n_hit").cast("double") / col("n")).as("containment"))
      .orderBy(col("doc_id"))
  }

  /** Gopher/C4-style repetition + shape filter: fraction of duplicated
    * word trigrams (high → boilerplate/spam) and uppercase-character
    * ratio, with the keep decision inline. Entirely row-local (native
    * `shingle_strings` supplies the distinct count — no shuffle at any
    * scale); the oracle recomputes both signals with identical
    * formulas.
    */
  def q88RepetitionFilter(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(s)
    val tok = TF.tokens(col("text"))
    val total = greatest(size(tok) - 2, lit(0))
    val distinctN = size(call_function("shingle_strings", tok, lit(3)))
    val dupFrac = when(total > 0,
      lit(1.0) - distinctN.cast("double") / total).otherwise(lit(0.0))
    val upperRatio = when(length(col("text")) > 0,
      (length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", "")))
        .cast("double") / length(col("text"))).otherwise(lit(0.0))
    documents(s, d).select(col("doc_id"),
        total.as("n_trigrams"), distinctN.as("n_distinct"),
        dupFrac.as("dup_frac"), upperRatio.as("upper_ratio"),
        (dupFrac <= 0.3 && upperRatio <= 0.3).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal plumbing: opaque binary payload + byte length + magic
    * prefix (hex of the first 4 bytes) — the metadata path an
    * image/audio column takes, demonstrated on text→binary.
    */
  def q42MultimodalMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        hex(substring(col("text").cast("binary"), 1, 4)).as("magic"))
      .orderBy(col("doc_id"))

  /** Tumbling 1-hour windows per event type (batch equivalent of the
    * streaming hourly aggregation in graft.streaming).
    */
  def q43EventsHourly(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("bucket"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** Sessionization: 30-minute inactivity gap splits sessions; counts
    * per user. lag + conditional-sum — one shuffle on user_id.
    */
  def q44Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** DSIR hashed n-gram importance features ([[graft.functions.Mix
    * .dsirScores]]): target = the corpus' English slice, source = the
    * whole corpus. The gate checks the INTEGER columns — n_grams plus
    * each doc's Σ target / Σ source bucket counts, which exercise the
    * full featurization (whitespace uni+bigrams, portable md5 bucket
    * hash, both count tables, the broadcast join back, the per-doc
    * aggregate); the transcendental logw stays out of the hash (q97's
    * cross_entropy precedent) and is covered by the resampling spec.
    */
  def q112DsirScores(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // self-target fusion (VERDICT r12 #4): target = the corpus' en
    // slice is a predicate over the source, so ONE featurization scan
    // feeds both count tables — identical results to the generic
    // two-scan dsirScores(docs, docs.filter(...)) by construction
    graft.functions.Mix.dsirScoresSelf(docs, col("lang") === "en",
        "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n_grams"), col("sum_t"),
        col("sum_s"))
      .orderBy(col("doc_id"))
  }

  /** Exact heavy hitters ([[graft.functions.TextFunctions
    * .topTokensExact]]): top-20 corpus tokens via per-partition
    * Misra-Gries candidates + an exact bounded recount. The oracle is
    * DuckDB's EXACT top-20 — hash-matching proves the two-pass sketch
    * path loses nothing (the MG guarantee holds: every gate corpus's
    * 20th frequency far exceeds N/4096).
    */
  def q114HeavyHitters(s: SparkSession, d: String): DataFrame =
    TF.topTokensExact(documents(s, d), "text", k = 20)

  /** Bigram heavy hitters — same two-pass machinery over adjacent token
    * pairs (the collocation/boilerplate-phrase view of the corpus); the
    * bigram space is quadratically larger than the vocabulary, which is
    * exactly the regime the bounded-candidate path exists for.
    */
  def q115BigramHitters(s: SparkSession, d: String): DataFrame =
    TF.topTokensExact(documents(s, d), "text", k = 20, ngram = 2)

  /** Gopher quality-rule bundle ([[graft.functions.TextFunctions
    * .gopherRules]], Rae et al. 2021): the seven MassiveText heuristics
    * as per-rule boolean columns plus the conjunction. Thresholds
    * calibrated to SPLIT this corpus (minWords=30 keeps ~80%,
    * minStopTypes=1 exercises the stop-word membership test on the
    * synthetic vocabulary); every flag is integer cross-multiplied
    * arithmetic, so DuckDB replays all seven rules bit-exactly.
    */
  def q122GopherRules(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        TF.gopherRules(col("text"), minWords = 30, minStopTypes = 1).as("g"))
      .select(col("doc_id"), col("g.*"))
      .orderBy(col("doc_id"))

  /** C4 line-level cleaning ([[graft.functions.TextFunctions.c4Clean]],
    * Raffel et al. 2020). The synthetic corpus is single-line, so the
    * gate builds a MULTI-LINE page per document in both engines (the
    * q84 synth pattern): the original text punctuated, a too-short
    * line, a kept second sentence, and doc_id-conditional "lorem
    * ipsum" / code-brace lines — every C4 rule fires somewhere in the
    * corpus, and the rebuilt clean_text + flags hash-match DuckDB.
    */
  def q123C4Clean(s: SparkSession, d: String): DataFrame = {
    val synth = concat(col("text"), lit(".\n"),
      when(col("doc_id") % 3 === 0,
        lit("lorem ipsum dolor sit amet placeholder text.\n")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("function f() { return javascript; }\n")).otherwise(lit("")),
      lit("too short\n"),
      lit("this second sentence carries enough words to survive!"))
    documents(s, d)
      .select(col("doc_id"), TF.c4Clean(synth).as("c"))
      .select(col("doc_id"), col("c.*"))
      .orderBy(col("doc_id"))
  }

  /** The YAML `clean` stage INSIDE the correctness gate (the q60
    * engine-in-gate pattern): the engine parses a YAML config with a
    * gopher clean stage and a sql aggregation stage, runs the pipeline
    * end-to-end, and DuckDB replays the same Gopher keep-filter +
    * aggregate by brute force — so the stage wiring (Config → CleanStage
    * → filter), not just the raw operator, is oracle-anchored.
    */
  def q125CleanPipeline(s: SparkSession, d: String): DataFrame = {
    val yaml =
      """
        |filters:
        |  - name: gopher_gate
        |    actionType: clean
        |    actionConfig: {method: gopher, text: text, minWords: 30, minStopTypes: 1}
        |  - name: per_lang
        |    actionType: sql
        |    code: "SELECT lang, COUNT(*) AS n_docs FROM df GROUP BY lang ORDER BY lang"
        |""".stripMargin
    graft.operators.Pipeline.runYaml(s, yaml, s"$d/documents.parquet", None).output
  }

  /** Unicode-script profile ([[graft.functions.TextFunctions
    * .scriptProfile]]) over synthetically multilingual pages (the q84
    * pattern: the ASCII corpus gains doc_id-conditional Cyrillic / Han /
    * Arabic / Hangul passages in BOTH engines) — integer per-script
    * counts and the deterministic dominant label hash-match; RE2 and
    * java.util.regex agree on \\p script classes (probed).
    */
  def q128ScriptProfile(s: SparkSession, d: String): DataFrame = {
    val synth = concat(col("text"),
      when(col("doc_id") % 4 === 0, lit(" Привет мир это тест")).otherwise(lit("")),
      when(col("doc_id") % 4 === 1, lit(" 你好世界这是一个测试和更多的字符在这里继续")).otherwise(lit("")),
      when(col("doc_id") % 8 === 2, lit(" مرحبا بالعالم")).otherwise(lit("")),
      when(col("doc_id") % 8 === 6, lit(" 안녕하세요 세계")).otherwise(lit("")))
    documents(s, d)
      .select(col("doc_id"), TF.scriptProfile(synth).as("p"))
      .select(col("doc_id"), col("p.*"))
      .orderBy(col("doc_id"))
  }

  /** Gopher repetition profile ([[graft.functions.TextFunctions
    * .repetitionProfile]]) over synthetically repetitive pages (the
    * q123 pattern): doc_id-conditional duplicate lines, duplicate
    * paragraphs and a spam-bigram run are appended in BOTH engines, so
    * every signal and flag varies across the corpus; DuckDB replays
    * the line/paragraph dup counts with list functions and the
    * top-bigram argmax with a window over the exploded grams —
    * integer columns and cross-multiplied flags hash-exact.
    */
  def q129RepetitionProfile(s: SparkSession, d: String): DataFrame = {
    val synth = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        lit("\nalpha beta gamma delta\nalpha beta gamma delta")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\n\nthe paragraph repeats here\n\nthe paragraph repeats here")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit(" spam spam spam spam spam spam spam spam")).otherwise(lit("")))
    documents(s, d)
      .select(col("doc_id"), TF.repetitionProfile(synth).as("r"))
      .select(col("doc_id"), col("r.*"))
      .orderBy(col("doc_id"))
  }

  /** CCNet head/middle/tail split ([[graft.functions.Mix
    * .qualityBuckets]]) composed with the corpus-frequency scorer: each
    * language's documents rank by the INTEGER rarity score (the
    * hash-exact twin of the cross-entropy LM proxy, q97) and split into
    * three equal-count buckets; the gate aggregates per (lang, bucket).
    * DuckDB replays the token counts, the rarity sum, and the ntile
    * over the identical (rarity, doc_id) order.
    */
  def q130QualityBuckets(s: SparkSession, d: String): DataFrame = {
    val scores = TF.corpusFrequencyScores(documents(s, d), "doc_id", "text")
      .join(documents(s, d).select(col("doc_id").as("doc"), col("lang")), "doc")
    graft.functions.Mix.qualityBuckets(
        scores, col("lang"), col("rarity"), col("doc"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rarity")).cast("long").as("sum_rarity"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** The windowless 100 TB bucket path ([[graft.functions.Mix
    * .qualityBucketsApprox]]) audited IN the gate against the exact
    * ntile (the q77/q41 audit pattern): DuckDB recomputes the exact
    * side bit-exact — row count and the Σ bucket·rarity checksum over
    * the exact assignment — while the Spark-only agreement booleans
    * (disagreement fraction ≤ 5%, disagreements adjacent-bucket only,
    * per-stratum approx bucket counts balanced, and the PLAN itself
    * window-free) are pinned TRUE sentinels. A broken approx path
    * (wrong cuts, wrong CASE direction, a window sneaking back in)
    * flips a boolean and fails the hash.
    */
  def q132BucketsApproxAudit(s: SparkSession, d: String): DataFrame = {
    // the rarity scoring (two token shuffles) feeds the exact side, the
    // approx side AND the audit joins — pin it once instead of paying
    // the lineage per consumer (the audit runs 3 actions)
    val scores = TF.corpusFrequencyScores(documents(s, d), "doc_id", "text")
      .join(documents(s, d).select(col("doc_id").as("doc"), col("lang")), "doc")
      .localCheckpoint()
    val exact = graft.functions.Mix.qualityBuckets(
        scores, col("lang"), col("rarity"), col("doc"))
      .select(col("doc"), col("lang"), col("rarity"), col("bucket").as("be"))
    val approx = graft.functions.Mix.qualityBucketsApprox(
      scores, col("lang"), col("rarity"))
    val windowless = !approx.queryExecution.executedPlan.toString.contains("Window")
    // materialized once (lazy checkpoint): the exact-window ⨝ approx
    // join feeds BOTH audit actions (the balance count and the final
    // aggregate) — without it the window + cut-point assignment + join
    // re-ran per action (r18 job shave; values unchanged)
    val j = exact.join(
      approx.select(col("doc").as("doc2"), col("bucket").as("ba")),
      col("doc") === col("doc2")).localCheckpoint(false)
    val byBucket = j.groupBy(col("lang"), col("ba")).agg(count(lit(1)).as("nb"))
    val byLang = j.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val balanceViolations = byBucket.join(byLang, "lang")
      .filter(abs(col("nb") - col("nl") / 3.0) >
        greatest(lit(2.0), col("nl") * 0.05)).count()
    j.agg(
      count(lit(1)).as("n_rows"),
      sum(col("be") * col("rarity")).cast("long").as("exact_checksum"),
      (sum(when(col("be") =!= col("ba"), 1L).otherwise(0L)) <=
        greatest(lit(2).cast("double"), count(lit(1)) * 0.05)).as("disagree_ok"),
      (max(abs(col("be") - col("ba"))) <= 1).as("adjacent_ok"))
      .withColumn("balance_ok", lit(balanceViolations == 0))
      .withColumn("windowless", lit(windowless))
  }

  /** The `rest` stage INSIDE the correctness gate (VERDICT r9 #6 — the
    * q125 engine-in-gate pattern applied to O14): a stub HTTP server in
    * this JVM answers `GET /score/<doc_id>` deterministically — 404
    * when doc_id ≡ 0 (mod 7), else a 200 whose body is the literal
    * integer `doc_id * 3 + 1` — and the engine runs a YAML pipeline of
    * derive (bound the call count) → rest (enrich, drop non-2xx) → sql
    * (aggregate the appended response column). DuckDB replays the whole
    * thing in closed form, so O14's ROW-COUNT semantics (drop on
    * non-2xx — the thing the oracle's count checks) AND the appended
    * body's content are both oracle-anchored, not just suite-asserted.
    * The stub lives for the whole JVM ([[RestStubServer]]), so the
    * returned DataFrame stays lazily evaluable.
    */
  /** Lazily-initialized per-JVM stub server (VERDICT r11 #2: booting a
    * fresh `HttpServer` + pool per invocation flaked under the bench's
    * 10 concurrent streams × 8 passes). Started ONCE on first use and
    * never torn down; the handler is deterministic and stateless, so
    * every invocation — concurrent or repeated — sees identical
    * behavior. The boot happens on a short-lived DAEMON thread because
    * the JDK server's dispatcher thread inherits daemon status from
    * the thread calling `start()` — a non-daemon dispatcher would hold
    * the forked Verify/Bench JVM open at exit (its internal timers are
    * already daemon, and the worker pool below is daemon by
    * construction).
    */
  private object RestStubServer {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    lazy val port: Int = {
      // TCP_NODELAY on the stub's sockets: without it the tiny
      // two-write responses (headers, then body) hit Nagle +
      // delayed-ACK and every keep-alive request stalls ~40 ms — 2000
      // calls took 10 s instead of under 1 (measured; the flag is the
      // JDK server's only knob)
      System.setProperty("sun.net.httpserver.nodelay", "true")
      @volatile var bound = -1
      @volatile var err: Throwable = null
      val boot = new Thread(() => {
        try {
          val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
          server.createContext("/score/", new HttpHandler {
            override def handle(ex: HttpExchange): Unit = {
              val id = ex.getRequestURI.getPath.stripPrefix("/score/").toLong
              if (id % 7 == 0) ex.sendResponseHeaders(404, -1)
              else {
                val bytes = String.valueOf(id * 3 + 1)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8)
                ex.sendResponseHeaders(200, bytes.length)
                ex.getResponseBody.write(bytes)
              }
              ex.close()
            }
          })
          val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
            r => { val t = new Thread(r, "graft-q131-stub"); t.setDaemon(true); t })
          server.setExecutor(pool)
          server.start()
          bound = server.getAddress.getPort
        } catch { case t: Throwable => err = t }
      }, "graft-q131-stub-boot")
      boot.setDaemon(true)
      boot.start()
      boot.join()
      if (err != null) throw err
      bound
    }
  }

  def q131RestPipeline(s: SparkSession, d: String): DataFrame = {
    val port = RestStubServer.port
    val yaml =
      s"""
         |filters:
         |  - name: bound
         |    actionType: derive
         |    actionConfig: {filter: "doc_id < 2000"}
         |  - name: enrich
         |    actionType: rest
         |    filterThreads: 8
         |    actionConfig: {host: "http://localhost:$port", path: "/score/{doc_id}"}
         |  - name: agg
         |    actionType: sql
         |    code: "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(CAST(response AS BIGINT)) AS BIGINT) AS total FROM df GROUP BY lang ORDER BY lang"
         |""".stripMargin
    graft.operators.Pipeline
      .runYaml(s, yaml, s"$d/documents.parquet", None).output
  }

  /** Quality-aware near-dup survivor selection ([[graft.functions.Dedup
    * .dropNearDuplicatesByScore]], r10): each duplicate cluster keeps
    * its LONGEST member (score = length(text), ties to the larger id)
    * instead of the default lowest-id policy. The oracle replays the
    * q89 pipeline — exact-Jaccard pairs, recursive-CTE components —
    * then elects the same representative with a two-step (max score,
    * then max id) and anti-joins the losers; the kept doc set
    * hash-matches row for row.
    */
  def q136DedupByScore(s: SparkSession, d: String): DataFrame =
    Dedup.dropNearDuplicatesByScore(documents(s, d), "doc_id", "text",
        length(col("text")), threshold = 0.6)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_kept"))
      .orderBy(col("doc_id"))

  /** Compression-ratio quality signal ([[graft.functions.TextFunctions
    * .compressionRatio]], r10 — Dolma/RefinedWeb's gzip heuristic),
    * gated with the q69 bounds-in-harness pattern (DEFLATE output is
    * not replayable in DuckDB, so the oracle pins TRUE sentinels + the
    * exact row count): every document's text gains a highly
    * compressible spam suffix in a second column, and the gate asserts
    * per-doc that the spammed version compresses strictly better, that
    * every ratio is positive and bounded, and that two independent
    * evaluations agree bit-for-bit (the determinism claim).
    */
  def q138CompressionRatio(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(s)
    val spammed = concat(col("text"), lit(" "),
      expr("repeat('spam ham jam ', 40)"))
    val rPlain = TF.compressionRatio(col("text"))
    val rPlain2 = TF.compressionRatio(concat(col("text"), lit("")))
    val rRep = TF.compressionRatio(spammed)
    documents(s, d)
      .select(col("doc_id"), rPlain.as("rp"), rPlain2.as("rp2"), rRep.as("rr"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(when(col("rr") < col("rp"), 1L).otherwise(0L)) === count(lit(1)))
          .as("rep_compresses_smaller"),
        (min(least(col("rp"), col("rr"))) > 0.0 &&
          max(greatest(col("rp"), col("rr"))) <= 1.25).as("ratios_bounded"),
        (max(abs(col("rp") - col("rp2"))) === 0.0).as("deterministic"))
  }

  /** Bigram-LM perplexity scoring (r13) — the CCNet quality signal
    * PRODUCED in-engine ([[graft.functions.NgramLm]]): train the
    * capacity-bounded LM on the corpus (maxVocab = 24, bigram
    * minCount = 2), score every document row-locally via the broadcast
    * model, emit per-doc token count + MILLI-perplexity (the ×1000
    * integer cast absorbs the ≤1-ulp ln/exp divergence between JVM and
    * libm — raw doubles would hash-mismatch bitwise) plus three exact
    * model-conservation constants. maxVocab = 24 sits BELOW the
    * synthetic corpus's 31 distinct tokens, so the UNK fold (election
    * ties, tail folding, UNK-context scoring) is exercised, not just
    * declared. The DuckDB oracle REPLAYS THE WHOLE
    * MODEL — vocabulary election (count-desc, token tiebreak), UNK
    * folding, bigram pruning, the Jelinek-Mercer per-token probability
    * and the per-doc fold — so any deviation in training or scoring
    * breaks the hash, not just the sentinels. maxBigrams (2^20) is
    * deliberately non-binding at gate SFs; `n_bigrams` goes loud if it
    * ever binds.
    */
  def q147NgramPpl(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val lm = graft.functions.NgramLm.trainBigramLm(
      docs, toksCol, maxVocab = 24, minCount = 2)
    val ppl = graft.functions.NgramLm.perplexity(docs, lm, toksCol, lambda = 0.9)
    var nBigrams = 0L
    lm.bi.values().forEach(m => nBigrams += m.size())
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(ppl * 1000).cast("long").as("ppl_milli"))
      .withColumn("n_tokens_total", lit(lm.nTokens))
      .withColumn("v_size", lit(lm.vSize))
      .withColumn("n_bigrams", lit(nBigrams))
      .orderBy(col("doc_id"))
  }

  /** Trigram-LM perplexity (r13, the order-3 upgrade of q147):
    * [[graft.functions.NgramLm.trainTrigramLm]] adds pruned trigram
    * counts over the same UNK-mapped stream, and scoring interpolates
    * recursively — λ3·c(u,v,w)/c(u,v) into the bigram estimate,
    * backing off through the PRUNED bigram table when the context pair
    * was pruned. Same replay discipline as q147: the DuckDB oracle
    * recomputes the whole order-3 model (one more count CTE + the
    * three-level probability CASE) so the added order is hash-anchored,
    * not sentinel-waved; `n_trigrams` goes loud if the cap ever binds.
    */
  def q149TrigramPpl(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val lm = graft.functions.NgramLm.trainTrigramLm(
      docs, toksCol, maxVocab = 24, minCount = 2)
    val ppl = graft.functions.NgramLm.perplexity(docs, lm, toksCol,
      lambda = 0.9, lambda3 = 0.5)
    var nTrigrams = 0L
    lm.tri.values().forEach(_.values().forEach(m => nTrigrams += m.size()))
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(ppl * 1000).cast("long").as("ppl_milli"))
      .withColumn("n_tokens_total", lit(lm.nTokens))
      .withColumn("v_size", lit(lm.vSize))
      .withColumn("n_trigrams", lit(nTrigrams))
      .orderBy(col("doc_id"))
  }

  /** 4-gram-LM perplexity (r13, the order-4 upgrade of q149):
    * [[graft.functions.NgramLm.trainQuadgramLm]] adds pruned 4-gram
    * counts over the same UNK-mapped stream; scoring interpolates one
    * further level — λ4·c(t,u,v,w)/c(t,u,v) into the trigram estimate,
    * backing off through the PRUNED trigram table when the context
    * triple was pruned (the identical recursion one order up). Same
    * replay discipline as q147/q149: the DuckDB oracle recomputes the
    * WHOLE order-4 model (one more count CTE, one more context column,
    * the four-level probability CASE) so the added order is
    * hash-anchored; `n_quadgrams` goes loud if the cap ever binds.
    */
  def q166QuadgramPpl(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val lm = graft.functions.NgramLm.trainQuadgramLm(
      docs, toksCol, maxVocab = 24, minCount = 2)
    // λ3 = λ4 = 0.5: (1 − λ) is EXACT in doubles, so the JVM's
    // runtime (1.0 - lambda) equals the oracle's literal — the q147
    // milli-rounding then only has the ln/exp ulp to absorb
    val ppl = graft.functions.NgramLm.perplexity(docs, lm, toksCol,
      lambda = 0.9, lambda3 = 0.5, lambda4 = 0.5)
    var nQuads = 0L
    lm.quad.values().forEach(m => nQuads += m.size())
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(ppl * 1000).cast("long").as("ppl_milli"))
      .withColumn("n_tokens_total", lit(lm.nTokens))
      .withColumn("v_size", lit(lm.vSize))
      .withColumn("n_quadgrams", lit(nQuads))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney perplexity (r13 — [[graft.functions
    * .NgramLm.kneserNey]]): the absolute-discount smoothing KenLM
    * ships by default (Kneser & Ney 1995, Chen & Goodman 1998 §2.7),
    * over the same capacity-bounded bigram model as q147. The KN
    * statistics — per-context fanout N1+(v,·), continuation counts
    * N1+(·,w), surviving-pair mass — derive from the PRUNED pair
    * table driver-side (zero extra passes). maxBigrams = 500 sits
    * BELOW the corpus's 625 distinct UNK-mapped pairs at every SF
    * (near-uniform synthetic counts make minCount SF-dependent; the
    * cap is not), so the discount floor max(c2−D,0) = 0 and the
    * capped-fanout backoff weight are exercised, not just declared.
    * The DuckDB oracle replays the WHOLE construction — election,
    * UNK fold, prune+cap (count-desc, pair tiebreak), fanout/
    * continuation counting, the exact KN probability and per-doc
    * fold — with the q147 milli-rounding ulp treatment.
    */
  def q151KneserNey(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val lm = graft.functions.NgramLm.trainBigramLm(
      docs, toksCol, maxVocab = 24, minCount = 2, maxBigrams = 500)
    val kn = graft.functions.NgramLm.kneserNey(lm)
    val ppl = graft.functions.NgramLm.knPerplexity(docs, kn, toksCol, discount = 0.75)
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(ppl * 1000).cast("long").as("ppl_milli"))
      .withColumn("n_pairs", lit(kn.pairCount))
      .withColumn("v_size", lit(lm.vSize))
      .withColumn("n_fan", lit(kn.fanout.size().toLong))
      .withColumn("n_cont", lit(kn.cont.size().toLong))
      .orderBy(col("doc_id"))
  }

  /** Persisted-LM key ([[graft.Memo.persisted]]): documents.parquet at
    * its snapshot (file metadata, zero jobs — VERDICT r15) plus the
    * training parameters, so a stale model can't serve a new corpus.
    */
  private def lmKey(d: String, params: String): String =
    s"${graft.Memo.versioned(s"$d/documents.parquet")}|$params"

  /** PERSISTED-LM probe (r15, VERDICT r14 #1): the q104/q168-q170
    * amortization applied to the LM family — [[graft.functions.NgramLm
    * .trainQuadgramLm]]'s full order-4 model is written once per
    * corpus snapshot ([[graft.functions.NgramLm.save]]: uni/bi/tri/
    * quad/meta parquet, every table bounded by the training caps) and
    * every later job loads + scores, so the gate and the bench price
    * SERVING — the CCNet steady state, where the KenLM model trains
    * once on trusted text and ships to every scoring job. The maps
    * hold exact Longs and strings, so a reloaded model scores
    * bit-identically to a fresh one and the gate hash is stable no
    * matter which run populated the model; the oracle is q166's FULL
    * order-4 replay, so the persisted path is hash-anchored end to
    * end, not sentinel-waved.
    */
  def q179LmPersisted(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val path = graft.Memo.persisted("quad_lm", lmKey(d, "v=24|mc=2|o=4"), "meta")(
      graft.functions.NgramLm.save(s, graft.functions.NgramLm.trainQuadgramLm(
        docs, toksCol, maxVocab = 24, minCount = 2), _))
    val lm = graft.functions.NgramLm.load(s, path)
    val ppl = graft.functions.NgramLm.perplexity(docs, lm, toksCol,
      lambda = 0.9, lambda3 = 0.5, lambda4 = 0.5)
    var nQuads = 0L
    lm.quad.values().forEach(m => nQuads += m.size())
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(ppl * 1000).cast("long").as("ppl_milli"))
      .withColumn("n_tokens_total", lit(lm.nTokens))
      .withColumn("v_size", lit(lm.vSize))
      .withColumn("n_quadgrams", lit(nQuads))
      .orderBy(col("doc_id"))
  }

  /** PERSISTED Kneser-Ney probe (r15; fills the q175 numbering gap the
    * r14 verdict flagged): [[graft.functions.NgramLm.saveKn]] writes
    * the base bigram model plus the derived fanout/continuation
    * statistics once per corpus snapshot; later jobs load + score.
    * Same exact-Long round-trip argument as [[q179LmPersisted]]; the
    * oracle is q151's full KN replay, so election, prune+cap, derived
    * statistics and the discounted probability all stay hash-anchored
    * through the persistence round-trip.
    */
  def q175KnPersisted(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val path = graft.Memo.persisted("kn_lm", lmKey(d, "v=24|mc=2|mb=500|kn"), "knmeta")(
      graft.functions.NgramLm.saveKn(s, graft.functions.NgramLm.kneserNey(
        graft.functions.NgramLm.trainBigramLm(
          docs, toksCol, maxVocab = 24, minCount = 2, maxBigrams = 500)), _))
    val kn = graft.functions.NgramLm.loadKn(s, path)
    val ppl = graft.functions.NgramLm.knPerplexity(docs, kn, toksCol, discount = 0.75)
    docs.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(ppl * 1000).cast("long").as("ppl_milli"))
      .withColumn("n_pairs", lit(kn.pairCount))
      .withColumn("v_size", lit(kn.base.vSize))
      .withColumn("n_fan", lit(kn.fanout.size().toLong))
      .withColumn("n_cont", lit(kn.cont.size().toLong))
      .orderBy(col("doc_id"))
  }

  /** Multinomial Naive Bayes text classifier (r13 — [[graft.functions
    * .TextClassifier]]): the supervised model-based quality/domain
    * filter of the CCNet/GPT-3 pipeline family, in its exactly-
    * countable form — training is pure counting (one (label, token)
    * shuffle + the vocab election/UNK fold), scoring is a row-local
    * broadcast-model sum of count-ratio logs. Binary en-vs-other on
    * the documents corpus; per-doc per-class log-likelihoods milli-
    * rounded (the q147 ulp treatment). The DuckDB oracle replays the
    * ENTIRE classifier — election, fold, class counts, priors, add-one
    * likelihoods, per-doc fold — plus five exact conservation
    * constants (class doc/token totals and the shared vocab size), so
    * both training and scoring are hash-anchored. maxVocab = 24 < the
    * corpus's 31 distinct tokens keeps the UNK path exercised.
    */
  def q150NbClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toksCol = split(col("text"), " ")
    val labeled = docs.withColumn("lbl",
      when(col("lang") === "en", "en").otherwise("other"))
    val m = graft.functions.TextClassifier.trainNaiveBayes(
      labeled, col("lbl"), toksCol, maxVocab = 24)
    val scores = graft.functions.TextClassifier.nbLogScores(labeled, m, toksCol)
    labeled.select(col("doc_id"), size(toksCol).cast("long").as("n_toks"),
        round(element_at(scores, 1) * 1000).cast("long").as("lp_en_milli"),
        round(element_at(scores, 2) * 1000).cast("long").as("lp_other_milli"))
      .withColumn("n_docs_en", lit(m.docsPerClass(0)))
      .withColumn("n_docs_other", lit(m.docsPerClass(1)))
      .withColumn("n_tok_en", lit(m.tokTotals(0)))
      .withColumn("n_tok_other", lit(m.tokTotals(1)))
      .withColumn("v_size", lit(m.vSize))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window exact-substring dedup (r13 — [[graft.functions
    * .Dedup.dedupSubstrings]], the any-alignment ExactSubstr form of
    * Lee et al. 2022): every 20-token window at every offset, first
    * global occurrence wins, covered tokens of non-first duplicates
    * removed, documents rebuilt. The DuckDB oracle replays the whole
    * construction — md5 window keys, (doc, i) first-occurrence
    * election, coverage via an interval join, ordered reassembly — so
    * the gate hash pins both the marking AND the rebuild, token for
    * token. Integer/string outputs only; nothing float-fragile.
    */
  def q148SubstrDedup(s: SparkSession, d: String): DataFrame =
    graft.functions.Dedup.dedupSubstrings(documents(s, d), "doc_id", "text", k = 20)
      .orderBy(col("doc"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_rest_pipeline"  -> (q131RestPipeline _),
    "q136_dedup_by_score" -> (q136DedupByScore _),
    "q138_compression_ratio" -> (q138CompressionRatio _),
    "q147_ngram_ppl"      -> (q147NgramPpl _),
    "q148_substr_dedup"   -> (q148SubstrDedup _),
    "q149_trigram_ppl"    -> (q149TrigramPpl _),
    "q166_quadgram_ppl"   -> (q166QuadgramPpl _),
    "q151_kneser_ney"     -> (q151KneserNey _),
    "q179_lm_persisted"   -> (q179LmPersisted _),
    "q175_kn_persisted"   -> (q175KnPersisted _),
    "q150_nb_classifier"  -> (q150NbClassifier _),
    "q132_buckets_approx" -> (q132BucketsApproxAudit _),
    "q112_dsir_scores"    -> (q112DsirScores _),
    "q122_gopher_rules"   -> (q122GopherRules _),
    "q123_c4_clean"       -> (q123C4Clean _),
    "q125_clean_pipeline" -> (q125CleanPipeline _),
    "q128_script_profile" -> (q128ScriptProfile _),
    "q129_repetition_profile" -> (q129RepetitionProfile _),
    "q130_quality_buckets"  -> (q130QualityBuckets _),
    "q114_heavy_hitters"  -> (q114HeavyHitters _),
    "q115_bigram_hitters" -> (q115BigramHitters _),
    "q30_dedup_exact"     -> (q30DedupExact _),
    "q31_token_stats"     -> (q31TokenStats _),
    "q32_lang_id"         -> (q32LangId _),
    "q33_quality_score"   -> (q33Quality _),
    "q34_jaccard_pairs"   -> (q34JaccardPairs _),
    "q35_minhash_lsh"     -> (q35MinhashLsh _),
    "q89_dedup_clusters"  -> (q89DedupClusters _),
    "q90_split"           -> (q90Split _),
    "q91_cross_dedup"     -> (q91CrossDedup _),
    "q100_bloom_decontam" -> (q100BloomDecontam _),
    "q92_span_dedup"      -> (q92SpanDedup _),
    "q93_token_budget"    -> (q93TokenBudget _),
    "q94_sequence_pack"   -> (q94SequencePack _),
    "q95_temperature"     -> (q95Temperature _),
    "q96_quality_filter"  -> (q96QualityFilter _),
    "q97_rarity"          -> (q97Rarity _),
    "q98_html_strip"      -> (q98HtmlStrip _),
    "q101_url_normalize"  -> (q101UrlNormalize _),
    "q102_line_dedup"     -> (q102LineDedup _),
    "q103_domain_block"   -> (q103DomainBlock _),
    "q36_simhash"         -> (q36Simhash _),
    "q38_fingerprint"     -> (q38Fingerprint _),
    "q42_multimodal_meta" -> (q42MultimodalMeta _),
    "q43_events_hourly"   -> (q43EventsHourly _),
    "q44_sessionize"      -> (q44Sessionize _),
    "q78_bpe_tokens"      -> (q78BpeTokens _),
    "q110_bpe_real"       -> (q110BpeReal _),
    "q84_pii_redact"      -> (q84PiiRedact _),
    "q85_chunk"           -> (q85Chunk _),
    "q86_contamination"   -> (q86Contamination _),
    "q88_repetition"      -> (q88RepetitionFilter _),
    "q79_tfidf"           -> (q79Tfidf _),
    "q82_lang_rebalance"  -> (q82LangRebalance _),
    "q83_simhash_invariant" -> (q83SimhashInvariant _),
  )

  /** DuckDB recomputation of the portable simhash (q36): distinct
    * tokens → low-60-bit md5 → per-bit ±1 majority → sign bits. The 60
    * SUM(CASE) columns and the reconstruction sum are generated here so
    * both engines share one bit-layout definition by construction.
    */
  private val simhashOracle: String = {
    val bitSums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val recon = (0 until 60).map(b =>
      s"(CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""
      WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      h AS (SELECT doc_id,
              CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS UBIGINT) AS BIGINT) AS h
            FROM tok),
      b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($recon AS BIGINT) AS simhash FROM b ORDER BY doc_id"""
  }

  private val baseSql: Map[String, String] = Map(
    "q36_simhash" -> simhashOracle,


    // q150: FULL classifier replay — vocabulary election, UNK fold,
    // per-class counts, priors, add-one likelihoods, per-doc fold;
    // milli-rounding absorbs ulp divergence (the q147 treatment)
    "q150_nb_classifier" -> """
      WITH tok AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END lbl,
                          string_split(text, ' ') ts FROM documents),
      lt AS (SELECT lbl, w, COUNT(*) c FROM (SELECT lbl, unnest(ts) w FROM tok) GROUP BY 1, 2),
      vocab AS (SELECT w FROM (SELECT w, SUM(c) tc FROM lt GROUP BY w) ORDER BY tc DESC, w LIMIT 24),
      cnts AS (SELECT lbl, CASE WHEN v.w IS NULL THEN chr(1) ELSE lt.w END wm, SUM(c) c
               FROM lt LEFT JOIN vocab v ON lt.w = v.w GROUP BY 1, 2),
      tots AS (SELECT lbl, SUM(c) tot FROM cnts GROUP BY lbl),
      vs AS (SELECT CAST(COUNT(DISTINCT wm) AS DOUBLE) v FROM cnts),
      docs_c AS (SELECT lbl, COUNT(*) n FROM tok GROUP BY lbl),
      toks2 AS (SELECT doc_id, len(ts) t, ts[i] wr FROM tok, UNNEST(range(1, len(ts) + 1)) tt(i)),
      mapped AS (SELECT doc_id, t, CASE WHEN v.w IS NULL THEN chr(1) ELSE wr END wm
                 FROM toks2 LEFT JOIN vocab v ON wr = v.w),
      sc AS (SELECT m.doc_id, m.t,
               SUM(ln((COALESCE(ce.c, 0) + 1.0) / (te.tot + vs.v))) lpe,
               SUM(ln((COALESCE(co.c, 0) + 1.0) / (tt2.tot + vs.v))) lpo
             FROM ((((mapped m CROSS JOIN vs)
             CROSS JOIN (SELECT CAST(tot AS DOUBLE) tot FROM tots WHERE lbl = 'en') te)
             CROSS JOIN (SELECT CAST(tot AS DOUBLE) tot FROM tots WHERE lbl = 'other') tt2)
             LEFT JOIN (SELECT wm, c FROM cnts WHERE lbl = 'en') ce ON m.wm = ce.wm)
             LEFT JOIN (SELECT wm, c FROM cnts WHERE lbl = 'other') co ON m.wm = co.wm
             GROUP BY m.doc_id, m.t)
      SELECT doc_id, CAST(t AS BIGINT) AS n_toks,
        CAST(ROUND((ln((SELECT n FROM docs_c WHERE lbl = 'en') * 1.0 /
                    (SELECT SUM(n) FROM docs_c)) + lpe) * 1000, 0) AS BIGINT) AS lp_en_milli,
        CAST(ROUND((ln((SELECT n FROM docs_c WHERE lbl = 'other') * 1.0 /
                    (SELECT SUM(n) FROM docs_c)) + lpo) * 1000, 0) AS BIGINT) AS lp_other_milli,
        (SELECT CAST(n AS BIGINT) FROM docs_c WHERE lbl = 'en') AS n_docs_en,
        (SELECT CAST(n AS BIGINT) FROM docs_c WHERE lbl = 'other') AS n_docs_other,
        (SELECT CAST(tot AS BIGINT) FROM tots WHERE lbl = 'en') AS n_tok_en,
        (SELECT CAST(tot AS BIGINT) FROM tots WHERE lbl = 'other') AS n_tok_other,
        (SELECT CAST(v AS BIGINT) FROM vs) AS v_size
      FROM sc ORDER BY doc_id""",

    // q148: full construction replay — md5 window keys at every offset,
    // first-occurrence election over (doc, i), interval-join coverage,
    // ordered token reassembly
    "q148_substr_dedup" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      w AS (SELECT doc_id, i, md5(array_to_string(ts[i:i+19], ' ')) h
            FROM tok, UNNEST(range(1, len(ts) - 18)) t(i)),
      r AS (SELECT doc_id, i,
              ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) rn FROM w),
      marked AS (SELECT doc_id, i FROM r WHERE rn > 1),
      tokpos AS (SELECT doc_id, j, ts[j] tokv
                 FROM tok, UNNEST(range(1, len(ts) + 1)) t(j)),
      kept AS (SELECT tp.doc_id, tp.j, tp.tokv FROM tokpos tp
               WHERE NOT EXISTS (SELECT 1 FROM marked m
                                 WHERE m.doc_id = tp.doc_id
                                   AND tp.j >= m.i AND tp.j < m.i + 20)),
      agg AS (SELECT doc_id, string_agg(tokv, ' ' ORDER BY j) ct, COUNT(*) nk
              FROM kept GROUP BY doc_id)
      SELECT t.doc_id AS doc, COALESCE(ct, '') AS clean_text,
             CAST(len(ts) AS BIGINT) AS n_toks,
             CAST(len(ts) - COALESCE(nk, 0) AS BIGINT) AS n_removed
      FROM tok t LEFT JOIN agg USING (doc_id) ORDER BY doc""",


    // q151: FULL Kneser-Ney replay — q147's election/fold CTEs, the
    // prune+cap (count-desc, pair tiebreak, LIMIT = maxBigrams),
    // fanout/continuation counting over the SURVIVING pairs, and the
    // interpolated-KN probability (discount floor, capped-fanout
    // backoff weight, add-one continuation distribution) with the
    // milli-rounding ulp treatment
    "q151_kneser_ney" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      u AS (SELECT w, COUNT(*) c FROM (SELECT unnest(ts) w FROM tok) GROUP BY w),
      vocab AS (SELECT w FROM u ORDER BY c DESC, w LIMIT 24),
      uni AS (SELECT CASE WHEN v.w IS NULL THEN chr(1) ELSE u.w END wm, SUM(c) c
              FROM u LEFT JOIN vocab v ON u.w = v.w GROUP BY 1),
      pairtab AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r
                  FROM tok, UNNEST(range(1, len(ts))) t(i)),
      bigraw AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                        CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2
                 FROM pairtab LEFT JOIN vocab v1 ON w1r = v1.w
                              LEFT JOIN vocab v2 ON w2r = v2.w),
      bigall AS (SELECT w1, w2, COUNT(*) c FROM bigraw GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      big AS (SELECT w1, w2, c FROM bigall ORDER BY c DESC, w1, w2 LIMIT 500),
      fan AS (SELECT w1, COUNT(*) f FROM big GROUP BY w1),
      cont AS (SELECT w2, COUNT(*) ct FROM big GROUP BY w2),
      consts AS (SELECT CAST((SELECT COUNT(*) FROM big) AS DOUBLE) p,
                        CAST((SELECT COUNT(*) FROM uni) AS DOUBLE) v),
      toks2 AS (SELECT doc_id, len(ts) t, i, ts[i] wr,
                       CASE WHEN i > 1 THEN ts[i-1] END prv
                FROM tok, UNNEST(range(1, len(ts) + 1)) tt(i)),
      m AS (SELECT doc_id, t, i,
              CASE WHEN vw.w IS NULL THEN chr(1) ELSE wr END wm,
              CASE WHEN i = 1 THEN NULL WHEN vp.w IS NULL THEN chr(1) ELSE prv END pm
            FROM toks2 LEFT JOIN vocab vw ON wr = vw.w
                       LEFT JOIN vocab vp ON prv = vp.w),
      sc AS (SELECT doc_id, t,
               CASE WHEN m.i = 1 THEN ln((COALESCE(cw.ct, 0) + 1.0) / (cs.p + cs.v))
                    WHEN up.c IS NOT NULL AND f.f IS NOT NULL THEN
                      ln(GREATEST(COALESCE(b.c, 0) - 0.75, 0) / up.c
                         + 0.75 * f.f / up.c * ((COALESCE(cw.ct, 0) + 1.0) / (cs.p + cs.v)))
                    ELSE ln((COALESCE(cw.ct, 0) + 1.0) / (cs.p + cs.v)) END lp
             FROM (m CROSS JOIN consts cs)
             LEFT JOIN uni up ON m.pm = up.wm
             LEFT JOIN fan f ON m.pm = f.w1
             LEFT JOIN big b ON b.w1 = m.pm AND b.w2 = m.wm
             LEFT JOIN cont cw ON m.wm = cw.w2)
      SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_toks,
             CAST(ROUND(EXP(-SUM(lp)/MAX(t)) * 1000, 0) AS BIGINT) AS ppl_milli,
             (SELECT CAST(p AS BIGINT) FROM consts) AS n_pairs,
             (SELECT CAST(v AS BIGINT) FROM consts) AS v_size,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM fan) AS n_fan,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cont) AS n_cont
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    // q149: the order-3 replay — q147's model CTEs plus the trigram
    // count CTE and the recursive-interpolation CASE (trigram term over
    // the PRUNED context-pair count, backing off to the bigram form)
    // q166: the order-4 replay — q149's CTEs plus the quadgram count
    // CTE, a third context column and the four-level recursive-
    // interpolation CASE (λ = 0.9, λ3 = λ4 = 0.5 — the halves are
    // exact in doubles, so the JVM's runtime 1−λ matches the literal)
    "q166_quadgram_ppl" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      u AS (SELECT w, COUNT(*) c FROM (SELECT unnest(ts) w FROM tok) GROUP BY w),
      vocab AS (SELECT w FROM u ORDER BY c DESC, w LIMIT 24),
      uni AS (SELECT CASE WHEN v.w IS NULL THEN chr(1) ELSE u.w END wm, SUM(c) c
              FROM u LEFT JOIN vocab v ON u.w = v.w GROUP BY 1),
      consts AS (SELECT CAST((SELECT SUM(c) FROM uni) AS DOUBLE) +
                        CAST((SELECT COUNT(*) FROM uni) AS DOUBLE) AS nv),
      pairtab AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r
                  FROM tok, UNNEST(range(1, len(ts))) t(i)),
      bigraw AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                        CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2
                 FROM pairtab LEFT JOIN vocab v1 ON w1r = v1.w
                              LEFT JOIN vocab v2 ON w2r = v2.w),
      big AS (SELECT w1, w2, COUNT(*) c FROM bigraw GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      tripl AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r, ts[i+2] w3r
                FROM tok, UNNEST(range(1, len(ts) - 1)) t(i)),
      trimap AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                        CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2,
                        CASE WHEN v3.w IS NULL THEN chr(1) ELSE w3r END w3
                 FROM tripl LEFT JOIN vocab v1 ON w1r = v1.w
                            LEFT JOIN vocab v2 ON w2r = v2.w
                            LEFT JOIN vocab v3 ON w3r = v3.w),
      tri AS (SELECT w1, w2, w3, COUNT(*) c FROM trimap GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
      quadpl AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r, ts[i+2] w3r, ts[i+3] w4r
                 FROM tok, UNNEST(range(1, len(ts) - 2)) t(i)),
      quadmap AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                         CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2,
                         CASE WHEN v3.w IS NULL THEN chr(1) ELSE w3r END w3,
                         CASE WHEN v4.w IS NULL THEN chr(1) ELSE w4r END w4
                  FROM quadpl LEFT JOIN vocab v1 ON w1r = v1.w
                              LEFT JOIN vocab v2 ON w2r = v2.w
                              LEFT JOIN vocab v3 ON w3r = v3.w
                              LEFT JOIN vocab v4 ON w4r = v4.w),
      quad AS (SELECT w1, w2, w3, w4, COUNT(*) c FROM quadmap
               GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2),
      toks4 AS (SELECT doc_id, len(ts) t, i, ts[i] wr,
                       CASE WHEN i > 1 THEN ts[i-1] END prv,
                       CASE WHEN i > 2 THEN ts[i-2] END prv2,
                       CASE WHEN i > 3 THEN ts[i-3] END prv3
                FROM tok, UNNEST(range(1, len(ts) + 1)) tt(i)),
      m AS (SELECT doc_id, t, i,
              CASE WHEN vw.w IS NULL THEN chr(1) ELSE wr END wm,
              CASE WHEN i = 1 THEN NULL WHEN vp.w IS NULL THEN chr(1) ELSE prv END pm,
              CASE WHEN i <= 2 THEN NULL WHEN vp2.w IS NULL THEN chr(1) ELSE prv2 END pm2,
              CASE WHEN i <= 3 THEN NULL WHEN vp3.w IS NULL THEN chr(1) ELSE prv3 END pm3
            FROM toks4 LEFT JOIN vocab vw ON wr = vw.w
                       LEFT JOIN vocab vp ON prv = vp.w
                       LEFT JOIN vocab vp2 ON prv2 = vp2.w
                       LEFT JOIN vocab vp3 ON prv3 = vp3.w),
      sc AS (SELECT doc_id, t,
               CASE WHEN m.i = 1 THEN ln((uw.c + 1.0) / cs.nv)
                    WHEN m.i = 2 THEN ln(0.9 * COALESCE(b.c, 0) / up.c
                                         + 0.1 * (uw.c + 1.0) / cs.nv)
                    WHEN m.i = 3 THEN ln(CASE WHEN b12.c IS NOT NULL
                            THEN 0.5 * COALESCE(t3.c, 0) / b12.c
                               + 0.5 * (0.9 * COALESCE(b.c, 0) / up.c
                                        + 0.1 * (uw.c + 1.0) / cs.nv)
                            ELSE 0.9 * COALESCE(b.c, 0) / up.c
                                 + 0.1 * (uw.c + 1.0) / cs.nv END)
                    ELSE ln(CASE WHEN t123.c IS NOT NULL
                            THEN 0.5 * COALESCE(q4.c, 0) / t123.c
                               + 0.5 * (CASE WHEN b12.c IS NOT NULL
                                        THEN 0.5 * COALESCE(t3.c, 0) / b12.c
                                           + 0.5 * (0.9 * COALESCE(b.c, 0) / up.c
                                                    + 0.1 * (uw.c + 1.0) / cs.nv)
                                        ELSE 0.9 * COALESCE(b.c, 0) / up.c
                                             + 0.1 * (uw.c + 1.0) / cs.nv END)
                            ELSE CASE WHEN b12.c IS NOT NULL
                                 THEN 0.5 * COALESCE(t3.c, 0) / b12.c
                                    + 0.5 * (0.9 * COALESCE(b.c, 0) / up.c
                                             + 0.1 * (uw.c + 1.0) / cs.nv)
                                 ELSE 0.9 * COALESCE(b.c, 0) / up.c
                                      + 0.1 * (uw.c + 1.0) / cs.nv END END)
               END lp
             FROM (m CROSS JOIN consts cs)
             JOIN uni uw ON m.wm = uw.wm
             LEFT JOIN uni up ON m.pm = up.wm
             LEFT JOIN big b ON b.w1 = m.pm AND b.w2 = m.wm
             LEFT JOIN big b12 ON b12.w1 = m.pm2 AND b12.w2 = m.pm
             LEFT JOIN tri t3 ON t3.w1 = m.pm2 AND t3.w2 = m.pm AND t3.w3 = m.wm
             LEFT JOIN tri t123 ON t123.w1 = m.pm3 AND t123.w2 = m.pm2 AND t123.w3 = m.pm
             LEFT JOIN quad q4 ON q4.w1 = m.pm3 AND q4.w2 = m.pm2
                              AND q4.w3 = m.pm AND q4.w4 = m.wm)
      SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_toks,
             CAST(ROUND(EXP(-SUM(lp)/MAX(t)) * 1000, 0) AS BIGINT) AS ppl_milli,
             (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_tokens_total,
             (SELECT COUNT(*) FROM uni) AS v_size,
             (SELECT COUNT(*) FROM quad) AS n_quadgrams
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    "q149_trigram_ppl" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      u AS (SELECT w, COUNT(*) c FROM (SELECT unnest(ts) w FROM tok) GROUP BY w),
      vocab AS (SELECT w FROM u ORDER BY c DESC, w LIMIT 24),
      uni AS (SELECT CASE WHEN v.w IS NULL THEN chr(1) ELSE u.w END wm, SUM(c) c
              FROM u LEFT JOIN vocab v ON u.w = v.w GROUP BY 1),
      consts AS (SELECT CAST((SELECT SUM(c) FROM uni) AS DOUBLE) +
                        CAST((SELECT COUNT(*) FROM uni) AS DOUBLE) AS nv),
      pairtab AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r
                  FROM tok, UNNEST(range(1, len(ts))) t(i)),
      bigraw AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                        CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2
                 FROM pairtab LEFT JOIN vocab v1 ON w1r = v1.w
                              LEFT JOIN vocab v2 ON w2r = v2.w),
      big AS (SELECT w1, w2, COUNT(*) c FROM bigraw GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      tripl AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r, ts[i+2] w3r
                FROM tok, UNNEST(range(1, len(ts) - 1)) t(i)),
      trimap AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                        CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2,
                        CASE WHEN v3.w IS NULL THEN chr(1) ELSE w3r END w3
                 FROM tripl LEFT JOIN vocab v1 ON w1r = v1.w
                            LEFT JOIN vocab v2 ON w2r = v2.w
                            LEFT JOIN vocab v3 ON w3r = v3.w),
      tri AS (SELECT w1, w2, w3, COUNT(*) c FROM trimap GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
      toks3 AS (SELECT doc_id, len(ts) t, i, ts[i] wr,
                       CASE WHEN i > 1 THEN ts[i-1] END prv,
                       CASE WHEN i > 2 THEN ts[i-2] END prv2
                FROM tok, UNNEST(range(1, len(ts) + 1)) tt(i)),
      m AS (SELECT doc_id, t, i,
              CASE WHEN vw.w IS NULL THEN chr(1) ELSE wr END wm,
              CASE WHEN i = 1 THEN NULL WHEN vp.w IS NULL THEN chr(1) ELSE prv END pm,
              CASE WHEN i <= 2 THEN NULL WHEN vp2.w IS NULL THEN chr(1) ELSE prv2 END pm2
            FROM toks3 LEFT JOIN vocab vw ON wr = vw.w
                       LEFT JOIN vocab vp ON prv = vp.w
                       LEFT JOIN vocab vp2 ON prv2 = vp2.w),
      sc AS (SELECT doc_id, t,
               CASE WHEN m.i = 1 THEN ln((uw.c + 1.0) / cs.nv)
                    WHEN m.i = 2 THEN ln(0.9 * COALESCE(b.c, 0) / up.c
                                         + 0.1 * (uw.c + 1.0) / cs.nv)
                    ELSE ln(CASE WHEN b12.c IS NOT NULL
                            THEN 0.5 * COALESCE(t3.c, 0) / b12.c
                               + 0.5 * (0.9 * COALESCE(b.c, 0) / up.c
                                        + 0.1 * (uw.c + 1.0) / cs.nv)
                            ELSE 0.9 * COALESCE(b.c, 0) / up.c
                                 + 0.1 * (uw.c + 1.0) / cs.nv END)
               END lp
             FROM (m CROSS JOIN consts cs)
             JOIN uni uw ON m.wm = uw.wm
             LEFT JOIN uni up ON m.pm = up.wm
             LEFT JOIN big b ON b.w1 = m.pm AND b.w2 = m.wm
             LEFT JOIN big b12 ON b12.w1 = m.pm2 AND b12.w2 = m.pm
             LEFT JOIN tri t3 ON t3.w1 = m.pm2 AND t3.w2 = m.pm AND t3.w3 = m.wm)
      SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_toks,
             CAST(ROUND(EXP(-SUM(lp)/MAX(t)) * 1000, 0) AS BIGINT) AS ppl_milli,
             (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_tokens_total,
             (SELECT COUNT(*) FROM uni) AS v_size,
             (SELECT COUNT(*) FROM tri) AS n_trigrams
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    // q147: FULL model replay — vocabulary election (count-desc, token
    // tiebreak, LIMIT = maxVocab), UNK folding (chr(1)), bigram counts
    // with the minCount prune, the Jelinek-Mercer per-token probability
    // and the per-doc fold; ppl_milli's integer cast absorbs the
    // ≤1-ulp ln/exp divergence between engines
    "q147_ngram_ppl" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      u AS (SELECT w, COUNT(*) c FROM (SELECT unnest(ts) w FROM tok) GROUP BY w),
      vocab AS (SELECT w FROM u ORDER BY c DESC, w LIMIT 24),
      uni AS (SELECT CASE WHEN v.w IS NULL THEN chr(1) ELSE u.w END wm, SUM(c) c
              FROM u LEFT JOIN vocab v ON u.w = v.w GROUP BY 1),
      consts AS (SELECT CAST((SELECT SUM(c) FROM uni) AS DOUBLE) +
                        CAST((SELECT COUNT(*) FROM uni) AS DOUBLE) AS nv),
      pairtab AS (SELECT doc_id, ts[i] w1r, ts[i+1] w2r
                  FROM tok, UNNEST(range(1, len(ts))) t(i)),
      bigraw AS (SELECT CASE WHEN v1.w IS NULL THEN chr(1) ELSE w1r END w1,
                        CASE WHEN v2.w IS NULL THEN chr(1) ELSE w2r END w2
                 FROM pairtab LEFT JOIN vocab v1 ON w1r = v1.w
                              LEFT JOIN vocab v2 ON w2r = v2.w),
      big AS (SELECT w1, w2, COUNT(*) c FROM bigraw GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      toks2 AS (SELECT doc_id, len(ts) t, i, ts[i] wr,
                       CASE WHEN i > 1 THEN ts[i-1] END prv
                FROM tok, UNNEST(range(1, len(ts) + 1)) tt(i)),
      m AS (SELECT doc_id, t, i,
              CASE WHEN vw.w IS NULL THEN chr(1) ELSE wr END wm,
              CASE WHEN i = 1 THEN NULL
                   WHEN vp.w IS NULL THEN chr(1) ELSE prv END pm
            FROM toks2 LEFT JOIN vocab vw ON wr = vw.w
                       LEFT JOIN vocab vp ON prv = vp.w),
      sc AS (SELECT doc_id, t,
               CASE WHEN m.i = 1 THEN ln((uw.c + 1.0) / cs.nv)
                    ELSE ln(0.9 * COALESCE(b.c, 0) / up.c
                            + 0.1 * (uw.c + 1.0) / cs.nv) END lp
             FROM (m CROSS JOIN consts cs)
             JOIN uni uw ON m.wm = uw.wm
             LEFT JOIN uni up ON m.pm = up.wm
             LEFT JOIN big b ON b.w1 = m.pm AND b.w2 = m.wm)
      SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_toks,
             CAST(ROUND(EXP(-SUM(lp)/MAX(t)) * 1000, 0) AS BIGINT) AS ppl_milli,
             (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_tokens_total,
             (SELECT COUNT(*) FROM uni) AS v_size,
             (SELECT COUNT(*) FROM big) AS n_bigrams
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    // DEFLATE isn't replayable in DuckDB — exact row count + pinned
    // TRUE sentinels (the q69 sketch-bound convention)
    "q138_compression_ratio" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             TRUE AS rep_compresses_smaller,
             TRUE AS ratios_bounded,
             TRUE AS deterministic
      FROM documents""",

    // Closed-form DuckDB replay of the rest-stage pipeline: the stub
    // server 404s doc_id ≡ 0 (mod 7) (→ the stage DROPS the row, O14's
    // row-count semantics) and answers doc_id*3+1 for the rest — both
    // are pure functions of doc_id, so the oracle needs no HTTP at all
    "q131_rest_pipeline" -> """
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(doc_id * 3 + 1) AS BIGINT) AS total
      FROM documents
      WHERE doc_id < 2000 AND doc_id % 7 <> 0
      GROUP BY lang ORDER BY lang""",

    // DuckDB recomputes the EXACT bucket side of the approx audit
    // bit-exact (q130's ntile replay + a bucket-weighted checksum);
    // the Spark-only agreement/plan booleans are pinned TRUE sentinels
    // (the q77 audit convention)
    "q132_buckets_approx" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      c AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
      r AS (SELECT doc_id, CAST(SUM(1000000 // cnt) AS BIGINT) AS rarity
            FROM tok JOIN c USING (t) GROUP BY doc_id),
      b AS (SELECT d.lang, r.rarity,
              ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY r.rarity, r.doc_id) AS bucket
            FROM r JOIN documents d USING (doc_id))
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(bucket * rarity) AS BIGINT) AS exact_checksum,
             TRUE AS disagree_ok, TRUE AS adjacent_ok,
             TRUE AS balance_ok, TRUE AS windowless
      FROM b""",

    // DuckDB replay of the repetition profile: list-function dup
    // counts, window argmax for the top bigram ((cnt, len) DESC, gram
    // ASC — the same tiebreak the Spark run-scan keeps), Gopher
    // thresholds cross-multiplied in integers
    "q129_repetition_profile" -> """
      WITH synth AS (
        SELECT doc_id,
          text ||
          (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'alpha beta gamma delta' ||
            chr(10) || 'alpha beta gamma delta' ELSE '' END) ||
          (CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) ||
            'the paragraph repeats here' || chr(10) || chr(10) ||
            'the paragraph repeats here' ELSE '' END) ||
          (CASE WHEN doc_id % 7 = 0
            THEN ' spam spam spam spam spam spam spam spam' ELSE '' END) AS x
        FROM documents),
      lin AS (
        SELECT doc_id, x,
          list_filter(string_split(x, chr(10)), l -> l <> '') AS lines,
          list_filter(string_split(x, chr(10) || chr(10)), p -> p <> '') AS paras
        FROM synth),
      base AS (
        SELECT doc_id, x,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
          CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) -
               COALESCE(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0)
            AS BIGINT) AS dup_line_chars,
          CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) AS BIGINT) AS line_chars,
          CAST(len(paras) - len(list_distinct(paras)) AS BIGINT) AS n_dup_paras,
          CAST(len(paras) AS BIGINT) AS n_paras,
          CAST(length(x) AS BIGINT) AS n_chars
        FROM lin),
      tok AS (SELECT doc_id, string_split(x, ' ') AS l FROM synth),
      big AS (SELECT doc_id, l[gi] || ' ' || l[gi + 1] AS g
              FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS gi FROM tok)),
      cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g),
      top AS (
        SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top2_chars
        FROM (SELECT doc_id, g, c, row_number() OVER (
                PARTITION BY doc_id ORDER BY c DESC, length(g) DESC, g) AS rn
              FROM cnt)
        WHERE rn = 1)
      SELECT b.doc_id, b.n_lines, b.n_dup_lines, b.dup_line_chars,
        b.n_dup_paras, COALESCE(t.top2_chars, 0) AS top2_chars,
        (10 * b.n_dup_lines <= 3 * b.n_lines) AS r_dup_lines,
        (5 * b.dup_line_chars <= b.line_chars) AS r_dup_line_chars,
        (10 * b.n_dup_paras <= 3 * b.n_paras) AS r_dup_paras,
        (5 * COALESCE(t.top2_chars, 0) <= b.n_chars) AS r_top_bigram,
        (10 * b.n_dup_lines <= 3 * b.n_lines
          AND 5 * b.dup_line_chars <= b.line_chars
          AND 10 * b.n_dup_paras <= 3 * b.n_paras
          AND 5 * COALESCE(t.top2_chars, 0) <= b.n_chars) AS keep
      FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
      ORDER BY b.doc_id""",

    // DuckDB replay of the script profile over the same synthetic
    // multilingual pages — RE2 \p{Script} classes, 'g' flag (DuckDB
    // regexp_replace is first-match by default; Spark's is global)
    "q128_script_profile" -> """
      WITH synth AS (
        SELECT doc_id,
          text ||
          (CASE WHEN doc_id % 4 = 0 THEN ' Привет мир это тест' ELSE '' END) ||
          (CASE WHEN doc_id % 4 = 1 THEN ' 你好世界这是一个测试和更多的字符在这里继续' ELSE '' END) ||
          (CASE WHEN doc_id % 8 = 2 THEN ' مرحبا بالعالم' ELSE '' END) ||
          (CASE WHEN doc_id % 8 = 6 THEN ' 안녕하세요 세계' ELSE '' END) AS x
        FROM documents),
      c AS (
        SELECT doc_id,
          CAST(length(x) - length(regexp_replace(x, '\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
          CAST(length(x) - length(regexp_replace(x, '\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
          CAST(length(x) - length(regexp_replace(x, '\p{Han}', '', 'g')) AS BIGINT) AS n_han,
          CAST(length(x) - length(regexp_replace(x, '\p{Arabic}', '', 'g')) AS BIGINT) AS n_arabic,
          CAST(length(x) - length(regexp_replace(x, '\p{Hangul}', '', 'g')) AS BIGINT) AS n_hangul
        FROM synth)
      SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_hangul,
        CASE
          WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND n_latin >= n_arabic
               AND n_latin >= n_hangul AND n_latin > 0 THEN 'latin'
          WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic
               AND n_cyrillic >= n_hangul AND n_cyrillic > 0 THEN 'cyrillic'
          WHEN n_han >= n_arabic AND n_han >= n_hangul AND n_han > 0 THEN 'han'
          WHEN n_arabic >= n_hangul AND n_arabic > 0 THEN 'arabic'
          WHEN n_hangul > 0 THEN 'hangul'
          ELSE 'none'
        END AS script
      FROM c ORDER BY doc_id""",

    // DuckDB brute-force replay of the YAML clean pipeline: the q122
    // Gopher rules as a keep-filter, then the aggregate stage
    "q125_clean_pipeline" -> """
      WITH w AS (
        SELECT doc_id, lang,
          list_filter(string_split(text, ' '), x -> x <> '') AS words,
          string_split(text, chr(10)) AS lines,
          CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
          CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell
        FROM documents),
      f AS (
        SELECT doc_id, lang, n_hash, n_ell,
          CAST(len(words) AS BIGINT) AS n_words,
          CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS n_chars,
          CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ell_end,
          (CAST(list_contains(words, 'the') AS INT) + CAST(list_contains(words, 'be') AS INT) +
           CAST(list_contains(words, 'to') AS INT) + CAST(list_contains(words, 'of') AS INT) +
           CAST(list_contains(words, 'and') AS INT) + CAST(list_contains(words, 'that') AS INT) +
           CAST(list_contains(words, 'have') AS INT) + CAST(list_contains(words, 'with') AS INT)) AS n_stop
        FROM w)
      SELECT lang, COUNT(*) AS n_docs
      FROM f
      WHERE n_words >= 30 AND n_words <= 100000
        AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
        AND 10 * (n_hash + n_ell) <= n_words
        AND 10 * n_bullet <= 9 * n_lines
        AND 10 * n_ell_end <= 3 * n_lines
        AND 5 * n_alpha >= 4 * n_words
        AND n_stop >= 1
      GROUP BY lang ORDER BY lang""",

    // DuckDB replay of the C4 line filters over the same synthetic
    // multi-line pages: terminal-punctuation + min-word line keep,
    // rebuilt clean_text, page-level red flags
    "q123_c4_clean" -> """
      WITH synth AS (
        SELECT doc_id,
          text || '.' || chr(10) ||
          (CASE WHEN doc_id % 3 = 0
            THEN 'lorem ipsum dolor sit amet placeholder text.' || chr(10) ELSE '' END) ||
          (CASE WHEN doc_id % 5 = 0
            THEN 'function f() { return javascript; }' || chr(10) ELSE '' END) ||
          'too short' || chr(10) ||
          'this second sentence carries enough words to survive!' AS page
        FROM documents),
      k AS (
        SELECT doc_id, page,
          list_filter(string_split(page, chr(10)),
            l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
              AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5) AS kept
        FROM synth)
      SELECT doc_id,
        array_to_string(kept, chr(10)) AS clean_text,
        CAST(len(kept) AS BIGINT) AS n_lines_kept,
        contains(lower(page), 'lorem ipsum') AS has_lorem,
        contains(page, '{') AS has_brace,
        contains(lower(page), 'javascript') AS has_js,
        (len(kept) >= 3 AND NOT contains(lower(page), 'lorem ipsum')
          AND NOT contains(page, '{')
          AND NOT contains(lower(page), 'javascript')) AS keep
      FROM k ORDER BY doc_id""",

    // DuckDB replay of all seven Gopher rules — same integer
    // cross-multiplied comparisons, same word/line splitting; COALESCE
    // covers list_sum's NULL-on-empty-list (Spark's aggregate inits 0)
    "q122_gopher_rules" -> """
      WITH w AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x <> '') AS words,
          string_split(text, chr(10)) AS lines,
          CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
          CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell
        FROM documents),
      f AS (
        SELECT doc_id, n_hash, n_ell,
          CAST(len(words) AS BIGINT) AS n_words,
          CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS n_chars,
          CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ell_end,
          (CAST(list_contains(words, 'the') AS INT) + CAST(list_contains(words, 'be') AS INT) +
           CAST(list_contains(words, 'to') AS INT) + CAST(list_contains(words, 'of') AS INT) +
           CAST(list_contains(words, 'and') AS INT) + CAST(list_contains(words, 'that') AS INT) +
           CAST(list_contains(words, 'have') AS INT) + CAST(list_contains(words, 'with') AS INT)) AS n_stop
        FROM w)
      SELECT doc_id, n_words,
        (n_words >= 30 AND n_words <= 100000) AS r_word_count,
        (3 * n_words <= n_chars AND n_chars <= 10 * n_words) AS r_mean_word_len,
        (10 * (n_hash + n_ell) <= n_words) AS r_symbol_ratio,
        (10 * n_bullet <= 9 * n_lines) AS r_bullet,
        (10 * n_ell_end <= 3 * n_lines) AS r_ellipsis,
        (5 * n_alpha >= 4 * n_words) AS r_alpha,
        (n_stop >= 1) AS r_stopwords,
        (n_words >= 30 AND n_words <= 100000
          AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
          AND 10 * (n_hash + n_ell) <= n_words
          AND 10 * n_bullet <= 9 * n_lines
          AND 10 * n_ell_end <= 3 * n_lines
          AND 5 * n_alpha >= 4 * n_words
          AND n_stop >= 1) AS keep
      FROM f ORDER BY doc_id""",

    "q84_pii_redact" -> s"""
      WITH synth AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@mail.example.com or +1 555 010 '
               || doc_id || '9' AS t
        FROM documents),
      r AS (SELECT doc_id,
        regexp_replace(regexp_replace(t, '${TF.EmailRe}', '<EMAIL>', 'g'),
                       '${TF.PhoneRe}', '<PHONE>', 'g') AS redacted
        FROM synth)
      SELECT doc_id, redacted,
        (NOT regexp_matches(redacted, '${TF.EmailRe}'))
          AND (NOT regexp_matches(redacted, '${TF.PhoneRe}')) AS clean
      FROM r ORDER BY doc_id""",

    "q85_chunk" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      c AS (SELECT doc_id, len(l) n, l,
              unnest(generate_series(0, CAST((len(l) - 1) // 30 AS INT))) s
            FROM tok)
      SELECT doc_id, CAST(s AS INT) AS chunk_id,
        array_to_string(l[s*30+1 : least(s*30+40, n)], ' ') AS chunk,
        CAST(least(n - s*30, 40) AS INT) AS n_tokens
      FROM c ORDER BY doc_id, chunk_id""",

    "q88_repetition" -> """
      WITH tok AS (SELECT doc_id, text, string_split(text, ' ') l FROM documents),
      x AS (SELECT doc_id, text,
              greatest(len(l) - 2, 0) AS nt,
              len(list_distinct(list_transform(range(1, greatest(len(l) - 1, 1)),
                                               i -> array_to_string(l[i:i+2], ' ')))) AS nd
            FROM tok),
      y AS (SELECT doc_id, CAST(nt AS INT) AS n_trigrams, CAST(nd AS INT) AS n_distinct,
              CASE WHEN nt > 0 THEN 1.0 - CAST(nd AS DOUBLE) / nt ELSE 0.0 END AS dup_frac,
              CASE WHEN LENGTH(text) > 0
                   THEN CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                        / LENGTH(text)
                   ELSE 0.0 END AS upper_ratio
            FROM x)
      SELECT doc_id, n_trigrams, n_distinct, dup_frac, upper_ratio,
        (dup_frac <= 0.3 AND upper_ratio <= 0.3) AS keep
      FROM y ORDER BY doc_id""",

    "q86_contamination" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                                     i -> array_to_string(l[i:i+2], ' '))) s
             FROM tok),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
      cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      hit AS (SELECT sh.doc_id, COUNT(*) h FROM sh JOIN bench USING (s)
              GROUP BY sh.doc_id)
      SELECT c.doc_id, c.n, COALESCE(h.h, 0) AS n_hit,
        CAST(COALESCE(h.h, 0) AS DOUBLE) / c.n AS containment
      FROM cnt c LEFT JOIN hit h USING (doc_id) ORDER BY doc_id""",

    "q83_simhash_invariant" -> """
      SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b,
        TRUE AS simhash_collides
      FROM documents ORDER BY doc_a""",

    "q82_lang_rebalance" -> """
      SELECT doc_id, lang FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        CASE lang WHEN 'en' THEN 'c' WHEN 'es' THEN '8' WHEN 'de' THEN '4'
          ELSE 'g' END
      ORDER BY doc_id""",

    "q78_bpe_tokens" -> """
      SELECT doc_id,
        LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
        LEN(regexp_extract_all(text, '''(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS bpe_tokens,
        CAST(LEN(regexp_extract_all(text, '''(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS DOUBLE)
          / LEN(STRING_SPLIT(text, ' ')) AS inflation
      FROM documents ORDER BY doc_id""",

    // q110: the exactly-recomputable components are brute-forced
    // (identical RE2 pre-tokenizer); the learned-merge token totals are
    // not SQL-expressible, so their invariants enter as pinned-TRUE
    // booleans proven as real inequalities on the Spark side (the
    // q37/q41 recall-sentinel pattern)
    "q110_bpe_real" -> """
      SELECT count(*) AS n_docs,
        CAST(sum(length(text)) AS BIGINT) AS total_chars,
        CAST(sum(LEN(regexp_extract_all(text, '''(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT) AS total_pretokens,
        TRUE AS bounds_ok, TRUE AS roundtrip_ok, TRUE AS compress_ok
      FROM documents""",

    "q79_tfidf" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE doc_id < 50 GROUP BY doc_id, term),
      df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
          tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tf, df,
          row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        FROM scored)
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        CAST(rn AS INT) AS rn
      FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""",

    "q30_dedup_exact" -> """
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      FROM documents GROUP BY text ORDER BY doc_id""",

    "q31_token_stats" -> """
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS sum_tokens,
        CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
        CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
      FROM documents GROUP BY lang ORDER BY lang""",

    "q32_lang_id" -> """
      SELECT doc_id,
        LEN(regexp_extract_all(text, '\b(the|and|of|to)\b')) AS en_hits,
        LEN(regexp_extract_all(text, '\b(el|la|de|los)\b')) AS es_hits,
        LEN(regexp_extract_all(text, '\b(der|und|die|das)\b')) AS de_hits,
        CASE
          WHEN LEN(regexp_extract_all(text, '\b(the|and|of|to)\b')) >= LEN(regexp_extract_all(text, '\b(el|la|de|los)\b'))
           AND LEN(regexp_extract_all(text, '\b(the|and|of|to)\b')) >= LEN(regexp_extract_all(text, '\b(der|und|die|das)\b')) THEN 'en'
          WHEN LEN(regexp_extract_all(text, '\b(el|la|de|los)\b')) >= LEN(regexp_extract_all(text, '\b(der|und|die|das)\b')) THEN 'es'
          ELSE 'de' END AS predicted,
        lang AS labeled
      FROM documents ORDER BY doc_id""",

    "q33_quality_score" -> """
      SELECT doc_id,
        LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
        CAST(LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1) AS DOUBLE)
          / LEN(STRING_SPLIT(text, ' ')) AS avg_token_len,
        (CASE WHEN CAST(LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1) AS DOUBLE)
                     / LEN(STRING_SPLIT(text, ' ')) BETWEEN 3.0 AND 10.0
              THEN 0.5 ELSE 0.0 END)
        + (CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 20 THEN 0.5
                WHEN LEN(STRING_SPLIT(text, ' ')) >= 5 THEN 0.25
                ELSE 0.0 END) AS quality
      FROM documents ORDER BY doc_id""",

    "q35_minhash_lsh" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                                     i -> array_to_string(l[i:i+2], ' '))) s
             FROM tok),
      cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT da AS doc_a, db AS doc_b,
             CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
      FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.6
      ORDER BY doc_a, doc_b""",

    "q34_jaccard_pairs" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents
                   WHERE doc_id < 5000),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                                     i -> array_to_string(l[i:i+2], ' '))) s
             FROM tok),
      cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT da AS doc_a, db AS doc_b,
             CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
      FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.6
      ORDER BY doc_a, doc_b""",

    "q89_dedup_clusters" -> """
      WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                                     i -> array_to_string(l[i:i+2], ' '))) s
             FROM tok),
      cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
      p AS (SELECT da, db
            FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
            WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.6),
      e AS (SELECT da x, db y FROM p UNION SELECT db, da FROM p),
      reach(node, r) AS (
        SELECT DISTINCT x, x FROM e
        UNION
        SELECT reach.node, e.y FROM reach JOIN e ON reach.r = e.x),
      comp AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node)
      SELECT cluster, COUNT(*) AS n_members, MAX(node) AS max_member
      FROM comp GROUP BY cluster ORDER BY cluster""",

    // DuckDB replay of score-elected near-dup survivors: q89's exact
    // pair + recursive-component chain, then (max score, max id)
    // representative election and a loser anti-join
    "q136_dedup_by_score" -> """
      WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                                     i -> array_to_string(l[i:i+2], ' '))) s
             FROM tok),
      cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
      p AS (SELECT da, db
            FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
            WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.6),
      e AS (SELECT da x, db y FROM p UNION SELECT db, da FROM p),
      reach(node, r) AS (
        SELECT DISTINCT x, x FROM e
        UNION
        SELECT reach.node, e.y FROM reach JOIN e ON reach.r = e.x),
      comp AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node),
      scomp AS (SELECT c.node, c.cluster, CAST(length(d.text) AS DOUBLE) AS sc
                FROM comp c JOIN documents d ON c.node = d.doc_id),
      mx AS (SELECT cluster, MAX(sc) AS msc FROM scomp GROUP BY cluster),
      rep AS (SELECT s.cluster, MAX(s.node) AS keep
              FROM scomp s JOIN mx ON s.cluster = mx.cluster AND s.sc = mx.msc
              GROUP BY s.cluster),
      losers AS (SELECT s.node FROM scomp s JOIN rep r ON s.cluster = r.cluster
                 WHERE s.node <> r.keep)
      SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars_kept
      FROM documents d
      WHERE d.doc_id NOT IN (SELECT node FROM losers)
      ORDER BY d.doc_id""",

    "q90_split" -> """
      SELECT doc_id, lang,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f' THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""",

    "q93_token_budget" -> """
      WITH t AS (SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, lang, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, lang, n_tokens, cum_tokens
      FROM c
      WHERE cum_tokens <= (CASE lang WHEN 'en' THEN 6000
                                     WHEN 'fr' THEN 2000
                                     ELSE 9223372036854775807 END)
      ORDER BY doc_id""",

    "q98_html_strip" -> """
      WITH raw AS (SELECT doc_id,
          '<div class="doc"><p>' || text ||
          '</p><script>var a = 1 < 2;</script><!-- note --> &amp;amp; &lt;b&gt; &nbsp;tail</div>' AS h
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM raw),
      s2 AS (SELECT doc_id, regexp_replace(h, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
      s4 AS (SELECT doc_id, regexp_replace(h, '<[^>]+>', ' ', 'g') AS h FROM s3),
      s5 AS (SELECT doc_id,
          replace(replace(replace(replace(replace(replace(h,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
            '&nbsp;', ' '), '&amp;', '&') AS h
        FROM s4)
      SELECT doc_id, trim(regexp_replace(h, '\s+', ' ', 'g')) AS clean
      FROM s5 ORDER BY doc_id""",

    // the normalization chain must run in the SAME order as
    // TextFunctions.normalizeUrl: lower, #fragment, utm x2, trailing
    // punctuation, dangling ?/&, trailing slash (RE2 backrefs are \1 in
    // DuckDB, $1 in Java — same semantics)
    "q101_url_normalize" -> """
      WITH wrapped AS (SELECT doc_id,
          text || ' see HTTPS://Example' || (doc_id % 7) ||
          '.COM/Path/?utm_source=feed&utm_id=' || (doc_id % 5) ||
          '&ref=' || (doc_id % 3) ||
          '#frag and http://plain.org/x' || (doc_id % 4) || '/' AS t
        FROM documents),
      urls AS (SELECT doc_id,
          unnest(regexp_extract_all(t, '(?i)https?://[^\s<>"'']+')) AS u
        FROM wrapped)
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(lower(u), '#.*$', ''),
                  '([?&])utm_[a-z_]+=[^&]*&?', '\1', 'g'),
                '([?&])utm_[a-z_]+=[^&]*&?', '\1', 'g'),
              '[.,;:)\]]+$', ''),
            '[?&]+$', ''),
          '/$', '') AS url
      FROM urls ORDER BY doc_id, url""",

    // same wrap, same host regex, same suffix expansion (all suffixes
    // with >= 2 labels; single-label hosts keep themselves) as
    // TextFunctions.blockedByDomain
    "q103_domain_block" -> """
      WITH wrapped AS (SELECT doc_id,
          text || ' http://Example' || (doc_id % 7) || '.COM/a' ||
          ' https://cdn.mirror' || (doc_id % 4) || '.net/x' AS t
        FROM documents),
      urls AS (SELECT doc_id,
          unnest(regexp_extract_all(t, '(?i)https?://[^\s<>"'']+')) AS u
        FROM wrapped),
      hosts AS (SELECT doc_id,
          lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
        FROM urls),
      hs AS (SELECT doc_id, string_split(host, '.') AS l
             FROM hosts WHERE host <> ''),
      suf AS (SELECT doc_id,
          unnest(list_transform(range(1, greatest(1, len(l) - 1) + 1),
                                i -> array_to_string(l[i:], '.'))) AS domain
        FROM hs),
      bl AS (SELECT lower(domain) AS domain
             FROM (VALUES ('example3.com'), ('MIRROR1.net')) b(domain)),
      blocked AS (SELECT DISTINCT doc_id FROM suf JOIN bl USING (domain)),
      base AS (SELECT doc_id,
          CAST(len(regexp_extract_all(t, '(?i)https?://[^\s<>"'']+')) AS BIGINT) AS n_urls
        FROM wrapped)
      SELECT b.doc_id, b.n_urls, (bk.doc_id IS NOT NULL) AS blocked
      FROM base b LEFT JOIN blocked bk ON b.doc_id = bk.doc_id
      ORDER BY b.doc_id""",

    // same wrap, same maxDf = 4, same reassembly order as
    // Dedup.dropFrequentLines (concat_ws skips the NULL footer branch in
    // both engines; positions replay via unnest(range) + list indexing)
    "q102_line_dedup" -> """
      WITH wrapped AS (SELECT doc_id,
          concat_ws(chr(10), 'home | about | contact',
            CASE WHEN doc_id % 2 = 0 THEN 'subscribe to the newsletter' END,
            'promo code ' || (doc_id % 97),
            text) AS t
        FROM documents),
      tok AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM wrapped),
      lines AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, l
                FROM tok),
      lin AS (SELECT doc_id, pos, l[pos] AS line FROM lines),
      freq AS (SELECT line FROM lin GROUP BY line
               HAVING COUNT(DISTINCT doc_id) > 4),
      kept AS (SELECT doc_id, pos, line FROM lin
               WHERE line NOT IN (SELECT line FROM freq)),
      reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                string_agg(line, chr(10) ORDER BY pos) AS clean_text
              FROM kept GROUP BY doc_id),
      base AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines FROM tok)
      SELECT b.doc_id, COALESCE(r.clean_text, '') AS clean_text, b.n_lines,
             CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
      FROM base b LEFT JOIN reb r ON b.doc_id = r.doc_id
      ORDER BY b.doc_id""",

    // q130: the q97 rarity replay + DuckDB's own ntile over the same
    // deterministic (rarity, doc_id) order, aggregated per bucket
    "q130_quality_buckets" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      c AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
      r AS (SELECT doc_id, CAST(SUM(1000000 // cnt) AS BIGINT) AS rarity
            FROM tok JOIN c USING (t) GROUP BY doc_id),
      b AS (SELECT d.lang, r.rarity,
              ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY r.rarity, r.doc_id) AS bucket
            FROM r JOIN documents d USING (doc_id))
      SELECT lang, bucket, COUNT(*) AS n_docs,
             CAST(SUM(rarity) AS BIGINT) AS sum_rarity
      FROM b GROUP BY lang, bucket ORDER BY lang, bucket""",

    "q97_rarity" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      c AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(1000000 // cnt) AS BIGINT) AS rarity
      FROM tok JOIN c USING (t)
      GROUP BY doc_id ORDER BY doc_id""",

    // q114: DuckDB computes the EXACT top-20 directly; Spark's two-pass
    // MG-candidates + recount must lose nothing
    "q114_heavy_hitters" -> """
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t)
      SELECT t, cnt FROM c ORDER BY cnt DESC, t LIMIT 20""",

    // q115: exact top-20 bigrams, brute-forced in DuckDB (the q112
    // bigram construction)
    "q115_bigram_hitters" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      big AS (SELECT l[gi] || ' ' || l[gi + 1] AS t
              FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS gi FROM tok)),
      c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM big GROUP BY t)
      SELECT t, cnt FROM c ORDER BY cnt DESC, t LIMIT 20""",

    // q112: full brute-force DSIR featurization — whitespace uni+bigrams,
    // the portable md5-prefix bucket hash at 8192 buckets, target (en) and
    // source (all) bucket counts, per-doc integer sums
    "q112_dsir_scores" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      uni AS (SELECT doc_id, unnest(l) AS g FROM tok),
      big AS (SELECT doc_id, l[gi] || ' ' || l[gi + 1] AS g
              FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS gi FROM tok)),
      grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
      gb AS (SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) AS BIGINT)
                 % 8192 AS b
             FROM grams),
      tgt AS (SELECT b, COUNT(*) AS t_cnt
              FROM gb JOIN documents USING (doc_id)
              WHERE lang = 'en' GROUP BY b),
      src AS (SELECT b, COUNT(*) AS s_cnt FROM gb GROUP BY b)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(COALESCE(t_cnt, 0)) AS BIGINT) AS sum_t,
             CAST(SUM(s_cnt) AS BIGINT) AS sum_s
      FROM gb JOIN src USING (b) LEFT JOIN tgt USING (b)
      GROUP BY doc_id ORDER BY doc_id""",

    "q95_temperature" -> """
      WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      t AS (SELECT CAST(SUM(n) AS DOUBLE) AS bign,
              CAST(SUM(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,10))) AS DOUBLE) AS z
            FROM c),
      f AS (SELECT c.lang AS s,
              CAST(round(t.bign / (t.z / sqrt(CAST(c.n AS DOUBLE))) / c.n * 16) AS BIGINT) AS f16
            FROM c, t),
      d AS (SELECT doc_id, documents.lang AS lang, f16,
              CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS UBIGINT) AS BIGINT) AS dig
            FROM documents JOIN f ON documents.lang = f.s),
      r AS (SELECT doc_id, lang,
              (f16 // 16) + (CASE WHEN dig < (f16 % 16) THEN 1 ELSE 0 END) AS n_copies
            FROM d)
      SELECT doc_id, lang, UNNEST(range(n_copies)) AS copy_id
      FROM r ORDER BY doc_id, copy_id""",

    "q96_quality_filter" -> """
      WITH t AS (SELECT doc_id, lang,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS score FROM documents),
      r AS (SELECT doc_id, lang, score,
              ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY score DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
              COUNT(*) OVER (PARTITION BY lang) AS cnt
            FROM t)
      SELECT doc_id, lang, score FROM r
      WHERE rn <= CEIL(cnt * 0.5) ORDER BY doc_id""",

    "q94_sequence_pack" -> """
      WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS UBIGINT) AS INT)
            AS pack_shard,
          md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      c AS (SELECT doc_id, n_tokens, pack_shard,
          CAST(SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY h, doc_id)
               - n_tokens AS BIGINT) AS pack_offset
        FROM t)
      SELECT doc_id, n_tokens, pack_shard, pack_offset,
             CAST(floor(pack_offset / 512.0) AS BIGINT) AS pack_id
      FROM c ORDER BY doc_id""",

    // the Bloom prefilter is invisible to the result by construction,
    // so the oracle is the plain exact anti-join on the same
    // normalized-text fingerprint
    "q100_bloom_decontam" -> """
      WITH nf AS (SELECT doc_id,
          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      bench AS (SELECT DISTINCT fp FROM nf WHERE doc_id < 50 OR doc_id % 17 = 0)
      SELECT c.doc_id
      FROM nf c
      WHERE c.doc_id >= 50
        AND NOT EXISTS (SELECT 1 FROM bench b WHERE b.fp = c.fp)
      ORDER BY c.doc_id""",

    "q91_cross_dedup" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
                                     i -> array_to_string(l[i:i+2], ' '))) s
             FROM tok),
      cnt AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) i
                FROM sh a JOIN sh b ON a.s = b.s
                WHERE a.doc_id >= 50 AND b.doc_id < 50
                GROUP BY a.doc_id, b.doc_id)
      SELECT da AS doc_a, db AS doc_b,
             CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
      FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.6
      ORDER BY doc_a, doc_b""",

    "q92_span_dedup" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      sp0 AS (SELECT doc_id,
                unnest(range(0, CAST(ceil(len(l)/20.0) AS BIGINT))) AS pos, l
              FROM tok),
      sp AS (SELECT doc_id, pos,
               array_to_string(l[pos*20+1 : pos*20+20], ' ') AS span
             FROM sp0),
      f1 AS (SELECT span, MIN(doc_id) AS fdoc FROM sp GROUP BY span),
      f2 AS (SELECT sp.span, f1.fdoc, MIN(sp.pos) AS fpos
             FROM sp JOIN f1 ON sp.span = f1.span AND sp.doc_id = f1.fdoc
             GROUP BY sp.span, f1.fdoc),
      kept AS (SELECT sp.doc_id, sp.pos, sp.span
               FROM sp JOIN f2 ON sp.span = f2.span AND sp.doc_id = f2.fdoc
                              AND sp.pos = f2.fpos),
      reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                string_agg(span, ' ' ORDER BY pos) AS clean_text
              FROM kept GROUP BY doc_id),
      base AS (SELECT doc_id, CAST(ceil(len(l)/20.0) AS BIGINT) AS n_spans FROM tok)
      SELECT b.doc_id, COALESCE(r.clean_text, '') AS clean_text, b.n_spans,
             CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
      FROM base b LEFT JOIN reb r ON b.doc_id = r.doc_id
      ORDER BY b.doc_id""",

    "q38_fingerprint" -> """
      SELECT MIN(doc_id) AS doc_id,
        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        COUNT(*) AS n_copies
      FROM documents
      GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id""",

    "q42_multimodal_meta" -> """
      SELECT doc_id,
        octet_length(encode(text)) AS n_bytes,
        substr(hex(encode(text)), 1, 8) AS magic
      FROM documents ORDER BY doc_id""",

    "q43_events_hourly" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bucket,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY bucket, event_type""",

    "q44_sessionize" -> """
      WITH x AS (SELECT user_id, ts, event_id,
          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      y AS (SELECT user_id,
          CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_s
        FROM x)
      SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
             COUNT(*) AS n_events
      FROM y GROUP BY user_id ORDER BY user_id""",
  )

  /** The persisted-LM probes load bit-identical Long counts, so the
    * training gates' FULL model replays anchor the round-trips too:
    * q179 shares q166's order-4 replay, q175 shares q151's KN replay.
    */
  val sql: Map[String, String] = baseSql ++ Map(
    "q179_lm_persisted" -> baseSql("q166_quadgram_ppl"),
    "q175_kn_persisted" -> baseSql("q151_kneser_ney"))
}
