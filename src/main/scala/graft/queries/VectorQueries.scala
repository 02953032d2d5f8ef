package graft.queries

import graft.Tables._
import graft.functions.{VectorFunctions => VF}
import graft.Observed
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructField, StructType}

/** Similarity search over the `embeddings` table (array<float> dim 64):
  * exact brute-force cosine top-k (oracle-checked bit-for-bit against
  * DuckDB's list_cosine_similarity on DOUBLE[]), an LSH-bucketed
  * approximate variant (the 100 TB path, rows-only), and exact-fold
  * vector norms.
  */
object VectorQueries {

  /** Banded sign-LSH embedding near-dup pairs — the scale path for
    * pairwise embedding dedup — audited IN the gate against the exact
    * all-pairs join (the q69/q80 pattern): one row whose `n_exact`
    * must equal DuckDB's exact pair count and whose recall/precision
    * bounds are computed from the LSH pipeline's output. The corpus
    * here sits at the near-random cos ≈ 0.45–0.6 band (the hardest
    * case for sign-LSH — recall at cos ≥ 0.9 would be ≥ 0.99 with
    * these parameters); the bound is calibrated to the realized
    * deterministic recall across all three SFs with margin.
    */
  def q37EmbedNearDupLsh(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val lsh = VF.lshNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, bits = 8, tables = 16)
    // The exact reference side is DISK-MEMOIZED per corpus snapshot
    // (VERDICT r12 #2 — shared with q46, content-fingerprint keyed):
    // the audit semantics are unchanged (n_exact still equals DuckDB's
    // independently recomputed count), but the O(n²) scan is paid once,
    // not on every gate/bench run of the production LSH path.
    val exact = VF.exactNearDupPairsCached(emb, "vec_id", "embedding", 0.45, d)
    // realized recall (RecallProbe): 2/7, 7/14, 59/144 at the three SFs
    VF.pairRecallAudit(lsh, exact, bound = 0.25)
  }

  /** Hard-negative mining ([[graft.functions.VectorFunctions
    * .hardNegatives]]): for each anchor (vec_id < 10) the 5 nearest
    * candidates with a DIFFERENT label — the contrastive-training
    * near-miss set. The oracle replays the exact scan with the same
    * label-exclusion predicate and double-cast cosine fold, so ranks,
    * labels and cosines hash-match cell-for-cell.
    */
  def q185HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    VF.hardNegatives(emb.filter(col("vec_id") < 10), emb, "label", k = 5)
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  def q40CosineTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    VF.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
      .select(col("qid"), col("cid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** LSH-bucketed approximate top-5 with full Hamming-1 multi-probe on
    * the query side (probes = bits), audited IN the gate against the
    * exact brute-force top-5 (recall@5 bound + full-k check — the
    * q69/q80 pattern; raw ANN rows stay covered by VectorSpec). The
    * oracle recomputes the exact reference side (row count + per-query
    * 5th-cosine extremes) independently; see topKRecallAudit for the
    * precise per-column verification roles.
    */
  def q41AnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val ann = VF.annTopK(q, emb, k = 5, bits = 4, tables = 8, probes = 4)
    // realized recall@5 (RecallProbe): 0.98 / 1.00 / 0.98 at the three
    // SFs (was 0.74 / 0.66 / 0.62 single-probe)
    VF.topKRecallAuditCached(ann, q, emb, k = 5, bound = 0.90, corpusTag = d)
  }

  /** IVF-Flat approximate top-5 with one Lloyd refinement on the
    * quantizer (built once via buildIvf, probed via ivfProbe), audited
    * IN the gate against the exact brute-force top-5 (recall@5 bound +
    * full-k check; clustered-corpus recall stays asserted in the test
    * suite). The corpus is near-uniform on the sphere — the hardest
    * case for a clustering quantizer — so recall tracks the probed
    * fraction (nprobe/nlist = 6/16) plus what the Lloyd pass
    * concentrates. Oracle roles as in q41.
    *
    * Build-vs-probe identity (r10, deliberate): this query PRICES THE
    * FRESH FULL BUILD every run — its bench number is the build cost,
    * by design; q104 is the amortized steady-state probe. A cheaper
    * build exists as `buildIvf(trainFraction = f)` (quantizer trained
    * on a hash sample, full corpus assigned once — recall floor pinned
    * in DedupSpec); q77 stays pinned to the full build so its oracle
    * hash and its bench trend keep measuring the same thing.
    */
  def q77AnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val ivf = VF.ivfTopK(q, emb, k = 5, nlist = 16, nprobe = 6, refine = 1)
    // realized recall@5 (RecallProbe): 0.72 / 0.74 / 0.70 at the three
    // SFs (was 0.42 / 0.56 / 0.48 at nprobe=4 unrefined)
    VF.topKRecallAuditCached(ivf, q, emb, k = 5, bound = 0.60, corpusTag = d)
  }

  /** Persisted-index ANN (VERDICT r6 #4): build + [[graft.functions
    * .VectorFunctions.saveIvf]] the IVF index ONCE per corpus snapshot
    * (first run at a given SF dir), then [[graft.functions
    * .VectorFunctions.loadIvf]] + probe on this and every later run —
    * the gate now proves parquet persistence end-to-end AND shows the
    * amortized probe-side cost the q77 build/probe split bought (q77
    * keeps paying a fresh O(N·nlist)-flop build per run; this query's
    * steady state is centroid-ranking + one posting-list equality
    * join). Same quantizer parameters and audit as q77, so the same
    * DuckDB oracle recomputes the exact side; the build is
    * deterministic (hash-ranked seed sample + Lloyd passes), so a
    * rebuilt and a reloaded index probe identically and the gate hash
    * is stable no matter which run populated the index.
    */
  def q104IvfPersisted(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val path = graft.Memo.persisted("ivf_index", indexKey(d, "nlist=16|refine=1"), "assigned")(
      VF.saveIvf(VF.buildIvf(emb, nlist = 16, refine = 1), _))
    val idx = VF.IvfIndex(graft.Memo.relation(s, s"$path/centroids"),
      graft.Memo.relation(s, s"$path/assigned"))
    val probed = VF.ivfProbe(q, idx, k = 5, nprobe = 6)
    VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.60, corpusTag = d)
  }

  /** SAMPLED-training IVF build (r12, VERDICT r11 #5 / r10 #3 — the
    * last spec-only scale claim): `buildIvf(trainFraction = 0.5)`
    * trains the quantizer (seed selection AND the Lloyd pass) on the
    * deterministic xxhash half-sample and assigns the FULL corpus
    * once — the FAISS train-on-a-sample trade q77's scaladoc fences
    * off. Audited in-gate exactly like q77 (the exact brute-force
    * reference side is DuckDB-recomputed, full_k/recall_ok are pinned
    * sentinels — Spark's xxhash64 is not expressible in portable SQL,
    * so the sample itself can't be replayed externally), PLUS two
    * exact oracle-verified columns the sampled build must conserve:
    * `n_assigned` (every corpus vector lands in exactly one posting
    * list — DuckDB counts the corpus) and `n_centroids` (the quantizer
    * kept nlist lists). `sampled_smaller` pins that the train sample
    * genuinely shrank (same hash formula as buildIvf). Realized
    * recall@5: 0.66 / 0.70 / 0.56 at the three SFs (bound 0.50).
    */
  def q140IvfSampled(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val idx = VF.buildIvf(emb, nlist = 16, refine = 1, trainFraction = 0.5)
    // n_assigned and the half-sample tally ride the probe's
    // posting-list scan as observed metrics (r19 fusion). The sample
    // sum folds over `assigned`, which carries exactly the corpus's
    // (vec_id, embedding) rows (one posting-list row per vector — the
    // very conservation n_assigned pins), so the value is the one the
    // old separate emb-scan aggregate produced. n_centroids folds over
    // the driver-built centroid relation.
    val obs = Observed(count(lit(1)).as("n_assigned"),
      sum(when(pmod(xxhash64(col("vec_id")), lit(1000000L)) < 500000L, 1L)
        .otherwise(0L)).as("n_half"))
    val probed = VF.ivfProbe(q, VF.IvfIndex(idx.centroids, obs.on(idx.assigned)),
      k = 5, nprobe = 6)
    val audit = VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.50, corpusTag = d)
    auditWithConservation(audit, obs.read(idx.assigned),
      Seq("n_assigned" -> LongType, "n_centroids" -> LongType,
        "sampled_smaller" -> BooleanType),
      m => Seq(obsLong(m, "n_assigned"), localCount(idx.centroids),
        obsLong(m, "n_half") < obsLong(m, "n_assigned")))
  }

  /** Product-quantized ANN (r13): [[graft.functions.VectorFunctions
    * .buildPq]] trains m = 16 per-subspace codebooks of ksub = 64
    * codewords (one joint Lloyd pass), compresses the corpus to 16
    * small ints per 64-float vector, and [[graft.functions
    * .VectorFunctions.pqProbe]] answers top-5 by ADC lookup-table scan
    * + exact re-rank of the 128-deep shortlist (IVFADC+R, Jégou 2011).
    * Audited exactly like q41/q77/q104/q140: the exact brute-force
    * reference side is DuckDB-recomputed (n_exact / kth-cosine
    * extremes hash bit-for-bit), full_k/recall_ok are pinned sentinels
    * (the codebooks come from Spark's xxhash-seeded k-means, not
    * portable SQL). Realized recall@5: 1.00 / 1.00 / 1.00 at the three
    * SFs (RecallProbe; bound 0.80). PLUS three conservation columns:
    * `n_encoded` (every corpus vector got a code row — DuckDB counts
    * the corpus), `n_codebook` (m·ksub codewords kept — pinned 1024),
    * and `codes_ok` (every code row is exactly m wide with codes in
    * [0, ksub) — the encoder never emits a ragged or out-of-range
    * code; TRUE sentinel, Spark-computed over the full corpus).
    */
  def q142PqTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val idx = VF.buildPq(emb, m = 16, ksub = 64, iters = 1)
    // conservation rides the probe's full encoded scan as an observed
    // metric; n_codebook folds over the driver-built codebook relation
    // (r19 fusion — see auditWithConservation)
    val obs = Observed(pqCodeMetrics: _*)
    val probed = VF.pqProbe(q, VF.PqIndex(idx.codebooks, obs.on(idx.encoded)), emb,
      k = 5, rerank = 128)
    val audit = VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.80, corpusTag = d)
    auditWithConservation(audit, obs.read(idx.encoded),
      Seq("n_encoded" -> LongType, "codes_ok" -> BooleanType,
        "n_codebook" -> LongType),
      m => Seq(obsLong(m, "n_encoded"), pqCodesOk(m), localCount(idx.codebooks)))
  }

  /** IVFADC (r13): [[graft.functions.VectorFunctions.buildIvfPq]]
    * composes the coarse quantizer (q77/q140's IVF — candidates
    * bounded at N·nprobe/nlist per query) with PQ-compressed posting
    * lists (q142's codes — m table adds per candidate on 4·d/m× fewer
    * stored bytes), the architecture FAISS serves billion-vector
    * corpora with (IndexIVFPQ; non-residual variant — see
    * buildIvfPq's scaladoc for the trade). Measured composition
    * property (RecallProbe): recall@5 EQUALS the coarse-only q77
    * recall at the same nprobe at every SF — quantizing the lists
    * loses nothing once the 128-deep exact re-rank absorbs ADC error;
    * recall is bounded by which lists are probed, exactly the theory.
    * Realized 0.82 / 0.82 / 0.78 at nprobe = 8 (bound 0.60). Same
    * audit + conservation shape as q142; n_centroids pins the coarse
    * side.
    */
  def q143IvfPqTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val idx = VF.buildIvfPq(emb, nlist = 16, refine = 1, m = 16, ksub = 64,
      iters = 1)
    // conservation rides the probe's posting-list scan (r19 fusion)
    val obs = Observed(pqCodeMetrics: _*)
    val probed = VF.ivfPqProbe(q, VF.IvfPqIndex(idx.centroids, idx.codebooks,
      obs.on(idx.encoded)), emb, k = 5, nprobe = 8, rerank = 128)
    val audit = VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.60, corpusTag = d)
    auditWithConservation(audit, obs.read(idx.encoded),
      Seq("n_encoded" -> LongType, "codes_ok" -> BooleanType,
        "n_codebook" -> LongType, "n_centroids" -> LongType),
      m => Seq(obsLong(m, "n_encoded"), pqCodesOk(m),
        localCount(idx.codebooks), localCount(idx.centroids)))
  }

  /** RESIDUAL IVFADC (r13 — FAISS IndexIVFPQ's `by_residual = true`
    * default, closing the trade q143's non-residual variant documents):
    * the PQ codebooks train on (v − centroid_cid) — the variance LEFT
    * AFTER the coarse quantizer — so the same m·ksub code budget
    * reconstructs measurably tighter (DedupSpec pins the MSE strictly
    * below the non-residual build's on a clustered corpus). The
    * nlist·m·ksub centroid·codeword cross tables a probe-time norm
    * would need are dissolved by storing ‖centroid + recon‖ per row at
    * encode ([[graft.functions.expressions.PqReconNormWithBase]]); the
    * probe adds one broadcast-joined q·centroid base term per (query,
    * probed list) — Q·nlist driver-computed doubles — on top of q143's
    * m table adds per candidate. Same audit + conservation shape as
    * q143 plus `norms_ok` (every stored reconstruction norm positive;
    * TRUE sentinel, Spark-computed over the full corpus). Realized
    * recall@5: 0.82 / 0.82 / 0.78 — identical to q143 at equal nprobe,
    * as theory demands (the exact re-rank absorbs quantization error,
    * so recall is bounded by list selection alone; bound 0.60).
    */
  def q146IvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val idx = VF.buildIvfPq(emb, nlist = 16, refine = 1, m = 16, ksub = 64,
      iters = 1, residual = true)
    // conservation rides the probe's posting-list scan (r19 fusion)
    val obs = Observed(pqCodeMetrics :+ min(col("rnorm")).as("min_rn"): _*)
    val probed = VF.ivfPqProbe(q, VF.IvfPqIndex(idx.centroids, idx.codebooks,
      obs.on(idx.encoded)), emb, k = 5, nprobe = 8, rerank = 128)
    val audit = VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.60, corpusTag = d)
    auditWithConservation(audit, obs.read(idx.encoded),
      Seq("n_encoded" -> LongType, "codes_ok" -> BooleanType,
        "norms_ok" -> BooleanType, "n_codebook" -> LongType,
        "n_centroids" -> LongType),
      m => Seq(obsLong(m, "n_encoded"), pqCodesOk(m), obsDouble(m, "min_rn") > 0,
        localCount(idx.codebooks), localCount(idx.centroids)))
  }

  /** 8-bit scalar-quantized ANN (r13): [[graft.functions
    * .VectorFunctions.buildSq]] trains per-dimension min/max affine
    * params (one bounded 64-cell aggregate — no codebook search) and
    * compresses the corpus to 64 BYTES + a stored reconstruction norm
    * per 64-float vector (exact 4×); [[graft.functions.VectorFunctions
    * .sqProbe]] answers top-5 by the asymmetric byte-weighted scan +
    * exact re-rank. Completes the FAISS-shaped family's cheap end
    * (Flat → LSH → SQ8 → IVF → PQ → IVFADC): SQ8 trades the least
    * recall for its 4× — at d = 64 the quantization error is far below
    * the inter-vector cosine gaps, so recall@5 should be ~1.0
    * (realized 1.00 at all three SFs; bound 0.90, the family's
    * tightest). Audited exactly like q41/q77/q142 (DuckDB recomputes
    * the exact side bit-for-bit; full_k/recall_ok pinned sentinels)
    * plus conservation: `n_encoded` (DuckDB counts the corpus),
    * `n_params` (pinned 64 — one param row per dimension), `codes_ok`
    * (every code row is exactly 64 bytes with a positive stored norm;
    * TRUE sentinel, Spark-computed over the full corpus) and
    * `params_ok` (vmin ≤ vmax per dimension; TRUE sentinel).
    */
  def q145SqTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val idx = VF.buildSq(emb)
    // conservation rides the probe's byte scan; the d-row params
    // relation is driver-built, so n_params/params_ok fold locally
    // (r19 fusion)
    val obs = Observed(count(lit(1)).as("n_encoded"),
      min(length(col("codes"))).as("min_w"), max(length(col("codes"))).as("max_w"),
      min(col("rnorm")).as("min_rn"))
    val probed = VF.sqProbe(q, VF.SqIndex(idx.params, obs.on(idx.encoded)), emb,
      k = 5, rerank = 64)
    val audit = VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.90, corpusTag = d)
    auditWithConservation(audit, obs.read(idx.encoded),
      Seq("n_encoded" -> LongType, "codes_ok" -> BooleanType,
        "n_params" -> LongType, "params_ok" -> BooleanType),
      m => {
        val params = idx.params.collect()
        Seq(obsLong(m, "n_encoded"),
          obsLong(m, "min_w") == 64 && obsLong(m, "max_w") == 64 &&
            obsDouble(m, "min_rn") > 0,
          params.length.toLong,
          params.forall(r => r.getDouble(2) - r.getDouble(1) >= 0))
      })
  }

  /** The PQ code-row metrics q142, q143 and q146 observe on the
    * encoded corpus; [[pqCodesOk]] reads them back.
    */
  private def pqCodeMetrics: Seq[Column] = Seq(
    count(lit(1)).as("n_encoded"),
    min(size(col("codes"))).as("min_w"), max(size(col("codes"))).as("max_w"),
    min(array_min(col("codes"))).as("min_c"), max(array_max(col("codes"))).as("max_c"))

  /** Every code row is exactly m = 16 wide with codes in [0, ksub = 64). */
  private def pqCodesOk(m: Map[String, Any]): Boolean =
    obsLong(m, "min_w") == 16 && obsLong(m, "max_w") == 16 &&
      obsLong(m, "min_c") >= 0 && obsLong(m, "max_c") < 64

  /** Fused audit + conservation assembly (r19, VERDICT r18 #2): run
    * the one-row audit EAGERLY with an [[graft.Observed]] riding the
    * probe's scan of the corpus-sized index relation (the conservation
    * aggregates previously re-aggregated the checkpointed corpus in 2-4
    * extra AQE stages per build gate), then assemble audit ++
    * conservation as a one-row LocalRelation. `metrics` is by-name
    * (call site: `obs.read(index relation)`), so it is read only after
    * the audit's action; `derive` turns it into the conservation
    * values. Column names, order and types reproduce the previous
    * `audit.crossJoin(conserve)` exactly.
    */
  private def auditWithConservation(
      audit: DataFrame, metrics: => Map[String, Any],
      cols: Seq[(String, DataType)],
      derive: Map[String, Any] => Seq[Any]): DataFrame = {
    val aRow = audit.head()
    val cons = derive(metrics)
    val schema = StructType(audit.schema.fields ++
      cols.map { case (n, t) => StructField(n, t) })
    audit.sparkSession.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(aRow.toSeq ++ cons)), schema)
  }

  private def obsLong(m: Map[String, Any], k: String): Long =
    m(k).asInstanceOf[Number].longValue()

  private def obsDouble(m: Map[String, Any], k: String): Double =
    m(k).asInstanceOf[Number].doubleValue()

  /** Row count of a driver-built LocalRelation (codebooks/centroids/
    * params) — `collect()` on a LocalTableScan returns rows without
    * launching a job, so the conservation count costs nothing
    * distributed (the relation was assembled from driver arrays in the
    * first place).
    */
  private def localCount(df: DataFrame): Long = df.collect().length.toLong

  /** Persisted-index key ([[graft.Memo.persisted]]): the corpus file at
    * its snapshot plus the build parameters, so different SFs,
    * regenerated corpora and differently-parameterized builders never
    * probe each other's index.
    */
  private[graft] def indexKey(d: String, params: String): String =
    s"${graft.Memo.versioned(s"$d/embeddings.parquet")}|$params"

  /** PERSISTED-SQ8 probe (r14, VERDICT r13 #3): the q104 amortization
    * applied to [[graft.functions.VectorFunctions.buildSq]] — the
    * per-dimension affine params + byte codes are written once per
    * corpus snapshot ([[graft.functions.VectorFunctions.saveSq]]) and
    * every later job probes the parquet-backed index, so the gate and
    * the bench price SERVING (the steady state FAISS deployments run),
    * not training. The build is deterministic (min/max params, affine
    * encode), so a rebuilt and a reloaded index probe identically and
    * the gate hash is stable no matter which run populated the index.
    * Same audit as q145 (realized recall@5 1.00 at all three SFs;
    * bound 0.90).
    */
  def q168SqPersisted(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val path = graft.Memo.persisted("sq_index", indexKey(d, "sq8"), "encoded")(
      VF.saveSq(VF.buildSq(emb), _))
    val idx = VF.SqIndex(graft.Memo.relation(s, s"$path/params"),
      graft.Memo.relation(s, s"$path/encoded"))
    val probed = VF.sqProbe(q, idx, emb, k = 5, rerank = 64)
    VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.90, corpusTag = d)
  }

  /** PERSISTED-PQ probe (r14, VERDICT r13 #3): q142's codebooks +
    * 16-byte codes written once ([[graft.functions.VectorFunctions
    * .savePq]]), probed from parquet — the deterministic-build /
    * stable-hash argument of [[q104IvfPersisted]] verbatim (the
    * codebooks come from the xxhash-seeded Lloyd pass, deterministic
    * across runs). Same audit as q142 (realized recall@5 1.00 at all
    * three SFs; bound 0.80).
    */
  def q169PqPersisted(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val path = graft.Memo.persisted("pq_index", indexKey(d, "m=16|ksub=64|iters=1"), "encoded")(
      VF.savePq(VF.buildPq(emb, m = 16, ksub = 64, iters = 1), _))
    val idx = VF.PqIndex(graft.Memo.relation(s, s"$path/codebooks"),
      graft.Memo.relation(s, s"$path/encoded"))
    val probed = VF.pqProbe(q, idx, emb, k = 5, rerank = 128)
    VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.80, corpusTag = d)
  }

  /** PERSISTED residual-IVFADC probe (r14, VERDICT r13 #3): q146's
    * coarse centroids + residual codebooks + rnorm-bearing codes
    * written once ([[graft.functions.VectorFunctions.saveIvfPq]]),
    * probed from parquet — the full FAISS serving shape: billion-scale
    * deployments build IndexIVFPQ offline and mmap it for probes; this
    * gate prices exactly that steady state. Deterministic build, same
    * audit as q146 (realized recall@5 0.82 / 0.82 / 0.78; bound 0.60).
    */
  def q170IvfPqPersisted(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val path = graft.Memo.persisted("ivfpq_index",
      indexKey(d, "nlist=16|refine=1|m=16|ksub=64|iters=1|residual=1"), "encoded")(
      VF.saveIvfPq(VF.buildIvfPq(emb, nlist = 16, refine = 1, m = 16,
        ksub = 64, iters = 1, residual = true), _))
    val idx = VF.IvfPqIndex(graft.Memo.relation(s, s"$path/centroids"),
      graft.Memo.relation(s, s"$path/codebooks"),
      graft.Memo.relation(s, s"$path/encoded"))
    val probed = VF.ivfPqProbe(q, idx, emb, k = 5, nprobe = 8, rerank = 128)
    VF.topKRecallAuditCached(probed, q, emb, k = 5, bound = 0.60, corpusTag = d)
  }

  /** Vector norms + per-label stats, exact sequential folds. */
  def q45EmbeddingNorms(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(s)
    embeddings(s, d)
      .select(col("vec_id"), col("label"), VF.norm(col("embedding")).as("norm"))
      .orderBy(col("vec_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_embed_neardup_lsh" -> (q37EmbedNearDupLsh _),
    "q40_cosine_topk"    -> (q40CosineTopk _),
    "q185_hard_negatives" -> (q185HardNegatives _),
    "q41_ann_lsh"        -> (q41AnnLsh _),
    "q45_embedding_norm" -> (q45EmbeddingNorms _),
    "q77_ann_ivf"        -> (q77AnnIvf _),
    "q104_ivf_persisted" -> (q104IvfPersisted _),
    "q140_ivf_sampled"   -> (q140IvfSampled _),
    "q142_pq_topk"       -> (q142PqTopk _),
    "q143_ivfpq_topk"    -> (q143IvfPqTopk _),
    "q145_sq_topk"       -> (q145SqTopk _),
    "q146_ivfpq_residual" -> (q146IvfPqResidual _),
    "q168_sq_persisted"  -> (q168SqPersisted _),
    "q169_pq_persisted"  -> (q169PqPersisted _),
    "q170_ivfpq_persisted" -> (q170IvfPqPersisted _),
    "q109_cluster_assign" -> (q109ClusterAssign _),
    "q111_semdedup"      -> (q111SemDedup _),
    "q116_semdedup_learned" -> (q116SemDedupLearned _),
  )

  /** SemDeDup with LEARNED centroids (VERDICT r8 next #7) — the
    * paper's actual pipeline, cluster THEN prune, composed end-to-end
    * in the gate: one Lloyd refinement pass ([[graft.functions
    * .VectorFunctions.lloydRefine]], the production [[graft.functions
    * .VectorFunctions.buildIvf]]/kmeans refinement loop) from
    * replayable seeds (vec_id < 8 — the hash-ranked sample orders by
    * Spark's xxhash64, which DuckDB can't reproduce), then
    * [[graft.functions.VectorFunctions.semDedup]] against the learned
    * means. DuckDB replays EVERYTHING by brute force: the seed
    * assignment argmax, the per-cluster per-dimension mean, the
    * reassignment argmax, and every within-cluster prune decision.
    * The two engines' cluster means differ in the last ulp (parallel
    * vs sequential sum order — the one non-row-local float in the
    * recipe), so floats never reach the output; they only gate
    * comparisons, whose margins are measured ≥ 1.4e-5 at all three
    * SFs (min argmax gap 1.3e-4 / 7.5e-5 / 1.5e-5, min |cos−tau|
    * 7.6e-4 / 1.7e-3 / 7.3e-5 — ten orders above ulp noise). The
    * prune drops 9 / 14 / 137 vectors at the three SFs, so the drop
    * path provably fires at every scale the gate runs.
    */
  def q116SemDedupLearned(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val learned = VF.lloydRefine(emb, seeds, iters = 1)
    VF.semDedup(emb, learned, tau = 0.42).orderBy(col("vec_id"))
  }

  /** SemDeDup ([[graft.functions.VectorFunctions.semDedup]]) with the
    * q109 pinned seeds (vec_id < 8 as centroids, corpus vec_id ≥ 8), so
    * DuckDB recomputes the ENTIRE recipe by brute force — every
    * assignment argmax AND every within-cluster pair prune — and the
    * survivor set is checked id-for-id. tau = 0.42 drops 6 / 11 / 116
    * vectors at the three SFs (measured), so the prune path provably
    * fires at every scale the gate runs. Cosines never reach the
    * output; they only gate comparisons, where both engines' sequential
    * folds are bit-identical (q37/q40 precedent).
    */
  def q111SemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    VF.semDedup(emb.filter(col("vec_id") >= 8), seeds, tau = 0.42)
      .orderBy(col("vec_id"))
  }

  /** Centroid assignment ([[graft.functions.VectorFunctions
    * .clusterAssign]]) with PINNED seed centroids (vec_id < 8), so the
    * full per-vector argmax — scores, the max-cent_id tie order, the
    * codegen'd broadcast-matrix expression itself — is oracle-checked
    * cell-for-cell: DuckDB recomputes every assignment by brute force
    * over DOUBLE[] casts (bit-identical cosine folds, the q40
    * precedent). The kmeans/IVF refinement loop reuses exactly this
    * assignment, so the gate covers the clustering operator's moving
    * part; the Lloyd iteration on top is DedupSpec-asserted.
    */
  def q109ClusterAssign(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    // non-seed vectors only: a seed's self-cosine is the one value where
    // the two engines' algebraically-equal cosine formulations round one
    // ulp apart (dot/(√na·√nb) vs dot/√(na·nb) at dot = na = nb) — the
    // q40 oracle excludes self-pairs for the same reason
    VF.clusterAssign(emb.filter(col("vec_id") >= 8), seeds)
      .join(broadcast(seeds), col("cid") === col("cent_id"))
      .select(col("vec_id"), col("cid"),
        VF.cosine(col("embedding"), col("cvec")).as("cos"))
      .orderBy(col("vec_id"))
  }

  /** Shared q41/q77 oracle: the exact-top-5 reference side of
    * [[graft.functions.VectorFunctions.topKRecallAudit]], recomputed
    * from scratch (same brute-force CTE as the q40 oracle — sub-second
    * on the verification corpus).
    */
  private val annAuditOracle: String = """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s),
      t AS (SELECT qid, MAX(CASE WHEN rn = 5 THEN cos END) kth, COUNT(*) nk
            FROM r WHERE rn <= 5 GROUP BY qid)
      SELECT (SELECT COUNT(*) FROM q) AS n_queries,
             CAST(SUM(nk) AS BIGINT) AS n_exact,
             MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
             TRUE AS full_k, TRUE AS recall_ok
      FROM t"""

  val sql: Map[String, String] = Map(
    // DuckDB recomputes the exact pair set AND its cosine extremes
    // (bit-exact) — the reference side of the audit is verified, not
    // trusted; recall_ok/precision_ok are the pinned Spark sentinels
    // (see pairRecallAudit's scaladoc for the per-column roles)
    "q37_embed_neardup_lsh" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      p AS (SELECT list_cosine_similarity(a.v, b.v) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.45)
      SELECT COUNT(*) AS n_exact, MIN(cos) AS min_exact_cos,
             MAX(cos) AS max_exact_cos, TRUE AS recall_ok,
             TRUE AS precision_ok
      FROM p""",

    // q41/q77: DuckDB independently recomputes the EXACT side of the
    // recall audit — brute-force top-5 per query, its row count, and
    // the per-query 5th-best cosine extremes (bit-exact: sequential
    // folds both sides) — so Spark's reference set is verified, not
    // trusted (VERDICT r5 #1). full_k/recall_ok depend on the ANN
    // output (splitmix64 signatures, not portable SQL); the oracle pins
    // them as constants and any recall regression flips Spark's value
    // against them.
    "q41_ann_lsh" -> annAuditOracle,
    "q77_ann_ivf" -> annAuditOracle,
    // q104 probes the PERSISTED index with q77's parameters; the exact
    // reference side is the same, so the same oracle verifies it
    "q104_ivf_persisted" -> annAuditOracle,
    // r14: persisted-probe variants of SQ8/PQ/residual-IVFADC — same
    // exact reference side (deterministic builds probe identically
    // whether rebuilt or reloaded), so the same oracle verifies them
    "q168_sq_persisted" -> annAuditOracle,
    "q169_pq_persisted" -> annAuditOracle,
    "q170_ivfpq_persisted" -> annAuditOracle,
    // q140: the SAMPLED build's audit — same exact reference side,
    // plus the conservation columns DuckDB verifies exactly: every
    // corpus vector assigned to exactly one posting list, nlist
    // centroids kept; sampled_smaller is a pinned sentinel (the xxhash
    // half-sample can't be replayed in portable SQL)
    "q140_ivf_sampled" -> """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s),
      t AS (SELECT qid, MAX(CASE WHEN rn = 5 THEN cos END) kth, COUNT(*) nk
            FROM r WHERE rn <= 5 GROUP BY qid)
      SELECT (SELECT COUNT(*) FROM q) AS n_queries,
             CAST(SUM(nk) AS BIGINT) AS n_exact,
             MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
             TRUE AS full_k, TRUE AS recall_ok,
             (SELECT COUNT(*) FROM embeddings) AS n_assigned,
             CAST(16 AS BIGINT) AS n_centroids, TRUE AS sampled_smaller
      FROM t""",

    // q142: the PQ audit — same exact reference side as q41/q77/q140,
    // plus the conservation columns DuckDB verifies exactly (every
    // corpus vector encoded → n_encoded = corpus count) or pins as
    // constants (m·ksub = 1024 codewords; codes_ok — the in-[0,ksub)
    // width-m invariant is Spark-checked over the full corpus)
    "q142_pq_topk" -> """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s),
      t AS (SELECT qid, MAX(CASE WHEN rn = 5 THEN cos END) kth, COUNT(*) nk
            FROM r WHERE rn <= 5 GROUP BY qid)
      SELECT (SELECT COUNT(*) FROM q) AS n_queries,
             CAST(SUM(nk) AS BIGINT) AS n_exact,
             MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
             TRUE AS full_k, TRUE AS recall_ok,
             (SELECT COUNT(*) FROM embeddings) AS n_encoded,
             TRUE AS codes_ok, CAST(1024 AS BIGINT) AS n_codebook
      FROM t""",

    // q146: the residual-IVFADC audit — q143's oracle plus the
    // norms_ok sentinel (stored reconstruction norms all positive,
    // Spark-checked over the full corpus)
    "q146_ivfpq_residual" -> """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s),
      t AS (SELECT qid, MAX(CASE WHEN rn = 5 THEN cos END) kth, COUNT(*) nk
            FROM r WHERE rn <= 5 GROUP BY qid)
      SELECT (SELECT COUNT(*) FROM q) AS n_queries,
             CAST(SUM(nk) AS BIGINT) AS n_exact,
             MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
             TRUE AS full_k, TRUE AS recall_ok,
             (SELECT COUNT(*) FROM embeddings) AS n_encoded,
             TRUE AS codes_ok, TRUE AS norms_ok,
             CAST(1024 AS BIGINT) AS n_codebook,
             CAST(16 AS BIGINT) AS n_centroids
      FROM t""",

    // q145: the SQ8 audit — same exact reference side, plus the
    // conservation columns DuckDB verifies exactly (n_encoded = corpus
    // count) or pins as constants (n_params = 64 — one affine param
    // row per dimension; codes_ok / params_ok are Spark-checked
    // invariants over the full corpus / param relation)
    "q145_sq_topk" -> """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s),
      t AS (SELECT qid, MAX(CASE WHEN rn = 5 THEN cos END) kth, COUNT(*) nk
            FROM r WHERE rn <= 5 GROUP BY qid)
      SELECT (SELECT COUNT(*) FROM q) AS n_queries,
             CAST(SUM(nk) AS BIGINT) AS n_exact,
             MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
             TRUE AS full_k, TRUE AS recall_ok,
             (SELECT COUNT(*) FROM embeddings) AS n_encoded,
             TRUE AS codes_ok, CAST(64 AS BIGINT) AS n_params,
             TRUE AS params_ok
      FROM t""",

    // q143: the IVFADC audit — q142's oracle plus the coarse-side
    // n_centroids conservation (the q140 pin)
    "q143_ivfpq_topk" -> """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s),
      t AS (SELECT qid, MAX(CASE WHEN rn = 5 THEN cos END) kth, COUNT(*) nk
            FROM r WHERE rn <= 5 GROUP BY qid)
      SELECT (SELECT COUNT(*) FROM q) AS n_queries,
             CAST(SUM(nk) AS BIGINT) AS n_exact,
             MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
             TRUE AS full_k, TRUE AS recall_ok,
             (SELECT COUNT(*) FROM embeddings) AS n_encoded,
             TRUE AS codes_ok, CAST(1024 AS BIGINT) AS n_codebook,
             CAST(16 AS BIGINT) AS n_centroids
      FROM t""",

    "q40_cosine_topk" -> """
      WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid),
      r AS (SELECT qid, cid, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s)
      SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    // q185: q40's exact scan with the hard-negative label exclusion —
    // the mined near-misses for a contrastive objective
    "q185_hard_negatives" -> """
      WITH q AS (SELECT vec_id qid, label qlabel,
                        CAST(embedding AS DOUBLE[]) qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id cid, label clabel,
                   CAST(embedding AS DOUBLE[]) cv FROM embeddings),
      s AS (SELECT qid, qlabel, cid, clabel,
                   list_cosine_similarity(qv, cv) cos
            FROM q, c WHERE cid <> qid AND clabel <> qlabel),
      r AS (SELECT qid, qlabel, cid, clabel, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
            FROM s)
      SELECT qid, qlabel, cid, clabel, cos, rn
      FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    "q45_embedding_norm" -> """
      SELECT vec_id, label,
        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) AS norm
      FROM embeddings ORDER BY vec_id""",

    // q111: full brute-force SemDeDup — q109's assignment CTE, then the
    // within-cluster keep-lowest-id prune at tau = 0.42; survivor ids
    // compared exactly
    "q111_semdedup" -> """
      WITH c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv
                 FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings
            WHERE vec_id >= 8),
      s AS (SELECT vec_id, cid, list_cosine_similarity(ev, cv) cos
            FROM v, c),
      r AS (SELECT vec_id, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cid DESC) rn
            FROM s),
      a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
      e AS (SELECT a.vec_id, a.cid, CAST(embedding AS DOUBLE[]) ev
            FROM a JOIN embeddings USING (vec_id)),
      d AS (SELECT DISTINCT b.vec_id FROM e x JOIN e b
              ON x.cid = b.cid AND x.vec_id < b.vec_id
            WHERE list_cosine_similarity(x.ev, b.ev) >= 0.42)
      SELECT vec_id, cid FROM a
      WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id""",

    // q116: full brute-force replay of the LEARNED-centroid SemDeDup —
    // seed assignment, per-cluster per-dimension Lloyd mean
    // (generate_subscripts/unnest zip positionally), reassignment, and
    // the keep-lowest-id prune at tau = 0.42; survivor ids compared
    // exactly (no floats in the output — see q116's scaladoc for the
    // measured decision margins)
    "q116_semdedup_learned" -> """
      WITH c0 AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv
                  FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings),
      s0 AS (SELECT vec_id, cid, list_cosine_similarity(ev, cv) cos
             FROM v, c0),
      a0 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid DESC) rn
               FROM s0) WHERE rn = 1),
      m AS (SELECT a0.cid, generate_subscripts(ev, 1) pos, unnest(ev) val
            FROM a0 JOIN v USING (vec_id)),
      c1 AS (SELECT cid, list(avgv ORDER BY pos) cv FROM (
               SELECT cid, pos, AVG(val) avgv FROM m GROUP BY cid, pos)
             GROUP BY cid),
      s1 AS (SELECT vec_id, cid, list_cosine_similarity(ev, cv) cos
             FROM v, c1),
      a1 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid DESC) rn
               FROM s1) WHERE rn = 1),
      e AS (SELECT a1.vec_id, a1.cid, ev FROM a1 JOIN v USING (vec_id)),
      dp AS (SELECT DISTINCT b.vec_id FROM e x JOIN e b
               ON x.cid = b.cid AND x.vec_id < b.vec_id
             WHERE list_cosine_similarity(x.ev, b.ev) >= 0.42)
      SELECT vec_id, cid FROM a1
      WHERE vec_id NOT IN (SELECT vec_id FROM dp) ORDER BY vec_id""",

    // q109: brute-force recomputation of EVERY vector's nearest seed
    // centroid; ties → highest cent_id (cid DESC) matches the
    // assignment expression's max-cent_id order
    "q109_cluster_assign" -> """
      WITH c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv
                 FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings
            WHERE vec_id >= 8),
      s AS (SELECT vec_id, cid, list_cosine_similarity(ev, cv) cos
            FROM v, c),
      r AS (SELECT vec_id, cid, cos,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cid DESC) rn
            FROM s)
      SELECT vec_id, cid, cos FROM r WHERE rn = 1 ORDER BY vec_id""",
  )
}
