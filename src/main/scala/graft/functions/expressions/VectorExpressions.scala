package graft.functions.expressions

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path. The pure-SQL
  * formulations (`aggregate` + `zip_with` higher-order functions, or a
  * per-bit expression tree for LSH) either stay interpreted or explode
  * the generated code past janino's limits; these evaluate as tight JVM
  * loops over ArrayData instead — q41_ann_lsh drops from ~54 s to
  * sub-second at sf0.1.
  *
  * Codegen strategy: each expression's doGenCode emits a single static
  * call into its companion object (scalac puts static forwarders for
  * companion-object methods on the class), so the generated code stays
  * tiny (janino-safe) while the expression remains INSIDE
  * WholeStageCodegen — a CodegenFallback here would force the parent
  * plan to materialize an InternalRow per call and break the codegen
  * span around it (q46 evaluates cosine 12.5M times at sf0.1).
  */
private object VecUtil {
  /** Read element i as double for float/double arrays. */
  @inline def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** cosine_sim(a, b): sequential-fold dot/norms in double precision —
  * bit-identical to DuckDB list_cosine_similarity over DOUBLE[] (and to
  * the aggregate/zip_with formulation it replaces). Returns NULL when
  * the vectors have different lengths (DuckDB raises there; silently
  * truncating would hand plausible-looking scores to ragged embedding
  * columns).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs array<float|double> args, got ${left.dataType}, ${right.dataType}")
  }
  private lazy val lFloat = VecUtil.isFloatArray(left.dataType)
  private lazy val rFloat = VecUtil.isFloatArray(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      lFloat, rFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("cos")
      s"""
         java.lang.Double $boxed = graft.functions.expressions.CosineSimilarity.compute(
           $a, $b, $lFloat, $rFloat);
         if ($boxed == null) { ${ev.isNull} = true; }
         else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  /** Null (not a truncated score) on length mismatch. */
  def compute(a: ArrayData, b: ArrayData, lFloat: Boolean, rFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = VecUtil.get(a, i, lFloat)
      val y = VecUtil.get(b, i, rFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

/** lsh_signature(v, bits, tables): array of `tables` bucket ids, bucket
  * bit j = sign of v·plane(table, j). Planes are deterministic
  * splitmix64 pseudo-random vectors, cached per (tables, bits, dim).
  */
case class LshSignatures(child: Expression, bitsExpr: Expression, tablesExpr: Expression)
    extends Expression {
  override def children: Seq[Expression] = Seq(child, bitsExpr, tablesExpr)
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def foldable: Boolean = children.forall(_.foldable)

  private lazy val bits = bitsExpr.eval().asInstanceOf[Number].intValue()
  private lazy val tables = tablesExpr.eval().asInstanceOf[Number].intValue()
  private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    LshSignatures.compute(v.asInstanceOf[ArrayData], bits, tables, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = c.code + code"""
      boolean ${ev.isNull} = ${c.isNull};
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.expressions.LshSignatures.compute(
          ${c.value}, $bits, $tables, $isFloat);
      }""")
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs(0), bitsExpr = cs(1), tablesExpr = cs(2))
}

object LshSignatures {
  private val cache = new ConcurrentHashMap[(Int, Int, Int), Array[Array[Array[Double]]]]()

  def compute(a: ArrayData, bits: Int, tables: Int, isFloat: Boolean): ArrayData = {
    val dim = a.numElements()
    val ps = planes(tables, bits, dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val p = ps(t)(j)
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += VecUtil.get(a, d, isFloat) * p(d); d += 1 }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  /** splitmix64-derived unit value in [-0.5, 0.5) — public-domain mix. */
  private def splitmixUnit(seed: Long): Double = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  def planes(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] =
    cache.computeIfAbsent((tables, bits, dim), _ =>
      Array.tabulate(tables, bits, dim)((t, j, d) =>
        // seed is injective over (t, j, d) for bits ≤ 64, dim < 2^20 —
        // an additive formula collided for dim > 1009, correlating
        // planes within a table
        splitmixUnit(((t.toLong * 64L + j) << 20) + d)))
}

/** vec_norm(a): ‖a‖₂ with the same sequential fold. */
case class VectorNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  private lazy val isFloat = VecUtil.isFloatArray(child.dataType)
  override def nullSafeEval(v: Any): Any =
    VectorNorm.compute(v.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.expressions.VectorNorm.compute($a, $isFloat)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorNorm {
  def compute(a: ArrayData, isFloat: Boolean): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = VecUtil.get(a, i, isFloat); s += x * x; i += 1 }
    math.sqrt(s)
  }
}

/** dot_product(a, b): a·b with the same sequential fold as
  * [[CosineSimilarity]]'s dot accumulator, so
  * `dot_product(a,b) / (vec_norm(a) * vec_norm(b))` is BIT-IDENTICAL to
  * `cosine_sim(a,b)` — which lets all-pairs scans hoist the two norms
  * out of the O(n²) loop (computed once per vector instead of per pair)
  * without perturbing the oracle hash. Null on length mismatch, like
  * cosine_sim.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<float|double> args, got ${left.dataType}, ${right.dataType}")
  }
  private lazy val lFloat = VecUtil.isFloatArray(left.dataType)
  private lazy val rFloat = VecUtil.isFloatArray(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      lFloat, rFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("dot")
      s"""
         java.lang.Double $boxed = graft.functions.expressions.DotProduct.compute(
           $a, $b, $lFloat, $rFloat);
         if ($boxed == null) { ${ev.isNull} = true; }
         else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DotProduct {
  def compute(a: ArrayData, b: ArrayData, lFloat: Boolean, rFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += VecUtil.get(a, i, lFloat) * VecUtil.get(b, i, rFloat)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }
}

/** Registration: one idempotent per-session call that installs every
  * graft native, the DuckDB-dialect aliases, the planner strategies and
  * the TIME-type flag.
  */
object GraftFunctions {
  private val base: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "lsh_signature" -> (es => LshSignatures(es(0), es(1), es(2))),
    "vec_norm" -> (es => VectorNorm(es.head)),
    "shingle_hashes" -> (es => ShingleHashes(es(0), es(1))),
    "shingle_strings" -> (es => ShingleStrings(es(0), es(1))),
    "minhash_signature" -> (es => MinhashSignature(es(0), es(1), es(2))),
    "simhash_sig" -> (es => SimHashSig(es(0), es(1))),
    "dsir_buckets" -> (es => DsirBuckets(es(0), es(1))),
    "token_grams" -> (es => TokenGrams(es(0), es(1))),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "norm_fingerprint" -> (es => NormFingerprint(es.head)),
    // gzip-compression-ratio quality signal (Dolma/RefinedWeb practice)
    "deflate_ratio" -> (es => DeflateRatio(es.head)),
    // Spark's own codegen'd Bloom-filter membership probe (the engine
    // only wires it for AQE runtime filters; registering it makes the
    // sketch usable as a broadcast-free decontamination prefilter —
    // see graft.functions.Dedup.decontaminateExactBloom)
    "bloom_might_contain" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))),
    // SQL-callable PII scrubber (TextFunctions.redactPii as one call):
    // composing Catalyst's own RegExpReplace here spares YAML/SQL
    // authors the three-level backslash-escape labyrinth the raw
    // patterns would need in a quoted `sql` stage
    "redact_pii" -> (es => {
      import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
      RegExpReplace(
        RegExpReplace(es.head,
          Literal(graft.functions.TextFunctions.EmailRe), Literal("<EMAIL>")),
        Literal(graft.functions.TextFunctions.PhoneRe), Literal("<PHONE>"))
    }))

  /** graft natives + the DuckDB-dialect aliases (VERDICT r4 #1). */
  private val fns: Seq[(String, Seq[Expression] => Expression)] =
    base ++ DuckDialect.aliases

  /** Sessions already registered (weak so stopped sessions collect).
    * Keyed on the session itself rather than name-existence checks: a
    * pre-existing foreign function under one of our names must be
    * REPLACED (ADVICE r2 — functionExists would silently keep it and
    * every graft operator on that session would compute with it).
    */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per session; re-registration (every query entry calls
    * this) is a no-op instead of spamming "replaced a previously
    * registered function".
    */
  def register(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      // Spark 4.1 ships the ANSI TIME type behind a runtime flag; the
      // DuckDB dialect's TIME-typed scalars (sweep-7: make_time,
      // extract-on-TIME, TIME casts) need it, so every graft session
      // runs with it on — it only UNLOCKS a type, existing plans are
      // unaffected.
      spark.conf.set("spark.sql.timeType.enabled", "true")
      val reg = spark.sessionState.functionRegistry
      fns.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "scala_udf")
      }
      // Merge-shaped ASOF JOIN execution (VERDICT r12 #1): planner
      // strategy recognizing the dialect rewrite's fingerprint. Session-
      // scoped (ExperimentalMethods is per-SessionState), so cloned /
      // newSession() sessions pick it up through their own register call.
      // Small global sorts plan as one sorted partition (SmallSortStrategy).
      Seq(graft.plans.AsofMergeStrategy, graft.plans.SmallSortStrategy).foreach { s =>
        if (!spark.experimental.extraStrategies.contains(s))
          spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ s
      }
    }
}

/** Top-k nearest centroids by cosine, the centroid matrix living in a
  * Spark BROADCAST VARIABLE (the BloomMightContainBroadcast pattern —
  * the plan carries only the handle). Returns the winning centroids'
  * INDICES into the broadcast array (the caller maps index → cent_id
  * with an nlist-row broadcast join), ranked by cosine descending.
  *
  * This is the row-local replacement for the IVF build/probe
  * `crossJoin(centroids) + groupBy/window` shape: the old plan
  * materialized AND SHUFFLED N·nlist rows to take a per-vector argmax;
  * this computes the same argmax inside WholeStageCodegen while the
  * corpus stays put — the flops are identical (every vector must score
  * every centroid; that is what an IVF quantizer IS), but nothing
  * moves. Parity with the old shape is exact, including ties:
  *
  *  - cosine: the same sequential double fold as [[CosineSimilarity]]
  *    (bit-identical scores; a length-mismatched centroid never wins,
  *    like the old NULL-cosine rows);
  *  - tie order: `tieHigh = true` reproduces `max(struct(cos, cent_id))`
  *    (equal cosine → HIGHEST cent_id, i.e. the highest index when the
  *    broadcast array is sorted by cent_id ascending — build side);
  *    `tieHigh = false` reproduces the probe window's
  *    `ORDER BY cos DESC, cent_id` (equal cosine → LOWEST cent_id);
  *  - NaN: ranked via java.lang.Double.compare, NaN greatest — Spark's
  *    own double ordering.
  *
  * Selection is an insertion pass over a k-slot buffer — O(nlist·k)
  * per row worst case, fine for the k = 1 assignment and the
  * nprobe ≤ O(√nlist)-ish probe fans the auto-sizing produces; a heap
  * would win only for adversarially large nprobe.
  */
case class NearestCentroidsBroadcast(
    cents: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    child: Expression,
    k: Int,
    tieHigh: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_centroids needs array<float|double>, got $t")
    }

  private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  override def nullSafeEval(v: Any): Any =
    NearestCentroidsBroadcast.topK(
      v.asInstanceOf[ArrayData], isFloat, cents.value, k, tieHigh)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("graftCentsBc", cents, bcCls)
    // resolve the broadcast once per generated-class instance
    val mVar = ctx.addMutableState("double[][]", "graftCentsMat",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.expressions.NearestCentroidsBroadcast.topK(
         |  $c, $isFloat, $mVar, $k, $tieHigh);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroidsBroadcast {
  def topK(v: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
           k: Int, tieHigh: Boolean): ArrayData = {
    val n = v.numElements()
    val cap = math.min(k, cents.length)
    val idxs = new Array[Int](cap)
    val coss = new Array[Double](cap)
    var size = 0
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      if (c.length == n) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = VecUtil.get(v, i, isFloat)
          val y = c(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        val cos = dot / (math.sqrt(na) * math.sqrt(nb))
        // rank: cos desc; equal cos → the scan is index-ascending, so a
        // new entry outranks an equal one iff tieHigh
        var p = size
        while (p > 0 && {
          val cmp = java.lang.Double.compare(coss(p - 1), cos)
          cmp < 0 || (cmp == 0 && tieHigh)
        }) p -= 1
        if (p < cap) {
          val last = math.min(size, cap - 1)
          var j = last
          while (j > p) { idxs(j) = idxs(j - 1); coss(j) = coss(j - 1); j -= 1 }
          idxs(p) = ci; coss(p) = cos
          if (size < cap) size += 1
        }
      }
      ci += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(idxs, size))
  }
}

/** All-pairs-above-threshold over a BROADCAST corpus matrix — the
  * row-local engine of the exact pairwise oracle ([[graft.functions
  * .VectorFunctions.exactNearDupPairs]]): for an input row (id, vec),
  * emit (id_b, cos) for every broadcast row with id_b > id (ids sorted
  * ascending — binary search finds the upper-triangle start) and
  * cosine ≥ tau. Replaces the BroadcastNestedLoopJoin formulation,
  * which paid per-pair row materialization (~500 ns/pair — 5× DuckDB
  * on the q46 shape); this scans primitive double[] rows inside one
  * codegen'd call. Bit-compatibility: dot/na/nb are independent
  * sequential folds, so fusing them in one loop produces the same
  * bits as the old dot_product / vec_norm·vec_norm split, and the
  * same as DuckDB's list_cosine_similarity.
  */
case class PairsAboveThresholdBroadcast(
    ids: org.apache.spark.broadcast.Broadcast[Array[Long]],
    mat: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    left: Expression,
    right: Expression,
    tau: Double)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id_b", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val idOk = left.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val vecOk = right.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (idOk && vecOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pairs_above needs (integral id, array<float|double>), got ${left.dataType}, ${right.dataType}")
  }

  private lazy val isFloat = VecUtil.isFloatArray(right.dataType)

  override def nullSafeEval(idv: Any, vecv: Any): Any =
    PairsAboveThresholdBroadcast.pairs(idv.asInstanceOf[Number].longValue(),
      vecv.asInstanceOf[ArrayData], isFloat, ids.value, mat.value, tau)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val idsRef = ctx.addReferenceObj("graftPairIdsBc", ids, bcCls)
    val matRef = ctx.addReferenceObj("graftPairMatBc", mat, bcCls)
    val idsVar = ctx.addMutableState("long[]", "graftPairIds",
      v => s"$v = (long[]) $idsRef.value();")
    val matVar = ctx.addMutableState("double[][]", "graftPairMat",
      v => s"$v = (double[][]) $matRef.value();")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.expressions.PairsAboveThresholdBroadcast.pairs(
         |  (long) $a, $b, $isFloat, $idsVar, $matVar, $tau);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PairsAboveThresholdBroadcast {
  def pairs(id: Long, v: ArrayData, isFloat: Boolean,
            ids: Array[Long], mat: Array[Array[Double]], tau: Double): ArrayData = {
    // first index with ids(j) > id — ids sorted ascending
    var lo = 0
    var hi = ids.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (ids(m) <= id) lo = m + 1 else hi = m
    }
    val n = v.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var j = lo
    while (j < ids.length) {
      val c = mat(j)
      if (c.length == n) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = VecUtil.get(v, i, isFloat)
          val y = c(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        val cos = dot / (math.sqrt(na) * math.sqrt(nb))
        if (cos >= tau)
          out += org.apache.spark.sql.catalyst.InternalRow(ids(j), cos)
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** pq_encode: per-subspace nearest-codeword indices against a BROADCAST
  * codebook array — the Product Quantization encoder (Jégou, Douze,
  * Schmid, "Product quantization for nearest neighbor search", PAMI
  * 2011). The d-dim vector splits into `m` contiguous subvectors of
  * d/m dims; subspace j's subvector maps to the index of its nearest
  * (L2) codeword in `books(j)` — ties break toward the LOWEST code
  * (strict-< scan), a pure function of the input. Output is the
  * m-length int code array: at ksub = 256 that is m BYTES of
  * information per vector vs 4·d bytes of float32 — the compression
  * that lets a 100 TB embedding corpus's candidate scan live in
  * memory. NULL (not a truncated code) when the vector's length is not
  * the codebooks' summed width, mirroring [[CosineSimilarity]]'s
  * ragged-input discipline.
  *
  * Same codegen strategy as [[NearestCentroidsBroadcast]]: the plan
  * carries only the broadcast handle; doGenCode emits one static call
  * so the expression stays inside WholeStageCodegen.
  */
case class PqEncodeBroadcast(
    books: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
    child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_encode needs array<float|double>, got $t")
    }

  private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  override def nullSafeEval(v: Any): Any =
    PqEncodeBroadcast.encode(v.asInstanceOf[ArrayData], isFloat, books.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("graftPqBooksBc", books, bcCls)
    val mVar = ctx.addMutableState("double[][][]", "graftPqBooks",
      v => s"$v = (double[][][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("codes")
      s"""
         org.apache.spark.sql.catalyst.util.ArrayData $boxed =
           graft.functions.expressions.PqEncodeBroadcast.encode($c, $isFloat, $mVar);
         if ($boxed == null) { ${ev.isNull} = true; }
         else { ${ev.value} = $boxed; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncodeBroadcast {
  /** Null on width mismatch (Σ dsub ≠ |v|). */
  def encode(v: ArrayData, isFloat: Boolean,
             books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    var width = 0
    var j = 0
    while (j < m) { width += books(j)(0).length; j += 1 }
    if (v.numElements() != width) return null
    val codes = new Array[Int](m)
    var off = 0
    j = 0
    while (j < m) {
      val cb = books(j)
      val dsub = cb(0).length
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          val diff = VecUtil.get(v, off + i, isFloat) - cw(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(j) = best
      off += dsub
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }
}

/** pq_adc_scores: Asymmetric Distance Computation over a code array —
  * for each of Q broadcast queries, the approximate cosine between the
  * query and the codes' RECONSTRUCTION, from per-query lookup tables
  * (Jégou 2011 §IV.A, inner-product form):
  *
  *   ip(q, x̂)   = Σ_j luts(q)(j)(codes(j))      (q_j · codeword)
  *   ‖x̂‖²       = Σ_j norms2(j)(codes(j))       (subspaces partition
  *                                                coordinates, so the
  *                                                decomposition is exact)
  *   score(q)   = ip / ‖x̂‖                      (÷‖q‖ is a per-query
  *                                                constant — rank-free)
  *
  * The scan is m table adds per (row, query) — d/m× fewer flops than
  * the brute-force fold, on 4·d/m× fewer stored bytes; that asymmetry
  * (query stays exact, corpus is quantized) is the whole point of ADC.
  * Output: Q-length double array, positionally aligned with the
  * broadcast query order (caller maps position → query id). A
  * zero-norm reconstruction scores 0 rather than ±Inf.
  */
case class PqAdcScoresBroadcast(
    luts: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
    norms2: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc_scores needs array<int> codes, got $t")
    }

  override def nullSafeEval(codes: Any): Any =
    PqAdcScoresBroadcast.scores(codes.asInstanceOf[ArrayData],
      luts.value, norms2.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val lutRef = ctx.addReferenceObj("graftPqLutsBc", luts, bcCls)
    val n2Ref = ctx.addReferenceObj("graftPqNorms2Bc", norms2, bcCls)
    val lutVar = ctx.addMutableState("double[][][]", "graftPqLuts",
      v => s"$v = (double[][][]) $lutRef.value();")
    val n2Var = ctx.addMutableState("double[][]", "graftPqNorms2",
      v => s"$v = (double[][]) $n2Ref.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.expressions.PqAdcScoresBroadcast.scores(
         |  $c, $lutVar, $n2Var);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_adc_score_one: [[PqAdcScoresBroadcast]] for ONE query per row —
  * the shape after an IVF probe join, where each (query, posting-list
  * row) pair carries the query's LUT index in a column. left = qidx
  * (int, position into the broadcast LUT array), right = codes
  * (array<int>). Scoring is the same ip/‖x̂‖ approximate cosine; the
  * per-row cost is m adds for the one query that actually probes this
  * row, not Q.
  */
case class PqAdcScoreOne(
    luts: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
    norms2: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    left: Expression,
    right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc_score_one needs (int qidx, array<int> codes), got ($l, $r)")
    }

  override def nullSafeEval(qidx: Any, codes: Any): Any =
    PqAdcScoreOne.score(qidx.asInstanceOf[Int],
      codes.asInstanceOf[ArrayData], luts.value, norms2.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val lutRef = ctx.addReferenceObj("graftPqLutsBc", luts, bcCls)
    val n2Ref = ctx.addReferenceObj("graftPqNorms2Bc", norms2, bcCls)
    val lutVar = ctx.addMutableState("double[][][]", "graftPqLuts",
      v => s"$v = (double[][][]) $lutRef.value();")
    val n2Var = ctx.addMutableState("double[][]", "graftPqNorms2",
      v => s"$v = (double[][]) $n2Ref.value();")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"""${ev.value} = graft.functions.expressions.PqAdcScoreOne.score(
         |  $q, $c, $lutVar, $n2Var);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdcScoreOne {
  def score(qidx: Int, codes: ArrayData, luts: Array[Array[Array[Double]]],
            norms2: Array[Array[Double]]): Double = {
    val m = norms2.length
    val lut = luts(qidx)
    var n2 = 0.0
    var ip = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      n2 += norms2(j)(c)
      ip += lut(j)(c)
      j += 1
    }
    if (n2 > 0) ip / math.sqrt(n2) else 0.0
  }
}

object PqAdcScoresBroadcast {
  def scores(codes: ArrayData, luts: Array[Array[Array[Double]]],
             norms2: Array[Array[Double]]): ArrayData = {
    val m = norms2.length
    var n2 = 0.0
    var j = 0
    while (j < m) { n2 += norms2(j)(codes.getInt(j)); j += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0
    val out = new Array[Double](luts.length)
    var qi = 0
    while (qi < luts.length) {
      val lut = luts(qi)
      var ip = 0.0
      j = 0
      while (j < m) { ip += lut(j)(codes.getInt(j)); j += 1 }
      out(qi) = ip * inv
      qi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** pq_adc_ip_one: the inner-product HALF of [[PqAdcScoreOne]] — Σ_j
  * luts(qidx)(j)(codes(j)) with no norm division. The residual-IVFADC
  * probe ([[graft.functions.VectorFunctions.ivfPqProbe]], residual
  * indexes) assembles its score as (q·centroid + this) / stored rnorm:
  * the base term is per-(query, list) and joins in as a broadcast
  * relation, the norm was computed at encode time — neither decomposes
  * into the per-subspace tables a non-residual probe can use.
  */
case class PqAdcIpOne(
    luts: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
    left: Expression,
    right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc_ip_one needs (int qidx, array<int> codes), got ($l, $r)")
    }

  override def nullSafeEval(qidx: Any, codes: Any): Any =
    PqAdcIpOne.ip(qidx.asInstanceOf[Int], codes.asInstanceOf[ArrayData], luts.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val lutRef = ctx.addReferenceObj("graftPqLutsBc", luts, bcCls)
    val lutVar = ctx.addMutableState("double[][][]", "graftPqLuts",
      v => s"$v = (double[][][]) $lutRef.value();")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = graft.functions.expressions.PqAdcIpOne.ip($q, $c, $lutVar);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdcIpOne {
  def ip(qidx: Int, codes: ArrayData, luts: Array[Array[Array[Double]]]): Double = {
    val lut = luts(qidx)
    var s = 0.0
    var j = 0
    while (j < lut.length) { s += lut(j)(codes.getInt(j)); j += 1 }
    s
  }
}

/** pq_recon_norm_base: ‖base + recon(codes)‖ — the reconstruction norm
  * of a RESIDUAL-quantized row, where `base` is the row's coarse
  * centroid and recon decodes the residual codes against the broadcast
  * codebooks. Computed ONCE at encode time and stored beside the codes
  * (the [[SqReconNormBroadcast]] trick): the cross term centroid·codeword
  * does not decompose into per-subspace tables, so a probe-time
  * derivation would either pay nlist·m·ksub cross tables or d flops per
  * row per run — a stored double beats both.
  */
case class PqReconNormWithBase(
    books: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
    left: Expression,
    right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_recon_norm_base needs (array<float|double> base, array<int> codes), got ($l, $r)")
    }

  private lazy val isFloat = VecUtil.isFloatArray(left.dataType)

  override def nullSafeEval(base: Any, codes: Any): Any =
    PqReconNormWithBase.norm(base.asInstanceOf[ArrayData], isFloat,
      codes.asInstanceOf[ArrayData], books.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bRef = ctx.addReferenceObj("graftPqBooksBc", books, bcCls)
    val bVar = ctx.addMutableState("double[][][]", "graftPqBooks",
      v => s"$v = (double[][][]) $bRef.value();")
    nullSafeCodeGen(ctx, ev, (b, c) =>
      s"""${ev.value} = graft.functions.expressions.PqReconNormWithBase.norm(
         |  $b, $isFloat, $c, $bVar);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqReconNormWithBase {
  def norm(base: ArrayData, isFloat: Boolean, codes: ArrayData,
           books: Array[Array[Array[Double]]]): Double = {
    var n2 = 0.0
    var off = 0
    var j = 0
    while (j < books.length) {
      val cw = books(j)(codes.getInt(j))
      var i = 0
      while (i < cw.length) {
        val x = VecUtil.get(base, off + i, isFloat) + cw(i)
        n2 += x * x
        i += 1
      }
      off += cw.length
      j += 1
    }
    math.sqrt(n2)
  }
}

/** sq_encode: per-dimension 8-bit scalar quantization against BROADCAST
  * affine params — FAISS's ScalarQuantizer QT_8bit shape: code_i =
  * clamp(round((v_i − vmin_i) / delta_i), 0, 255) with delta_i =
  * (vmax_i − vmin_i)/255 trained per dimension. Output is d BYTES
  * (BinaryType) per d-float vector — an exact 4× compression with NO
  * codebook search at encode time (one subtract/divide/round per
  * dimension vs PQ's ksub·d/m distance scans), the cheap end of the
  * compression family. Values outside the trained range clamp (the
  * train-on-a-sample contract). NULL on width mismatch, mirroring
  * [[PqEncodeBroadcast]]. `params` is [vmin, delta] as double[2][d].
  *
  * Same codegen strategy as the PQ family: one static call, stays
  * inside WholeStageCodegen.
  */
case class SqEncodeBroadcast(
    params: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_encode needs array<float|double>, got $t")
    }

  private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  override def nullSafeEval(v: Any): Any =
    SqEncodeBroadcast.encode(v.asInstanceOf[ArrayData], isFloat, params.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("graftSqParamsBc", params, bcCls)
    val pVar = ctx.addMutableState("double[][]", "graftSqParams",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("codes")
      s"""
         byte[] $boxed =
           graft.functions.expressions.SqEncodeBroadcast.encode($c, $isFloat, $pVar);
         if ($boxed == null) { ${ev.isNull} = true; }
         else { ${ev.value} = $boxed; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqEncodeBroadcast {
  /** Null on width mismatch (|v| ≠ d). */
  def encode(v: ArrayData, isFloat: Boolean,
             params: Array[Array[Double]]): Array[Byte] = {
    val vmin = params(0)
    val delta = params(1)
    val d = vmin.length
    if (v.numElements() != d) return null
    val codes = new Array[Byte](d)
    var i = 0
    while (i < d) {
      val c =
        if (delta(i) <= 0) 0L
        else math.round((VecUtil.get(v, i, isFloat) - vmin(i)) / delta(i))
      codes(i) = math.max(0L, math.min(255L, c)).toByte
      i += 1
    }
    codes
  }
}

/** sq_recon_norm: ‖x̂‖ of an [[SqEncodeBroadcast]] code row's
  * reconstruction x̂_i = vmin_i + code_i·delta_i — computed ONCE at
  * encode time and stored beside the codes, so the probe scan divides
  * by a stored double instead of re-deriving the norm per row per run.
  */
case class SqReconNormBroadcast(
    params: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_recon_norm needs binary codes, got $t")
    }

  override def nullSafeEval(codes: Any): Any =
    SqReconNormBroadcast.norm(codes.asInstanceOf[Array[Byte]], params.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("graftSqParamsBc", params, bcCls)
    val pVar = ctx.addMutableState("double[][]", "graftSqParams",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SqReconNormBroadcast.norm($c, $pVar);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqReconNormBroadcast {
  def norm(codes: Array[Byte], params: Array[Array[Double]]): Double = {
    val vmin = params(0)
    val delta = params(1)
    var n2 = 0.0
    var i = 0
    while (i < codes.length) {
      val x = vmin(i) + (codes(i) & 0xFF) * delta(i)
      n2 += x * x
      i += 1
    }
    math.sqrt(n2)
  }
}

/** sq_adc_scores: asymmetric scoring of an SQ8 code row against Q
  * broadcast queries. Per query q the approximate cosine numerator is
  *
  *   ip(q, x̂) = Σ_i q_i·(vmin_i + code_i·delta_i)
  *            = base(q) + Σ_i w(q)(i)·code_i
  *
  * with base(q) = Σ q_i·vmin_i and w(q)(i) = q_i·delta_i both
  * precomputed driver-side — the scan is d byte-weighted adds per
  * (row, query) over 4× fewer stored bytes (the memory-bandwidth
  * asymmetry that is SQ8's point; flops match brute force, unlike
  * PQ's m-add table walk). ‖x̂‖ arrives as the stored `rnorm` column
  * ([[SqReconNormBroadcast]]); ÷‖q‖ is rank-free per query and
  * omitted, as in [[PqAdcScoresBroadcast]]. Output: Q-length double
  * array positionally aligned with the broadcast query order; a
  * zero-norm reconstruction scores 0.
  */
case class SqAdcScoresBroadcast(
    ws: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    bases: org.apache.spark.broadcast.Broadcast[Array[Double]],
    left: Expression,
    right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_adc_scores needs (binary codes, double rnorm), got ($l, $r)")
    }

  override def nullSafeEval(codes: Any, rnorm: Any): Any =
    SqAdcScoresBroadcast.scores(codes.asInstanceOf[Array[Byte]],
      rnorm.asInstanceOf[Double], ws.value, bases.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val wRef = ctx.addReferenceObj("graftSqWsBc", ws, bcCls)
    val bRef = ctx.addReferenceObj("graftSqBasesBc", bases, bcCls)
    val wVar = ctx.addMutableState("double[][]", "graftSqWs",
      v => s"$v = (double[][]) $wRef.value();")
    val bVar = ctx.addMutableState("double[]", "graftSqBases",
      v => s"$v = (double[]) $bRef.value();")
    nullSafeCodeGen(ctx, ev, (c, n) =>
      s"""${ev.value} = graft.functions.expressions.SqAdcScoresBroadcast.scores(
         |  $c, $n, $wVar, $bVar);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SqAdcScoresBroadcast {
  def scores(codes: Array[Byte], rnorm: Double, ws: Array[Array[Double]],
             bases: Array[Double]): ArrayData = {
    val inv = if (rnorm > 0) 1.0 / rnorm else 0.0
    val out = new Array[Double](ws.length)
    var qi = 0
    while (qi < ws.length) {
      val w = ws(qi)
      var ip = bases(qi)
      var i = 0
      while (i < codes.length) { ip += w(i) * (codes(i) & 0xFF); i += 1 }
      out(qi) = ip * inv
      qi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}
