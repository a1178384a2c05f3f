package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the numeric hot paths.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`/
  * `zip_with`) evaluate their lambda per element through the
  * interpreter — fine for per-row metadata, ruinous for N²·dim
  * similarity kernels. These expressions generate a tight Java loop
  * inside whole-stage codegen instead (`.explain` shows the join +
  * score + aggregate fused in one codegen stage). Results are
  * bit-identical to the higher-order formulations (same IEEE op
  * order), so the DuckDB oracles are unaffected.
  */
object Native {

  /** Every native function: SQL name, expression class, builder —
    * the ONE table both [[register]] (a running session) and
    * [[GraftExtensions]] (a session built with
    * `spark.sql.extensions`) install from. */
  private[functions] val Functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_min_dist_sq", classOf[MinDistSq], e => MinDistSq(e(0), e(1), e(2))),
    ("graft_word_ngrams", classOf[WordNgrams], e => WordNgrams(e(0), e(1))),
    ("graft_token_segments", classOf[TokenSegments],
      e => TokenSegments(e(0), e(1))),
    ("graft_top_dot", classOf[TopDot], e => TopDot(e(0), e(1), e(2))),
    ("graft_zorder", classOf[InterleaveBits], e => InterleaveBits(e(0), e(1))),
    // Spark's own runtime-filter probe expression, exposed for
    // explicit (planner-independent) bloom pruning: args = serialized
    // BloomFilter binary literal, xxhash64 long of the probed value.
    // Codegen'd; same operator InjectRuntimeFilter plants.
    ("graft_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))),
    ("graft_pq_adc", classOf[PqAdc], e => PqAdc(e(0), e(1))),
    ("graft_pq_adc_topk", classOf[PqAdcTopK],
      e => PqAdcTopK(e(0), e(1), e(2), e(3))),
    ("graft_dot_topk", classOf[DotTopK], e => DotTopK(e(0), e(1), e(2), e(3))),
    ("graft_gather_vecs", classOf[GatherVecs], e => GatherVecs(e(0), e(1), e(2))))

  /** Idempotent per-session registration (temp functions live in the
    * session's FunctionRegistry). Guarded by functionExists so repeated
    * Column construction doesn't churn createOrReplaceTempFunction
    * (which logs a replace WARN per call). */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("graft_dot")))
      Functions.foreach { case (name, _, build) =>
        reg.createOrReplaceTempFunction(name, build, "internal")
      }
  }

  /** Σ aᵢ·bᵢ over two array<double> columns — codegen'd. */
  def dotNative(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }

  /** min over center pairs (flat [x0,y0,x1,y1,…]) of (x−cx)²+(y−cy)². */
  def minDistSqNative(spark: SparkSession, x: Column, y: Column, flatCenters: Column): Column = {
    register(spark)
    call_function("graft_min_dist_sq", x, y, flatCenters)
  }

  /** Top-k centroid assignment in one pass: the k best (list, dot)
    * pairs of `vec` against `nlist` centroids packed flat as a literal
    * array<double> — replaces the posexplode(centroids) × row_number
    * window formulation (an nlist× row blowup + a rank shuffle +
    * a cache of the exploded table) with a per-row loop that never
    * leaves the scan stage. */
  def topDotNative(spark: SparkSession, vec: Column, flatCentroids: Column, k: Int): Column = {
    register(spark)
    call_function("graft_top_dot", vec, flatCentroids,
      org.apache.spark.sql.functions.lit(k))
  }

  /** 64-bit Morton z-value of two cell-index columns (layout
    * clustering — see [[InterleaveBits]]). */
  def zOrderNative(i: Column, j: Column): Column = {
    register(SparkSession.active)
    call_function("graft_zorder", i, j)
  }

  /** Word n-gram multiset of a token array (space-joined) — a single
    * tight loop per row instead of the interpreted
    * `transform(sequence, i -> concat_ws(slice(...)))` formulation.
    * Uses SparkSession.active so pure-Column call sites (Text, Dedup)
    * need no session parameter. */
  def wordNgramsNative(tokens: Column, n: Int): Column = {
    register(SparkSession.active)
    call_function("graft_word_ngrams", tokens, org.apache.spark.sql.functions.lit(n))
  }

  /** Non-overlapping n-token segments (space-joined, ragged tail kept)
    * of a token array — one tight loop per row. Replaces the
    * interpreted `transform(sequence, i -> array_join(slice(toks,...)))`
    * formulation, whose lambda re-evaluated the FULL tokenization
    * subexpression per output segment (O(segments · tokens) regex
    * splits per document — quadratic in doc length). Same output:
    * ceil(m/n) segments, segment i = tokens[i·n .. min((i+1)·n, m))
    * joined by one space; empty array for empty input, null for null
    * input. */
  def tokenSegmentsNative(tokens: Column, n: Int): Column = {
    register(SparkSession.active)
    call_function("graft_token_segments", tokens, org.apache.spark.sql.functions.lit(n))
  }

  /** PQ asymmetric-distance (ADC) score: Σⱼ lut[j·ksub + codes[j]]
    * of an m-byte PQ code column (binary, one unsigned byte per
    * subspace) against a per-query flat lookup table of length m·ksub
    * (see [[graft.ops.Similarity.pqQueryLuts]]). One compiled loop of m
    * table reads per candidate — the scoring inner loop of product-
    * quantization ADC search, in whole-stage codegen. */
  def pqAdcNative(spark: SparkSession, codes: Column, lut: Column): Column = {
    register(spark)
    call_function("graft_pq_adc", codes, lut)
  }

  /** Whole-inverted-list ADC scan: the top-k `(nn_id, cos)` of one
    * PACKED list's codes against one query LUT — the FAISS list-scan
    * inner loop as a single expression call per (query, list) row,
    * instead of one joined row per candidate (which at
    * N·nprobe·occupancy candidates pays per-row join/aggregate
    * machinery ~100× the 8-load scoring work). See [[PqAdcTopK]]. */
  def pqAdcTopKNative(spark: SparkSession, packed: Column, ids: Column,
                      lut: Column, k: Int): Column = {
    register(spark)
    call_function("graft_pq_adc_topk", packed, ids, lut,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Whole-inverted-list EXACT scan — [[pqAdcTopKNative]]'s float
    * twin: the top-k `(nn_id, cos)` of one packed list's unit vectors
    * (dim doubles each, concatenated) against one query vector, one
    * expression call per (query, list-segment) row. Replaces the
    * 1-row-per-candidate equi-join in exact IVF search, whose
    * dominant cost at embedding dims is copying 2·dim doubles of join
    * row per candidate, not the dot itself. Same summation order as
    * [[dotNative]] (component-ascending product-sum), same
    * (cos desc, nn_id asc) order as every ranking face — answers are
    * byte-identical to the join formulation. See [[DotTopK]]. */
  def dotTopKNative(spark: SparkSession, packed: Column, ids: Column,
                    query: Column, k: Int): Column = {
    register(spark)
    call_function("graft_dot_topk", packed, ids, query,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Candidate-proportional float gather from a PACKED exact-IVF
    * segment ([[graft.ops.Similarity.ivfPack]]'s layout): the
    * `(nn_id, vb)` entries of this segment whose id is in the `wanted`
    * literal set — one binary search per wanted id against the
    * segment's ascending id array, so a segment row costs
    * O(|wanted|·log segSize) regardless of segment size, and only the
    * matched vectors' doubles are ever copied out. The rerank float
    * store of the index-only serving face: candidates' unit vectors
    * come straight out of the persisted packed segments instead of a
    * per-batch scan of the corpus float table. See [[GatherVecs]]. */
  def gatherVecsNative(spark: SparkSession, packed: Column, ids: Column,
                       wanted: Array[Long]): Column = {
    register(spark)
    call_function("graft_gather_vecs", packed, ids,
      org.apache.spark.sql.functions.lit(wanted))
  }

  /** Bloom-filter membership probe: true when `hash64` (an xxhash64
    * long of the probed value) MIGHT be in `bf`. No false negatives;
    * false-positive rate is the filter's fpp. The filter ships as a
    * binary literal — broadcast by value inside the plan, evaluated in
    * whole-stage codegen (it is Spark's runtime-filter probe
    * expression, planted explicitly instead of by InjectRuntimeFilter). */
  def mightContainNative(spark: SparkSession,
                         bf: org.apache.spark.util.sketch.BloomFilter,
                         hash64: Column): Column = {
    register(spark)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    call_function("graft_might_contain",
      org.apache.spark.sql.functions.lit(bos.toByteArray), hash64)
  }
}

/** dot(array<double>, array<double>) → double. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isDA(dt: DataType) = dt match { case ArrayType(DoubleType, _) => true; case _ => false }
    val ok = Seq(left, right).forall(e => isDA(e.dataType))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** graft_pq_adc(codes: binary, lut: array<double>) → double:
  * Σⱼ lut[j·ksub + (codes[j] & 0xFF)] with ksub = |lut| / m derived
  * per row (m = |codes|). Code bytes are UNSIGNED subspace centroid
  * indices (ksub ≤ 256). Fails loudly on a |lut| not divisible by m,
  * a code ≥ ksub, or a NULL lut element — a silent wrap/overread
  * would score against a neighboring subspace's table slice, and a
  * null element would score as 0.0. Empty codes with an empty LUT
  * score 0.0 (the empty-vector dot analog). Bit-identical to the
  * higher-order formulation
  * `aggregate(sequence(0, m−1), 0d, (s, j) -> s + lut[j·ksub + code_j])`
  * — same left-to-right IEEE add order — which is what
  * `check_pq_adc` pins cross-formulation. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = left.dataType == BinaryType &&
      (right.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc expects (binary, array<double>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(c: Any, l: Any): Any =
    PqAdc.score(c.asInstanceOf[Array[Byte]], l.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) =>
      s"${ev.value} = graft.functions.PqAdc.score($codes, $lut);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdc {
  /** Static so codegen calls it directly (InterleaveBits pattern) —
    * the loop is compiled Scala inside the whole-stage-generated
    * consumer, one virtual call per row. */
  def score(codes: Array[Byte], lut: ArrayData): Double = {
    val m = codes.length
    val lutLen = lut.numElements()
    if (m == 0) {
      if (lutLen != 0) throw new IllegalArgumentException(
        s"graft_pq_adc: empty code against a $lutLen-entry LUT")
      return 0.0
    }
    if (lutLen % m != 0) throw new IllegalArgumentException(
      s"graft_pq_adc: LUT length $lutLen is not a multiple of code length $m")
    val ksub = lutLen / m
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = codes(j) & 0xFF
      if (c >= ksub) throw new IllegalArgumentException(
        s"graft_pq_adc: code $c at subspace $j out of range (ksub=$ksub)")
      val slot = j * ksub + c
      // a null LUT element would read as 0.0 from UnsafeArrayData —
      // a silently wrong score; the fail-loud contract covers elements,
      // not just the array (LUT schemas may carry containsNull=true)
      if (lut.isNullAt(slot)) throw new IllegalArgumentException(
        s"graft_pq_adc: null LUT entry at slot $slot (subspace $j, code $c)")
      s += lut.getDouble(slot)
      j += 1
    }
    s
  }
}

/** graft_pq_adc_topk(packed: binary, ids: array<long>, lut:
  * array<double>, k: int literal) → array<struct<nn_id, cos>>: the k
  * best codes of ONE packed inverted list under the query's LUT,
  * ordered (cos desc, nn_id asc) — the same ADC arithmetic as
  * [[PqAdc]] (identical doubles), over `|ids|` codes of
  * m = |packed| / |ids| bytes laid out consecutively in `packed`.
  * Selection keeps a k-entry bound with a tracked worst slot —
  * replacements for a random scan are ~k·ln(n/k), so the loop is
  * ≈ one LUT read per code byte, not k comparisons per code. Fails
  * loudly on non-divisible packed/LUT lengths or out-of-range codes
  * (the [[PqAdc]] contract). Codegen delegates to [[PqAdcTopK.scan]]
  * via an object reference (WordNgrams pattern). */
case class PqAdcTopK(first: Expression, second: Expression,
                     third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isA(dt: DataType, et: DataType) =
      dt match { case ArrayType(`et`, _) => true; case _ => false }
    val ok = first.dataType == BinaryType && isA(second.dataType, LongType) &&
      isA(third.dataType, DoubleType) &&
      fourth.foldable && fourth.dataType == IntegerType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc_topk expects (binary, array<bigint>, array<double>, int literal), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType}, ${fourth.dataType})")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("nn_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_pq_adc_topk"

  @transient private lazy val k: Int = fourth.eval().asInstanceOf[Int]

  def scan(packedAny: Any, idsAny: Any, lutAny: Any): ArrayData =
    PqAdcTopK.scan(packedAny.asInstanceOf[Array[Byte]],
      idsAny.asInstanceOf[ArrayData], lutAny.asInstanceOf[ArrayData], k)

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = scan(a, b, c)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcTopK", this, classOf[PqAdcTopK].getName)
    nullSafeCodeGen(ctx, ev, (packed, ids, lut, _) =>
      s"${ev.value} = $ref.scan($packed, $ids, $lut);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** The bounded top-k accumulator shared by every packed-list scan
  * ([[PqAdcTopK]] and [[DotTopK]]): insert / settle-worst / sorted
  * emit under the ONE (cos desc, nn_id asc) total order
  * ([[TopKByCosAgg.beats]] — also the merge aggregator's order). One
  * definition, so a tie-handling or worst-slot fix can never diverge
  * the ADC and exact scans from each other or from the merge. */
private[functions] final class BoundedTopK(k: Int) {
  private val ids = new Array[Long](k)
  private val sc = new Array[Double](k)
  private var filled = 0
  private var worst = 0
  @inline private def beats(sA: Double, iA: Long, sB: Double, iB: Long): Boolean =
    TopKByCosAgg.beats(sA, iA, sB, iB)
  private def settleWorst(): Unit = {
    var w = 0; var t = 1
    while (t < filled) { if (beats(sc(w), ids(w), sc(t), ids(t))) w = t; t += 1 }
    worst = w
  }
  def offer(id: Long, s: Double): Unit = {
    if (filled < k) {
      ids(filled) = id; sc(filled) = s
      filled += 1
      if (filled == k) settleWorst() // settle once the bound fills
    } else if (beats(s, id, sc(worst), ids(worst))) {
      ids(worst) = id; sc(worst) = s
      settleWorst()
    }
  }
  def emit(): ArrayData = {
    val order = Array.range(0, filled).sortWith { (a, b) =>
      beats(sc(a), ids(a), sc(b), ids(b))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      order.map(ix => org.apache.spark.sql.catalyst.InternalRow(
        ids(ix), sc(ix)): Any))
  }
}

object PqAdcTopK {
  def scan(packed: Array[Byte], ids: ArrayData, lut: ArrayData, k: Int): ArrayData = {
    val n = ids.numElements()
    if (n == 0) {
      if (packed.length != 0) throw new IllegalArgumentException(
        s"graft_pq_adc_topk: ${packed.length} packed bytes with an empty id array")
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    }
    if (k <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    if (packed.length % n != 0) throw new IllegalArgumentException(
      s"graft_pq_adc_topk: packed length ${packed.length} not a multiple of $n codes")
    val m = packed.length / n
    val lutLen = lut.numElements()
    if (m == 0 || lutLen % m != 0) throw new IllegalArgumentException(
      s"graft_pq_adc_topk: LUT length $lutLen not a multiple of code length $m")
    val ksub = lutLen / m
    val acc = new BoundedTopK(math.min(k, n))
    var i = 0
    while (i < n) {
      var s = 0.0
      val off = i * m
      var j = 0
      while (j < m) {
        val c = packed(off + j) & 0xFF
        if (c >= ksub) throw new IllegalArgumentException(
          s"graft_pq_adc_topk: code $c at subspace $j out of range (ksub=$ksub)")
        val slot = j * ksub + c
        // null elements read as 0.0/0L from UnsafeArrayData — fail
        // loudly instead (the PqAdc element-null contract)
        if (lut.isNullAt(slot)) throw new IllegalArgumentException(
          s"graft_pq_adc_topk: null LUT entry at slot $slot (subspace $j, code $c)")
        s += lut.getDouble(slot)
        j += 1
      }
      if (ids.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_pq_adc_topk: null id at position $i")
      acc.offer(ids.getLong(i), s)
      i += 1
    }
    acc.emit()
  }
}

/** Exact-dot inverted-list scan: top-k `(nn_id, cos)` of one packed
  * list segment (`ids(i)`'s unit vector at `packed[i·dim, (i+1)·dim)`)
  * against one query vector — the float twin of [[PqAdcTopK]], same
  * bounded top-k skeleton, same shared (cos desc, nn_id asc) order
  * ([[TopKByCosAgg.beats]]), same loud guards on layout mismatches.
  * Dots accumulate component-ascending like [[DotProduct]], so the
  * scores (and every tie) are bit-identical to the join formulation
  * it replaces. Codegen delegates to [[DotTopK.scan]]. */
case class DotTopK(first: Expression, second: Expression,
                   third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isA(dt: DataType, et: DataType) =
      dt match { case ArrayType(`et`, _) => true; case _ => false }
    val ok = isA(first.dataType, DoubleType) && isA(second.dataType, LongType) &&
      isA(third.dataType, DoubleType) &&
      fourth.foldable && fourth.dataType == IntegerType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot_topk expects (array<double>, array<bigint>, array<double>, int literal), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType}, ${fourth.dataType})")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("nn_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_dot_topk"

  @transient private lazy val k: Int = fourth.eval().asInstanceOf[Int]

  def scan(packedAny: Any, idsAny: Any, qAny: Any): ArrayData =
    DotTopK.scan(packedAny.asInstanceOf[ArrayData],
      idsAny.asInstanceOf[ArrayData], qAny.asInstanceOf[ArrayData], k)

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = scan(a, b, c)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotTopK", this, classOf[DotTopK].getName)
    nullSafeCodeGen(ctx, ev, (packed, ids, q, _) =>
      s"${ev.value} = $ref.scan($packed, $ids, $q);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object DotTopK {
  def scan(packed: ArrayData, ids: ArrayData, q: ArrayData, k: Int): ArrayData = {
    val n = ids.numElements()
    val dim = q.numElements()
    if (n == 0) {
      if (packed.numElements() != 0) throw new IllegalArgumentException(
        s"graft_dot_topk: ${packed.numElements()} packed doubles with an empty id array")
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    }
    if (k <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    if (dim == 0 || packed.numElements() != n.toLong * dim)
      throw new IllegalArgumentException(
        s"graft_dot_topk: packed length ${packed.numElements()} != $n ids x dim $dim " +
          "— data/query dim mismatch")
    val acc = new BoundedTopK(math.min(k, n))
    var i = 0
    while (i < n) {
      var s = 0.0
      val off = i * dim
      var j = 0
      while (j < dim) { s += q.getDouble(j) * packed.getDouble(off + j); j += 1 }
      if (ids.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_dot_topk: null id at position $i")
      acc.offer(ids.getLong(i), s)
      i += 1
    }
    acc.emit()
  }
}

/** min squared distance of (x,y) to centers packed flat as
  * array<double> [x0,y0,x1,y1,…] — codegen'd loop, no per-center
  * allocation. */
case class MinDistSq(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = first.dataType == DoubleType && second.dataType == DoubleType &&
      (third.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_min_dist_sq expects (double, double, array<double>)")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_min_dist_sq"

  override def nullSafeEval(xv: Any, yv: Any, cv: Any): Any = {
    val x = xv.asInstanceOf[Double]; val y = yv.asInstanceOf[Double]
    val cs = cv.asInstanceOf[ArrayData]
    var best = Double.MaxValue; var i = 0; val n = cs.numElements()
    while (i + 1 < n) {
      val dx = x - cs.getDouble(i); val dy = y - cs.getDouble(i + 1)
      val d = dx * dx + dy * dy
      if (d < best) best = d
      i += 2
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, cs) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val best = ctx.freshName("best"); val dx = ctx.freshName("dx")
      val dy = ctx.freshName("dy"); val d = ctx.freshName("d")
      s"""
         |int $n = $cs.numElements();
         |double $best = Double.MAX_VALUE;
         |for (int $i = 0; $i + 1 < $n; $i += 2) {
         |  double $dx = $x - $cs.getDouble($i);
         |  double $dy = $y - $cs.getDouble($i + 1);
         |  double $d = $dx * $dx + $dy * $dy;
         |  if ($d < $best) $best = $d;
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** word_ngrams(array<string>, n) → array<string>: the m−n+1 space-
  * joined n-grams of the token array in order (duplicates kept), empty
  * when m < n. Identical strings to
  * `transform(sequence(0, m−n), i -> concat_ws(' ', slice(toks, i+1, n)))`
  * but built in one compiled loop per row — no per-position interpreted
  * lambda, no slice allocation. Codegen delegates to [[doGrams]] via an
  * object reference (one virtual call per row; the loop itself is
  * compiled Scala, which is what matters at n-grams × rows scale). */
case class WordNgrams(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match { case ArrayType(StringType, _) => true; case _ => false }
    val okR = right.foldable && right.dataType == IntegerType
    if (okL && okR) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_word_ngrams expects (array<string>, int literal), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  @transient private lazy val n: Int = right.eval().asInstanceOf[Int]
  @transient private lazy val sep =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def doGrams(arrAny: Any): ArrayData = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n || n <= 0) new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m - n + 1)
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var i = 0
      while (i <= m - n) {
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = doGrams(a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this, classOf[WordNgrams].getName)
    nullSafeCodeGen(ctx, ev, (arr, _) =>
      s"${ev.value} = $ref.doGrams($arr);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** graft_token_segments(tokens, n) → array<string>: non-overlapping
  * n-token segments in document order, space-joined, ragged tail kept
  * (segment i = tokens[i·n .. min((i+1)·n, m)); ceil(m/n) segments;
  * empty input → empty array). Output is value-identical to
  * `transform(sequence(0, ceil(m/n)-1), i -> array_join(slice(toks,
  * i·n+1, n), " "))` — the boilerplate-scrub segmentation — but runs
  * as ONE compiled loop per row (WordNgrams pattern) instead of an
  * interpreted lambda that re-derives its token-array subexpression
  * per segment. */
case class TokenSegments(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match { case ArrayType(StringType, _) => true; case _ => false }
    val okR = right.foldable && right.dataType == IntegerType
    if (okL && okR) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_token_segments expects (array<string>, int literal), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_segments"

  @transient private lazy val n: Int = right.eval().asInstanceOf[Int]
  @transient private lazy val sep =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def doSegs(arrAny: Any): ArrayData = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m <= 0 || n <= 0) new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val k = (m + n - 1) / n
      val out = new Array[Any](k)
      var i = 0
      while (i < k) {
        val start = i * n
        val len = math.min(n, m - start)
        val parts = new Array[org.apache.spark.unsafe.types.UTF8String](len)
        var j = 0
        while (j < len) { parts(j) = arr.getUTF8String(start + j); j += 1 }
        out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = doSegs(a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenSegments", this, classOf[TokenSegments].getName)
    nullSafeCodeGen(ctx, ev, (arr, _) =>
      s"${ev.value} = $ref.doSegs($arr);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** graft_top_dot(vec, flatCentroids, k) →
  * array<struct<list:int, dot:double>>: the k best centroids of `vec`
  * against the `nlist = |flat| / |vec|` centroids packed row-major in
  * `flatCentroids`, ordered by (dot desc, list asc) — IEEE summation
  * order per dot identical to [[DotProduct]] over the same slice.
  * One tight selection loop per row; codegen delegates via object
  * reference (WordNgrams pattern — the loop is compiled Scala inside
  * the whole-stage-generated consumer). */
case class TopDot(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isDA(dt: DataType) = dt match { case ArrayType(DoubleType, _) => true; case _ => false }
    val ok = isDA(first.dataType) && isDA(second.dataType) &&
      third.foldable && third.dataType == IntegerType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_top_dot expects (array<double>, array<double>, int literal), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("list", IntegerType, nullable = false),
      StructField("dot", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_top_dot"

  @transient private lazy val k: Int = third.eval().asInstanceOf[Int]

  def doTopK(vecAny: Any, flatAny: Any): ArrayData = {
    val vec = vecAny.asInstanceOf[ArrayData]
    val flat = flatAny.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    // a dim mismatch between data and centroids must fail loudly — a
    // truncating division would silently score against garbage slices
    if (dim != 0 && flat.numElements() % dim != 0)
      throw new IllegalArgumentException(
        s"graft_top_dot: flat centroid length ${flat.numElements()} is not a " +
          s"multiple of the row vector dimension $dim — data/centroid dim mismatch")
    val nlist = if (dim == 0) 0 else flat.numElements() / dim
    val dots = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      var s = 0.0; var i = 0; val off = c * dim
      while (i < dim) { s += flat.getDouble(off + i) * vec.getDouble(i); i += 1 }
      dots(c) = s
      c += 1
    }
    // selection of the top min(k, nlist) by (dot desc, list asc):
    // k and nlist are both small (≤ tens), so k scans beat a heap
    val kk = math.min(k, nlist)
    val out = new Array[Any](math.max(kk, 0))
    val used = new Array[Boolean](nlist)
    var slot = 0
    while (slot < kk) {
      var best = -1
      var j = 0
      while (j < nlist) {
        if (!used(j) && (best < 0 || dots(j) > dots(best))) best = j
        j += 1
      }
      used(best) = true
      out(slot) = org.apache.spark.sql.catalyst.InternalRow(best, dots(best))
      slot += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = doTopK(a, b)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topDot", this, classOf[TopDot].getName)
    nullSafeCodeGen(ctx, ev, (vec, flat, _) =>
      s"${ev.value} = $ref.doTopK($vec, $flat);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** 64-bit Morton (Z-order) code of two cell indices: bits of `left`
  * and `right` interleaved (left = even bits) after biasing each by
  * 2³¹ so the UNSIGNED z ordering matches the natural signed order of
  * the inputs. Sorting / range-partitioning by this value before a
  * write co-locates 2-D-near rows in the same files, so per-file
  * min/max column stats prune BOTH dimensions of a range predicate —
  * the standard layout-clustering trick for large scans (a linear
  * sort bounds only its leading column). Inputs must fit in a signed
  * 32-bit range; out-of-range fails loudly (silently wrapping would
  * scatter far-apart cells into the same tile). */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "graft_zorder expects (bigint, bigint)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.zValue(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.InterleaveBits.zValue($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** gather(packed: array<double>, ids: array<bigint>,
  * wanted: array<bigint> literal) → array<struct<nn_id, vb>> — the
  * entries of one packed exact-IVF segment whose id is in `wanted`.
  *
  * `ids` is ascending within a segment ([[graft.ops.Similarity.ivfPack]]
  * array_sorts entries by nn_id), so membership is a binary search per
  * wanted id: O(|wanted|·log n) per segment row, never O(n). The
  * wanted set is a FOLDABLE literal (the serving face collects the
  * bounded nq·rerank shortlist to the driver first), evaluated once
  * per executor into a deduplicated sorted array. Matched vectors are
  * emitted in ascending nn_id order with their `dim = |packed|/|ids|`
  * double slice copied out — output size ∝ matches, not segment size.
  * A wanted id absent from this segment is simply not emitted (each
  * corpus id lives in exactly one segment of one list, so the UNION
  * over segment rows yields each found id exactly once). */
case class GatherVecs(first: Expression, second: Expression,
                      third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isA(dt: DataType, et: DataType) =
      dt match { case ArrayType(`et`, _) => true; case _ => false }
    val ok = isA(first.dataType, DoubleType) && isA(second.dataType, LongType) &&
      isA(third.dataType, LongType) && third.foldable
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_gather_vecs expects (array<double>, array<bigint>, array<bigint> literal), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("nn_id", LongType, nullable = false),
      StructField("vb", ArrayType(DoubleType, containsNull = false),
        nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_gather_vecs"

  // the literal wanted set, deduplicated and sorted once per executor
  @transient private lazy val wanted: Array[Long] = {
    val arr = third.eval().asInstanceOf[ArrayData]
    val out = new Array[Long](arr.numElements())
    var i = 0
    while (i < out.length) {
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_gather_vecs: null wanted id at position $i")
      out(i) = arr.getLong(i); i += 1
    }
    out.distinct.sorted
  }

  def gather(packedAny: Any, idsAny: Any): ArrayData =
    GatherVecs.gather(packedAny.asInstanceOf[ArrayData],
      idsAny.asInstanceOf[ArrayData], wanted)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = gather(a, b)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gatherVecs", this, classOf[GatherVecs].getName)
    nullSafeCodeGen(ctx, ev, (packed, ids, _) =>
      s"${ev.value} = $ref.gather($packed, $ids);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object GatherVecs {
  def gather(packed: ArrayData, ids: ArrayData, wanted: Array[Long]): ArrayData = {
    val n = ids.numElements()
    if (n == 0) {
      if (packed.numElements() != 0) throw new IllegalArgumentException(
        s"graft_gather_vecs: ${packed.numElements()} packed doubles with an empty id array")
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    }
    if (wanted.length == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    if (packed.numElements() % n != 0) throw new IllegalArgumentException(
      s"graft_gather_vecs: packed length ${packed.numElements()} not a multiple of $n ids")
    val dim = packed.numElements() / n
    // binary search each wanted id in the segment's ascending id array;
    // the id array is the search target (NOT wanted) because segments
    // are the big side — O(|wanted|·log n) beats scanning n ids
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var w = 0
    while (w < wanted.length) {
      val target = wanted(w)
      var lo = 0
      var hi = n - 1
      var found = -1
      while (lo <= hi && found < 0) {
        val mid = (lo + hi) >>> 1
        if (ids.isNullAt(mid)) throw new IllegalArgumentException(
          s"graft_gather_vecs: null id at position $mid")
        val v = ids.getLong(mid)
        if (v == target) found = mid
        else if (v < target) lo = mid + 1
        else hi = mid - 1
      }
      if (found >= 0) {
        val vb = new Array[Double](dim)
        val off = found * dim
        var j = 0
        while (j < dim) { vb(j) = packed.getDouble(off + j); j += 1 }
        out += org.apache.spark.sql.catalyst.InternalRow(target,
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vb))
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

object InterleaveBits {
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  /** Static so codegen calls it directly (no boxed reference obj).
    * The raw interleave occupies all 64 bits, so its UNSIGNED order is
    * the z order — the final sign-bit flip maps that onto the SIGNED
    * long order Spark's sort/range-partitioner uses. */
  def zValue(i: Long, j: Long): Long = {
    if (i < Int.MinValue || i > Int.MaxValue || j < Int.MinValue || j > Int.MaxValue)
      throw new IllegalArgumentException(
        s"graft_zorder: cell index out of 32-bit range: ($i, $j)")
    (spread(i + 0x80000000L) | (spread(j + 0x80000000L) << 1)) ^ Long.MinValue
  }
}
