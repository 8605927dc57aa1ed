package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY.md §7.6
  * "similarity" extension; preference order (b) of the design brief —
  * a custom `Expression` with `doGenCode`, not a Scala UDF).
  *
  * Generated code calls the static kernels in [[VectorOps]], so the
  * expressions participate in whole-stage codegen: no boxing of the
  * Float arrays, no closure serialization, null-safety handled by
  * `nullSafeCodeGen`. A Scala UDF here would deserialize each array to
  * `Seq[Float]` per row — these run directly on Tungsten `ArrayData`.
  */
object VectorExpressions {

  /** Analysis-time input validation shared by every kernel expression.
    *
    * The kernels read Tungsten `ArrayData` (or a primitive slot) directly
    * in generated code, so a wrong-typed child would otherwise surface as
    * a Janino compile error or a misread buffer at RUNTIME. The standard
    * `ExpectsInputTypes`/`ImplicitCastInputTypes` route is closed to
    * library code (`AbstractDataType` is `private[sql]`), so each
    * expression overrides `checkInputDataTypes()` instead — same
    * analysis-phase failure point, explicit message, no implicit casts
    * (callers that need a cast, e.g. [[graft.util.Det.toFixed]], insert
    * it deliberately). Element-type matches ignore `containsNull`: the
    * kernels are null-element-safe per their own contracts. */
  private def expect(name: String, want: String, ok: Boolean,
      got: DataType*): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires $want, got (${got.map(_.catalogString).mkString(", ")})")

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true; case _ => false
  }
  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true; case _ => false
  }
  private def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true; case _ => false
  }

  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "(array<float>, array<float>)",
        isFloatArray(left.dataType) && isFloatArray(right.dataType),
        left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.cosineFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorOps.cosineFloat($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Cosine between a float-array column and a DOUBLE-array argument
    * (computed centroids live on a fixed decimal grid that float can't
    * represent — k-means/PCA literals must stay double). Accumulation
    * order identical to [[CosineSim]]. */
  case class CosineSimFD(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "(array<float>, array<double>)",
        isFloatArray(left.dataType) && isDoubleArray(right.dataType),
        left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim_fd"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.cosineFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorOps.cosineFD($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Top-`nProbe` IVF cells of a vector against a COMPILE-TIME centroid
    * matrix, by (cosine DESC, cell ASC) — `[0]` is the assignment cell,
    * the whole array is the probe list. One codegen kernel call per row
    * replaces the nCells-literal expression-tree formulation that falls
    * out of whole-stage codegen at nCells = ⌈√n⌉ (the IVF scale sizing;
    * see [[VectorOps.topCellsByCos]] for the measured cliff). The matrix
    * rides the generated class as a reference object — broadcast-sized
    * like any literal plan constant, never shuffled. */
  case class TopCellsByCos(child: Expression,
      centroids: Array[Array[Float]], nProbe: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<float>", isFloatArray(child.dataType),
        child.dataType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "top_cells_by_cos"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.topCellsByCos(a.asInstanceOf[ArrayData], centroids, nProbe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.topCellsByCos($a, $cents, $nProbe);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class TopCosByCentroids(child: Expression,
      centroids: Array[Array[Float]])
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<float>", isFloatArray(child.dataType),
        child.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "top_cos_by_centroids"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.topCosByCentroids(a.asInstanceOf[ArrayData], centroids)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.topCosByCentroids($a, $cents);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "(array<float>, array<float>)",
        isFloatArray(left.dataType) && isFloatArray(right.dataType),
        left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.dotFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorOps.dotFloat($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class L2Norm(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<float>", isFloatArray(child.dataType),
        child.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "l2_norm"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.normFloat(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.VectorOps.normFloat($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<string>", isStringArray(child.dataType),
        child.dataType)
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.simhash64(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.VectorOps.simhash64($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "string", child.dataType == StringType, child.dataType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.wordShingles(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.wordShingles($a, $k);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<string>", isStringArray(child.dataType),
        child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.minhashSig(a.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.minhashSig($a, $numHashes);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[VectorOps.normSlice]]: normalized sub-slice of a float vector
    * (0-based start), one norm pass instead of the O(d²) interpreted
    * transform-with-nested-norm chain. */
  case class NormSlice(child: Expression, start: Int, len: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<float>", isFloatArray(child.dataType),
        child.dataType)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "norm_slice"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.normSlice(a.asInstanceOf[ArrayData], start, len)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.normSlice($a, $start, $len);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[VectorOps.l2sqDouble]]: ordered squared-L2 of two double vectors;
    * NULL on ragged pairs (parity with the zip_with null-pad form). */
  case class L2Sq(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "(array<double>, array<double>)",
        isDoubleArray(left.dataType) && isDoubleArray(right.dataType),
        left.dataType, right.dataType)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "l2_sq"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.l2sqDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double ${ev.value}$$r = graft.functions.VectorOps.l2sqDouble($a, $b);
        if (${ev.value}$$r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}$$r.doubleValue(); }""")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Decimal-HALF_UP round at scale 0 + long cast of a double — the
    * codegen-kernel form of `round(x, 0).cast("long")` used in every
    * integerized aggregate's per-row path ([[graft.util.Det.toFixed]]).
    * Bit-equal on all input classes, including the ulp-adjacent half
    * boundaries, non-finite and beyond-long magnitudes
    * ([[graft.operators.CovSuffStatsAggregator.fixHalfUp]],
    * CovAggregatorSpec) — Spark's Round allocates a BigDecimal per row,
    * ~2-3x the per-row cost of the guarded FP path at corpus scale. */
  case class FixedLong(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "double", child.dataType == DoubleType, child.dataType)
    override def dataType: DataType = LongType
    override def prettyName: String = "fixed_long"
    override protected def nullSafeEval(a: Any): Any =
      graft.operators.CovSuffStatsAggregator.fixHalfUp(a.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        // MODULE$ call: the Scala-object static forwarder is not emitted
        // for qualified-private members, but the module instance method
        // is public bytecode Janino can reach
        s"${ev.value} = graft.operators.CovSuffStatsAggregator$$.MODULE$$.fixHalfUp($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The double-returning sibling of [[FixedLong]]: `round(x, 0)` on a
    * double via the ulp-guarded FP path ([[graft.operators
    * .CovSuffStatsAggregator.fixHalfUpDouble]]) — used by
    * [[graft.util.Det.fixed]]'s presentation rounding on row-scaled
    * outputs. */
  case class FixedRound(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "double", child.dataType == DoubleType, child.dataType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "fixed_round"
    override protected def nullSafeEval(a: Any): Any =
      graft.operators.CovSuffStatsAggregator.fixHalfUpDouble(a.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.operators.CovSuffStatsAggregator$$.MODULE$$.fixHalfUpDouble($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[VectorOps.md5MinhashSig]]: the DuckDB-reproducible md5 hash family
    * fused into one codegen call (the HOF form it replaces ran
    * numHashes × |shingles| interpreted lambda evals per row). */
  case class Md5MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<string>", isStringArray(child.dataType),
        child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "md5_minhash_sig"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.md5MinhashSig(a.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.md5MinhashSig($a, $numHashes);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** planes: row-major [bits x dim] hyperplane normals; the literal matrix
    * rides inside the expression (referenced from codegen via ctx
    * references, not inlined source), so the plan stays self-contained. */
  case class HyperplaneSig(child: Expression, planes: Seq[Double], bits: Int)
      extends UnaryExpression {
    private lazy val planesArr: Array[Double] = planes.toArray
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<float>", isFloatArray(child.dataType),
        child.dataType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hyperplane_sig"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.hyperplaneSig(a.asInstanceOf[ArrayData], planesArr, bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planesArr, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.hyperplaneSig($a, $ref, $bits);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[VectorOps.wordShinglesAll]] as an expression: every k-shingle in
    * position order (non-distinct), for `posexplode`-based span
    * coverage. */
  case class WordShinglesAll(child: Expression, k: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "string", child.dataType == StringType, child.dataType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles_all"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.wordShinglesAll(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.wordShinglesAll($a, $k);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Struct-returning one-pass quantization stats (absmax, q1, q_sum,
    * mse) — replaces a 4-HOF interpreted chain (transform + 2×aggregate +
    * zip_with cost ~10 s at sf0.1; this kernel runs inside whole-stage
    * codegen). NOTE: downstream `GetStructField` projections re-inline
    * the call (CollapseProject), so the kernel may run once per extracted
    * field — acceptable because a pass over a 64-float array is ~100 ns. */
  case class QuantStats(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "array<float>", isFloatArray(child.dataType),
        child.dataType)
    override def dataType: DataType = StructType(Seq(
      StructField("absmax", DoubleType),
      StructField("q1", IntegerType),
      StructField("q_sum", LongType),
      StructField("mse", DoubleType)))
    override def prettyName: String = "quant_stats"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.quantStatsFloat(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.quantStatsFloat($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[VectorOps.qualityCounts]]: one-pass (n_chars, n_tokens, n_ws,
    * n_alnum) over a text column — replaces the 3-regex + split chain of
    * the quality scorer (same results, one byte scan, no allocation). */
  case class QualityCounts(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "string", child.dataType == StringType,
        child.dataType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", LongType),
      StructField("n_tokens", LongType),
      StructField("n_ws", LongType),
      StructField("n_alnum", LongType)))
    override def prettyName: String = "quality_counts"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.qualityCounts(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.qualityCounts($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hilbert-curve cell index of two LONG dimension keys (see
    * VectorOps.hilbertKey). A pure-Column formulation would nest the
    * per-level rotation conditionals ~2^order deep (each level reads the
    * previous x AND y twice, and Catalyst has no common-subexpression
    * reuse across projections after CollapseProject) — the native kernel
    * is a 16-step integer loop inside whole-stage codegen. */
  case class HilbertKey(left: Expression, right: Expression, order: Int)
      extends BinaryExpression {
    // order 32+ makes s*s (and the accumulated d) overflow Long silently
    // — corrupt keys, not an error; order <= 0 degenerates to 0. Validate
    // in the constructor so every route (Column API, SQL builder,
    // Layout) is covered.
    require(order >= 1 && order <= 31,
      s"hilbert_key order must be in [1, 31], got $order")
    // inputs must already be LongType: the Column wrapper and the SQL
    // builder both insert explicit casts (AbstractDataType — the
    // ImplicitCastInputTypes route — is private[sql])
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "(bigint, bigint)",
        left.dataType == LongType && right.dataType == LongType,
        left.dataType, right.dataType)
    override def dataType: DataType = LongType
    override def prettyName: String = "hilbert_key"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.hilbertKey(order, a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorOps.hilbertKey($order, $a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** [[VectorOps.aHashBands]]: banded average-hash perceptual
    * fingerprint of a binary payload — array<int> of four 16-bit bands
    * (multi-index layout: Hamming-≤3 pairs always share a band). */
  case class AHashBands(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "binary", child.dataType == BinaryType,
        child.dataType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "ahash_bands"
    override protected def nullSafeEval(a: Any): Any =
      VectorOps.aHashBands(a.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VectorOps.aHashBands($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // Column-level API
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))
  def topCellsByCos(vec: Column, centroids: Array[Array[Float]],
      nProbe: Int): Column =
    GraftBridge.column(TopCellsByCos(GraftBridge.expression(vec), centroids, nProbe))
  def topCosByCentroids(vec: Column, centroids: Array[Array[Float]]): Column =
    GraftBridge.column(TopCosByCentroids(GraftBridge.expression(vec), centroids))
  def cosineSimFD(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimFD(GraftBridge.expression(a), GraftBridge.expression(b)))
  def l2Norm(a: Column): Column =
    GraftBridge.column(L2Norm(GraftBridge.expression(a)))
  def simhash(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))
  def wordShingles(text: Column, k: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(text), k))
  def minhashSig(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(shingles), numHashes))
  def md5MinhashSig(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(Md5MinHashSig(GraftBridge.expression(shingles), numHashes))
  def normSlice(vec: Column, start: Int, len: Int): Column =
    GraftBridge.column(NormSlice(GraftBridge.expression(vec), start, len))
  def fixedLong(c: Column): Column =
    GraftBridge.column(FixedLong(GraftBridge.expression(c)))
  def fixedRound(c: Column): Column =
    GraftBridge.column(FixedRound(GraftBridge.expression(c)))
  def l2Sq(a: Column, b: Column): Column =
    GraftBridge.column(L2Sq(GraftBridge.expression(a), GraftBridge.expression(b)))
  def hyperplaneSig(vec: Column, planes: Seq[Double], bits: Int): Column =
    GraftBridge.column(HyperplaneSig(GraftBridge.expression(vec), planes, bits))
  def quantStats(vec: Column): Column =
    GraftBridge.column(QuantStats(GraftBridge.expression(vec)))
  def wordShinglesAll(text: Column, k: Int): Column =
    GraftBridge.column(WordShinglesAll(GraftBridge.expression(text), k))
  def aHashBands(payload: Column): Column =
    GraftBridge.column(AHashBands(GraftBridge.expression(payload)))
  def qualityCounts(text: Column): Column =
    GraftBridge.column(QualityCounts(GraftBridge.expression(text)))
  def hilbertKey(x: Column, y: Column, order: Int): Column =
    // cast here, not just in Layout/SQL: the kernel assumes LongType and
    // a non-long column would ClassCastException on the interpreted path
    GraftBridge.column(HilbertKey(
      GraftBridge.expression(x.cast("long")),
      GraftBridge.expression(y.cast("long")), order))
}
