package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the embedding hot path.
 *
 * The higher-order-function formulation
 * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) evaluates through interpreted
 * lambda dispatch — Spark's higher-order functions are CodegenFallback.
 * For ANN / near-dup jobs the dot product runs once per (doc × query) pair,
 * so this is THE inner loop at 100 TB; a custom `Expression` runs one
 * tight primitive loop instead, written once in Scala and called from
 * generated code through [[EvalCodegen]] (native expression > UDF).
 *
 * Semantics match [[Vectors.dot]]: null element or length mismatch → the
 * shorter prefix, null array → null result (nullSafe).
 */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryEvalExpression {

  override def dataType: DataType = DoubleType

  @transient private lazy val leftIsFloat: Boolean = elemIsFloat(left)
  @transient private lazy val rightIsFloat: Boolean = elemIsFloat(right)

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case other => throw new IllegalArgumentException(
        s"VectorDot requires array<float|double>, got array<$other>")
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"VectorDot requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  def evalFrom(l: Any, r: Any): Any = {
    if (l == null || r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val af = leftIsFloat
    val bf = rightIsFloat
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
        sum += x * y
      }
      i += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/**
 * L2-normalize an embedding in ONE pass — the Column composite
 * `when(norm === 0, a).otherwise(transform(a, _ / norm))` re-evaluates the
 * captured norm SUBTREE per element inside the interpreted lambda (no
 * subexpression elimination inside HOFs → O(dim²) dot products per
 * vector; the same class of pitfall as the shingle element_at bug).
 * Exact composite semantics (property-tested): null array → null; norm =
 * sqrt of the null-skipping [[VectorDot]] self-product; zero norm → the
 * elements cast to double unchanged; null elements stay null.
 */
case class VectorNormalize(child: Expression) extends UnaryEvalExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"VectorNormalize requires array<float|double>, got $other")
    }

  def evalFrom(v: Any): Any = {
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val isF = elemIsFloat
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
        sum += x * x
      }
      i += 1
    }
    val nrm = math.sqrt(sum)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = if (nrm == 0.0) x else x / nrm
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): VectorNormalize =
    copy(child = newChild)
}

/**
 * The `nProbe` nearest centroids (by L2) for a vector — the IVF coarse
 * quantizer's assignment step, over a broadcast centroid table carried as
 * an expression reference object (no join, no plane matrix shuffle). One
 * tight loop per row, called from generated code through [[EvalCodegen]].
 *
 * Null array / null element / empty → all `nProbe` cells −1 (a dedicated
 * "unassignable" cell; joins on it only match other unassignables).
 */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
    nProbe: Int) extends UnaryEvalExpression {

  require(nProbe > 0 && nProbe <= centroids.length,
    "need 0 < nProbe <= centroid count")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"NearestCentroids requires array<float|double>, got $other")
    }

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private lazy val unassigned: org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.fill(nProbe)(-1))

  def evalFrom(v: Any): Any = {
    if (v == null) return unassigned
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return unassigned
    // dim mismatch vs the trained quantizer → unassignable, never a silent
    // prefix-only distance (wrong cells degrade recall invisibly)
    if (centroids.isEmpty || centroids(0).length != n) return unassigned
    val isF = elemIsFloat
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return unassigned
      x(i) = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val bestIdx = new Array[Int](nProbe)
    val bestD = Array.fill(nProbe)(Double.MaxValue)
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      var d = 0.0
      var j = 0
      while (j < n) { val t = x(j) - ct(j); d += t * t; j += 1 }
      if (d < bestD(nProbe - 1)) {
        var p = nProbe - 1
        while (p > 0 && bestD(p - 1) > d) {
          bestD(p) = bestD(p - 1); bestIdx(p) = bestIdx(p - 1); p -= 1
        }
        bestD(p) = d; bestIdx(p) = c
      }
      c += 1
    }
    // NaN elements make every distance NaN (no comparison succeeds): the
    // buffer is untouched — unassignable, not a silent pile-up in cell 0
    if (bestD(0) == Double.MaxValue) return unassigned
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bestIdx)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/**
 * Asymmetric-distance (ADC) score for a product-quantized vector: the sum
 * over subspaces j of `luts[j][codes[j]]`, where `codes` is the doc's PQ
 * code word (array<int>, one codebook index per subspace) and `luts` is the
 * QUERY-side lookup table (array<array<double>>, per-subspace dot products
 * of the query slice with every codeword — Jégou, Douze, Schmid, "Product
 * Quantization for Nearest Neighbor Search", TPAMI'11 §IV.A). This is THE
 * inner loop of a PQ scan: one table lookup + add per subspace instead of a
 * dsub-wide dot product, over codes that are 16-32× smaller than the raw
 * vectors — at 100 TB the compressed scan is the point.
 *
 * Null semantics (twin-tested vs `VectorsHof.pqAdcHof`): null codes or null
 * luts → null; subspace-count mismatch, null element on either side, or a
 * code outside its LUT's range → null (a structurally bad pair scores as
 * unknown, never as a silently-partial sum — [[graft.ops.Pq.encode]] never
 * emits one).
 */
case class PqAdc(left: Expression, right: Expression) extends BinaryEvalExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"PqAdc requires (array<int>, array<array<double>>), got $l / $r")
    }

  def evalFrom(l: Any, r: Any): Any = {
    if (l == null || r == null) return null
    val codes = l.asInstanceOf[ArrayData]
    val luts = r.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (luts.numElements() != m) return null
    var sum = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || luts.isNullAt(j)) return null
      val c = codes.getInt(j)
      val lut = luts.getArray(j)
      if (c < 0 || c >= lut.numElements() || lut.isNullAt(c)) return null
      sum += lut.getDouble(c)
      j += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Codegen'd dot product over `array<float|double>` columns. */
  def dotNative(a: Column, b: Column): Column =
    GraftBridge.column(VectorDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd PQ asymmetric-distance score (see [[PqAdc]]). */
  def pqAdcNative(codes: Column, luts: Column): Column =
    GraftBridge.column(PqAdc(
      GraftBridge.expression(codes), GraftBridge.expression(luts)))

  /** The `nProbe` nearest IVF centroids for each vector (array<int>). */
  def nearestCentroids(a: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    GraftBridge.column(NearestCentroids(GraftBridge.expression(a), centroids, nProbe))

  /** Codegen'd one-pass L2 normalization over `array<float|double>`. */
  def normalizeNative(a: Column): Column =
    GraftBridge.column(VectorNormalize(GraftBridge.expression(a)))
}
