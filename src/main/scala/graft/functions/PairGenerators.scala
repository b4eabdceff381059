package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-bucket verified-pair generators: the candidate-generation AND
 * verification step of the LSH dedup pipelines, fused into one Catalyst
 * [[Generator]] (the same operator family as `explode`).
 *
 * Why a generator: the r3 pipelines shaped candidate pairs as a bucketed
 * SELF-JOIN with two verification re-joins against a persisted signature
 * table. The two join sides differ in final projection, so the planner
 * cannot reuse one exchange between them — the whole banding pipeline ran
 * TWICE, the bucket cap cost an extra aggregate+join, and the signature
 * cache was written once and read ~5× (the bytes that capped single-box
 * scaling; BENCH/BASELINE.md round-3 section). Shaping the same work as
 *
 *   groupBy(bucket) → collect_list(struct(id, sig)) → VerifiedPairs(items)
 *
 * needs exactly ONE wide shuffle: the cap becomes a free
 * `size(items) <= cap` filter, and the O(s²) pair loop runs as a tight
 * primitive loop inside the generator with verification inline — rejected
 * candidates never materialize as rows at all. Per-bucket work is bounded
 * by the cap exactly as in the join form.
 *
 * Emitted pairs are ordered (`id_a` < `id_b` under the id type's natural
 * ordering); the same true pair surfacing from several buckets is emitted
 * once per bucket with an identical score — callers dedup on (id_a, id_b),
 * which is value-deterministic because the score is a pure function of the
 * pair. Defensive skips (null struct / null id / null or missing payload,
 * mismatched vector lengths) drop the DOC, not the job: one poisoned row
 * can never fail a 10^12-doc pass.
 *
 * Not codegen'd ([[CodegenFallback]]): `GenerateExec` calls `eval` once per
 * BUCKET, so expression-dispatch overhead is amortized over the s² inner
 * loop — the loop itself is primitive-array Scala, equivalent to what
 * doGenCode would emit.
 */
abstract class VerifiedPairsBase extends Expression with Generator with CodegenFallback {

  // unary by hand: UnaryExpression's concrete eval(…): Any conflicts with
  // Generator's narrowed IterableOnce[InternalRow] contract
  def child: Expression
  final override def children: Seq[Expression] = child :: Nil

  /** Name and type of the third (score) output column. */
  protected def scoreName: String
  protected def scoreType: DataType

  /** Expected Catalyst type of the struct's payload (second) field;
    * None = checked by the subclass. */
  protected def payloadCheck(dt: DataType): Boolean

  protected final def structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** Id (first output) column type. */
  protected def idTypeOf: DataType = structType.fields(0).dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.fields.length == 2 =>
      st.fields(0).dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
             StringType | BinaryType | DateType | TimestampType | BooleanType |
             (_: DecimalType) =>
          if (payloadCheck(st.fields(1).dataType)) TypeCheckResult.TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(
            s"${getClass.getSimpleName}: unsupported payload type ${st.fields(1).dataType}")
        case other => TypeCheckResult.TypeCheckFailure(
          s"${getClass.getSimpleName}: id field must be an atomic type, got $other")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"${getClass.getSimpleName} requires array<struct<id, payload>>, got $other")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", idTypeOf, nullable = true),
    StructField("id_b", idTypeOf, nullable = true),
    StructField(scoreName, scoreType, nullable = false)))

  @transient protected final lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idTypeOf).asInstanceOf[Ordering[Any]]

  /** Copy values that may point into a reused input buffer. */
  protected final def copyId(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => other
  }

  /** Lazy i<j pair sweep; `test` returns null to reject a candidate. */
  protected final def pairIterator(m: Int, test: (Int, Int) => InternalRow): Iterator[InternalRow] =
    Iterator.range(0, m - 1).flatMap { i =>
      Iterator.range(i + 1, m).map(j => test(i, j)).filter(_ ne null)
    }

  /** Ordered pair row; EQUAL ids yield null (degenerate self-pair — two
    * bucket members carrying the same id value; the replaced r3 join form's
    * strict `id_a < id_b` predicate excluded these, so the generators must
    * too). Callers filter null through [[pairIterator]]'s `ne null`. */
  protected final def emit(idI: Any, idJ: Any, score: Any): InternalRow = {
    val c = idOrdering.compare(idI, idJ)
    if (c == 0) null
    else if (c < 0) new GenericInternalRow(Array[Any](idI, idJ, score))
    else new GenericInternalRow(Array[Any](idJ, idI, score))
  }
}

/**
 * Verified MinHash pairs from one LSH bucket: emits (id_a, id_b, sig_sim)
 * for every pair whose signature agreement fraction ≥ `threshold`.
 * `sig_sim` = (# equal slots) / numHashes — identical to the r3 Column
 * form `aggregate(zip_with(sig_a, sig_b, _ === _), ...) / numHashes`.
 */
case class MinhashPairs(child: Expression, numHashes: Int, threshold: Double)
    extends VerifiedPairsBase {
  require(numHashes > 0, "numHashes must be positive")

  override protected def scoreName: String = "sig_sim"
  override protected def scoreType: DataType = DoubleType
  override protected def payloadCheck(dt: DataType): Boolean =
    dt == ArrayType(IntegerType, true) || dt == ArrayType(IntegerType, false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val ids = new Array[Any](n)
    val sigs = new Array[Array[Int]](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, 2)
        if (!st.isNullAt(0) && !st.isNullAt(1)) {
          val sa = st.getArray(1)
          if (sa.numElements() == numHashes) {
            var ok = true
            var k = 0
            while (ok && k < numHashes) { if (sa.isNullAt(k)) ok = false; k += 1 }
            if (ok) {
              ids(m) = copyId(st.get(0, idTypeOf))
              sigs(m) = sa.toIntArray()
              m += 1
            }
          }
        }
      }
      i += 1
    }
    pairIterator(m, (i, j) => {
      val a = sigs(i)
      val b = sigs(j)
      var eq = 0
      var k = 0
      while (k < numHashes) { if (a(k) == b(k)) eq += 1; k += 1 }
      val sim = eq.toDouble / numHashes
      if (sim >= threshold) emit(ids(i), ids(j), sim) else null
    })
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinhashPairs =
    copy(child = newChildren.head)
}

/**
 * Verified SimHash pairs from one Manku block bucket: emits
 * (id_a, id_b, hamming) for every pair with popcount(sig_a ^ sig_b) ≤
 * `maxHamming` — identical to the r3 `bit_count(a ^ b)` Column form.
 */
case class HammingPairs(child: Expression, maxHamming: Int) extends VerifiedPairsBase {
  require(maxHamming >= 0, "maxHamming must be non-negative")

  override protected def scoreName: String = "hamming"
  override protected def scoreType: DataType = IntegerType
  override protected def payloadCheck(dt: DataType): Boolean = dt == LongType

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val ids = new Array[Any](n)
    val sigs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, 2)
        if (!st.isNullAt(0) && !st.isNullAt(1)) {
          ids(m) = copyId(st.get(0, idTypeOf))
          sigs(m) = st.getLong(1)
          m += 1
        }
      }
      i += 1
    }
    pairIterator(m, (i, j) => {
      val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      if (h <= maxHamming) emit(ids(i), ids(j), h) else null
    })
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HammingPairs =
    copy(child = newChildren.head)
}

/**
 * Verified cosine pairs from one sign-bit LSH bucket over PRE-NORMALIZED
 * vectors: emits (id_a, id_b, cos) where cos = Σᵢ aᵢ·bᵢ in ascending index
 * order (bit-identical to [[VectorDot]] on the same inputs) for pairs with
 * cos ≥ `threshold`. Vectors of differing lengths never pair (the r3
 * zip_with form yielded null there — same no-emit outcome).
 */
case class CosinePairs(child: Expression, threshold: Double) extends VerifiedPairsBase {

  override protected def scoreName: String = "cos"
  override protected def scoreType: DataType = DoubleType
  override protected def payloadCheck(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType | FloatType, _) => true
    case _ => false
  }

  private def elemIsFloat: Boolean =
    structType.fields(1).dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val isF = elemIsFloat
    val ids = new Array[Any](n)
    val vecs = new Array[Array[Double]](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, 2)
        if (!st.isNullAt(0) && !st.isNullAt(1)) {
          val va = st.getArray(1)
          val len = va.numElements()
          var ok = true
          val d = new Array[Double](len)
          var k = 0
          while (ok && k < len) {
            if (va.isNullAt(k)) ok = false
            else d(k) = if (isF) va.getFloat(k).toDouble else va.getDouble(k)
            k += 1
          }
          if (ok) {
            ids(m) = copyId(st.get(0, idTypeOf))
            vecs(m) = d
            m += 1
          }
        }
      }
      i += 1
    }
    pairIterator(m, (i, j) => {
      val a = vecs(i)
      val b = vecs(j)
      if (a.length != b.length) null
      else {
        var dot = 0.0
        var k = 0
        while (k < a.length) { dot += a(k) * b(k); k += 1 }
        if (dot >= threshold) emit(ids(i), ids(j), dot) else null
      }
    })
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CosinePairs =
    copy(child = newChildren.head)
}
