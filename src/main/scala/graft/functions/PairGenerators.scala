package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-bucket verified-pair loops: the candidate-generation AND
 * verification step of the LSH dedup pipelines.
 *
 * [[graft.ops.Dedup]]'s bucket tail gathers each bucket's `(id, payload)`
 * rows on one task and hands them to one of these loops, which sweeps the
 * i<j pairs as a tight primitive loop with the verification inline:
 * rejected candidates never materialize as rows at all. The quadratic step
 * therefore runs per bucket, never globally, and per-bucket work is bounded
 * by the bucket cap, which the tail applies before a bucket reaches a loop.
 *
 * Emitted pairs are ordered (`id_a` < `id_b` under the id type's natural
 * ordering) and come out as `UnsafeRow`s of [[schema]]; the same true pair
 * surfacing from several buckets is emitted once per bucket with an
 * identical score, so callers dedup on the whole row, which is
 * value-deterministic because the score is a pure function of the pair.
 * Defensive skips (null id / null or malformed payload, mismatched vector
 * lengths) drop the DOC, not the job: one poisoned row can never fail a
 * 10^12-doc pass.
 *
 * @param idType Catalyst type of the id (first item field)
 */
abstract class VerifiedPairsBase(idType: DataType) extends Serializable {
  require(idType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType | DateType | TimestampType | BooleanType |
         (_: DecimalType) => true
    case _ => false
  }, s"${getClass.getSimpleName}: id must be an atomic type, got $idType")

  /** Name and type of the third (score) output column. */
  protected def scoreName: String
  protected def scoreType: DataType

  /** Output schema: `(id_a, id_b, <score>)`. */
  final def schema: StructType = StructType(Seq(
    StructField("id_a", idType, nullable = true),
    StructField("id_b", idType, nullable = true),
    StructField(scoreName, scoreType, nullable = false)))

  /** Verified pairs of one bucket; each item is an `(id, payload)` row. */
  def pairs(items: Array[InternalRow]): Iterator[UnsafeRow]

  @transient private lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idType).asInstanceOf[Ordering[Any]]

  // interpreted: a generated projection would add a class to the codegen cache
  @transient private lazy val toUnsafe = InterpretedUnsafeProjection.createProjection(
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    })

  /** Copy values that may point into a reused input buffer. */
  protected final def copyId(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => other
  }

  /** Lazy i<j pair sweep over j >= `from`; `test` returns null to reject a candidate. */
  protected final def pairIterator(m: Int, test: (Int, Int) => UnsafeRow,
      from: Int = 0): Iterator[UnsafeRow] =
    Iterator.range(0, m - 1).flatMap { i =>
      Iterator.range(math.max(i + 1, from), m).map(j => test(i, j)).filter(_ ne null)
    }

  /** Ordered pair row; EQUAL ids yield null (degenerate self-pair — two
    * bucket members carrying the same id value; the replaced r3 join form's
    * strict `id_a < id_b` predicate excluded these, so the loops must
    * too). Callers filter null through [[pairIterator]]'s `ne null`. */
  protected final def emit(idI: Any, idJ: Any, score: Any): UnsafeRow = {
    val c = idOrdering.compare(idI, idJ)
    if (c == 0) null
    else if (c < 0) toUnsafe(new GenericInternalRow(Array[Any](idI, idJ, score))).copy()
    else toUnsafe(new GenericInternalRow(Array[Any](idJ, idI, score))).copy()
  }
}

/**
 * Verified MinHash pairs from one LSH bucket of `(id, sig: array<int>)`
 * items: emits (id_a, id_b, sig_sim) for every pair whose signature
 * agreement fraction ≥ `threshold`. `sig_sim` = (# equal slots) /
 * numHashes — identical to the r3 Column form
 * `aggregate(zip_with(sig_a, sig_b, _ === _), ...) / numHashes`. Each slot
 * of two signatures agrees with probability J, the Jaccard similarity of
 * their shingle sets, independently across slots, so by Hoeffding
 * P(|sig_sim − J| ≥ ε) ≤ 2·exp(−2·numHashes·ε²): at 32 hashes a pair is
 * misjudged by a quarter or more with probability at most 0.037.
 */
case class MinhashPairs(idType: DataType, numHashes: Int, threshold: Double)
    extends VerifiedPairsBase(idType) {
  require(numHashes > 0, "numHashes must be positive")

  override protected def scoreName: String = "sig_sim"
  override protected def scoreType: DataType = DoubleType

  override def pairs(items: Array[InternalRow]): Iterator[UnsafeRow] = pairs(items, 0)

  /** The verified pairs of `items` whose later member is `items(from)` or
    * after it: the pairs that a bucket's new arrivals, appended from
    * index `from`, make with each other and with the bucket's earlier items. */
  def pairs(items: Array[InternalRow], from: Int): Iterator[UnsafeRow] = {
    val n = items.length
    if (n < 2) return Iterator.empty
    val ids = new Array[Any](n)
    val sigs = new Array[Array[Int]](n)
    var m = 0
    var start = 0
    var i = 0
    while (i < n) {
      val st = items(i)
      if (!st.isNullAt(0) && !st.isNullAt(1)) {
        val sa = st.getArray(1)
        if (sa.numElements() == numHashes) {
          var ok = true
          var k = 0
          while (ok && k < numHashes) { if (sa.isNullAt(k)) ok = false; k += 1 }
          if (ok) {
            ids(m) = copyId(st.get(0, idType))
            sigs(m) = sa.toIntArray()
            m += 1
          }
        }
      }
      if (i < from) start = m
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
    }, start)
  }
}

/**
 * Verified SimHash pairs from one Manku block bucket of `(id, sig: long)`
 * items: emits (id_a, id_b, hamming) for every pair with
 * popcount(sig_a ^ sig_b) ≤ `maxHamming` — identical to the r3
 * `bit_count(a ^ b)` Column form.
 */
case class HammingPairs(idType: DataType, maxHamming: Int) extends VerifiedPairsBase(idType) {
  require(maxHamming >= 0, "maxHamming must be non-negative")

  override protected def scoreName: String = "hamming"
  override protected def scoreType: DataType = IntegerType

  override def pairs(items: Array[InternalRow]): Iterator[UnsafeRow] = {
    val n = items.length
    if (n < 2) return Iterator.empty
    val ids = new Array[Any](n)
    val sigs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val st = items(i)
      if (!st.isNullAt(0) && !st.isNullAt(1)) {
        ids(m) = copyId(st.get(0, idType))
        sigs(m) = st.getLong(1)
        m += 1
      }
      i += 1
    }
    pairIterator(m, (i, j) => {
      val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
      if (h <= maxHamming) emit(ids(i), ids(j), h) else null
    })
  }
}

/**
 * Verified cosine pairs from one sign-bit LSH bucket of
 * `(id, v: array<double>)` items over PRE-NORMALIZED vectors: emits
 * (id_a, id_b, cos) where cos = Σᵢ aᵢ·bᵢ in ascending index order
 * (bit-identical to [[VectorDot]] on the same inputs) for pairs with
 * cos ≥ `threshold`. Vectors of differing lengths never pair (the r3
 * zip_with form yielded null there — same no-emit outcome).
 */
case class CosinePairs(idType: DataType, threshold: Double) extends VerifiedPairsBase(idType) {

  override protected def scoreName: String = "cos"
  override protected def scoreType: DataType = DoubleType

  override def pairs(items: Array[InternalRow]): Iterator[UnsafeRow] = {
    val n = items.length
    if (n < 2) return Iterator.empty
    val ids = new Array[Any](n)
    val vecs = new Array[Array[Double]](n)
    var m = 0
    var i = 0
    while (i < n) {
      val st = items(i)
      if (!st.isNullAt(0) && !st.isNullAt(1)) {
        val va = st.getArray(1)
        val len = va.numElements()
        var ok = true
        val d = new Array[Double](len)
        var k = 0
        while (ok && k < len) {
          if (va.isNullAt(k)) ok = false
          else d(k) = va.getDouble(k)
          k += 1
        }
        if (ok) {
          ids(m) = copyId(st.get(0, idType))
          vecs(m) = d
          m += 1
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
}
