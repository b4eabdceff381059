package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the dedup signature hot paths.
 *
 * The higher-order-function formulations run through interpreted lambda
 * dispatch (Spark's HOFs are CodegenFallback): the SimHash counter loop was
 * ~64 `zip_with` ops per token and the MinHash signature 32 full
 * `transform`+`array_min` passes per doc — measured 16.0 s and 6.5 s for
 * 5,050 docs respectively, i.e. the dominant cost of both dedup jobs and a
 * scale-killer multiplied by 10^12 docs. These expressions run one tight
 * primitive loop per doc instead, written once in Scala: generated code
 * calls it through [[EvalCodegen]], so the projection stays in whole-stage
 * codegen.
 *
 * Hash compatibility: both use Spark's own xxhash64 primitives (XXH64, seed
 * 42) so results are BIT-IDENTICAL to the generic Column forms — equivalence
 * is property-tested, null/empty edge cases included.
 */

/**
 * 64-bit SimHash over a token array (Charikar STOC'02): bit b of the result
 * is the sign of Σ_tokens (2·bit_b(xxhash64(token)) − 1).
 *
 * Exact HOF-equivalent semantics (`DedupHof.simhash64HOF`, test sources):
 * null array → null; empty array → 0L (all counters 0, sign ≤ 0 → bit 0);
 * null token → hashed as Spark's xxhash64 of null (seed unchanged → 42).
 */
case class Simhash64(child: Expression) extends UnaryEvalExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"Simhash64 requires array<string>, got $other")
    }

  def evalFrom(v: Any): Any = {
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L // xxhash64(null) leaves the seed unchanged
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

/**
 * MinHash signature over a shingle-hash array: slot i is
 * min_h trunc32(xxhash64(i, h)) — `numHashes` independent permutation
 * minima in ONE pass over the array (the HOF form re-scanned the array per
 * slot). Values are the TOP 32 BITS of the permutation hash, compared as
 * signed ints — standard 32-bit minhash: per-slot collision probability is
 * Jaccard + O(2^-32), indistinguishable for LSH, at HALF the signature
 * bytes (every band row of [[graft.ops.Dedup.minhashNearDups]] carries
 * the whole signature through its bucket shuffle, so bytes are the scale
 * cost).
 *
 * Exact HOF-equivalent semantics (`DedupHof.minhashSignatureHOF`, test sources):
 * null or empty array → array of `numHashes` nulls (the HOF is
 * `array(array_min(...))` — the outer array() constructor never yields null,
 * and array_min of a null/empty slice is null); null element → contributes
 * trunc32(xxhash64(i)) alone (Spark's multi-arg xxhash64 skips null
 * children), i.e. the truncated per-slot seed.
 */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryEvalExpression {

  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"MinHashSignature requires array<long>, got $other")
    }

  /** Per-slot seed: xxhash64(i) over the int literal i = hashInt(i, 42). */
  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  def evalFrom(v: Any): Any = {
    if (v == null) return new GenericArrayData(new Array[Any](numHashes)) // all null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](numHashes)) // all null
    val seeds = this.seeds
    val mins = Array.fill(numHashes)(Int.MaxValue)
    var i = 0
    while (i < n) {
      var k = 0
      if (arr.isNullAt(i)) {
        while (k < numHashes) {
          val s = (seeds(k) >>> 32).toInt
          if (s < mins(k)) mins(k) = s
          k += 1
        }
      } else {
        val h = arr.getLong(i)
        while (k < numHashes) {
          val x = (XXH64.hashLong(h, seeds(k)) >>> 32).toInt
          if (x < mins(k)) mins(k) = x
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/**
 * Word-shingle hashes over a token array: token i hashes to
 * th(i) = xxhash64(token_i); shingle j combines th(j..j+k-1) with a chained
 * xxhash64; if fewer than k tokens, one whole-doc chain hash; result is
 * distinct (first-occurrence order).
 *
 * Exact HOF-equivalent semantics (`DedupHof.shingleHashesHOF`, test sources) —
 * the HOF form was the REAL minhash bottleneck: its windows lambda reads
 * `th` via element_at, and Catalyst re-evaluates the whole
 * `transform(tokens, xxhash64)` array construction for every element_at
 * call inside the lambda (O(n²·k) token hashes per doc; measured 16.6 s
 * for 5,050 docs — with the 32 signature passes ALREADY native).
 * Chain shapes (all = Spark's multi-arg xxhash64 fold, seed 42):
 *   th(i)      = hashUTF8String(token_i, 42); null token → 42
 *   shingle j  = hashLong(th(j+k-1), … hashLong(th(j), 42))
 *   whole-doc  = fold over th of acc' = hashLong(h, hashLong(acc, 42)), acc₀=17
 * null tokens array → null.
 */
case class ShingleHashes(child: Expression, k: Int) extends UnaryEvalExpression {

  require(k > 0, "shingle size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ShingleHashes requires array<string>, got $other")
    }

  def evalFrom(v: Any): Any = {
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) 42L else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    val raw: Array[Long] =
      if (n < k) {
        var acc = 17L
        var j = 0
        while (j < n) { acc = XXH64.hashLong(th(j), XXH64.hashLong(acc, 42L)); j += 1 }
        Array(acc)
      } else {
        val m = n - (k - 1)
        val out = new Array[Long](m)
        var j = 0
        while (j < m) {
          var h = 42L
          var o = 0
          while (o < k) { h = XXH64.hashLong(th(j + o), h); o += 1 }
          out(j) = h
          j += 1
        }
        out
      }
    // distinct, first-occurrence order (array_distinct semantics)
    val seen = new java.util.HashSet[java.lang.Long]()
    val kept = new Array[Long](raw.length)
    var m2 = 0
    var j = 0
    while (j < raw.length) {
      if (seen.add(raw(j))) { kept(m2) = raw(j); m2 += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(kept, m2))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/**
 * FUSED MinHash signature straight from the token array: exactly
 * `MinHashSignature(ShingleHashes(tokens, k), numHashes)` — proven by the
 * min-over-multiset ≡ min-over-set identity (ShingleHashes' array_distinct
 * step cannot change any per-slot minimum) and property-tested — but in ONE
 * pass with a k-slot circular buffer of token hashes: no intermediate
 * shingle ArrayData (n longs per doc), no HashSet dedup (one hash-set
 * insert per shingle ≈ several XXH64 calls), no second expression
 * evaluation. This is the signature leg of every minhash near-dup job —
 * the stage that is 79% CPU of the one-shuffle pipeline's wall time.
 */
case class MinHashFromTokens(child: Expression, k: Int, numHashes: Int)
    extends UnaryEvalExpression {

  require(k > 0, "shingle size must be positive")
  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"MinHashFromTokens requires array<string>, got $other")
    }

  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  def evalFrom(v: Any): Any = {
    if (v == null) return new GenericArrayData(new Array[Any](numHashes)) // tokens null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val seeds = this.seeds
    val mins = Array.fill(numHashes)(Int.MaxValue)
    @inline def update(h: Long): Unit = {
      var s = 0
      while (s < numHashes) {
        val x = (XXH64.hashLong(h, seeds(s)) >>> 32).toInt
        if (x < mins(s)) mins(s) = x
        s += 1
      }
    }
    if (n < k) { // whole-doc chain hash, ShingleHashes' short-doc form
      var acc = 17L
      var j = 0
      while (j < n) {
        val th = if (arr.isNullAt(j)) 42L else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        acc = XXH64.hashLong(th, XXH64.hashLong(acc, 42L))
        j += 1
      }
      update(acc)
    } else {
      val buf = new Array[Long](k)
      var i = 0
      while (i < n) {
        buf(i % k) = if (arr.isNullAt(i)) 42L else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        if (i >= k - 1) {
          var h = 42L
          var o = 0
          while (o < k) { h = XXH64.hashLong(buf((i - k + 1 + o) % k), h); o += 1 }
          update(h)
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashFromTokens =
    copy(child = newChild)
}

/**
 * Sign-bit LSH bucket id over an embedding array (random-hyperplane LSH,
 * Charikar STOC'02, hash-generated planes): bit b of the result is the sign
 * of Σ_i x_i · pc(seed,b,i) where pc ∈ {−1,+1} comes from
 * xxhash64(seed,b,i) parity.
 *
 * Exact HOF-equivalent semantics (`VectorsHof.signBitsHOF`, test sources): null array or
 * any null element → 0L (the HOF's per-bit aggregate turns null, and
 * `when(null ≥ 0)` falls to the 0 branch for every bit); per-bit projection
 * sums elements in ascending index order (bit-identical float addition).
 * The HOF form ran `bits × dim` interpreted lambda dispatches + an xxhash64
 * Column tree per element per bit — the inner loop of every bucketed ANN /
 * embedding near-dup job.
 */
case class SignBits(child: Expression, bits: Int, seed: Int) extends UnaryEvalExpression {

  require(bits > 0 && bits <= 63, "bits must be in 1..63")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"SignBits requires array<float|double>, got $other")
    }

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Per-bit hash prefix: xxhash64(seed, bit, ·) folded over the first two args. */
  private lazy val bitSeeds: Array[Long] =
    Array.tabulate(bits)(b => XXH64.hashInt(b, XXH64.hashInt(seed, 42L)))

  def evalFrom(v: Any): Any = {
    if (v == null) return 0L
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return 0L // HOF: zip_with pads → null projection → all bits 0
    val isF = elemIsFloat
    val seeds = bitSeeds
    val proj = new Array[Double](bits)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0L // null element nulls every projection
      val x = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
      var b = 0
      while (b < bits) {
        val pc = if (((XXH64.hashInt(i, seeds(b)) % 2) + 2) % 2 == 0) 1.0 else -1.0
        proj(b) += x * pc
        b += 1
      }
      i += 1
    }
    var bucket = 0L
    var b = 0
    while (b < bits) {
      if (proj(b) >= 0) bucket += (1L << b)
      b += 1
    }
    bucket
  }

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

object HashExpressions {
  /** Codegen'd sign-bit LSH bucket over an embedding column. */
  def signBitsNative(vec: Column, bits: Int, seed: Int): Column =
    GraftBridge.column(SignBits(GraftBridge.expression(vec), bits, seed))

  /** Codegen'd shingle hashes over an `array<string>` token column. */
  def shingleHashesNative(tokens: Column, k: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(tokens), k))

  /** Codegen'd 64-bit SimHash over an `array<string>` token column. */
  def simhash64Native(tokens: Column): Column =
    GraftBridge.column(Simhash64(GraftBridge.expression(tokens)))

  /** Codegen'd MinHash signature (`numHashes` slots) over an `array<long>`
    * shingle-hash column. */
  def minhashSignatureNative(shingleHashes: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingleHashes), numHashes))

  /** FUSED codegen'd MinHash signature straight from an `array<string>`
    * token column — identical output to
    * `minhashSignatureNative(shingleHashesNative(tokens, k), numHashes)`
    * in one pass with no intermediate shingle array. */
  def minhashFromTokensNative(tokens: Column, k: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashFromTokens(GraftBridge.expression(tokens), k, numHashes))
}
