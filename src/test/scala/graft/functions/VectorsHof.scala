package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Higher-order-function forms of the [[Vectors]] functions: the reference
 * semantics the native expressions are property-tested against
 * (`VectorExprSpec`, `PqSpec`). Test-only: every lambda runs interpreted.
 */
object VectorsHof {

  /** [[Vectors.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Composite HOF form of [[normalize]] — equivalence-test reference. The
    * lambda re-evaluates the captured norm subtree PER ELEMENT (O(dim²)
    * dots per vector) — never use on a hot path. */
  def normalizeHOF(a: Column): Column = {
    val n = Vectors.norm(a)
    when(n === 0, a)
      .otherwise(transform(a, x => x.cast(DoubleType) / n))
  }

  /** Composite HOF form of [[pqAdc]] — equivalence-test reference. Null /
    * mismatch / out-of-range cases all collapse to a null sum exactly like
    * the native form (a null term poisons the running `+`). */
  def pqAdcHof(codes: Column, luts: Column): Column = {
    val terms = zip_with(codes, luts, (c, l) =>
      when(c.isNotNull && l.isNotNull && c >= 0 && c < size(l), element_at(l, c + 1)))
    when(codes.isNull || luts.isNull || size(codes) =!= size(luts),
      lit(null).cast(DoubleType))
      .otherwise(aggregate(terms, lit(0.0), (acc, v) => acc + v))
  }

  /**
   * Deterministic pseudo-random hyperplane component for (seed, bit, dim):
   * a unit-less ±value derived from a hash — the standard random-hyperplane
   * LSH (Charikar, STOC'02) with hash-generated planes so no plane matrix
   * needs broadcasting.
   */
  private def planeComponent(bit: Int, dim: Column, seed: Int): Column = {
    // xxhash64 of (seed, bit, dim) → map to {-1, +1}
    when(pmod(xxhash64(lit(seed), lit(bit), dim), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
  }

  /** Generic HOF form of [[signBits]] — equivalence-test reference. */
  def signBitsHOF(vec: Column, bits: Int, seed: Int = 42): Column = {
    val terms = (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast(DoubleType) * planeComponent(b, i, seed)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    terms.reduce(_ + _).as("lsh_bucket")
  }
}
