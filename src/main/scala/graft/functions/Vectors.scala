package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Embedding-vector column functions (`array<float>` / `array<double>`
 * columns): dot product, norms, cosine — plus the sign-bit LSH used by
 * the bucketed ANN and embedding near-dup paths.
 *
 * All built from `zip_with` / `aggregate` higher-order functions: they
 * evaluate inside codegen with no serialization, and — critically at
 * 100 TB — no UDF boxing per element.
 */
object Vectors {

  /** Dot product — codegen'd native expression (see [[VectorExpressions]]). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** L2-normalized copy of the vector (pre-normalize once, then cosine =
    * dot) — one-pass codegen'd native expression (see
    * [[VectorExpressions.normalizeNative]]). */
  def normalize(a: Column): Column = VectorExpressions.normalizeNative(a)

  /** PQ asymmetric-distance score: sum over subspaces of `luts[j][codes[j]]`
    * — codegen'd native expression (see [[VectorExpressions.PqAdc]]). */
  def pqAdc(codes: Column, luts: Column): Column =
    VectorExpressions.pqAdcNative(codes, luts)

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast(DoubleType) - y.cast(DoubleType)
      d * d
    }), lit(0.0), (acc, v) => acc + v))

  /**
   * Sign-bit LSH signature: `bits`-bit bucket id from random hyperplanes.
   * Vectors with high cosine similarity collide with high probability.
   * Computed by the native codegen'd [[SignBits]] expression — the HOF form
   * (kept in the tests as `VectorsHof.signBitsHOF`) ran bits × dim
   * interpreted lambda dispatches per vector, the inner loop of every
   * bucketed ANN / embedding near-dup job.
   */
  def signBits(vec: Column, bits: Int, seed: Int = 42): Column =
    HashExpressions.signBitsNative(vec, bits, seed).as("lsh_bucket")

  /** Hamming distance between two long-encoded bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
