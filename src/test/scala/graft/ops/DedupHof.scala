package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Text

/**
 * Higher-order-function forms of the [[Dedup]] hashing functions: the
 * reference semantics the native expressions are property-tested against
 * (`DedupSpec`). Test-only: every lambda runs interpreted.
 */
object DedupHof {

  /** [[Dedup.shingleHashes]] — equivalence-test reference. */
  def shingleHashesHOF(textCol: Column, shingleSize: Int): Column = {
    val th = transform(Text.tokens(textCol), t => xxhash64(t))
    val n = size(th)
    val k = shingleSize
    val windows = transform(sequence(lit(1), n - (k - 1)), i =>
      xxhash64((0 until k).map(o => element_at(th, i + o)): _*))
    val wholeDoc = array(aggregate(th, lit(17L), (acc, h) => xxhash64(acc, h)))
    array_distinct(when(n < k, wholeDoc).otherwise(windows))
  }

  /** [[Dedup.minhashSignature]] — equivalence-test reference. */
  def minhashSignatureHOF(textCol: Column, numHashes: Int, shingleSize: Int = 3): Column =
    minhashSignatureFromHashesHOF(Dedup.shingleHashes(textCol, shingleSize), numHashes)

  def minhashSignatureFromHashesHOF(sh: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      // arithmetic >> 32 lands in int range and equals the native
      // (int)(x >>> 32) reinterpretation of the top 32 bits
      array_min(transform(sh, h =>
        call_function("shiftright", xxhash64(lit(i), h), lit(32))
          .cast(IntegerType)))
    }: _*)

  /** [[Dedup.simhash64]] — equivalence-test reference. */
  def simhash64HOF(textCol: Column): Column = {
    val toks = Text.tokens(textCol)
    val counts = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, b) => c + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, b) => when(c > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }
}
