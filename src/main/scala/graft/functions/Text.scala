package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis column functions for large-scale training-data pipelines:
 * tokenization, quality scoring, language ID, fingerprinting, shingling.
 *
 * All pure `Column` compositions over Spark built-ins — no UDFs, so every
 * function stays inside whole-stage codegen and scales linearly with
 * executors. (The reference's lexical layer — UTF-8 validation and
 * piq-format word/text checks, `piqilib/piqi_utf8.ml`,
 * `piqobj_of_piq.ml:136-171` — is the seed; these generalize it to the
 * text-quality operators a 100 TB corpus pipeline needs.)
 */
object Text {

  /** Whitespace tokenization. `trim` guards leading/trailing blanks. */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /**
   * BPE-ish subword segmentation baseline: splits on whitespace AND
   * punctuation boundaries (letters/digits runs vs single punct marks) —
   * the standard pre-tokenizer regex shape used by GPT-2-style BPE.
   */
  def bpeishTokens(text: Column): Column =
    filter(split(text, "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"), t => length(t) > 0 && t =!= " ")

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    val punct = total - length(regexp_replace(text, "[\\p{Punct}]", ""))
    when(total === 0, lit(0.0)).otherwise(punct.cast(DoubleType) / total.cast(DoubleType))
  }

  /** Fraction of tokens that are in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val stops = size(filter(toks, t => lower(t).isin(stopwords: _*)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(stops.cast(DoubleType) / size(toks).cast(DoubleType))
  }

  /** Mean token length in characters. */
  def avgTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast(DoubleType) / size(toks).cast(DoubleType))
  }

  /**
   * Composite quality score in [0,1]: length band + low punct + sane
   * stopword presence — the usual cheap pre-filter before expensive dedup.
   */
  def qualityScore(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val lenOk = when(length(text).between(50, 100000), lit(0.4)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) < 0.2, lit(0.3)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text, stopwords) > 0.05, lit(0.3)).otherwise(lit(0.0))
    lenOk + punctOk + stopOk
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** Per-language stopword profiles for the n-gram/stopword language-ID heuristic. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de", "que", "por"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"))

  /**
   * Language-ID heuristic: score = fraction of tokens found in each
   * language's stopword set; argmax wins, "und" (undetermined) when all
   * scores are zero. Pure column expression (greatest over per-lang scores).
   */
  def langId(text: Column, profiles: Map[String, Seq[String]] = langProfiles): Column = {
    val toks = tokens(lower(text))
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(size(filter(toks, t => t.isin(stops: _*))).cast(DoubleType).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /**
   * Document fingerprint: order-sensitive rolling hash over tokens
   * (polynomial accumulate of per-token xxhash64) — equal texts ⇒ equal
   * fingerprints; robust to storage layout unlike raw-byte hashing.
   */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(1469598103934665603L),
      (acc, t) => xxhash64(acc, t)) // hash-chain: order-sensitive, overflow-free (ANSI-safe)

  /** Character n-gram shingles. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) < n, array(text))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))

}
