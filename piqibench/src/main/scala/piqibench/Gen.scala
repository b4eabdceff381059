package piqibench

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class SpanRow(kind: String, text: String, media_ref: String, offset: Int)
final case class DocRow(doc_id: String, spans: Seq[SpanRow])

/**
 * Shape of one seeded corpus. Every document is a pure function of
 * (seed, index), so the counts in [[Expected]] follow from index arithmetic
 * alone, and the same seed always yields the same bytes.
 *
 * Roles are assigned by index residue. All periods are multiples of 100 and
 * every role residue is ≥ 4 modulo 100, so roles never overlap each other or
 * the exact-duplicate cluster positions (`i mod 100 < 4`).
 *
 * @param n            documents (a multiple of 100)
 * @param corruptEvery one doc per period carries one injected violation,
 *                     cycling over [[Gen.CorruptKinds]]; 0 = off
 * @param hotEvery     one doc per period has `doc_id = "doc-hot"`; 0 = off
 * @param missingEvery one doc per period carries an extra media span whose
 *                     `media_ref` is not in the catalog; 0 = off
 * @param badJsonEvery one doc per period is truncated JSON (JSON inputs only)
 * @param catalog      media catalog size (`m-0 … m-{catalog-1}`)
 * @param tokens       text tokens per doc, spread over its text spans
 * @param degen        leading template-shard docs: one shared 24-token
 *                     template plus one of 7 varying tokens (a multiple of 100)
 * @param dupClusters  4-doc exact-duplicate text clusters per 100 ids
 *                     (ids ≥ `degen`)
 */
final case class Shape(n: Long, seed: Long, corruptEvery: Long = 0, hotEvery: Long = 0,
    missingEvery: Long = 0, badJsonEvery: Long = 0, catalog: Int = 1000, tokens: Int = 8,
    degen: Long = 0, dupClusters: Boolean = false) {
  require(n > 0 && n % 100 == 0, s"n must be a positive multiple of 100, got $n")
  require(degen % 100 == 0 && degen <= n, s"degen must be a multiple of 100 ≤ n, got $degen")
  require(Seq(corruptEvery, hotEvery, missingEvery, badJsonEvery).forall(p => p >= 0 && p % 100 == 0),
    "role periods must be multiples of 100")
  require(tokens >= 7, "tokens must cover the 7 possible text spans")

  /** Short tag naming the corpus on disk: same seed and size, same tag. */
  def tag: String = s"s${seed}_n$n"
}

object Gen {

  /** Injected violation kinds, in the order they cycle. */
  val CorruptKinds: Seq[String] = Seq("unknown_enum", "negative_offset", "both_payloads", "no_payload")

  val DupsPerBlock = 4
  val TemplateClasses = 7

  def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
    x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29; x *= 0x94D049BB133111EBL
    x ^ (x >>> 32)
  }
  private def h(seed: Long, c: Long, k: Long): Long = mix(mix(seed, c), k)
  private def mod(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  /** Residue of each role: distinct modulo 100 and never a cluster slot. */
  def residue(s: Shape, role: Int, period: Long): Long = {
    val base = 4 + mod(mix(s.seed, 7), 24)
    base + 24 * role + 100 * mod(mix(s.seed, 11 + role), period / 100)
  }
  private def hasRole(s: Shape, i: Long, role: Int, period: Long): Boolean =
    period > 0 && mod(i, period) == residue(s, role, period)

  val RoleCorrupt = 0; val RoleHot = 1; val RoleMissing = 2; val RoleBadJson = 3

  /** Ordinal offset of the corrupt-kind cycle (seeded). */
  def kindOffset(s: Shape): Int = mod(mix(s.seed, 13), CorruptKinds.size).toInt

  /** Kind index of corrupt doc `i` (only meaningful when it has the role). */
  def corruptKind(s: Shape, i: Long): Int =
    mod(i / s.corruptEvery + kindOffset(s), CorruptKinds.size).toInt

  def isCorrupt(s: Shape, i: Long): Boolean = hasRole(s, i, RoleCorrupt, s.corruptEvery)
  def isHot(s: Shape, i: Long): Boolean = hasRole(s, i, RoleHot, s.hotEvery)
  def isMissing(s: Shape, i: Long): Boolean = hasRole(s, i, RoleMissing, s.missingEvery)
  def isBadJson(s: Shape, i: Long): Boolean = hasRole(s, i, RoleBadJson, s.badJsonEvery)

  def docId(i: Long): String = f"doc-$i%012d"

  /** Text and span layout come from a content seed: one per doc, shared by
    * the 4 docs of a duplicate cluster. */
  def contentSeed(s: Shape, i: Long): Long =
    if (s.dupClusters && i >= s.degen && i % 100 < DupsPerBlock) i - i % 100 else i

  def doc(s: Shape, i: Long): DocRow = {
    val c = contentSeed(s, i)
    val nSpans = 1 + mod(h(s.seed, c, 0), 7).toInt
    val isMedia = (0 until nSpans).map(j => j > 0 && mod(h(s.seed, c, 1 + j), 3) == 0)
    val textSlots = isMedia.zipWithIndex.filterNot(_._1).map(_._2)
    val words: IndexedSeq[String] =
      if (i < s.degen) (0 until 24).map(k => s"tmpl$k") :+ s"vary${mod(i + s.seed, TemplateClasses)}"
      else (0 until s.tokens).map(k => "w" + mod(h(s.seed, c, 100 + k), 4996))
    val m = textSlots.size
    val spans = (0 until nSpans).map { j =>
      val offset = j * 16 + mod(h(s.seed, c, 80 + j), 16).toInt
      if (isMedia(j)) SpanRow("media", null, "m-" + mod(h(s.seed, c, 50 + j), s.catalog), offset)
      else {
        val t = textSlots.indexOf(j)
        val chunk = words.slice(t * words.size / m, (t + 1) * words.size / m)
        SpanRow("text", chunk.mkString(" "), null, offset)
      }
    }
    val corrupted =
      if (!isCorrupt(s, i)) spans
      else {
        val s0 = spans.head
        spans.updated(0, corruptKind(s, i) match {
          case 0 => s0.copy(kind = "video")
          case 1 => s0.copy(offset = -1)
          case 2 => s0.copy(media_ref = "m-0")
          case _ => s0.copy(text = null)
        })
      }
    val withMissing =
      if (!isMissing(s, i)) corrupted
      else corrupted :+ SpanRow("media", null, s"m-x$i", corrupted.last.offset + 16)
    DocRow(if (isHot(s, i)) "doc-hot" else docId(i), withMissing)
  }

  /** The document as a JSON object string (null fields omitted); bad-JSON
    * docs are cut in half. Tokens and ids need no escaping. */
  def json(s: Shape, i: Long): String = {
    val d = doc(s, i)
    val spans = d.spans.map { sp =>
      val fields = Seq(s""""kind":"${sp.kind}"""") ++
        Option(sp.text).map(t => s""""text":"$t"""") ++
        Option(sp.media_ref).map(r => s""""media_ref":"$r"""") :+
        s""""offset":${sp.offset}"""
      fields.mkString("{", ",", "}")
    }
    val full = s"""{"doc_id":"${d.doc_id}","spans":${spans.mkString("[", ",", "]")}}"""
    if (isBadJson(s, i)) full.substring(0, full.length / 2) else full
  }

  private def range(spark: SparkSession, s: Shape, parts: Int) = {
    import spark.implicits._
    spark.range(0, s.n, 1, parts).as[Long]
  }

  /** (doc_id, spans) table. */
  def docs(spark: SparkSession, s: Shape, parts: Int): DataFrame = {
    import spark.implicits._
    range(spark, s, parts).map(i => doc(s, i)).toDF()
  }

  /** (json) table: one document per row as a JSON string. */
  def jsonDocs(spark: SparkSession, s: Shape, parts: Int): DataFrame = {
    import spark.implicits._
    range(spark, s, parts).map(i => json(s, i)).toDF("json")
  }

  /** Media catalog `m-0 … m-{catalog-1}`. */
  def catalog(spark: SparkSession, s: Shape): DataFrame = {
    import spark.implicits._
    spark.range(0, s.catalog, 1, 1).as[Long].map(k => s"m-$k").toDF("media_ref")
  }
}

/**
 * Closed-form expected counts of a [[Shape]]: index arithmetic only, no
 * pass over the documents. `GenSpec` checks each against a brute-force
 * count over [[Gen.doc]].
 */
final case class Expected(s: Shape) {
  import Gen._

  /** #i in [lo, hi) with i mod p == r. */
  private def countRes(lo: Long, hi: Long, p: Long, r: Long): Long = {
    def upTo(x: Long) = if (x <= r) 0L else (x - 1 - r) / p + 1
    if (p <= 0) 0L else upTo(hi) - upTo(lo)
  }
  private def roleCount(role: Int, period: Long, lo: Long = 0, hi: Long = s.n): Long =
    if (period <= 0) 0L else countRes(lo, hi, period, residue(s, role, period))

  val docs: Long = s.n
  val corrupt: Long = roleCount(RoleCorrupt, s.corruptEvery)
  val hot: Long = roleCount(RoleHot, s.hotEvery)
  val missingRefs: Long = roleCount(RoleMissing, s.missingEvery)
  val badJson: Long = roleCount(RoleBadJson, s.badJsonEvery)

  /** Injected docs per corrupt kind. The j-th corrupt doc sits in period
    * j (residues are below the period), so its kind is (j + offset) mod 4. */
  val perKind: Seq[Long] = CorruptKinds.indices.map { k =>
    val nk = CorruptKinds.size
    corrupt / nk + (if (Math.floorMod(k - kindOffset(s), nk) < corrupt % nk) 1 else 0)
  }

  /** Each injected kind violates exactly one rule once. */
  val violationsPerRule: Map[String, Long] =
    CorruptKinds.zip(perKind).groupMapReduce(kv => Expected.ruleOf(kv._1))(_._2)(_ + _)
      .filter(_._2 > 0)
  val violations: Long = corrupt

  val duplicateKeys: Long = if (hot > 1) 1 else 0
  val distinctDocIds: Long = s.n - hot + (if (hot > 0) 1 else 0)

  // ---- JSON ingest + dedup (valid docs only) ----
  val invalid: Long = corrupt + badJson
  val valid: Long = s.n - invalid
  val blocks: Long = if (s.dupClusters) (s.n - s.degen) / 100 else 0
  val truePairs: Long = blocks * DupsPerBlock * (DupsPerBlock - 1) / 2
  val components: Long = blocks
  val componentNodes: Long = blocks * DupsPerBlock
  val keptByPairs: Long = valid - blocks * (DupsPerBlock - 1)
  private val invalidInShard =
    roleCount(RoleCorrupt, s.corruptEvery, 0, s.degen) + roleCount(RoleBadJson, s.badJsonEvery, 0, s.degen)
  require(s.degen == 0 || s.degen / TemplateClasses > invalidInShard,
    "every template class must keep a valid doc")
  private val templateClasses = math.min(s.degen, TemplateClasses.toLong)
  /** Exact dedup also folds each template class to one doc. */
  val keptExact: Long = keptByPairs - (s.degen - invalidInShard - templateClasses)
}

object Expected {
  /** The spec rule each injected kind violates. */
  def ruleOf(kind: String): String = kind match {
    case "unknown_enum" => "unknown-enum:spans.kind"
    case "negative_offset" => "range:spans.offset"
    case _ => "exactly-one:span-payload"
  }
}
