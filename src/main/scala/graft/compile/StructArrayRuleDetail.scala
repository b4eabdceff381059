package graft.compile

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Rules evaluable natively over one `array<struct<...>>` column. Field
 * references are by name; ordinals and physical types resolve from the
 * child's (analyzed) dataType at eval/codegen time.
 */
sealed trait ArrayRule extends Serializable
/** required field inside each element (`missing-field`). */
final case class RuleNotNull(field: String) extends ArrayRule
/** enum membership (`unknown-enum` / `unknown-value`). */
final case class RuleInSet(field: String, values: Seq[String]) extends ArrayRule
/** numeric range (`range`), evaluated in long space (int/long fields). */
final case class RuleRange(field: String, lo: Long, hi: Long) extends ArrayRule
/** numeric range over a DecimalType field (`range`) — the PUInt64 path:
  * full-uint64 bounds don't fit long space (NOTES #7 retired). */
final case class RuleRangeDecimal(field: String,
    lo: java.math.BigDecimal, hi: java.math.BigDecimal) extends ArrayRule
/** exactly one of the fields non-null per element (`exactly-one`). */
final case class RuleExactlyOne(fields: Seq[String]) extends ArrayRule
/** strictly increasing field across elements — ONE violation per row (`order`). */
final case class RuleIncreasing(field: String) extends ArrayRule

/**
 * How a [[RuleRangeDecimal]] binds to the field's PHYSICAL type. The rule
 * is chosen from the spec (PUInt64), but the bound column may carry the
 * field as DecimalType (our readers) or as an integral type (a user-built
 * DataFrame holding uint64 in a long — the generic emitter's
 * decimal-literal compare accepted that via implicit numeric promotion, so
 * the native path must too, not fail at eval). For integral fields the
 * decimal compare reduces EXACTLY to a clamped long compare:
 * `x < lo || x > hi` ⇔ `x < ceil(lo) || x > floor(hi)` with bounds clamped
 * to long range; a rule window entirely outside long space means every
 * non-null value violates (encoded as the empty window lo=MaxValue,
 * hi=MinValue, for which one of the two compares always fires).
 */
private[compile] object DecimalRuleBinding {
  sealed trait Binding extends Serializable
  final case class AsDecimal(precision: Int, scale: Int, lo: Decimal, hi: Decimal) extends Binding
  final case class AsLong(lo: Long, hi: Long) extends Binding

  def bind(fieldType: DataType, fieldName: String,
      lo: java.math.BigDecimal, hi: java.math.BigDecimal): Binding = fieldType match {
    case d: DecimalType => AsDecimal(d.precision, d.scale, Decimal(lo), Decimal(hi))
    case LongType | IntegerType | ShortType | ByteType =>
      val loC = lo.setScale(0, java.math.RoundingMode.CEILING)
      val hiC = hi.setScale(0, java.math.RoundingMode.FLOOR)
      val minL = java.math.BigDecimal.valueOf(Long.MinValue)
      val maxL = java.math.BigDecimal.valueOf(Long.MaxValue)
      if (loC.compareTo(maxL) > 0 || hiC.compareTo(minL) < 0 || loC.compareTo(hiC) > 0)
        AsLong(Long.MaxValue, Long.MinValue) // empty window
      else AsLong(
        if (loC.compareTo(minL) <= 0) Long.MinValue else loC.longValueExact,
        if (hiC.compareTo(maxL) >= 0) Long.MaxValue else hiC.longValueExact)
    case other => throw new IllegalArgumentException(
      s"RuleRangeDecimal field $fieldName: expected decimal or integral, got $other")
  }
}

/**
 * One compiled detail rule: the [[ArrayRule]] plus the precomputed strings
 * the violation struct needs. Element paths render as
 * `pathPrefix + i + pathSuffix` (e.g. "spans[" + 3 + "].kind").
 */
final case class DetailRule(rule: ArrayRule, ruleId: String,
    pathPrefix: String, pathSuffix: String, constantDetail: String = "")
    extends Serializable

/**
 * Native violation DETAIL builder for a struct-array column, and the single
 * owner of the native rule semantics: the type binding (ordinals, integral
 * widths, enum sets, decimal bindings) is derived here once, and
 * [[evalArray]] is the one interpreted rule loop. [[StructArrayRuleCount]]'s
 * `eval` is the size of this array, and its generated Java reads its
 * bindings from here.
 *
 * The generic Column form builds this array through interpreted HOFs
 * (transform-of-transform + flatten + string concat per element per rule);
 * this expression runs one pass over the rule program and only allocates
 * strings/structs when a rule actually FIRES — on real corpora violations
 * are rare, so the happy path costs what counting costs.
 *
 * Semantics are EXACTLY the generic walk's (property-tested equivalence,
 * including containsNull=true arrays and null ordered fields):
 *  - per-element rules fire per element; null array ≡ empty;
 *  - a null ELEMENT fires only its RuleExactlyOne rules (field access on a
 *    null struct is null → the count of non-null options is 0 ≠ 1), never
 *    RuleNotNull (the generic walk guards record rules with `isNotNull`);
 *  - RuleIncreasing fires at most once per row and compares ADJACENT pairs
 *    only: a pair violates iff both elements are non-null and both field
 *    values are non-null and next ≤ current (the generic zip_with yields
 *    null — not a violation — for any pair touching a null), so a null
 *    element or null field value breaks the comparison chain.
 *
 * Each entry's ruleId / stamped path / detail text match the generic
 * DetailEmitter's; the ORDER of entries may differ from the generic concat
 * order (absorbed row rules emit inline per element, not appended at the
 * end), so equivalence is as multisets — exactly what violationRows / the
 * driver's sorted compare consume.
 */
case class StructArrayRuleDetail(child: Expression, rules: Seq[DetailRule])
    extends graft.functions.UnaryEvalExpression {

  override def dataType: DataType = SpecCompiler.violationType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StructType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"native struct-array rules require array<struct>, got $other")
    }

  // ---- the type binding, hoisted out of evalArray (the production path
  // runs the loop per array element per row; pattern-matching field names
  // or fieldIndex lookups there would dominate the happy path). Per rule k,
  // indexed like `rules`. ----
  private[compile] lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def ord(f: String): Int = structType.fieldIndex(f)
  private[compile] lazy val rulesArr: Array[ArrayRule] = rules.map(_.rule).toArray
  /** Primary field ordinal per rule (-1 for RuleExactlyOne, which has many). */
  private[compile] lazy val ruleOrd: Array[Int] = rulesArr.map {
    case RuleNotNull(f) => ord(f)
    case RuleInSet(f, _) => ord(f)
    case RuleRange(f, _, _) => ord(f)
    case RuleRangeDecimal(f, _, _) => ord(f)
    case RuleIncreasing(f) => ord(f)
    case _: RuleExactlyOne => -1
  }
  /** Physical binding per decimal-range rule; null otherwise. */
  private[compile] lazy val decInfo: Array[DecimalRuleBinding.Binding] = rulesArr.map {
    case RuleRangeDecimal(f, lo, hi) =>
      DecimalRuleBinding.bind(structType(ord(f)).dataType, f, lo, hi)
    case _ => null
  }
  /** Whether a numeric rule's field reads as long (else int-widened). */
  private[compile] lazy val ruleIsLong: Array[Boolean] = rulesArr.indices.map { k =>
    rulesArr(k) match {
      case _: RuleRange | _: RuleIncreasing => isLongField(k)
      case _: RuleRangeDecimal if decInfo(k).isInstanceOf[DecimalRuleBinding.AsLong] =>
        isLongField(k)
      case _ => false
    }
  }.toArray
  private def isLongField(k: Int): Boolean = structType(ruleOrd(k)).dataType match {
    case LongType => true
    case IntegerType | ShortType | ByteType => false
    case other => throw new IllegalArgumentException(s"${rulesArr(k)}: unsupported field type $other")
  }
  private[compile] lazy val oneOfOrds: Array[Array[Int]] = rulesArr.map {
    case RuleExactlyOne(fs) => fs.map(ord).toArray
    case _ => null
  }
  private[compile] lazy val inSetRefs: Array[java.util.HashSet[UTF8String]] = rulesArr.map {
    case RuleInSet(_, vs) =>
      val s = new java.util.HashSet[UTF8String]()
      vs.foreach(v => s.add(UTF8String.fromString(v)))
      s
    case _ => null
  }
  /** Rule indices of the RuleIncreasing rules (chain state tracked per element). */
  private[compile] lazy val incIdx: Array[Int] =
    rulesArr.indices.filter(rulesArr(_).isInstanceOf[RuleIncreasing]).toArray
  /** Rule indices of the RuleExactlyOne rules (fire on null elements too). */
  private[compile] lazy val exactlyOneIdx: Array[Int] =
    rulesArr.indices.filter(rulesArr(_).isInstanceOf[RuleExactlyOne]).toArray

  // ---- the strings a fired rule emits ----
  /** Interned constant strings per rule: (ruleId, pathPrefix, pathSuffix, detail). */
  private lazy val consts: Array[Array[UTF8String]] = rules.map { d =>
    Array(UTF8String.fromString(d.ruleId), UTF8String.fromString(d.pathPrefix),
      UTF8String.fromString(d.pathSuffix), UTF8String.fromString(d.constantDetail))
  }.toArray
  /** Option-name strings per RuleExactlyOne, in field order; null otherwise. */
  private lazy val oneOfNames: Array[Array[UTF8String]] = rulesArr.map {
    case RuleExactlyOne(fs) => fs.map(UTF8String.fromString).toArray
    case _ => null
  }
  private val comma = UTF8String.fromString(",")

  private def path(k: Int, i: Int): UTF8String =
    UTF8String.concat(consts(k)(1), UTF8String.fromString(String.valueOf(i)), consts(k)(2))

  private def vioRow(k: Int, p: UTF8String, detail: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](consts(k)(0), p, detail))

  /** Generated code reaches this through [[graft.functions.EvalCodegen]]:
    * the work is branchy object construction (strings, structs, a growable
    * buffer) that inlined Java would not speed up. */
  def evalFrom(v: Any): Any =
    if (v == null) StructArrayRuleDetail.emptyResult
    else evalArray(v.asInstanceOf[ArrayData])

  private def evalArray(arr: ArrayData): ArrayData = {
    val nFields = structType.length
    var out: java.util.ArrayList[InternalRow] = null
    def add(r: InternalRow): Unit = {
      if (out == null) out = new java.util.ArrayList[InternalRow](4)
      out.add(r)
    }
    def num(s: InternalRow, k: Int): Long =
      if (ruleIsLong(k)) s.getLong(ruleOrd(k)) else s.getInt(ruleOrd(k)).toLong
    def longRange(s: InternalRow, k: Int, i: Int, lo: Long, hi: Long): Unit =
      if (!s.isNullAt(ruleOrd(k))) {
        val x = num(s, k)
        if (x < lo || x > hi) add(vioRow(k, path(k, i), UTF8String.fromString(String.valueOf(x))))
      }
    val nRules = rulesArr.length
    val nInc = incIdx.length
    val incViolated = new Array[Boolean](nInc)
    val incPrev = new Array[Long](nInc)
    val incPrevSet = new Array[Boolean](nInc)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) {
        var e1 = 0
        while (e1 < exactlyOneIdx.length) { // 0 of N set
          add(vioRow(exactlyOneIdx(e1), path(exactlyOneIdx(e1), i), UTF8String.EMPTY_UTF8))
          e1 += 1
        }
        var q = 0
        while (q < nInc) { incPrevSet(q) = false; q += 1 } // chain break
      } else {
        val s = arr.getStruct(i, nFields)
        var k = 0
        while (k < nRules) {
          rulesArr(k) match {
            case RuleNotNull(_) =>
              if (s.isNullAt(ruleOrd(k))) add(vioRow(k, path(k, i), consts(k)(3)))
            case RuleInSet(_, _) =>
              val o = ruleOrd(k)
              if (!s.isNullAt(o)) {
                val value = s.getUTF8String(o)
                if (!inSetRefs(k).contains(value)) add(vioRow(k, path(k, i), value.clone()))
              }
            case RuleRange(_, lo, hi) => longRange(s, k, i, lo, hi)
            case RuleRangeDecimal(_, _, _) => decInfo(k) match {
              case DecimalRuleBinding.AsDecimal(p, sc, lo, hi) =>
                val o = ruleOrd(k)
                if (!s.isNullAt(o)) {
                  val d = s.getDecimal(o, p, sc)
                  // detail text = decimal→string cast, same as the generic form
                  if (d.compare(lo) < 0 || d.compare(hi) > 0)
                    add(vioRow(k, path(k, i), UTF8String.fromString(d.toString)))
                }
              case DecimalRuleBinding.AsLong(lo, hi) => longRange(s, k, i, lo, hi)
            }
            case RuleExactlyOne(_) =>
              val ords = oneOfOrds(k)
              var nn = 0
              var j = 0
              while (j < ords.length) { if (!s.isNullAt(ords(j))) nn += 1; j += 1 }
              if (nn != 1) {
                val names = oneOfNames(k)
                var detail: UTF8String = null
                j = 0
                while (j < ords.length) {
                  if (!s.isNullAt(ords(j))) {
                    detail = if (detail == null) names(j)
                      else UTF8String.concat(detail, comma, names(j))
                  }
                  j += 1
                }
                add(vioRow(k, path(k, i),
                  if (detail == null) UTF8String.EMPTY_UTF8 else detail))
              }
            case _: RuleIncreasing => ()
          }
          k += 1
        }
        var qi = 0
        while (qi < nInc) {
          val k2 = incIdx(qi)
          if (!s.isNullAt(ruleOrd(k2))) {
            val x = num(s, k2)
            if (incPrevSet(qi) && x <= incPrev(qi)) incViolated(qi) = true
            incPrev(qi) = x
            incPrevSet(qi) = true
          } else incPrevSet(qi) = false
          qi += 1
        }
      }
      i += 1
    }
    var qi = 0
    while (qi < nInc) {
      if (incViolated(qi)) {
        val k = incIdx(qi)
        add(vioRow(k, consts(k)(1), consts(k)(3))) // path = array name, once per row
      }
      qi += 1
    }
    if (out == null) StructArrayRuleDetail.emptyResult
    else new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): StructArrayRuleDetail =
    copy(child = newChild)
}

object StructArrayRuleDetail {
  /** Shared empty result — the overwhelmingly common case. */
  val emptyResult: GenericArrayData = new GenericArrayData(new Array[Any](0))

  def column(arr: org.apache.spark.sql.Column, rules: Seq[DetailRule]): org.apache.spark.sql.Column =
    GraftBridge.column(StructArrayRuleDetail(GraftBridge.expression(arr), rules))
}
