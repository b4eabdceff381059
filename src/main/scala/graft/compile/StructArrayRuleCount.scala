package graft.compile

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native codegen'd violation COUNTER for a struct-array column: evaluates a
 * compiled rule program in a single pass over the array, emitting unrolled
 * straight-line Java per rule — no higher-order-function lambda dispatch.
 *
 * This is the hot inner loop of interleaved-doc validation (per-span rules
 * run ~n_spans × n_rules per document); the generic Column formulation goes
 * through Spark's interpreted HOFs (transform/aggregate are CodegenFallback).
 *
 * The rule semantics live in [[StructArrayRuleDetail]], built over the same
 * child and rules: `eval` is the number of entries its interpreted loop
 * produces (`count == size(violations)` by construction), and the generated
 * Java reads its ordinals, enum sets and decimal bindings from it, so the
 * two evaluators cannot bind a field differently.
 */
case class StructArrayRuleCount(child: Expression, rules: Seq[DetailRule])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  /** The owner of the binding and of the interpreted rule loop. */
  private lazy val program = StructArrayRuleDetail(child, rules)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    program.checkInputDataTypes()

  override def eval(input: InternalRow): Any =
    program.evalFrom(child.eval(input)).asInstanceOf[ArrayData].numElements()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = program
    val childGen = child.genCode(ctx)
    val arr = ctx.freshName("arr")
    val cnt = ctx.freshName("cnt")
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val nFields = p.structType.length

    val incDecls = p.incIdx.indices.map { q =>
      s"boolean ${ev.value}_incV$q = false; long ${ev.value}_incP$q = 0L; boolean ${ev.value}_incS$q = false;"
    }.mkString("\n")

    def getNum(k: Int): String =
      if (p.ruleIsLong(k)) s"$s.getLong(${p.ruleOrd(k)})" else s"(long) $s.getInt(${p.ruleOrd(k)})"
    def longRange(k: Int, lo: Long, hi: Long): String =
      s"""if (!$s.isNullAt(${p.ruleOrd(k)})) { long _x = ${getNum(k)}; if (_x < ${lo}L || _x > ${hi}L) $cnt++; }"""

    val perElem = p.rulesArr.indices.map { k =>
      val o = p.ruleOrd(k)
      p.rulesArr(k) match {
        case RuleNotNull(_) =>
          s"if ($s.isNullAt($o)) $cnt++;"
        case RuleInSet(_, _) =>
          val setRef = ctx.addReferenceObj(s"ruleset$k", p.inSetRefs(k),
            "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
          s"if (!$s.isNullAt($o) && !$setRef.contains($s.getUTF8String($o))) $cnt++;"
        case RuleRange(_, lo, hi) => longRange(k, lo, hi)
        case RuleRangeDecimal(_, _, _) => p.decInfo(k) match {
          case DecimalRuleBinding.AsDecimal(prec, sc, loD, hiD) =>
            val loRef = ctx.addReferenceObj(s"declo$k", loD, classOf[Decimal].getName)
            val hiRef = ctx.addReferenceObj(s"dechi$k", hiD, classOf[Decimal].getName)
            s"""if (!$s.isNullAt($o)) {
               |  org.apache.spark.sql.types.Decimal _d = $s.getDecimal($o, $prec, $sc);
               |  if (_d.compare($loRef) < 0 || _d.compare($hiRef) > 0) $cnt++;
               |}""".stripMargin
          case DecimalRuleBinding.AsLong(lo, hi) => longRange(k, lo, hi)
        }
        case RuleExactlyOne(_) =>
          val nnChecks = p.oneOfOrds(k).map(o2 => s"if (!$s.isNullAt($o2)) _nn++;").mkString(" ")
          s"{ int _nn = 0; $nnChecks if (_nn != 1) $cnt++; }"
        case _: RuleIncreasing => ""
      }
    }.mkString("\n")

    val incUpdates = p.incIdx.zipWithIndex.map { case (k, q) =>
      s"""if (!$s.isNullAt(${p.ruleOrd(k)})) {
         |  long _x = ${getNum(k)};
         |  if (${ev.value}_incS$q && _x <= ${ev.value}_incP$q) ${ev.value}_incV$q = true;
         |  ${ev.value}_incP$q = _x; ${ev.value}_incS$q = true;
         |} else { ${ev.value}_incS$q = false; }""".stripMargin
    }.mkString("\n")

    val incNullElemReset = p.incIdx.indices
      .map(q => s"${ev.value}_incS$q = false;").mkString(" ")

    val incFinal = p.incIdx.indices.map(q => s"if (${ev.value}_incV$q) $cnt++;").mkString("\n")

    // a null element is charged its RuleExactlyOne rules (0 of N set)
    val nullElemPenalty = p.exactlyOneIdx.length

    val code =
      s"""
         |${childGen.code}
         |int $cnt = 0;
         |if (!${childGen.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${childGen.value};
         |  int $n = $arr.numElements();
         |  $incDecls
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($arr.isNullAt($i)) { $cnt += $nullElemPenalty; $incNullElemReset continue; }
         |    org.apache.spark.sql.catalyst.InternalRow $s = $arr.getStruct($i, $nFields);
         |    $perElem
         |    $incUpdates
         |  }
         |  $incFinal
         |}
         |int ${ev.value} = $cnt;
       """.stripMargin
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block
      .BlockHelper(new StringContext(code)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): StructArrayRuleCount =
    copy(child = newChild)
}

object StructArrayRuleCount {
  def column(arr: org.apache.spark.sql.Column, rules: Seq[DetailRule]): org.apache.spark.sql.Column =
    GraftBridge.column(StructArrayRuleCount(GraftBridge.expression(arr), rules))
}
