package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.spec._

/**
 * Compiles a [[graft.spec.Spec]] into Catalyst `Column` expression trees.
 *
 * This is the Spark-native analog of the reference's schema compile +
 * parse/validate pipeline: where piqi compiles `.piqi` → resolved typedefs →
 * per-format codecs that validate while parsing
 * (`piqilib/piqi.ml:1598-1819`, `piqilib/piqobj_of_json.ml`), we compile a
 * spec → one wide projection per table. Every rule is a built-in function
 * composition — zero row-level UDFs.
 *
 * Instead of the reference's fail-fast located exception
 * (`piqobj_of_json.ml:192-197` raises on the first missing field), we
 * collect ALL violations per row — the distributed-validation semantics the
 * north rule requires (exact violation rows + per-partition pass/fail).
 *
 * TWO compiled forms of the same rule walk (chosen per job, both from one
 * spec — the hot-path design found during plan review):
 *  - [[ValidationPlan.violationCount]] — pure boolean/int arithmetic
 *    (CASE WHEN + sums), fully codegen-capable except the unavoidable
 *    higher-order `transform`/`aggregate` over repeated fields. This is
 *    what pass/fail summaries aggregate at 10^12-row scale.
 *  - [[ValidationPlan.violations]] — the detail array
 *    `array<struct<rule,path,detail>>` with element indices stamped into
 *    paths, for exact violation rows. Costs string/struct construction, so
 *    jobs build it only where detail is emitted.
 */
object SpecCompiler {

  /** 2^64 − 1 as an exact decimal literal (PUInt64 upper bound). */
  val UInt64Max: java.math.BigDecimal = new java.math.BigDecimal("18446744073709551615")

  val violationType: ArrayType = ArrayType(StructType(Seq(
    StructField("rule", StringType),
    StructField("path", StringType),
    StructField("detail", StringType))), containsNull = false)

  /** One conditional violation as a detail array (CASE WHEN — codegen-capable). */
  def vio(cond: Column, rule: String, path: String, detail: Column): Column =
    when(cond,
      array(struct(lit(rule).as("rule"), lit(path).as("path"),
        coalesce(detail.cast(StringType), lit("null")).as("detail"))))
      .otherwise(emptyVio)

  def emptyVio: Column = array().cast(violationType)

  /** Flattens a list of violation arrays into one. */
  def concatVios(vs: Seq[Column]): Column =
    if (vs.isEmpty) emptyVio else if (vs.size == 1) vs.head else concat(vs: _*)

  def compile(spec0: Spec): ValidationPlan = {
    val spec = spec0.resolved
    new ValidationPlan(spec)
  }
}

/**
 * How a rule walk materializes its findings: `R` is a per-context result
 * (detail array or int count).
 */
private[compile] sealed trait Emitter[R] {
  def emit(cond: Column, rule: String, path: String, detail: => Column): R
  def empty: R
  def combine(rs: Seq[R]): R
  /** Combine per-element results of a repeated field into the row result. */
  def fromArray(arr: Column, path: String, perElem: (Column, Column) => R): R
}

/** Detail arrays with element-index-stamped paths. */
private[compile] object DetailEmitter extends Emitter[Column] {
  import SpecCompiler._
  def emit(cond: Column, rule: String, path: String, detail: => Column): Column =
    vio(cond, rule, path, detail)
  def empty: Column = emptyVio
  def combine(rs: Seq[Column]): Column = concatVios(rs)
  def fromArray(arr: Column, path: String, perElem: (Column, Column) => Column): Column = {
    // "spans.kind" at element 1 → "spans[1].kind"
    val stamped = transform(arr, (x, i) =>
      transform(perElem(x, i), v =>
        struct(v.getField("rule").as("rule"),
          concat(lit(path), lit("["), i.cast(StringType), lit("]"),
            substring(v.getField("path"), path.length + 1, 1000000)).as("path"),
          v.getField("detail").as("detail"))))
    when(arr.isNull, emptyVio).otherwise(flatten(stamped))
  }
}

/** Pure count — the codegen-friendly hot path (no strings, no structs). */
private[compile] object CountEmitter extends Emitter[Column] {
  def emit(cond: Column, rule: String, path: String, detail: => Column): Column =
    when(cond, lit(1)).otherwise(lit(0))
  def empty: Column = lit(0)
  def combine(rs: Seq[Column]): Column =
    if (rs.isEmpty) lit(0) else rs.reduce(_ + _)
  def fromArray(arr: Column, path: String, perElem: (Column, Column) => Column): Column =
    when(arr.isNull, lit(0))
      .otherwise(aggregate(transform(arr, (x, i) => perElem(x, i)), lit(0), (a, v) => a + v))
}

/**
 * Compiled validation plan. Immutable; closes over nothing but the spec, so
 * Catalyst serializes only expression trees to executors (the analog of
 * piqi broadcasting its resolved typedef table into the convert loop).
 */
final class ValidationPlan(val spec: Spec) extends Serializable {

  /** Follow alias chains like `Piqobj.unalias` (`piqobj.ml:157-160`), accumulating constraints. */
  private def unalias(t: PiqiType, acc: Seq[Constraint] = Nil): (PiqiType, Seq[Constraint]) =
    t match {
      case TypeRef(n) => spec.defTable(n) match {
        case AliasDef(_, target, cs) => unalias(target, acc ++ cs)
        case _ => (t, acc)
      }
      case _ => (t, acc)
    }

  private def resolveDef(t: PiqiType): Option[TypeDef] = t match {
    case TypeRef(n) => Some(spec.defTable(n))
    case _ => None
  }

  /** Violations from value-level constraints; checks apply only when value non-null. */
  private def constraintVios[R](e: Emitter[R], c: Column, path: String, cs: Seq[Constraint]): Seq[R] =
    cs.map {
      case MatchesRegex(r) =>
        e.emit(c.isNotNull && !c.cast(StringType).rlike(r), s"format:$path", path, c)
      case Base64 =>
        e.emit(c.isNotNull && !c.cast(StringType).rlike("^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"),
          s"base64:$path", path, c)
      case ValidUtf8 =>
        // Spark 4 native UTF-8 validity check (binary-ingested text;
        // `piqilib/piqi_utf8.ml:33-120` analog)
        e.emit(c.isNotNull && !is_valid_utf8(c), s"utf8:$path", path, lit("invalid utf-8"))
      case InRange(lo, hi) =>
        e.emit(c.isNotNull && (c.cast(DoubleType) < lo || c.cast(DoubleType) > hi),
          s"range:$path", path, c)
      case OneOf(vals) =>
        e.emit(c.isNotNull && !c.isin(vals: _*), s"unknown-value:$path", path, c)
    }

  /** Occurrence counts of type defs along the current expansion path — the
    * compile-time unroll state for finite-but-recursive types (reference
    * matrix `tests/infinite_types/finite*.piqi`). The root record counts as
    * its first occurrence. */
  private def rootSeen: Map[String, Int] = Map(spec.root -> 1)

  private def atCutoff(n: String, seen: Map[String, Int]): Boolean =
    spec.atDepthCutoff(n, seen)

  private def bump(n: String, seen: Map[String, Int]): Map[String, Int] =
    spec.bumpDepth(n, seen)

  /** Beyond-depth presence: the schema types this subtree as raw-capture
    * string ([[graft.io.Convert.jsonSchema]] cutoff), so non-null means a
    * document deeper than the configured unroll — a violation, the
    * depth-bounded analog of the reference's unbounded recursion. */
  private def depthVio[R](e: Emitter[R], c: Column, path: String): R =
    e.emit(c.isNotNull, s"depth:$path", path,
      lit(s"recursion deeper than maxDepth=${spec.maxDepth}"))

  /**
   * Violations for a single value of type `t` at column `c` (all value
   * checks self-guard on non-null; required/optional is the caller's job).
   */
  private def valueVios[R](e: Emitter[R], t: PiqiType, c: Column, path: String,
      seen: Map[String, Int]): Seq[R] = {
    val (base, aliasCs) = unalias(t)
    val aliasVios = constraintVios(e, c, path, aliasCs)
    val ownVios: Seq[R] = base match {
      case PBool | PFloat | PFloat32 | PString | PBinary | PAny => Nil
      case PUInt64 =>
        // full uint64 domain on DecimalType(20,0): 20 digits also hold
        // values past 2^64−1, so the upper bound is a real check
        Seq(e.emit(c.isNotNull &&
            (c < lit(java.math.BigDecimal.ZERO) || c > lit(SpecCompiler.UInt64Max)),
          s"range:$path", path, c))
      case PInt(lo, hi) =>
        // range checks the reference documents but does not enforce
        // (doc/tools.md:490-493); we enforce (SURVEY.md B9)
        if (lo != Long.MinValue || hi != Long.MaxValue)
          Seq(e.emit(c.isNotNull && (c.cast(LongType) < lo || c.cast(LongType) > hi),
            s"range:$path", path, c))
        else Nil
      case TypeRef(n) =>
        resolveDef(base) match {
          case Some(EnumDef(_, options)) =>
            // unknown enum option → error (`piqobj_of_json.ml:270-284`)
            Seq(e.emit(c.isNotNull && !c.isin(options: _*), s"unknown-enum:$path", path, c))
          case Some(RecordDef(_, fields)) =>
            if (atCutoff(n, seen)) Seq(depthVio(e, c, path))
            else recordVios(e, fields, c, path, guard = c.isNotNull, bump(n, seen))
          case Some(VariantDef(_, options)) =>
            if (atCutoff(n, seen)) Seq(depthVio(e, c, path))
            else variantVios(e, options, c, path, bump(n, seen))
          case Some(ListDef(_, elem, elemCs)) =>
            if (atCutoff(n, seen)) Seq(depthVio(e, c, path))
            else Seq(listVios(e, elem, elemCs, c, path, bump(n, seen)))
          case _ => Nil
        }
      case _ => Nil
    }
    aliasVios ++ ownVios
  }

  /** Record fields: required/optional/repeated semantics (SURVEY.md B1-B8). */
  private def recordVios[R](e: Emitter[R], fields: Seq[PField], rec: Column, path: String,
      guard: Column, seen: Map[String, Int]): Seq[R] = {
    fields.flatMap { f =>
      val c = rec.getField(f.name)
      val p = if (path.isEmpty) f.name else s"$path.${f.name}"
      fieldVios(e, f, c, p, guard, seen)
    }
  }

  private def fieldVios[R](e: Emitter[R], f: PField, c: Column, p: String, guard: Column,
      seen: Map[String, Int]): Seq[R] = {
    val modeVios: Seq[R] = f.mode match {
      case Required =>
        // exactly one instance must be present (`piqobj_of_json.ml:192-197`)
        Seq(e.emit(guard && c.isNull, s"missing-field:$p", p, lit("required field is missing")))
      case Optional(_) => Nil // JSON null ≡ missing (`piqobj_of_json.ml:214`)
      case Repeated => Nil    // absent repeated ≡ empty (`piqobj_of_json.ml:221-229`)
      case Flag => Nil        // desugared in Spec.resolved
    }
    val bodyVios: Seq[R] = f.mode match {
      case Repeated => Seq(listVios(e, f.tpe, f.constraints, c, p, seen))
      case _ => valueVios(e, f.tpe, c, p, seen) ++ constraintVios(e, c, p, f.constraints)
    }
    modeVios ++ bodyVios
  }

  /** Exactly one non-null option per variant value (`piqobj_of_json.ml:248-253`). */
  private def variantVios[R](e: Emitter[R], options: Seq[POption], c: Column, path: String,
      seen: Map[String, Int]): Seq[R] = {
    val nonNullCnt = options.map(o => c.getField(o.name).isNotNull.cast(IntegerType))
      .reduce(_ + _)
    val exactly = e.emit(c.isNotNull && nonNullCnt =!= 1, s"exactly-one:$path", path,
      concat_ws("|", options.map(o => when(c.getField(o.name).isNotNull, lit(o.name))): _*))
    val optionChecks = options.flatMap { o =>
      o.tpe.toSeq.flatMap(t => valueVios(e, t, c.getField(o.name), s"$path.${o.name}", seen))
    }
    exactly +: optionChecks
  }

  /** Element-wise list validation (higher-order transform — unavoidable for arrays). */
  private def listVios[R](e: Emitter[R], elem: PiqiType, elemCs: Seq[Constraint],
      arr: Column, path: String, seen: Map[String, Int]): R =
    e.fromArray(arr, path, (x, _) =>
      e.combine(valueVios(e, elem, x, path, seen) ++ constraintVios(e, x, path, elemCs)))

  /** Cross-field / ordering rules (north-rule additions, SURVEY.md §2.D). */
  private def rowRuleVios[R](e: Emitter[R], r: RowRule,
      resolve: String => Column = col): Seq[R] = r match {
    case ExactlyOneOf(name, paths) => oneOfVios(e, name, paths, exact = true, resolve)
    case AtMostOneOf(name, paths) => oneOfVios(e, name, paths, exact = false, resolve)
    case StrictlyIncreasing(name, arrayPath, field) =>
      val arr = resolve(arrayPath)
      // pair each element with its successor; any non-increase violates
      val bad = zip_with(arr, slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (cur, nxt) => nxt.isNotNull && nxt.getField(field) <= cur.getField(field))
      Seq(e.emit(arr.isNotNull && exists(bad, b => b), s"order:$name", arrayPath,
        lit(s"$field must be strictly increasing")))
  }

  private def oneOfVios[R](e: Emitter[R], name: String, paths: Seq[String], exact: Boolean,
      resolve: String => Column = col): Seq[R] = {
    // distinct rule ids: "exactly-one" vs "at-most-one" (reports must not
    // conflate the two row-rule kinds)
    val ruleId = if (exact) s"exactly-one:$name" else s"at-most-one:$name"
    // supported shapes: all top-level paths, or all inside one repeated field
    val arrayPrefixes = paths.map(_.split("\\.", 2)).collect {
      case Array(head, rest) if isRepeatedRoot(head) => (head, rest)
    }
    if (arrayPrefixes.size == paths.size && arrayPrefixes.map(_._1).distinct.size == 1) {
      val arrName = arrayPrefixes.head._1
      val subFields = arrayPrefixes.map(_._2)
      Seq(e.fromArray(resolve(arrName), arrName, (x, _) => {
        val cnt = subFields.map(f => x.getField(f).isNotNull.cast(IntegerType)).reduce(_ + _)
        val bad = if (exact) cnt =!= 1 else cnt > 1
        e.emit(bad, ruleId, arrName,
          concat_ws(",", subFields.map(f => when(x.getField(f).isNotNull, lit(f))): _*))
      }))
    } else {
      val cols = paths.map(p => resolve(p))
      val cnt = cols.map(_.isNotNull.cast(IntegerType)).reduce(_ + _)
      val bad = if (exact) cnt =!= 1 else cnt > 1
      Seq(e.emit(bad, ruleId, paths.mkString("|"),
        concat_ws(",", paths.zip(cols).map { case (p, c) => when(c.isNotNull, lit(p)) }: _*)))
    }
  }

  private def isRepeatedRoot(fieldName: String): Boolean =
    rootRecord.fields.exists(f => f.name == fieldName && f.mode == Repeated)

  lazy val rootRecord: RecordDef = spec.defTable(spec.root) match {
    case r: RecordDef => r
    case other => throw new SpecException(s"root '${spec.root}' must be a record, got $other")
  }

  private def rootWalk[R](e: Emitter[R], resolve: String => Column = col): R = {
    val fieldRs = rootRecord.fields.flatMap(f =>
      fieldVios(e, f, resolve(f.name), f.name, lit(true), rootSeen))
    val ruleRs = spec.rowRules.flatMap(r => rowRuleVios(e, r, resolve))
    e.combine(fieldRs ++ ruleRs)
  }

  /**
   * Exact violation details: `array<struct<rule,path,detail>>` (report
   * path). Repeated record fields whose rules are natively representable
   * compile to [[StructArrayRuleDetail]] (one pass, allocations only when a
   * rule fires); entry ORDER may differ from the generic concat (absorbed
   * row rules emit inline per element), so equivalence with
   * [[violationsGeneric]] is as multisets (what violationRows and the
   * driver's sorted compare consume).
   */
  lazy val violations: Column =
    nativeWalk(DetailEmitter, StructArrayRuleDetail.column).as("violations")

  /** Generic (HOF) detail form — equivalence-test reference / fallback. */
  lazy val violationsGeneric: Column = rootWalk(DetailEmitter).as("violations")

  /** [[violations]] evaluated over a STRUCT column holding the root record
    * (e.g. a `from_json`-parsed piqi-any payload) instead of top-level
    * columns. Top-level row-rule paths resolve inside the struct. */
  def violationsFor(rec: Column): Column = {
    def resolve(path: String): Column =
      path.split("\\.").foldLeft(rec)((c, seg) => c.getField(seg))
    rootWalk(DetailEmitter, resolve)
  }

  // ---------- native rule programs (both forms) ----------

  /**
   * Try to compile ALL of a repeated record field's element rules into a
   * native rule program (single pass, no higher-order functions).
   * Conservative: any rule shape the native expressions can't represent
   * bit-exactly → None → generic Column fallback.
   */
  private def nativeArrayRules(f: PField): Option[Seq[DetailRule]] = {
    if (f.mode != Repeated || f.constraints.nonEmpty) return None
    val (base, aliasCs) = unalias(f.tpe)
    if (aliasCs.nonEmpty) return None
    resolveDef(base) match {
      case Some(RecordDef(_, fields)) =>
        val rules = scala.collection.mutable.ArrayBuffer[DetailRule]()
        def elemRule(r: ArrayRule, kind: String, f2: String, detail: String = ""): Unit =
          rules += DetailRule(r, s"$kind:${f.name}.$f2", s"${f.name}[", s"].$f2", detail)
        fields.foreach { f2 =>
          val (b2, cs2) = unalias(f2.tpe)
          if (cs2.nonEmpty || f2.constraints.nonEmpty) return None // regex/utf8/base64 etc → generic
          f2.mode match {
            case Required =>
              elemRule(RuleNotNull(f2.name), "missing-field", f2.name, "required field is missing")
            case Optional(None) => ()
            case _ => return None // defaults / nested repeated / flags → generic
          }
          b2 match {
            case PInt(lo, hi) =>
              if (lo != Long.MinValue || hi != Long.MaxValue)
                elemRule(RuleRange(f2.name, lo, hi), "range", f2.name)
            case PBool | PFloat | PFloat32 | PString | PBinary | PAny => ()
            case PUInt64 =>
              elemRule(RuleRangeDecimal(f2.name,
                java.math.BigDecimal.ZERO, SpecCompiler.UInt64Max), "range", f2.name)
            case TypeRef(_) => resolveDef(b2) match {
              case Some(EnumDef(_, opts)) => elemRule(RuleInSet(f2.name, opts), "unknown-enum", f2.name)
              case _ => return None // nested records/variants/lists → generic
            }
            case _ => return None
          }
        }
        Some(rules.toSeq)
      case _ => None
    }
  }

  /** The native rule for `r` if it is a row rule scoped entirely inside
    * repeated field `arrName` and expressible natively. */
  private def absorbableRowRule(r: RowRule, arrName: String, elemFields: Seq[PField]): Option[DetailRule] = {
    def sub(p: String): Option[String] = p.split("\\.", 2) match {
      case Array(h, rest) if h == arrName => Some(rest)
      case _ => None
    }
    r match {
      case ExactlyOneOf(name, paths) =>
        val subs = paths.flatMap(sub(_))
        if (subs.size == paths.size && subs.forall(s => elemFields.exists(_.name == s)))
          Some(DetailRule(RuleExactlyOne(subs), s"exactly-one:$name", s"$arrName[", "]"))
        else None
      case StrictlyIncreasing(name, arrayPath, field) if arrayPath == arrName =>
        elemFields.find(_.name == field).flatMap { ef =>
          unalias(ef.tpe) match {
            case (PInt(_, _), _) => // int/long fields only
              Some(DetailRule(RuleIncreasing(field), s"order:$name", arrName, "",
                s"$field must be strictly increasing"))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** The one native rule map: per natively compiled repeated field, its
    * element rules followed by the array-scoped row rules it absorbs; and
    * the set of absorbed row rules, which the row-rule walk then skips. */
  private lazy val nativeRules: (Map[String, Seq[DetailRule]], Set[RowRule]) = {
    val perField = rootRecord.fields.flatMap { f =>
      nativeArrayRules(f).map { base =>
        val elemFields = resolveDef(unalias(f.tpe)._1)
          .collect { case RecordDef(_, fs) => fs }.getOrElse(Nil)
        val absorbed = spec.rowRules.flatMap(r =>
          absorbableRowRule(r, f.name, elemFields).map(r -> _))
        (f.name -> (base ++ absorbed.map(_._2)), absorbed.map(_._1))
      }
    }
    (perField.map(_._1).toMap, perField.flatMap(_._2).toSet)
  }

  /** Root walk with each natively compiled field's rule program evaluated
    * by `native` instead of the generic emitter. */
  private def nativeWalk(e: Emitter[Column], native: (Column, Seq[DetailRule]) => Column): Column = {
    val (byField, absorbed) = nativeRules
    val fieldCols: Seq[Column] = rootRecord.fields.flatMap { f =>
      byField.get(f.name) match {
        case Some(rules) => Seq(native(col(f.name), rules))
        case None => fieldVios(e, f, col(f.name), f.name, lit(true), rootSeen)
      }
    }
    val rowCols = spec.rowRules.filterNot(absorbed).flatMap(r => rowRuleVios(e, r))
    e.combine(fieldCols ++ rowCols)
  }

  /**
   * Violation count as pure int arithmetic (hot aggregate path). Repeated
   * record fields whose rules are fully representable compile to the native
   * [[StructArrayRuleCount]] expression (codegen'd single pass) — including
   * the array-scoped row rules they absorb; everything else uses the generic
   * CountEmitter walk. Equivalence with `size(violations)` is property-tested.
   */
  lazy val violationCount: Column =
    nativeWalk(CountEmitter, StructArrayRuleCount.column).cast(LongType).as("violation_count")

  /** Generic (HOF) count form — benchmarking/fallback reference. */
  lazy val violationCountGeneric: Column =
    rootWalk(CountEmitter).cast(LongType).as("violation_count")

  /** Pass/fail from the count form — no detail-array construction. */
  lazy val valid: Column = (violationCount === 0).as("valid")

  /**
   * Defaults materialization — an output-stage projection, exactly like the
   * reference (`C.resolve_defaults` set only for output, `src/convert.ml:316-324`).
   *
   * RECURSIVE, mirroring `parse_optional_field` → `parse_default`
   * (`piqobj_of_json.ml:210-216`, `piqobj_common.ml:54-60`): defaults apply
   * at every depth — inside nested records and inside elements of repeated
   * fields — by rebuilding only the structs that actually contain defaults
   * (an untouched subtree keeps its original column expression and physical
   * type). A missing (null) nested record stays missing — defaults fill
   * fields of PRESENT records, they do not conjure the record itself.
   */
  def withDefaults(df: DataFrame): DataFrame = {
    val cols = rootRecord.fields.map { f =>
      val dt = df.schema.find(_.name == f.name).map(_.dataType)
      defaultizeField(col(f.name), f, dt, rootRepeatedToEmpty = true, rootSeen).as(f.name)
    }
    df.select(cols: _*)
  }

  /** Does this type contain any optional-with-default field at any depth? */
  private def typeHasDefaults(t: PiqiType, seen: Set[String] = Set.empty): Boolean = t match {
    case TypeRef(n) if !seen(n) => spec.defTable(n) match {
      case RecordDef(_, fs) => fs.exists(f => (f.mode match {
        case Optional(Some(_)) => true
        case _ => false
      }) || typeHasDefaults(f.tpe, seen + n))
      case ListDef(_, e, _) => typeHasDefaults(e, seen + n)
      case AliasDef(_, target, _) => typeHasDefaults(target, seen + n)
      case VariantDef(_, os) => os.exists(_.tpe.exists(typeHasDefaults(_, seen + n)))
      case _ => false
    }
    case _ => false
  }

  private def defaultizeField(c: Column, f: PField, dt: Option[DataType],
      rootRepeatedToEmpty: Boolean, seen: Map[String, Int]): Column = f.mode match {
    case Optional(Some(d)) => coalesce(defaultizeValue(c, f.tpe, dt, seen), lit(d))
    case Repeated =>
      val elemDt = dt.collect { case ArrayType(e, _) => e }
      val applied =
        if (typeHasDefaults(f.tpe)) transform(c, e => defaultizeValue(e, f.tpe, elemDt, seen))
        else c
      // absent repeated ≡ empty on output (`piqobj_of_json.ml:221-229`)
      dt match {
        case Some(t) if rootRepeatedToEmpty => coalesce(applied, array().cast(t))
        case _ => applied
      }
    case _ => defaultizeValue(c, f.tpe, dt, seen)
  }

  private def defaultizeValue(c: Column, t: PiqiType, dt: Option[DataType],
      seen: Map[String, Int]): Column = {
    val (base, _) = unalias(t)
    base match {
      case TypeRef(n) if typeHasDefaults(base) && !atCutoff(n, seen) => resolveDef(base) match {
        case Some(RecordDef(_, fields)) =>
          val st = dt.collect { case s: StructType => s }
          val rebuilt = struct(fields.map { f2 =>
            val fdt = st.flatMap(_.find(_.name == f2.name)).map(_.dataType)
            defaultizeField(c.getField(f2.name), f2, fdt, rootRepeatedToEmpty = true,
              bump(n, seen)).as(f2.name)
          }: _*)
          when(c.isNull, lit(null)).otherwise(rebuilt)
        case Some(ListDef(_, elem, _)) =>
          val elemDt = dt.collect { case ArrayType(e, _) => e }
          transform(c, e => defaultizeValue(e, elem, elemDt, bump(n, seen)))
        case _ => c
      }
      case _ => c
    }
  }

  /** Debug dump — the analog of `piqi expand` (`src/expand.ml:55-77`). */
  def describe: String = {
    val sb = new StringBuilder
    sb.append(s"module ${spec.module} (root=${spec.root}, strict=${spec.strict})\n")
    spec.defs.foreach {
      case RecordDef(n, fs) =>
        sb.append(s"  record $n\n")
        fs.foreach(f => sb.append(s"    field ${f.name}: ${f.tpe} [${f.mode}] ${f.constraints.mkString(" ")}\n"))
      case VariantDef(n, os) => sb.append(s"  variant $n: ${os.map(_.name).mkString(" | ")}\n")
      case EnumDef(n, os) => sb.append(s"  enum $n: ${os.mkString(" | ")}\n")
      case ListDef(n, e, _) => sb.append(s"  list $n of $e\n")
      case AliasDef(n, t, cs) => sb.append(s"  alias $n = $t ${cs.mkString(" ")}\n")
    }
    spec.rowRules.foreach(r => sb.append(s"  rule $r\n"))
    sb.toString
  }
}
