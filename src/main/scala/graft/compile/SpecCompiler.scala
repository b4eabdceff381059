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

  /** Beyond-depth presence: the schema types this subtree as raw-capture
    * string ([[graft.io.Convert.jsonSchema]] cutoff), so non-null means a
    * document deeper than the configured unroll — a violation, the
    * depth-bounded analog of the reference's unbounded recursion. */
  private def depthVio[R](e: Emitter[R], c: Column, path: String): R =
    e.emit(c.isNotNull, s"depth:$path", path,
      lit(s"recursion deeper than maxDepth=${spec.maxDepth}"))

  /**
   * Violations for a single value of shape `sh` at column `c` (all value
   * checks self-guard on non-null; required/optional is the caller's job).
   */
  private def valueVios[R](e: Emitter[R], sh: TypeShape, c: Column, path: String): Seq[R] = {
    val aliasVios = constraintVios(e, c, path, sh.constraints)
    val ownVios: Seq[R] = sh match {
      case TypeShape.Leaf(PUInt64, _) =>
        // full uint64 domain on DecimalType(20,0): 20 digits also hold
        // values past 2^64−1, so the upper bound is a real check
        Seq(e.emit(c.isNotNull &&
            (c < lit(java.math.BigDecimal.ZERO) || c > lit(SpecCompiler.UInt64Max)),
          s"range:$path", path, c))
      case TypeShape.Leaf(PInt(lo, hi), _) =>
        // range checks the reference documents but does not enforce
        // (doc/tools.md:490-493); we enforce (SURVEY.md B9)
        if (lo != Long.MinValue || hi != Long.MaxValue)
          Seq(e.emit(c.isNotNull && (c.cast(LongType) < lo || c.cast(LongType) > hi),
            s"range:$path", path, c))
        else Nil
      case _: TypeShape.Leaf => Nil
      case TypeShape.Enum(options, _) =>
        // unknown enum option → error (`piqobj_of_json.ml:270-284`)
        Seq(e.emit(c.isNotNull && !c.isin(options: _*), s"unknown-enum:$path", path, c))
      case _: TypeShape.Cut => Seq(depthVio(e, c, path))
      case r: TypeShape.Record => recordVios(e, r, c, path, guard = c.isNotNull)
      case v: TypeShape.Variant => variantVios(e, v, c, path)
      case l: TypeShape.ListOf =>
        Seq(listVios(e, spec.shape(l.elem, l.depth), l.elemConstraints, c, path))
    }
    aliasVios ++ ownVios
  }

  /** Record fields: required/optional/repeated semantics (SURVEY.md B1-B8). */
  private def recordVios[R](e: Emitter[R], r: TypeShape.Record, rec: Column, path: String,
      guard: Column): Seq[R] =
    r.fields.flatMap(f => fieldVios(e, f, rec.getField(f.name), s"$path.${f.name}", guard, r.depth))

  private def fieldVios[R](e: Emitter[R], f: PField, c: Column, p: String, guard: Column,
      depth: UnrollDepth): Seq[R] = {
    val modeVios: Seq[R] = f.mode match {
      case Required =>
        // exactly one instance must be present (`piqobj_of_json.ml:192-197`)
        Seq(e.emit(guard && c.isNull, s"missing-field:$p", p, lit("required field is missing")))
      case Optional(_) => Nil // JSON null ≡ missing (`piqobj_of_json.ml:214`)
      case Repeated => Nil    // absent repeated ≡ empty (`piqobj_of_json.ml:221-229`)
      case Flag => Nil        // desugared in Spec.resolved
    }
    val sh = spec.shape(f.tpe, depth)
    val bodyVios: Seq[R] = f.mode match {
      case Repeated => Seq(listVios(e, sh, f.constraints, c, p))
      case _ => valueVios(e, sh, c, p) ++ constraintVios(e, c, p, f.constraints)
    }
    modeVios ++ bodyVios
  }

  /** Exactly one non-null option per variant value (`piqobj_of_json.ml:248-253`). */
  private def variantVios[R](e: Emitter[R], v: TypeShape.Variant, c: Column, path: String): Seq[R] = {
    val options = v.options
    val nonNullCnt = options.map(o => c.getField(o.name).isNotNull.cast(IntegerType))
      .reduce(_ + _)
    val exactly = e.emit(c.isNotNull && nonNullCnt =!= 1, s"exactly-one:$path", path,
      concat_ws("|", options.map(o => when(c.getField(o.name).isNotNull, lit(o.name))): _*))
    val optionChecks = options.flatMap { o =>
      o.tpe.toSeq.flatMap(t =>
        valueVios(e, spec.shape(t, v.depth), c.getField(o.name), s"$path.${o.name}"))
    }
    exactly +: optionChecks
  }

  /** Element-wise list validation (higher-order transform — unavoidable for arrays). */
  private def listVios[R](e: Emitter[R], elem: TypeShape, elemCs: Seq[Constraint],
      arr: Column, path: String): R =
    e.fromArray(arr, path, (x, _) =>
      e.combine(valueVios(e, elem, x, path) ++ constraintVios(e, x, path, elemCs)))

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
    spec.rootRecord.fields.exists(f => f.name == fieldName && f.mode == Repeated)

  private def rootWalk[R](e: Emitter[R], resolve: String => Column = col): R = {
    val root = spec.rootRecord
    val fieldRs = root.fields.flatMap(f =>
      fieldVios(e, f, resolve(f.name), f.name, lit(true), root.depth))
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
  private def nativeArrayRules(f: PField): Option[(Seq[PField], Seq[DetailRule])] = {
    if (f.mode != Repeated || f.constraints.nonEmpty) return None
    spec.shape(f.tpe, spec.rootRecord.depth) match {
      case TypeShape.Record(fields, depth, Seq()) =>
        val rules = scala.collection.mutable.ArrayBuffer[DetailRule]()
        def elemRule(r: ArrayRule, kind: String, f2: String, detail: String = ""): Unit =
          rules += DetailRule(r, s"$kind:${f.name}.$f2", s"${f.name}[", s"].$f2", detail)
        fields.foreach { f2 =>
          val sh2 = spec.shape(f2.tpe, depth)
          if (sh2.constraints.nonEmpty || f2.constraints.nonEmpty) return None // regex/utf8/base64 etc → generic
          f2.mode match {
            case Required =>
              elemRule(RuleNotNull(f2.name), "missing-field", f2.name, "required field is missing")
            case Optional(None) => ()
            case _ => return None // defaults / nested repeated / flags → generic
          }
          sh2 match {
            case TypeShape.Leaf(PInt(lo, hi), _) =>
              if (lo != Long.MinValue || hi != Long.MaxValue)
                elemRule(RuleRange(f2.name, lo, hi), "range", f2.name)
            case TypeShape.Leaf(PUInt64, _) =>
              elemRule(RuleRangeDecimal(f2.name,
                java.math.BigDecimal.ZERO, SpecCompiler.UInt64Max), "range", f2.name)
            case _: TypeShape.Leaf => ()
            case TypeShape.Enum(opts, _) => elemRule(RuleInSet(f2.name, opts), "unknown-enum", f2.name)
            case _ => return None // nested records/variants/lists → generic
          }
        }
        Some((fields, rules.toSeq))
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
          spec.unalias(ef.tpe) match {
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
    val perField = spec.rootRecord.fields.flatMap { f =>
      nativeArrayRules(f).map { case (elemFields, base) =>
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
    val root = spec.rootRecord
    val fieldCols: Seq[Column] = root.fields.flatMap { f =>
      byField.get(f.name) match {
        case Some(rules) => Seq(native(col(f.name), rules))
        case None => fieldVios(e, f, col(f.name), f.name, lit(true), root.depth)
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
   * fields and variant options — by rebuilding only the structs that
   * actually contain defaults within the unrolled depth (an untouched
   * subtree keeps its original column expression and physical type). A
   * missing (null) nested record stays missing — defaults fill fields of
   * PRESENT records, they do not conjure the record itself.
   */
  def withDefaults(df: DataFrame): DataFrame = {
    val (root, st) = (spec.rootRecord, Some(df.schema))
    df.select(rebuilt(root, st, fieldDefaults(root, st), col): _*)
  }

  private def memberType(st: Option[StructType], name: String): Option[DataType] =
    st.flatMap(_.find(_.name == name)).map(_.dataType)

  /** Per field of `r` (struct type `st` where known), the rewrite that
    * fills its default and its value's defaults; None where none applies. */
  private def fieldDefaults(r: TypeShape.Record, st: Option[StructType]): Seq[Option[Column => Column]] =
    r.fields.map { f =>
      val (sh, dt) = (spec.shape(f.tpe, r.depth), memberType(st, f.name))
      f.mode match {
        case Optional(Some(d)) => Some(c => coalesce(defaults(sh, dt).fold(c)(_(c)), lit(d)))
        case Repeated =>
          defaults(sh, dt.collect { case ArrayType(e, _) => e }).map(g => c => transform(c, g))
        case _ => defaults(sh, dt)
      }
    }

  /** `r`'s fields read through `get` with `rewrites` applied; an absent
    * repeated field is empty on output (`piqobj_of_json.ml:221-229`). */
  private def rebuilt(r: TypeShape.Record, st: Option[StructType],
      rewrites: Seq[Option[Column => Column]], get: String => Column): Seq[Column] =
    r.fields.zip(rewrites).map { case (f, rw) =>
      val c = rw.fold(get(f.name))(_(get(f.name)))
      (memberType(st, f.name) match {
        case Some(t) if f.mode == Repeated => coalesce(c, array().cast(t))
        case _ => c
      }).as(f.name)
    }

  /** The rewrite that fills the defaults inside a value of shape `sh`
    * (column type `dt` where known); None where no default applies. */
  private def defaults(sh: TypeShape, dt: Option[DataType]): Option[Column => Column] = {
    val st = dt.collect { case s: StructType => s }
    sh match {
      case r: TypeShape.Record =>
        val rws = fieldDefaults(r, st)
        if (rws.forall(_.isEmpty)) None
        else Some(c => when(c.isNull, lit(null)).otherwise(struct(rebuilt(r, st, rws, c.getField): _*)))
      case TypeShape.Variant(options, depth, _) =>
        val rws = options.map(o =>
          o.tpe.flatMap(t => defaults(spec.shape(t, depth), memberType(st, o.name))))
        if (rws.forall(_.isEmpty)) None
        else Some(c => when(c.isNull, lit(null)).otherwise(struct(options.zip(rws).map {
          case (o, rw) => rw.fold(c.getField(o.name))(_(c.getField(o.name))).as(o.name)
        }: _*)))
      case l: TypeShape.ListOf =>
        defaults(spec.shape(l.elem, l.depth), dt.collect { case ArrayType(e, _) => e })
          .map(g => c => transform(c, g))
      case _ => None
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
