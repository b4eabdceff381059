package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.compile.SpecCompiler
import graft.spec._

/**
 * The key-shape checks as a tree of built-in Spark columns: the form
 * [[JsonShape]]'s single-walk expression replaced, kept as the reference
 * its differential test (`JsonShapeWalkSpec`) compares against.
 *
 * Mechanism (pure built-in columns, no UDFs): at each level the object's
 * raw JSON substring is inspected with `json_object_keys` (which KEEPS
 * duplicate keys) and split into per-key raw-value strings via
 * `from_json(.., map<string,string>)` — Spark captures non-string values as
 * their raw JSON text, so nested records/arrays recurse on the captured
 * substring. Every reference to an object's text re-parses it.
 */
object JsonShapeColumns {

  private val strMap = MapType(StringType, StringType)
  private val strArr = ArrayType(StringType)

  /** One object-level member: the legal JSON key (json-name honored — the
    * reference resolves fields BY json-name, `piqobj_of_json.ml:171`), the
    * declared name (violation paths stay in the declared name space), the
    * type, and whether it is repeated. */
  private final case class Member(key: String, name: String, tpe: PiqiType,
      repeated: Boolean)

  private def members(fields: Seq[PField]): Seq[Member] =
    fields.map(f => Member(f.jsonKey, f.name, f.tpe, f.mode == Repeated))

  /** All key-shape violations for a JSON document string against a spec.
    * Finite-but-recursive specs recurse to `spec.maxDepth` occurrences per
    * type (the schema's unroll depth); beyond-depth content is covered by
    * the compiled plan's `depth:` rule, not key-shape checks.
    *
    * Scalar conversion failures (a present key whose numeric/bool value
    * PERMISSIVE parsing silently nulls) are `parse:value`. A ROOT member is
    * flagged by the parsed-vs-raw check ([[rootScalarVio]]) in strict and
    * non-strict mode alike. Below the root, raw text that cannot parse is
    * flagged ([[scalarParseVio]]), and under STRICT mode so is a QUOTED
    * scalar (`"12"` where int is declared — invisible in the
    * quote-stripping raw capture) via the typed-parse probe
    * ([[quotedScalarVio]]), matching `piqobj_of_json.ml:40-43`;
    * non-strict plays the reference's relaxed mode and accepts it. */
  def checkKeys(jsonCol: Column, spec0: Spec): Column = {
    val spec = spec0.resolved
    val root = spec.rootRecord
    objectVios(jsonCol, members(root.fields), "$", spec, root.depth, root = true)
  }

  /** Violations for one object level: key checks + recursion into values;
    * `root`: the document's root object. */
  private def objectVios(objStr: Column, ms: Seq[Member], path: String,
      spec: Spec, depth: UnrollDepth, root: Boolean = false): Column = {
    val keys = json_object_keys(objStr)
    val keysOrEmpty = coalesce(keys, array().cast(strArr))
    val knownKeys = ms.map(_.key)

    val unknown = filter(keysOrEmpty, k => !k.isin(knownKeys: _*))
    val unknownVio =
      if (spec.strict)
        SpecCompiler.vio(size(unknown) > 0, "unknown-field", path, concat_ws(",", unknown))
      else SpecCompiler.emptyVio

    val dupKeys = filter(array_distinct(keysOrEmpty),
      k => size(filter(keysOrEmpty, x => x === k)) > 1)
    val dupVio = SpecCompiler.vio(size(dupKeys) > 0, "duplicate-field", path,
      concat_ws(",", dupKeys))

    val m = from_json(objStr, strMap)
    val subVios: Seq[Column] = ms.sortBy(_.key).map { mem =>
      val raw = element_at(m, mem.key)
      val at = s"$path.${mem.name}"
      val scalar = if (mem.repeated) None else scalarBase(mem.tpe, spec)
      scalar match {
        case Some(b) if root => rootScalarVio(objStr, raw, mem.key, b, at)
        // strict quoted-scalar probe (needs the OBJECT text — quoting is
        // gone from the stripped raw capture)
        case Some(b) if spec.strict =>
          concat(valueVios(raw, mem.tpe, repeated = false, at, spec, depth),
            quotedScalarVio(objStr, raw, mem.key, b, at))
        case _ => valueVios(raw, mem.tpe, repeated = mem.repeated, at, spec, depth)
      }
    }
    SpecCompiler.concatVios(unknownVio +: dupVio +: subVios)
  }

  /** Violations for one raw value string of declared type `tpe`. */
  private def valueVios(valStr: Column, tpe: PiqiType, repeated: Boolean,
      path: String, spec: Spec, depth: UnrollDepth): Column = {
    val present = valStr.isNotNull // JSON null ≡ missing (B5); the string "null" is a value
    if (repeated) arrayVios(valStr, present, tpe, path, spec, depth)
    else spec.shape(tpe, depth) match {
      case _: TypeShape.Cut => SpecCompiler.emptyVio // beyond-depth: the plan's depth: rule reports
      case r: TypeShape.Record => recordValueVios(valStr, present, r.fields, path, spec, r.depth)
      case v: TypeShape.Variant =>
        // variant object: option JSON keys are the only legal keys; recurse
        // into record-typed option payloads
        val ms = v.options.map(o =>
          Member(o.jsonKey, o.name, o.tpe.getOrElse(PBool), repeated = false))
        val shape = SpecCompiler.vio(present && json_object_keys(valStr).isNull,
          "parse:object-expected", path, valStr)
        concat(shape, when(present && json_object_keys(valStr).isNotNull,
          objectVios(valStr, ms, path, spec, v.depth))
          .otherwise(SpecCompiler.emptyVio))
      case l: TypeShape.ListOf => arrayVios(valStr, present, l.elem, path, spec, l.depth)
      case TypeShape.Leaf(base, _) =>
        // numeric/bool scalars: present-but-unparseable raw text is a
        // conversion failure the PERMISSIVE parser would null silently —
        // semantic checks on the parsed value stay the compiler's job
        scalarParseVio(valStr, present, base, path)
      case _: TypeShape.Enum => SpecCompiler.emptyVio // no key shape
    }
  }

  /** Max magnitude representable in the PUInt64 column type Decimal(20,0). */
  private val Dec20Max = new java.math.BigDecimal("99999999999999999999")

  /** Raw text cannot become a non-null value of the declared scalar's
    * column type (Long for ints, Decimal(20,0) for uint64, Double for
    * floats, Boolean); None for types that always capture. `try_cast`
    * (not `cast`) throughout: garbage must yield a VIOLATION row, never an
    * ANSI cast exception. */
  private def rawBad(raw: Column, base: PiqiType): Option[Column] = {
    val t = trim(raw)
    val intRe = "^-?[0-9]+$"
    def dec = t.try_cast(DecimalType(38, 0))
    base match {
      case PBool => Some(!t.isin("true", "false"))
      case PInt(_, _) => Some(!t.rlike(intRe) || dec.isNull ||
        dec < lit(java.math.BigDecimal.valueOf(Long.MinValue)) ||
        dec > lit(java.math.BigDecimal.valueOf(Long.MaxValue)))
      case PUInt64 => Some(!t.rlike(intRe) || dec.isNull ||
        dec > lit(Dec20Max) || dec < lit(Dec20Max.negate))
      case PFloat | PFloat32 => Some(t.try_cast(DoubleType).isNull)
      case _ => None // strings/binary/any always capture
    }
  }

  /** Raw-space parse probe for one scalar value — fires on [[rawBad]]. */
  private def scalarParseVio(raw: Column, present: Column, base: PiqiType,
      path: String): Column =
    rawBad(raw, base)
      .map(b => SpecCompiler.vio(present && b, "parse:value", path, raw))
      .getOrElse(SpecCompiler.emptyVio)

  /** Column type the typed-parse quoted-scalar probe uses. */
  private def scalarSparkType(base: PiqiType): DataType = base match {
    case PUInt64 => DecimalType(20, 0)
    case _: PInt => LongType
    case PBool => BooleanType
    case _ => DoubleType
  }

  /**
   * STRICT-mode quoted-scalar probe (`piqobj_of_json.ml:40-43`: a JSON
   * STRING where an int/float/bool is declared errors unless relaxed mode;
   * our non-strict plays relaxed). The raw map capture strips quotes, so
   * `"12"` and `12` are indistinguishable there — but Spark's TYPED
   * `from_json` refuses the string form (field parses to null), so:
   * present ∧ typed-null ∧ raw-parses-fine ⇔ the value was quoted (or
   * otherwise notationally mistyped). The raw-parses-fine conjunct keeps
   * this disjoint from [[scalarParseVio]] — one violation per bad value,
   * never two.
   */
  private def quotedScalarVio(objStr: Column, raw: Column, key: String, base: PiqiType,
      path: String): Column = {
    val rawOk = rawBad(raw, base).map(b => !b).getOrElse(lit(true))
    SpecCompiler.vio(raw.isNotNull && typedField(objStr, key, base).isNull && rawOk,
      "parse:value", path, raw)
  }

  /** The typed parse's value of one scalar member of an object's text. */
  private def typedField(objStr: Column, key: String, base: PiqiType): Column =
    from_json(objStr, StructType(Seq(StructField(key, scalarSparkType(base))))).getField(key)

  /**
   * Root scalar conversion check, in strict and non-strict mode alike: a
   * key whose raw capture is not JSON null (`raw.isNotNull`: the STRING
   * `"null"` is present) is flagged when the typed parse leaves it null or
   * its raw text cannot parse ([[rawBad]]: a uint64 written `1.5`, which the
   * typed parse rounds, or a float literal past Double, which it reads as
   * ±Infinity).
   */
  private def rootScalarVio(objStr: Column, raw: Column, key: String, base: PiqiType,
      path: String): Column =
    SpecCompiler.vio(raw.isNotNull &&
      (typedField(objStr, key, base).isNull || rawBad(raw, base).getOrElse(lit(false))),
      "parse:value", path, raw)

  private def recordValueVios(valStr: Column, present: Column, fields: Seq[PField],
      path: String, spec: Spec, depth: UnrollDepth): Column = {
    val shape = SpecCompiler.vio(present && json_object_keys(valStr).isNull,
      "parse:object-expected", path, valStr)
    val inner = when(present && json_object_keys(valStr).isNotNull,
      objectVios(valStr, members(fields), path, spec, depth))
      .otherwise(SpecCompiler.emptyVio)
    concat(shape, inner)
  }

  /** Array value: shape check + per-element recursion with index-stamped paths. */
  private def arrayVios(valStr: Column, present: Column, elemType: PiqiType,
      path: String, spec: Spec, depth: UnrollDepth): Column = {
    val elems = from_json(valStr, strArr)
    val shape = SpecCompiler.vio(present && elems.isNull,
      "parse:array-expected", path, valStr)
    // strict quoted-scalar probe for ARRAY elements: the typed array parse
    // refuses a quoted element (whole array nulls) while every raw element
    // text parses fine — flags the field once (element indices are not
    // recoverable from the all-or-nothing typed parse). Disjoint from the
    // per-element raw-space probes by the all-raw-ok conjunct.
    val quotedArr = scalarBase(elemType, spec) match {
      case Some(b) if spec.strict =>
        val typedArr = from_json(valStr, ArrayType(scalarSparkType(b)))
        val elemBad = (e: Column) =>
          rawBad(e, b).map(bc => e.isNotNull && bc).getOrElse(lit(false))
        val allRawOk =
          size(filter(coalesce(elems, array().cast(strArr)), elemBad)) === 0
        SpecCompiler.vio(present && elems.isNotNull && typedArr.isNull && allRawOk,
          "parse:value", path, valStr)
      case _ => SpecCompiler.emptyVio
    }
    // recurse when elements can have key shape (and the element type is not
    // at its recursion cutoff), or carry a scalar parse probe
    val needsRecursion = spec.shape(elemType, depth) match {
      case _: TypeShape.Record | _: TypeShape.Variant | _: TypeShape.ListOf => true
      case _ => scalarBase(elemType, spec).isDefined
    }
    if (!needsRecursion) concat(shape, quotedArr)
    else {
      val stamped = transform(coalesce(elems, array().cast(strArr)), (e, i) =>
        transform(valueVios(e, elemType, repeated = false, path, spec, depth), v =>
          struct(v.getField("rule").as("rule"),
            concat(lit(path), lit("["), i.cast(StringType), lit("]"),
              substring(v.getField("path"), path.length + 1, 1000000)).as("path"),
            v.getField("detail").as("detail"))))
      concat(shape, quotedArr, flatten(stamped))
    }
  }

  /** The numeric/bool base type under `t`'s alias chain, if any. */
  private def scalarBase(t: PiqiType, spec: Spec): Option[PiqiType] = spec.unalias(t)._1 match {
    case b @ (PBool | PInt(_, _) | PUInt64 | PFloat | PFloat32) => Some(b)
    case _ => None
  }
}
