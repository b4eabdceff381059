package graft.spec

/**
 * Piqi-style schema + constraint specification ADT.
 *
 * Re-expresses the reference's type system (alavrik/piqi,
 * `piqi/piqi.piqi:91-105`, `doc/piqi.md:425-763`) as a Scala ADT that a
 * future pass compiles into Catalyst `Column` expression trees. The
 * reference's unit of data is a typed document object validated against a
 * schema (`piqilib/piqobj.ml:18-48`); ours is a Spark row validated against
 * a compiled constraint plan. We reproduce the *semantics* (required /
 * optional / repeated field modes, enum membership, variant exactly-one,
 * alias constraint chains), not the `.piqi` surface syntax (non-goal, see
 * SURVEY.md §1.2).
 */
sealed trait PiqiType

/** Primitive types (`doc/piqi.md:335-398`; builtin aliases `piqi/piqi.piqi:24-70`). */
sealed trait Primitive extends PiqiType
case object PBool extends Primitive
/**
 * All piqi int flavors map to int64 internally with range constraints
 * (`piqilib/piqobj.ml:40-41`). The reference documents missing runtime
 * overflow checks as a known gap (`doc/tools.md:490-493`); we enforce the
 * documented ranges (`doc/piqi.md:345-386`).
 */
final case class PInt(min: Long = Long.MinValue, max: Long = Long.MaxValue) extends Primitive
object PInt {
  val int32: PInt = PInt(Int.MinValue.toLong, Int.MaxValue.toLong)
  val uint32: PInt = PInt(0L, 4294967295L)
  val int64: PInt = PInt()
  /** uint capped at Long.MaxValue (LongType repr) — the cheap flavor when
    * values are known < 2^63; [[PUInt64]] covers the full domain. */
  val uint: PInt = PInt(0L, Long.MaxValue)
  /** Full-domain uint64 (see [[PUInt64]]). */
  val uint64: PiqiType = PUInt64
}
/**
 * Full-range uint64 (0 .. 2^64−1, `doc/piqi.md:345-347`): represented as
 * `DecimalType(20,0)` because LongType cannot hold 2^63..2^64−1. Costs more
 * than LongType per value — prefer [[PInt.uint]] when the domain permits.
 */
case object PUInt64 extends Primitive
case object PFloat extends Primitive  // IEEE754 double, doc/piqi.md:388-389
case object PFloat32 extends Primitive // IEEE754 single (`float32`, doc/piqi.md:388-389)
case object PString extends Primitive // UTF-8 validated, piqilib/piqi_utf8.ml:33-67
/** Byte array; JSON representation base64 (`piqobj_of_json.ml:66-72`). */
case object PBinary extends Primitive
/** Dynamically-typed payload (`doc/piqi.md:404-415`): stored raw, parsed lazily. */
case object PAny extends Primitive

/** Named reference to a typedef in the module (like piqi name→type resolution). */
final case class TypeRef(name: String) extends PiqiType

/** Field modes, `piqi/piqi.piqi:178-184`. */
sealed trait FieldMode
case object Required extends FieldMode
/** Optional with piqi-style default literal (resolved at compile, `piqi.ml:568-615`). */
final case class Optional(default: Option[Any] = None) extends FieldMode
case object Repeated extends FieldMode
/**
 * Flag sugar: nameless bool, present→true absent→false. The reference
 * rewrites flags to `.type bool .default false` (`piqi.ml:663-682`); we do
 * the same desugaring in [[Spec.resolved]].
 */
case object Flag extends FieldMode

/**
 * Extra value constraints attachable to a field or alias — the analog of
 * piqi's alias property bag (piq-format, wire-type overrides,
 * `doc/piqi.md:706-763`) generalized to the validation rules the north rule
 * requires.
 */
sealed trait Constraint
/** Lexical constraint, the analog of `.piq-format word|text` checks (`piqobj_of_piq.ml:136-171`). */
final case class MatchesRegex(regex: String) extends Constraint
/** Base64-decodable content for binary-in-string ingest (`piqobj_of_json.ml:66-72`). */
case object Base64 extends Constraint
/** Valid UTF-8 for string-from-binary ingest (`piqilib/piqi_utf8.ml:33-120`). */
case object ValidUtf8 extends Constraint
/** Numeric/size range; for repeated fields applies to cardinality. */
final case class InRange(min: Double, max: Double) extends Constraint
/** Membership in a fixed set (enum-like constraint on an open string field). */
final case class OneOf(values: Seq[String]) extends Constraint

/** A record field (`piqi/piqi.piqi:132-175`). */
final case class PField(
    name: String,
    tpe: PiqiType,
    mode: FieldMode = Required,
    constraints: Seq[Constraint] = Nil,
    jsonName: Option[String] = None,
    deprecated: Boolean = false) {
  /** Effective JSON key: fields are resolved BY json-name on input and
    * emitted under it (`piqobj_of_json.ml:171`, `piqobj_to_json.ml:115`). */
  def jsonKey: String = jsonName.getOrElse(name)
}

/** A variant option (`piqi/piqi.piqi:187-217`). Options may carry no type
  * (enum-like). `jsonName` overrides the JSON key, like fields
  * (`piqobj_of_json.ml:241,277` resolve options by json-name). */
final case class POption(name: String, tpe: Option[PiqiType] = None,
    jsonName: Option[String] = None) {
  def jsonKey: String = jsonName.getOrElse(name)
}

/** Typedefs (`piqi/piqi.piqi:91-105`). */
sealed trait TypeDef { def name: String }
final case class RecordDef(name: String, fields: Seq[PField]) extends TypeDef
/** Tagged union: exactly one option set (`piqobj_of_json.ml:248-253`). */
final case class VariantDef(name: String, options: Seq[POption]) extends TypeDef
final case class EnumDef(name: String, options: Seq[String]) extends TypeDef
final case class ListDef(name: String, elem: PiqiType,
    elemConstraints: Seq[Constraint] = Nil) extends TypeDef
/** Alias = name + constraint bag over another type (`piqi/piqi.piqi:235-252`). */
final case class AliasDef(name: String, target: PiqiType,
    constraints: Seq[Constraint] = Nil) extends TypeDef

/**
 * Cross-field / cross-row rules the north rule adds beyond per-value checks.
 * Paths are dot-separated; a path segment into a repeated field addresses
 * each element (e.g. "spans.offset").
 */
sealed trait RowRule
/** Exactly one of `paths` non-null per row/element — variant semantics over sparse columns. */
final case class ExactlyOneOf(ruleName: String, paths: Seq[String]) extends RowRule
/** A struct-array's `field` must be strictly increasing in element order. */
final case class StrictlyIncreasing(ruleName: String, arrayPath: String, field: String) extends RowRule
/** At most one of `paths` non-null (optional-exclusive). */
final case class AtMostOneOf(ruleName: String, paths: Seq[String]) extends RowRule

/**
 * A module: the analog of a resolved `.piqi` module after
 * `process_piqi` (`piqilib/piqi.ml:1598-1819`). `imports` model piqi's
 * namespaced module reuse (`doc/piqi.md:258-291`) as plain Scala
 * composition: imported defs are merged under "modname/typename" keys.
 */
final case class Spec(
    module: String,
    defs: Seq[TypeDef],
    root: String,
    rowRules: Seq[RowRule] = Nil,
    imports: Seq[Spec] = Nil,
    strict: Boolean = false,
    maxDepth: Int = 4) {
  require(maxDepth >= 1, "maxDepth must be >= 1")

  /** All defs visible to this module: own + imported (qualified). */
  lazy val defTable: Map[String, TypeDef] = {
    val imported = imports.flatMap { m =>
      m.defTable.map { case (k, d) => s"${m.module}/$k" -> d }
    }
    (imported ++ defs.map(d => d.name -> d)).toMap
  }

  /** Follow an alias chain to its base type — a primitive or a reference
    * to a non-alias def — like `Piqobj.unalias` (`piqobj.ml:157-160`),
    * accumulating the chain's constraints outermost first. */
  def unalias(t: PiqiType): (PiqiType, Seq[Constraint]) = t match {
    case TypeRef(n) => defTable.get(n) match {
      case Some(AliasDef(_, target, cs)) =>
        val (base, inner) = unalias(target)
        (base, cs ++ inner)
      case _ => (t, Nil)
    }
    case _ => (t, Nil)
  }

  private def atDepthCutoff(n: String, depth: UnrollDepth): Boolean =
    depth.seen.getOrElse(n, 0) >= maxDepth
  private def bumpDepth(n: String, depth: UnrollDepth): UnrollDepth =
    new UnrollDepth(depth.seen.updated(n, depth.seen.getOrElse(n, 0) + 1))

  /**
   * One step of the type expansion every spec traversal walks (rule walk,
   * read schemas, rename and defaults rebuilds, JSON key-shape tree, XML
   * legal paths): `t` with its alias chain followed, at `depth` on the
   * path from the root. A finite-but-recursive def (SpecChecks A5) unrolls
   * to [[maxDepth]] occurrences per def on a path; a record, variant or
   * list past that is a [[TypeShape.Cut]], which the schema types as a
   * raw-capture string and the plan's `depth:` rule checks. The cutoff
   * rule lives only here, so every traversal cuts where the schema does
   * by construction: none can address a raw-capture string as a struct.
   */
  def shape(t: PiqiType, depth: UnrollDepth): TypeShape = {
    val (base, cs) = unalias(t)
    base match {
      case p: Primitive => TypeShape.Leaf(p, cs)
      case TypeRef(n) => defTable(n) match {
        case EnumDef(_, options) => TypeShape.Enum(options, cs)
        case _ if atDepthCutoff(n, depth) => TypeShape.Cut(cs)
        case RecordDef(_, fields) => TypeShape.Record(fields, bumpDepth(n, depth), cs)
        case VariantDef(_, options) => TypeShape.Variant(options, bumpDepth(n, depth), cs)
        case ListDef(_, elem, elemCs) => TypeShape.ListOf(elem, elemCs, bumpDepth(n, depth), cs)
        case a: AliasDef => throw new IllegalStateException(s"alias ${a.name} not followed")
      }
    }
  }

  /** The root record's expansion; the root counts as its own first
    * occurrence. */
  lazy val rootRecord: TypeShape.Record = defTable(root) match {
    case RecordDef(_, fields) =>
      TypeShape.Record(fields, bumpDepth(root, new UnrollDepth(Map.empty)), Nil)
    case other => throw new SpecException(s"root must be a record, got '$root' = $other")
  }

  /**
   * Extension application (piqi `extend`, `doc/piqi.md:766-869`): splice a
   * field into an existing record def — the Scala-composition analog of
   * `apply_extensions` (`piqilib/piqi.ml:1009-1247`). Re-runs all structural
   * checks (dup fields, cycles) on the extended module.
   */
  def extendRecord(recordName: String, field: PField): Spec = {
    require(defs.exists { case RecordDef(n, _) => n == recordName; case _ => false },
      s"extend target record '$recordName' not found")
    copy(defs = defs.map {
      case RecordDef(n, fs) if n == recordName => RecordDef(n, fs :+ field)
      case d => d
    })
  }

  /**
   * Include (piqi `include`, `doc/piqi.md:295-307`): splice another
   * module's top-level entries — type defs, row rules, imports — into THIS
   * module's unqualified namespace, "as if they were defined locally"
   * (`expand_includes`, `piqilib/piqi.ml:1468-1479`). Unlike [[imports]]
   * (namespaced under "mod/name"), included names arrive raw; a collision
   * with a local def fails the normal duplicate-type-name check, matching
   * the reference's post-expansion checks. Transitive includes are
   * expanded by construction (the included Spec value has already spliced
   * its own); include CYCLES — the reference's `is_being_processed` guard
   * (`piqi.ml:1582-1593`) — cannot be expressed at all here, since a Spec
   * value must exist before it can be included. The includer keeps its own
   * module name, root, strictness, and maxDepth.
   *
   * This post-hoc form requires the receiver to already be a VALID module
   * on its own (the constructor checks run before the splice). A module
   * whose local defs reference included types — the common library-reuse
   * shape — must expand includes at load time instead: [[Spec.including]],
   * the `expand_includes`-during-`process_piqi` analog.
   */
  def includeModule(other: Spec): Spec =
    copy(defs = defs ++ other.defs,
      rowRules = rowRules ++ other.rowRules,
      imports = imports ++ other.imports)

  /** Extension for enums: add options (piqi `extend` on enum, `doc/piqi.md:836-846`). */
  def extendEnum(enumName: String, options: String*): Spec = {
    require(defs.exists { case EnumDef(n, _) => n == enumName; case _ => false },
      s"extend target enum '$enumName' not found")
    copy(defs = defs.map {
      case EnumDef(n, os) if n == enumName => EnumDef(n, os ++ options)
      case d => d
    })
  }

  /** Desugared copy: flags become optional bool default false
    * (`piqi.ml:663-682`); default literals normalize to the canonical JSON
    * scalar domain (Int → Long, Float → Double; uint64-typed defaults of any
    * accepted flavor → java.math.BigDecimal, so `lit(default)` lands as a
    * DecimalType literal coalescible with the DecimalType(20,0) column) so
    * compiled plans and the SpecJson blob see one representation. */
  lazy val resolved: Spec = {
    // SpecChecks (A5) reject alias loops, so the chain ends
    def norm(t: PiqiType, v: Any): Any = unalias(t)._1 match {
      case PUInt64 => v match {
        case i: Int => java.math.BigDecimal.valueOf(i.toLong)
        case l: Long => java.math.BigDecimal.valueOf(l)
        case s: String => new java.math.BigDecimal(new java.math.BigInteger(s))
        case bi: java.math.BigInteger => new java.math.BigDecimal(bi)
        case bd: java.math.BigDecimal => bd
        case other => other
      }
      case _ => v match {
        case i: Int => i.toLong
        case f: Float => f.toDouble
        case other => other
      }
    }
    val newDefs = defs.map {
      case RecordDef(n, fs) =>
        RecordDef(n, fs.map {
          case f @ PField(_, _, Flag, _, _, _) =>
            f.copy(tpe = PBool, mode = Optional(Some(false)))
          case f @ PField(_, _, Optional(Some(d)), _, _, _) =>
            f.copy(mode = Optional(Some(norm(f.tpe, d))))
          case f => f
        })
      case d => d
    }
    copy(defs = newDefs)
  }

  SpecChecks.checkAll(this)
}

object Spec {
  /** 2^64 − 1 (PUInt64 upper bound, `doc/piqi.md:345-347`). */
  val UInt64MaxInt: java.math.BigInteger = new java.math.BigInteger("18446744073709551615")

  /**
   * Load a module WITH includes expanded before validity checks run — the
   * analog of `expand_includes` inside `process_piqi`
   * (`piqilib/piqi.ml:1468-1479,1622-1633`): included modules' defs, row
   * rules, and imports splice into the new module's unqualified namespace
   * first, so local defs may freely reference included types. Collisions
   * fail the normal duplicate-name check on construction.
   */
  def including(module: String, defs: Seq[TypeDef], root: String,
      includes: Seq[Spec], rowRules: Seq[RowRule] = Nil,
      imports: Seq[Spec] = Nil, strict: Boolean = false, maxDepth: Int = 4): Spec =
    Spec(module,
      defs ++ includes.flatMap(_.defs),
      root,
      rowRules ++ includes.flatMap(_.rowRules),
      imports ++ includes.flatMap(_.imports),
      strict, maxDepth)
}

/** Occurrences of each type def on the path from the root to a point of
  * [[Spec.shape]]'s expansion: the recursion unroll state. */
final class UnrollDepth private[spec] (private[spec] val seen: Map[String, Int]) extends Serializable

/** One step of [[Spec.shape]]'s expansion. `constraints` are those its
  * alias chain accumulated, outermost first. A container carries the
  * depth its members expand at. */
sealed trait TypeShape { def constraints: Seq[Constraint] }
object TypeShape {
  final case class Leaf(base: Primitive, constraints: Seq[Constraint]) extends TypeShape
  final case class Enum(options: Seq[String], constraints: Seq[Constraint]) extends TypeShape
  final case class Record(fields: Seq[PField], depth: UnrollDepth,
      constraints: Seq[Constraint]) extends TypeShape
  final case class Variant(options: Seq[POption], depth: UnrollDepth,
      constraints: Seq[Constraint]) extends TypeShape
  final case class ListOf(elem: PiqiType, elemConstraints: Seq[Constraint], depth: UnrollDepth,
      constraints: Seq[Constraint]) extends TypeShape
  /** A record, variant or list past [[Spec.maxDepth]] occurrences. */
  final case class Cut(constraints: Seq[Constraint]) extends TypeShape
}

/** Raised on structurally invalid specs — compile-time analog of piqi schema errors. */
final class SpecException(msg: String) extends IllegalArgumentException(msg)

/**
 * Structural schema validity checks, ported semantics of
 * `piqilib/piqi.ml:207-498` (see SURVEY.md §2.A A3-A5).
 */
object SpecChecks {
  private def fail(msg: String): Nothing = throw new SpecException(msg)

  def checkAll(s: Spec): Unit = {
    checkDupTypeNames(s)
    s.defs.foreach(d => checkDef(s, d))
    checkRootExists(s)
    checkTypeRefsResolve(s)
    checkNoInfiniteTypes(s)
  }

  /** Duplicate-name detection (`piqi.ml:207-213`, used at `341-356`). */
  private def checkDupTypeNames(s: Spec): Unit = {
    val dups = s.defs.groupBy(_.name).filter(_._2.size > 1).keys
    if (dups.nonEmpty) fail(s"duplicate type definitions: ${dups.mkString(", ")}")
  }

  /** check_field / check_record / check_variant / check_enum (`piqi.ml:216-314`). */
  private def checkDef(s: Spec, d: TypeDef): Unit = d match {
    case RecordDef(n, fields) =>
      if (fields.isEmpty) fail(s"record $n: must have at least one field")
      val dups = fields.groupBy(_.name).filter(_._2.size > 1).keys
      if (dups.nonEmpty) fail(s"record $n: duplicate field names: ${dups.mkString(", ")}")
      // effective JSON keys must be unique too (json-name may collide with
      // another field's name or json-name — the reference resolves fields BY
      // json-name, `piqobj_of_json.ml:171`, so a collision is ambiguous)
      val keyDups = fields.groupBy(f => f.jsonName.getOrElse(f.name))
        .filter(_._2.size > 1).keys
      if (keyDups.nonEmpty) fail(s"record $n: duplicate JSON keys: ${keyDups.mkString(", ")}")
      fields.foreach { f =>
        if (f.name.isEmpty) fail(s"record $n: field must have a name")
        // default literal must parse against the field's type at schema
        // load, like the reference (`piqi.ml:568-615`) — not blow up (or
        // silently coerce) inside coalesce(col, lit(d)) at run time
        f.mode match {
          case Optional(Some(dft)) => checkDefaultLiteral(s, n, f.name, f.tpe, dft)
          case _ => ()
        }
      }
    case VariantDef(n, options) =>
      if (options.isEmpty) fail(s"variant $n: must have at least one option") // piqi.ml:266-272
      val dups = options.groupBy(_.name).filter(_._2.size > 1).keys
      if (dups.nonEmpty) fail(s"variant $n: duplicate option names: ${dups.mkString(", ")}")
      val keyDups = options.groupBy(o => o.jsonName.getOrElse(o.name))
        .filter(_._2.size > 1).keys
      if (keyDups.nonEmpty) fail(s"variant $n: duplicate JSON keys: ${keyDups.mkString(", ")}")
    case EnumDef(n, options) =>
      if (options.isEmpty) fail(s"enum $n: must have at least one option") // piqi.ml:289-295
      val dups = options.groupBy(identity).filter(_._2.size > 1).keys
      if (dups.nonEmpty) fail(s"enum $n: duplicate options: ${dups.mkString(", ")}")
    case _: ListDef | _: AliasDef => ()
  }

  /** Type-check a default literal against the field's RESOLVED base type —
    * the `parse_default`-at-schema-load analog (`piqi.ml:568-615`). Unknown
    * TypeRef targets are skipped here (checkNoInfiniteTypes reports them). */
  private def checkDefaultLiteral(s: Spec, rec: String, fld: String,
      tpe: PiqiType, dft: Any, seen: Set[String] = Set.empty): Unit = {
    def bad(expected: String): Nothing =
      fail(s"record $rec: field $fld: default literal " +
        s"${dft.getClass.getSimpleName}(${dft}) does not match $expected")
    tpe match {
      case PBool => if (!dft.isInstanceOf[Boolean]) bad("bool")
      case PInt(lo, hi) => dft match {
        case i: Int => if (i < lo || i > hi) bad(s"int range [$lo,$hi]")
        case l: Long => if (l < lo || l > hi) bad(s"int range [$lo,$hi]")
        case _ => bad("int")
      }
      case PFloat | PFloat32 => dft match {
        case _: Double | _: Float | _: Int | _: Long => ()
        case _ => bad("float")
      }
      case PUInt64 => dft match {
        // full uint64 domain: Int/Long for the Long-expressible part, and
        // decimal string / BigInteger / BigDecimal for 2^63..2^64−1 (the
        // canonical SpecJson form serializes these as decimal strings);
        // Spec.resolved normalizes all flavors to java.math.BigDecimal
        case i: Int => if (i < 0) bad("uint64 (non-negative)")
        case l: Long => if (l < 0) bad("uint64 (non-negative)")
        case s: String =>
          val bi = try new java.math.BigInteger(s) catch {
            case _: NumberFormatException => bad("uint64 (decimal integer string)")
          }
          if (bi.signum < 0 || bi.compareTo(Spec.UInt64MaxInt) > 0)
            bad("uint64 range [0, 2^64-1]")
        case bi: java.math.BigInteger =>
          if (bi.signum < 0 || bi.compareTo(Spec.UInt64MaxInt) > 0)
            bad("uint64 range [0, 2^64-1]")
        case bd: java.math.BigDecimal =>
          if (bd.scale > 0 || bd.signum < 0 ||
              bd.toBigInteger.compareTo(Spec.UInt64MaxInt) > 0)
            bad("uint64 range [0, 2^64-1]")
        case _ => bad("uint64")
      }
      case PString => if (!dft.isInstanceOf[String]) bad("string")
      case PBinary => dft match {
        case _: Array[Byte] | _: String => () // String = base64 form
        case _ => bad("binary (bytes or base64 string)")
      }
      case PAny => if (!dft.isInstanceOf[String]) bad("any (raw JSON string)")
      case TypeRef(n) if !seen(n) => s.defTable.get(n) match {
        case Some(AliasDef(_, target, _)) =>
          checkDefaultLiteral(s, rec, fld, target, dft, seen + n)
        case Some(EnumDef(_, opts)) => dft match {
          case v: String =>
            if (!opts.contains(v)) bad(s"enum $n member (${opts.mkString("|")})")
          case _ => bad(s"enum $n member")
        }
        case Some(other) =>
          fail(s"record $rec: field $fld: default literals are not supported " +
            s"on ${other.getClass.getSimpleName.stripSuffix("Def").toLowerCase} types")
        case None => () // unknown type: reported by checkNoInfiniteTypes
      }
      case _ => ()
    }
  }

  private def checkRootExists(s: Spec): Unit =
    if (!s.defTable.contains(s.root)) fail(s"root type '${s.root}' is not defined")

  /** Every type name referenced by a def (all edges, regardless of mode). */
  private def allRefs(d: TypeDef): Seq[String] = {
    def refsOf(t: PiqiType): Seq[String] = t match {
      case TypeRef(n) => Seq(n)
      case _ => Nil
    }
    d match {
      case RecordDef(_, fs) => fs.flatMap(f => refsOf(f.tpe))
      case VariantDef(_, os) => os.flatMap(o => o.tpe.toSeq.flatMap(refsOf))
      case ListDef(_, e, _) => refsOf(e)
      case AliasDef(_, t, _) => refsOf(t)
      case _: EnumDef => Nil
    }
  }

  /** Every TypeRef target must resolve (`piqi_db.ml:149-153`). */
  private def checkTypeRefsResolve(s: Spec): Unit =
    s.defs.foreach { d =>
      allRefs(d).foreach { dep =>
        if (!s.defTable.contains(dep))
          fail(s"unknown type '$dep' referenced from '${d.name}'")
      }
    }

  /**
   * Infinite-type detection — the reference's PRODUCTIVITY check, ported
   * bit-for-bit from `check_no_infinite_types` (`piqi.ml:360-498`): a type
   * is finite iff a finite expansion path exists —
   *  - record: every REQUIRED field's type is finite (loops through
   *    optional/repeated fields are legal, `piqi.ml:434-440`);
   *  - variant: at least one option has no type or a finite type;
   *  - list: the element type is finite (an empty list would terminate, but
   *    the reference still rejects `list l of l` — we match);
   *  - alias: the target is finite; pure alias loops report as such.
   * DFS with a grey (on-path) set; a grey hit means the current path loops.
   * On failure the node resets to WHITE so a variant can be re-entered via
   * a different (possibly finite) path — the reference's backtracking.
   *
   * Finite-but-recursive types (the reference's `finite.piqi` /
   * `finite_nested.piqi` matrix) are ACCEPTED; since Spark schemas cannot be
   * recursive, compilation unrolls them to [[Spec.maxDepth]] occurrences per
   * type, with beyond-depth presence a `depth:` violation (retires the old
   * S5 reject-all-cycles deviation).
   */
  private def checkNoInfiniteTypes(s: Spec): Unit = {
    val black = scala.collection.mutable.Set[String]()
    val grey = scala.collection.mutable.Set[String]()
    // the reference records the LAST `infinite` error and reports it at the
    // typedef check (`piqi.ml:394-399,486-492`)
    var lastErr: String = "infinite type"

    def infinite(err: String): Boolean = {
      if (err.nonEmpty) lastErr = err
      false
    }

    def finitePathExists(name: String): Boolean = {
      if (black(name)) return true
      if (grey(name)) {
        // grey hit: pure alias loops get named here; other kinds report when
        // the enclosing record/list/variant sees the child infinite
        return s.defTable.get(name) match {
          case Some(AliasDef(n, _, _)) => infinite(s"alias '$n' forms a loop")
          case _ => infinite("")
        }
      }
      grey += name
      val res = s.defTable.get(name) match {
        case Some(RecordDef(n, fields)) =>
          fields.forall { f =>
            f.mode match {
              case Required => f.tpe match {
                case TypeRef(dep) =>
                  finitePathExists(dep) || infinite(
                    s"record '$n' is an infinite type (field '${f.name}' forms a loop)")
                case _ => true
              }
              case _ => true // optional/repeated loops are legal
            }
          }
        case Some(VariantDef(n, options)) =>
          val ok = options.exists(o => o.tpe match {
            case None => true
            case Some(TypeRef(dep)) => finitePathExists(dep)
            case Some(_) => true // primitive-typed option
          })
          ok || infinite(s"variant '$n' is an infinite type (each option forms a loop)")
        case Some(ListDef(n, elem, _)) =>
          elem match {
            case TypeRef(dep) =>
              finitePathExists(dep) || infinite(s"list '$n' forms a loop")
            case _ => true
          }
        case Some(AliasDef(_, target, _)) =>
          target match {
            case TypeRef(dep) => finitePathExists(dep)
            case _ => true
          }
        case _ => true // enum, primitive, or imported-unknown (reported elsewhere)
      }
      grey -= name
      if (res) black += name // infinite: stay white — re-entry may find a finite path
      res
    }

    // non-variants first: their tighter loops would otherwise be reported as
    // variant loops (`piqi.ml:493-498`)
    val (variants, nonVariants) = s.defs.partition(_.isInstanceOf[VariantDef])
    (nonVariants ++ variants).foreach { d =>
      if (!finitePathExists(d.name)) fail(lastErr)
    }
  }
}
