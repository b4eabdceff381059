package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.core.{JsonEncoding, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.JsonToken._
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.compile.SpecCompiler
import graft.functions.UnaryEvalExpression
import graft.spec._

/**
 * Recursive JSON key-shape checks — the full `piqobj_of_json` record-walk
 * semantics, applied at EVERY record level, not just the root:
 *
 *  - unknown keys: warning normally, violation when `spec.strict`
 *    (`/root/reference/piqilib/piqobj_of_json.ml:29-37` `handle_unknown_field`,
 *    called per record level from `do_parse_record` ~:155-161);
 *  - duplicate keys: always a violation (the reference errors on duplicate
 *    fields, `piqobj_of_json.ml:25-28`, used at ~:197,216);
 *  - shape mismatches: a record field whose value is not a JSON object →
 *    `parse:object-expected`; a repeated/list field whose value is not an
 *    array → `parse:array-expected` ("array expected",
 *    `piqobj_of_json.ml:221-229`);
 *  - scalar conversion failures → `parse:value` (see [[checkKeys]]), at the
 *    root by the same rule in strict and non-strict mode.
 *
 * Mechanism: like the reference, ONE streaming walk per document. The spec
 * compiles once into a member tree ([[Obj]]/[[Arr]]/[[Scalar]]); the
 * [[JsonShapeWalk]] expression runs Jackson's streaming parser over the
 * document's UTF-8 bytes and checks each level as it passes. It emits
 * exactly the array of the column form it replaced (a key probe and a
 * string-map parse per level over each object's raw text;
 * `JsonShapeColumns` in the tests), so it keeps that form's
 * observable Spark behaviour: a repeated key is checked through its FIRST
 * occurrence; a detail is the value's raw capture (string content
 * unescaped, anything else compactly re-serialised: `{ "y" : 1 }` →
 * `{"y":1}`), and below a root member a value reads as that
 * re-serialisation reads (an overflowing float as the string `Infinity`);
 * a string holding JSON text has that text's shape; bytes after the root
 * object are ignored. The walk reads the typed parse's dialect (Spark's
 * `JSONOptions` defaults: single quotes and `NaN`/`Infinity` literals
 * accepted, unescaped control characters refused), so a document is
 * `parse:json` exactly when `from_json` cannot read it either. Array
 * elements are stamped with their index in the violation
 * path (`spans[2].meta`); recursion depth is bounded by the spec (cycles
 * are rejected at compile, SpecChecks A5).
 */
object JsonShape {

  /** Checks at one value position. */
  sealed trait Node extends Serializable
  /** No key-shape check (strings, enums, binary/any, beyond-depth content). */
  case object Skip extends Node
  /** Raw-space parse probe of a numeric/bool value (`parse:value`). */
  final case class Scalar(base: PiqiType) extends Node
  /** An object level: record fields or variant options, sorted by JSON key. */
  final case class Obj(members: Vector[Member]) extends Node {
    @transient lazy val index: Map[String, Int] = members.map(_.key).zipWithIndex.toMap
  }
  /** `typed`: also judged by the typed parse's outcome (`node` is a
    * [[Scalar]]): every root scalar, and strict scalars below the root. */
  final case class Member(key: String, name: String, node: Node, typed: Boolean) {
    def base: PiqiType = node.asInstanceOf[Scalar].base
  }
  /** An array; `quoted` (strict, scalar elements): the whole-array probe. */
  final case class Arr(elem: Node, quoted: Option[PiqiType]) extends Node

  /** All key-shape violations for a JSON document string against a spec.
    * Finite-but-recursive specs recurse to `spec.maxDepth` occurrences per
    * type; beyond-depth content is the compiled plan's `depth:` rule's.
    *
    * At every level only the JSON `null` token is absent: the string
    * `"null"` is a value, checked like any other.
    *
    * Scalar conversion failures (a present numeric/bool value that cannot
    * become a value of its column type — PERMISSIVE parsing silently nulls
    * these) are `parse:value`, judged on a repeated key's first occurrence:
    *  - at the ROOT, a non-repeated member is flagged when either its raw
    *    text fails the raw-space probe or the typed parse ends with it null
    *    (refused, and no other occurrence kept a value), in strict and
    *    non-strict mode alike;
    *  - below the root, raw text that fails the raw-space probe is flagged;
    *    under STRICT mode a QUOTED scalar (`"12"` where int is declared:
    *    present, refused by the typed JSON parse, raw text fine) is flagged
    *    too — once per field for an array (`piqobj_of_json.ml:40-43`);
    *    non-strict plays the reference's relaxed mode and accepts it. */
  def checkKeys(jsonCol: Column, spec: Spec): Column = walk(jsonCol, spec, parseVio = false)

  /** [[checkKeys]], led by a `parse:json` violation when a non-null
    * document is not a JSON object: one walk serves both. */
  private[io] def walk(jsonCol: Column, spec: Spec, parseVio: Boolean): Column =
    GraftBridge.column(JsonShapeWalk(GraftBridge.expression(jsonCol),
      compile(spec), spec.resolved.strict, parseVio))

  /** The member tree of a spec's root record. */
  private def compile(spec0: Spec): Obj = {
    val spec = spec0.resolved
    def scalarBase(sh: TypeShape): Option[PiqiType] = sh match {
      case TypeShape.Leaf(b @ (PBool | PInt(_, _) | PUInt64 | PFloat | PFloat32), _) => Some(b)
      case _ => None
    }
    def fields(fs: Seq[PField]) = fs.map(f => (f.jsonKey, f.name, f.tpe, f.mode == Repeated))
    def obj(ms: Seq[(String, String, PiqiType, Boolean)], depth: UnrollDepth, typed: Boolean): Obj =
      Obj(ms.sortBy(_._1).map { case (key, name, t, repeated) =>
        val sh = spec.shape(t, depth)
        Member(key, name, if (repeated) arr(sh) else value(sh),
          typed = typed && !repeated && scalarBase(sh).isDefined)
      }.toVector)
    def arr(elem: TypeShape): Arr = Arr(value(elem), scalarBase(elem).filter(_ => spec.strict))
    def value(sh: TypeShape): Node = sh match {
      case r: TypeShape.Record => obj(fields(r.fields), r.depth, spec.strict)
      case v: TypeShape.Variant => obj(v.options.map(o => (o.jsonKey, o.name, o.tpe.getOrElse(PBool),
        false)), v.depth, spec.strict)
      case l: TypeShape.ListOf => arr(spec.shape(l.elem, l.depth))
      case _ => scalarBase(sh).map(Scalar).getOrElse(Skip)
    }
    val root = spec.rootRecord
    obj(fields(root.fields), root.depth, typed = true)
  }

  /** The typed parse's tokeniser and raw-capture generator (`from_json`'s
    * default `JSONOptions`): a document parses iff it parses there. */
  private val factory = new JSONOptions(Map.empty[String, String], "UTC", "").buildJsonFactory()
  private val intRe = java.util.regex.Pattern.compile("^-?[0-9]+$")
  private val Seq(dec20Max, longMin, longMax) = Seq("99999999999999999999",
    Long.MinValue.toString, Long.MaxValue.toString).map(new java.math.BigDecimal(_))
  private val nonNumeric = Set("NaN", "+INF", "+Infinity", "Infinity", "-INF", "-Infinity")
  private val Seq(toDouble, toDec38) = Seq(DoubleType, DecimalType(38, 0)).map(
    Cast(BoundReference(0, StringType, nullable = true), _, Some("UTC"), EvalMode.TRY))
  private def tryCast(cast: Cast, s: UTF8String) = cast.eval(new GenericInternalRow(Array[Any](s)))

  /** Raw text that cannot become a non-null value of the scalar's column
    * type: the capture's `trim` + pattern + `try_cast` test (Long for ints,
    * Decimal(20,0) for uint64, Double for floats, Boolean). */
  private def rawBad(raw: String, base: PiqiType): Boolean = {
    val t = UTF8String.fromString(raw).trim()
    base match {
      case PBool => t.toString != "true" && t.toString != "false"
      case PFloat | PFloat32 => tryCast(toDouble, t) == null
      case _ => !intRe.matcher(t.toString).find() || (tryCast(toDec38, t) match {
        case d: Decimal =>
          val v = d.toJavaBigDecimal
          if (base == PUInt64) v.abs.compareTo(dec20Max) > 0
          else v.compareTo(longMin) < 0 || v.compareTo(longMax) > 0
        case _ => true
      })
    }
  }

  /** Compact re-serialisation of the current value (consumes it). */
  private def serialize(p: JsonParser): String = {
    val bytes = new ByteArrayOutputStream()
    val g = factory.createGenerator(bytes, JsonEncoding.UTF8)
    try g.copyCurrentStructure(p) finally g.close()
    new String(bytes.toByteArray, UTF_8)
  }

  /** A value as the raw capture holds it: its token, its raw text (null for
    * JSON null), whether an integer fits a long, and the text a decimal
    * parse of a number reads. */
  private final case class Val(tok: JsonToken, text: String, small: Boolean = false,
      decimal: String = null)

  /** The value at `p` (a container is consumed); `direct`: it sits in a
    * parsed text, not in a re-serialised capture. */
  private def view(p: JsonParser, direct: Boolean): Val = p.currentToken match {
    case VALUE_STRING => Val(VALUE_STRING, p.getText)
    case VALUE_NULL => Val(VALUE_NULL, null)
    case t @ (VALUE_TRUE | VALUE_FALSE) => Val(t, p.getText)
    case VALUE_NUMBER_INT if p.getNumberType != JsonParser.NumberType.BIG_INTEGER =>
      Val(VALUE_NUMBER_INT, p.getLongValue.toString, small = true)
    case VALUE_NUMBER_FLOAT =>
      val d = p.getDoubleValue
      if (!d.isInfinite) Val(VALUE_NUMBER_FLOAT, d.toString, decimal =
        if (direct) p.getText else d.toString)
      else if (direct) Val(VALUE_NUMBER_FLOAT, "\"" + d + "\"", decimal = p.getText) // quoted
      else Val(VALUE_STRING, d.toString) // ... and so re-parsed as a string
    case t => Val(t, serialize(p))
  }

  /** The typed JSON parse of a value into the scalar's column type (Spark's
    * JacksonParser rules): -1 refused, 0 null, 1 a value. */
  private def typed(v: Val, base: PiqiType): Int = (v.tok, base) match {
    case (VALUE_NULL, _) => 0
    case (VALUE_TRUE | VALUE_FALSE, PBool) => 1
    case (VALUE_NUMBER_INT, _: PInt) => if (v.small) 1 else -1
    case (VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT, PFloat | PFloat32) => 1
    case (VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT | VALUE_STRING, PUInt64) if v.text.nonEmpty =>
      val s = if (v.tok == VALUE_STRING) v.text.replace(",", "")
        else Option(v.decimal).getOrElse(v.text)
      try {
        val d = new java.math.BigDecimal(s) // fits Decimal(20,0) after HALF_UP rounding?
        if (d.precision - d.scale <= 0 || d.precision - d.scale <= 21 &&
          d.setScale(0, java.math.RoundingMode.HALF_UP).precision <= 20) 1 else -1
      } catch { case _: NumberFormatException => -1 }
    case (VALUE_STRING, PFloat | PFloat32) if nonNumeric(v.text) => 1
    case _ => -1
  }

  /** One document's walk; `out` collects the violations in emission order. */
  private final class Walker(strict: Boolean) {
    val out = new java.util.ArrayList[InternalRow]()

    def row(rule: String, path: String, detail: String): InternalRow =
      new GenericInternalRow(Array[Any](UTF8String.fromString(rule),
        UTF8String.fromString(path), UTF8String.fromString(detail)))
    def emit(rule: String, path: String, detail: String): Unit = out.add(row(rule, path, detail))

    /** Walks `text` if it holds a well-formed object/array (trailing bytes
      * ignored); else emits nothing and answers false. */
    def walkText(text: String, start: JsonToken)(f: JsonParser => Unit): Boolean = {
      val (mark, q) = (out.size, factory.createParser(text))
      try q.nextToken() == start && { f(q); true }
      catch { case _: JsonProcessingException => out.subList(mark, out.size).clear(); false }
      finally q.close()
    }

    /** Scalar probe: 0 absent (JSON null), 1 fine, 2 reported as `parse:value`. */
    def scalar(base: PiqiType, path: String, v: Val): Int =
      if (v.tok == VALUE_NULL) 0
      else if (if (v.small) base == PBool else rawBad(v.text, base)) {
        emit("parse:value", path, v.text); 2
      } else 1

    /** Checks for the value at `p`, leaving `p` at its end. */
    def value(node: Node, p: JsonParser, path: String, direct: Boolean): Unit = node match {
      case Skip => p.skipChildren()
      case Scalar(base) => scalar(base, path, view(p, direct))
      case o: Obj if p.currentToken == START_OBJECT => level(o, p, path, direct = false)
      case o: Obj => notA(START_OBJECT, "parse:object-expected", view(p, direct), path)((q, _) =>
        level(o, q, path, direct = true))
      case a: Arr if p.currentToken != START_ARRAY =>
        notA(START_ARRAY, "parse:array-expected", view(p, direct), path)(
          elements(a, _, path, _, direct = true))
      case a: Arr if a.quoted.isDefined =>
        val s = serialize(p)
        walkText(s, START_ARRAY)(elements(a, _, path, s, direct = true))
      case a: Arr if a.elem == Skip => p.skipChildren()
      case a: Arr => elements(a, p, path, null, direct = false)
    }

    /** A value that is not the expected container: a string holding one is
      * walked as that text; any other value but JSON null is reported. */
    def notA(start: JsonToken, rule: String, v: Val, path: String)(
        walk: (JsonParser, String) => Unit): Unit =
      if (!(v.tok == VALUE_STRING && walkText(v.text, start)(walk(_, v.text))) && v.tok != VALUE_NULL)
        emit(rule, path, v.text)

    /** `p` at START_ARRAY; `text` is the array's raw capture when quoted. */
    def elements(a: Arr, p: JsonParser, path: String, text: String, direct: Boolean): Unit = {
      val mark = out.size
      var (i, refused, rawOk) = (0, false, true)
      while (p.nextToken() != END_ARRAY) {
        a.quoted match {
          case Some(base) =>
            val v = view(p, direct)
            if (typed(v, base) < 0) refused = true
            if (scalar(base, s"$path[$i]", v) == 2) rawOk = false
          case None => value(a.elem, p, s"$path[$i]", direct)
        }
        i += 1
      }
      if (refused && rawOk) out.add(mark, row("parse:value", path, text))
    }

    /** `p` at START_OBJECT; leaves it at the matching END_OBJECT. Each
      * member's violations are held apart and emitted in member order. */
    def level(o: Obj, p: JsonParser, path: String, direct: Boolean): Unit = {
      val n = o.members.size
      val held = new Array[java.util.List[InternalRow]](n) // null: member unseen
      val typedVal = new Array[Int](n) // typed: the outcome the typed parse keeps
      val okRaw = new Array[String](n) // typed: first raw, present and parseable
      val keys = ArrayBuffer[String]()
      var odd = false // an unknown or repeated key
      while (p.nextToken() == FIELD_NAME) {
        keys += p.currentName
        p.nextToken()
        val m = o.index.getOrElse(keys.last, -1)
        val mem = if (m < 0) null else o.members(m)
        val v = if (mem != null && mem.typed) view(p, direct) else null
        if (v != null) { val t = typed(v, mem.base); if (t >= 0) typedVal(m) = t }
        if (m < 0 || held(m) != null) { odd = true; p.skipChildren() }
        else {
          val (mark, at) = (out.size, s"$path.${mem.name}")
          if (v == null) value(mem.node, p, at, direct)
          else if (scalar(mem.base, at, v) == 1) okRaw(m) = v.text
          val mine = out.subList(mark, out.size)
          held(m) = new java.util.ArrayList[InternalRow](mine)
          mine.clear()
        }
      }
      val unknown = if (strict && odd) keys.filterNot(o.index.contains) else Nil
      if (unknown.nonEmpty) emit("unknown-field", path, unknown.mkString(","))
      val dups = if (odd) keys.distinct.filter(k => keys.count(_ == k) > 1) else Nil
      if (dups.nonEmpty) emit("duplicate-field", path, dups.mkString(","))
      for (m <- 0 until n) {
        if (held(m) != null) out.addAll(held(m))
        if (okRaw(m) != null && typedVal(m) != 1)
          emit("parse:value", s"$path.${o.members(m).name}", okRaw(m))
      }
    }
  }

  /** Walk one document: its violations, or None when it is not a JSON
    * object (a tokeniser error up to the root's closing brace). The bytes
    * reach Jackson through the UTF-8 reader `from_json` uses, so invalid
    * UTF-8 and byte-order marks read as they read there. */
  private[io] def run(root: Obj, strict: Boolean, doc: UTF8String): Option[java.util.List[InternalRow]] = {
    val bb = doc.getByteBuffer
    val p = factory.createParser(new InputStreamReader(
      new ByteArrayInputStream(bb.array, bb.arrayOffset + bb.position, bb.remaining), UTF_8))
    try {
      if (p.nextToken() != START_OBJECT) None
      else {
        val w = new Walker(strict)
        w.level(root, p, "$", direct = true)
        Some(w.out)
      }
    } catch { case _: JsonProcessingException => None } finally p.close()
  }
}

/**
 * [[JsonShape]]'s walk as one Catalyst expression over a JSON string
 * column: the key-shape violations of each document, led by `parse:json`
 * (when `parseVio`) for a non-null document that is not a JSON object.
 */
private[graft] case class JsonShapeWalk(child: Expression, root: JsonShape.Obj, strict: Boolean,
    parseVio: Boolean) extends UnaryEvalExpression {

  override def dataType: DataType = SpecCompiler.violationType
  override def nullable: Boolean = false
  override def stringArgs: Iterator[Any] = Iterator(child, strict, parseVio)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"json_shape needs a string, got $other")
  }

  /** Generated code reaches this through [[EvalCodegen]]: the walk is
    * branchy parser work that inlined Java would not speed up. */
  def evalFrom(v: Any): Any = {
    val doc = v.asInstanceOf[UTF8String]
    if (doc == null) JsonShapeWalk.empty
    else JsonShape.run(root, strict, doc) match {
      case Some(vs) => if (vs.isEmpty) JsonShapeWalk.empty else new GenericArrayData(vs.toArray)
      case None if parseVio => new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](
        UTF8String.fromString("parse:json"), UTF8String.fromString("$"), doc.clone()))))
      case None => JsonShapeWalk.empty
    }
  }

  override protected def withNewChildInternal(newChild: Expression): JsonShapeWalk =
    copy(child = newChild)
}

private object JsonShapeWalk {
  private val empty = new GenericArrayData(new Array[Any](0))
}
