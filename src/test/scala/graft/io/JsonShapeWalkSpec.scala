package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.{SparkTestBase, SpecFuzzSpec}
import graft.compile.SpecCompiler
import graft.spec._

/**
 * Differential test of the single-walk key-shape checks ([[JsonShape]])
 * against the column tree they replaced ([[JsonShapeColumns]]): random
 * specs from [[SpecFuzzSpec]] (flat, nested, variant and recursive, widened
 * with uint64, float32, a list typedef and a json-name), strict and not,
 * × random documents carrying injected faults — unknown and duplicate keys,
 * wrong shapes, quoted and unparseable scalars, JSON `null` and `"null"`,
 * JSON text inside strings, escapes and whitespace in nested values,
 * truncation, trailing bytes, invalid UTF-8. Every document's violation
 * array must be SEQUENCE-equal to the reference's, with `parse:json` folded
 * in.
 */
class JsonShapeWalkSpec extends SparkTestBase {

  sealed trait J
  final case class JObj(fields: Vector[(String, J)]) extends J
  final case class JArr(items: Vector[J]) extends J
  final case class JStr(s: String) extends J
  final case class JLit(text: String) extends J // number, bool or null as written

  private def lit_(ts: String*): Gen[J] = Gen.oneOf(ts).map(JLit)
  private def str_(ss: String*): Gen[J] = Gen.oneOf(ss).map(JStr)

  /** Values no scalar type accepts as written (plus some it does). */
  private val scalarJunk: Gen[J] = Gen.oneOf(
    lit_("1.50", "1e5", "1e400", "-1e400", "-0", "99999999999999999999",
      "123456789012345678901234567890123456789012", "true", "false", "null", "0.5e-3"),
    str_("12", " 12 ", "-7", "1.5", "true", " false", "null", " null ", "x", "", "NaN",
      "Infinity", "-INF", "1,000", "0x10", "1d", "12\n", "18446744073709551615", "1e400"),
    Gen.const(JObj(Vector("y" -> JLit("1")))), Gen.const(JArr(Vector(JLit("1"), JStr("2")))))

  /** Values that are not the object/array a container position wants. */
  private val wrongShape: Gen[J] = Gen.oneOf(
    lit_("5", "true", "1e400", "-1.25"), str_("nope", "null", "", "[1, 2]", "{\"x\": 1}"),
    Gen.const(JArr(Vector(JLit("1")))), Gen.const(JObj(Vector("a" -> JLit("1")))))

  private def forType(t: PiqiType, spec: Spec, depth: Int): Gen[J] =
    if (depth > spec.maxDepth + 2) Gen.const(JLit("null"))
    else spec.unalias(t)._1 match {
      case PInt(lo, hi) => Gen.frequency(6 -> Gen.choose(lo, hi).map(v => JLit(v.toString)),
        1 -> lit_((lo - 3).toString, (hi + 3).toString), 2 -> scalarJunk)
      case PUInt64 => Gen.frequency(3 -> lit_("5", "18446744073709551615", "0"),
        1 -> lit_("-1", "100000000000000000000", "99999999999999999999.4", "1.5"), 2 -> scalarJunk)
      case PFloat | PFloat32 => Gen.frequency(
        4 -> Gen.choose(-9.0, 9.0).map(v => JLit(f"$v%.3f")), 2 -> scalarJunk)
      case PBool => Gen.frequency(4 -> lit_("true", "false"), 2 -> scalarJunk)
      case PString | PBinary | PAny => Gen.frequency(
        4 -> str_("plain", "tab\tand\nnewline", "quote\" back\\slash", "é ü ✓", "/slash/", ""),
        1 -> scalarJunk)
      case TypeRef(n) => spec.defTable(n) match {
        case RecordDef(_, fs) => container(obj(fs.map(f => (f.jsonKey, f)), spec, depth + 1))
        case VariantDef(_, os) => container(Gen.choose(0, 2).flatMap(k => Gen.pick(k, os))
          .flatMap(chosen => Gen.sequence[Vector[(String, J)], (String, J)](chosen.map(o =>
            forType(o.tpe.getOrElse(PBool), spec, depth + 1).map(o.jsonKey -> _))))
          .map(JObj))
        case ListDef(_, e, _) => container(array(e, spec, depth + 1))
        case EnumDef(_, opts) => Gen.frequency(4 -> Gen.oneOf(opts).map(JStr),
          1 -> str_("mauve"), 1 -> scalarJunk)
        case _ => Gen.const(JLit("null"))
      }
      case _ => Gen.const(JLit("null"))
    }

  /** A container value, or a wrong shape, null, or its own text as a string. */
  private def container(g: Gen[J]): Gen[J] = Gen.frequency(8 -> g, 2 -> wrongShape,
    1 -> Gen.const(JLit("null")),
    1 -> g.flatMap(j => Gen.long.map(seed => JStr(render(j, new scala.util.Random(seed))))))

  private def array(elem: PiqiType, spec: Spec, depth: Int): Gen[J] =
    Gen.choose(0, 3).flatMap(k => Gen.listOfN(k, Gen.frequency(
      8 -> forType(elem, spec, depth), 1 -> Gen.const(JLit("null")))))
      .map(xs => JArr(xs.toVector))

  private def obj(fields: Seq[(String, PField)], spec: Spec, depth: Int): Gen[J] = for {
    present <- Gen.sequence[Vector[Option[(String, J)]], Option[(String, J)]](fields.map {
      case (key, f) => Gen.frequency(1 -> Gen.const(None), 5 -> (
        if (f.mode == Repeated) container(array(f.tpe, spec, depth)) else forType(f.tpe, spec, depth)
      ).map(v => Some(key -> v)))
    })
    base = present.flatten
    unknown <- Gen.frequency(6 -> Gen.const(Vector.empty[(String, J)]),
      1 -> Gen.oneOf("zz", "bogus", fields.headOption.map(_._2.name + "_x").getOrElse("q"))
        .flatMap(k => Gen.choose(1, 2).map(n => Vector.fill(n)(k -> JLit("1")))))
    dup <- if (base.isEmpty) Gen.const(Vector.empty[(String, J)])
      else Gen.frequency(5 -> Gen.const(Vector.empty[(String, J)]),
        2 -> Gen.oneOf(base).flatMap { case (k, _) =>
          val f = fields.find(_._1 == k).get._2
          Gen.oneOf(forType(f.tpe, spec, depth), scalarJunk, wrongShape, Gen.const(JLit("null")))
            .map(v => Vector(k -> v))
        })
    order <- Gen.option(Gen.long)
  } yield JObj(order.fold(base ++ unknown ++ dup)(s =>
    new scala.util.Random(s).shuffle(base ++ unknown ++ dup)))

  /** JSON text with random insignificant whitespace and string escapes. */
  private def render(j: J, rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    def ws(): Unit = if (rnd.nextInt(4) == 0) sb.append(Seq(" ", "\n", "\t", "  \r\n")(rnd.nextInt(4)))
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append(if (rnd.nextBoolean()) "\\n" else "\\u000a")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case '/' if rnd.nextBoolean() => sb.append("\\/")
        case c if rnd.nextInt(8) == 0 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(v: J): Unit = {
      ws()
      v match {
        case JObj(fs) =>
          sb.append('{')
          fs.zipWithIndex.foreach { case ((k, x), i) =>
            if (i > 0) sb.append(',')
            ws(); str(k); ws(); sb.append(':'); go(x)
          }
          ws(); sb.append('}')
        case JArr(xs) =>
          sb.append('[')
          xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); go(x) }
          ws(); sb.append(']')
        case JStr(s) => str(s)
        case JLit(t) => sb.append(t)
      }
      ws()
    }
    go(j)
    sb.toString
  }

  /** One document's bytes, possibly damaged past JSON. */
  private def docBytes(root: Gen[J]): Gen[Array[Byte]] = for {
    j <- root
    seed <- Gen.long
    text = render(j, new scala.util.Random(seed))
    fault <- Gen.frequency(14 -> Gen.const(0), 2 -> Gen.const(1), 2 -> Gen.const(2),
      1 -> Gen.const(3), 1 -> Gen.const(4))
    cut <- Gen.choose(0, math.max(0, text.length - 1))
    tail <- Gen.oneOf(" trailing", "}", "{\"zz\":1}", "]", ",\"x\":")
    junk <- Gen.oneOf("not json", "[1, 2]", "", "null", "42", "   ")
  } yield fault match {
    case 1 => text.take(cut).getBytes(UTF_8) // truncated
    case 2 => (text + tail).getBytes(UTF_8) // trailing bytes
    case 3 => junk.getBytes(UTF_8)
    case 4 => // invalid UTF-8 inside the first string
      val b = text.getBytes(UTF_8)
      val q = b.indexOf('"'.toByte)
      if (q < 0) b else (b.take(q + 1) ++ Array(0xff.toByte, 0xc3.toByte, 0x28.toByte) ++ b.drop(q + 1))
    case _ => text.getBytes(UTF_8)
  }

  /** The random spec, widened with the types the fuzz specs lack. */
  private def widened(spec: Spec): Spec = spec.copy(defs = spec.defs.map {
    case RecordDef("root", fs) => RecordDef("root", fs ++ Seq(
      PField("u", PUInt64, Optional()), PField("f32", PFloat32, Optional()),
      PField("grid", TypeRef("row"), Repeated),
      PField("renamed", TypeRef("sub"), Optional(), jsonName = Some("re-named"))))
    case RecordDef("sub", fs) => RecordDef("sub", fs ++ Seq(
      PField("su", PUInt64, Optional()), PField("flags", PBool, Repeated)))
    case d => d
  } :+ ListDef("row", PInt(0, 9)))

  private val caseGen: Gen[Spec] = Gen.frequency(
    3 -> SpecFuzzSpec.specGen.map(widened), 1 -> Gen.choose(1, 3).map(SpecFuzzSpec.treeSpec))
    .flatMap(s => Gen.oneOf(true, false).map(strict => s.copy(strict = strict)))

  private def reference(json: Column, spec: Spec) =
    concat(SpecCompiler.vio(json.isNotNull && json_object_keys(json).isNull, "parse:json", "$", json),
      JsonShapeColumns.checkKeys(json, spec))

  test("walk == column tree, in sequence, on 2,000+ fuzzed documents") {
    val spark0 = spark
    import spark0.implicits._
    val params = Gen.Parameters.default.withSize(8)
    var seed = Seed(20261017L)
    var (docs, nonEmpty) = (0, 0)
    val rules = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    for (c <- 0 until 22) {
      val spec = caseGen.pureApply(params, seed); seed = seed.next
      val root = spec.resolved.defTable(spec.root).asInstanceOf[RecordDef].fields
      val rows = Gen.listOfN(100, docBytes(obj(root.map(f => (f.jsonKey, f)), spec.resolved, 1)))
        .pureApply(params, seed).map(Option(_)) :+ None
      seed = seed.next
      val df = rows.map(_.orNull).toDF("bin").select(col("bin").cast("string").as("json"))
      val j = col("json")
      def compare(mode: String) = {
        val out = df.select(j, JsonShape.walk(j, spec, parseVio = true), reference(j, spec))
          .collect()
        val bad = out.filter(r => r.getSeq(1) != r.getSeq(2))
        assert(bad.isEmpty, s"$mode case $c strict=${spec.strict} diverges on ${bad.length} docs:\n" +
          bad.take(3).map(r => s"  doc ${r.getString(0)}\n   walk ${r.get(1)}\n   tree ${r.get(2)}")
            .mkString("\n"))
        out
      }
      // a slice runs under each evaluator; the rest as a local relation
      // (folded into the plan by the optimizer, interpreted)
      val out = if (c < 2) inEachEvaluator(compare).last else compare("local")
      docs += out.length
      out.foreach { r =>
        val vs = r.getSeq[org.apache.spark.sql.Row](2)
        if (vs.nonEmpty) nonEmpty += 1
        vs.foreach(v => rules(v.getString(0)) += 1)
      }
    }
    info(s"$docs documents, $nonEmpty with violations: ${rules.toSeq.sorted.mkString(", ")}")
    assert(docs >= 2000, s"only $docs documents compared")
    // the faults reach every rule the checks emit
    for (rule <- Seq("parse:json", "unknown-field", "duplicate-field", "parse:object-expected",
        "parse:array-expected", "parse:value"))
      assert(rules(rule) >= 20, s"too few $rule violations: $rules")
    assert(nonEmpty >= docs / 4, s"only $nonEmpty of $docs documents had a violation")
  }
}
