package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check => scCheck, Parameters}
import graft.compile.SpecCompiler
import graft.io.Convert
import graft.spec._

/** Random specs and documents, shared with the other generative suites
  * (`graft.io.JsonShapeWalkSpec`). */
object SpecFuzzSpec {

  val enumGen: Gen[EnumDef] = for {
    n <- Gen.choose(2, 4)
    opts <- Gen.pick(n, Seq("red", "green", "blue", "cyan", "lime"))
  } yield EnumDef("col", opts.toSeq)

  def leafGen(enums: Seq[EnumDef]): Gen[PiqiType] = Gen.frequency(
    3 -> Gen.const(PString),
    2 -> Gen.const(PBool),
    2 -> Gen.const(PFloat),
    3 -> (for { lo <- Gen.choose(-5L, 5L); w <- Gen.choose(1L, 50L) } yield PInt(lo, lo + w)),
    2 -> Gen.const(TypeRef("port")), // alias chain with accumulated constraint
    (if (enums.nonEmpty) 3 else 0) -> Gen.oneOf(enums.map(e => TypeRef(e.name))))

  def fieldGen(name: String, enums: Seq[EnumDef]): Gen[PField] = for {
    t <- leafGen(enums)
    mode <- Gen.oneOf[FieldMode](Required, Optional(None))
  } yield PField(name, t, mode)

  val specGen: Gen[Spec] = for {
    enum0 <- enumGen
    nSub <- Gen.choose(1, 3)
    subFields <- Gen.sequence[Seq[PField], PField](
      (1 to nSub).map(i => fieldGen(s"f$i", Seq(enum0))))
    // a guaranteed int field so StrictlyIncreasing is sometimes absorbable
    sub = RecordDef("sub", PField("ord", PInt(0, 1000), Required) +: subFields)
    nTop <- Gen.choose(1, 3)
    topFields <- Gen.sequence[Seq[PField], PField](
      (1 to nTop).map(i => fieldGen(s"t$i", Seq(enum0))))
    withRule <- Gen.oneOf(true, false)
    nested <- Gen.oneOf(true, false)
    withVariant <- Gen.oneOf(true, false)
  } yield Spec(
    module = "fuzz",
    defs = Seq(enum0, sub,
      AliasDef("port", PInt(0, 100), Seq(InRange(10, 90))),
      VariantDef("pay", Seq(POption("num", Some(PInt(0, 50))),
        POption("word", Some(PString)), POption("flagish"))),
      RecordDef("root",
        (PField("id", PInt(0, Long.MaxValue), Required) +:
          topFields) ++
          Seq(PField("items", TypeRef("sub"), Repeated)) ++
          (if (nested) Seq(PField("one", TypeRef("sub"), Optional(None))) else Nil) ++
          (if (withVariant) Seq(PField("pv", TypeRef("pay"), Optional(None))) else Nil))),
    root = "root",
    rowRules = if (withRule) Seq(StrictlyIncreasing("ord", "items", "ord")) else Nil)

  /** Random JSON value for a leaf type: valid / invalid / null mix. */
  def valueGen(t: PiqiType, spec: Spec): Gen[String] = t match {
    case PInt(lo, hi) => Gen.frequency(
      5 -> Gen.choose(lo, hi).map(_.toString),
      2 -> Gen.oneOf((lo - 10).toString, (hi + 10).toString), // out of range
      1 -> Gen.const("null"))
    case PBool => Gen.oneOf("true", "false", "null")
    case PFloat => Gen.frequency(4 -> Gen.choose(-9.0, 9.0).map(v => f"$v%.3f"), 1 -> Gen.const("null"))
    case PString => Gen.frequency(4 -> Gen.alphaStr.map(s => "\"" + s.take(6) + "\""), 1 -> Gen.const("null"))
    case TypeRef(n) => spec.defTable(n) match {
      case EnumDef(_, opts) => Gen.frequency(
        4 -> Gen.oneOf(opts).map("\"" + _ + "\""),
        2 -> Gen.const("\"mauve\""), // unknown member
        1 -> Gen.const("null"))
      case AliasDef(_, target, _) => // value checks accumulate through the chain
        Gen.frequency(4 -> valueGen(target, spec), 2 -> Gen.choose(-20, 120).map(_.toString))
      case VariantDef(_, opts) => // 0 / 1 / 2 options set — exactly-one fuzz
        Gen.choose(0, 2).flatMap(k => Gen.pick(k, opts).flatMap { chosen =>
          Gen.sequence[Seq[String], String](chosen.map { o =>
            o.tpe.map(valueGen(_, spec)).getOrElse(Gen.const("true"))
              .map(v => s""""${o.name}":$v""")
          }).map(es => es.mkString("{", ",", "}"))
        })
      case _ => Gen.const("null")
    }
    case _ => Gen.const("null")
  }

  def objGen(fields: Seq[PField], spec: Spec): Gen[String] = {
    val fieldEntries = fields.map { f =>
      f.tpe match {
        case TypeRef("sub") if f.mode == Repeated =>
          Gen.frequency(
            2 -> Gen.choose(0, 4).flatMap(k =>
              Gen.listOfN(k, objGen(spec.defTable("sub").asInstanceOf[RecordDef].fields, spec))
                .map(xs => Some(s""""${f.name}":[${xs.mkString(",")}]"""))),
            1 -> Gen.const(None))
        case TypeRef("sub") =>
          Gen.frequency(
            2 -> objGen(spec.defTable("sub").asInstanceOf[RecordDef].fields, spec)
              .map(o => Some(s""""${f.name}":$o""")),
            1 -> Gen.const(None))
        case t =>
          Gen.frequency(
            4 -> valueGen(t, spec).map(v => Some(s""""${f.name}":$v""")),
            1 -> Gen.const(None)) // missing entirely
      }
    }
    Gen.sequence[Seq[Option[String]], Option[String]](fieldEntries)
      .map(es => es.flatten.mkString("{", ",", "}"))
  }

  /** The recursive spec: a tree recursing through an optional and a
    * repeated edge, unrolled to `maxDepth`. */
  def treeSpec(maxDepth: Int): Spec = Spec("rf", Seq(RecordDef("tree", Seq(
    PField("value", PInt(0, 100), Optional()),
    PField("next", TypeRef("tree"), Optional()),
    PField("kids", TypeRef("tree"), Repeated)))), "tree", maxDepth = maxDepth)
}

/**
 * Generative fuzz over the compiler: RANDOM specs (nested records, enums,
 * repeated struct-arrays with absorbable row rules — the shapes that pick
 * between the native StructArrayRule programs and the generic HOF walk) ×
 * RANDOM documents (valid, missing, null, out-of-range, unknown-enum),
 * asserting the four compiled forms agree on EVERY row:
 *
 *   size(violations) == violationCount == violationCountGeneric
 *   multiset(violations) == multiset(violationsGeneric)
 *
 * A disagreement pinpoints a divergence between the codegen'd rule
 * programs and the reference Column walk — the class of bug a fixed
 * fixture suite can miss.
 */
class SpecFuzzSpec extends SparkTestBase {
  import SpecFuzzSpec._

  test("fuzz: all four compiled forms agree on random specs x random documents") {
    val spark0 = spark
    import spark0.implicits._
    val caseGen: Gen[(Spec, List[String])] = for {
      spec <- specGen
      rows <- Gen.listOfN(40,
        objGen(spec.defTable("root").asInstanceOf[RecordDef].fields, spec))
    } yield (spec, rows)

    val prop = Prop.forAll(caseGen) { case (spec, rows) =>
      val plan = SpecCompiler.compile(spec)
      val schema = Convert.sparkSchema(spec)
      val df = rows.toDF("json")
        .withColumn("_rec", from_json(col("json"), schema))
        .select(col("json") +: schema.fields.map(f => col(s"_rec.${f.name}").as(f.name)): _*)
      def sorted(c: org.apache.spark.sql.Column) = array_sort(c)
      val bad = df.select(
          col("json"),
          size(plan.violations).as("n_detail"),
          plan.violationCount,
          plan.violationCountGeneric.as("n_count_generic"),
          sorted(plan.violations).as("d_native"),
          sorted(plan.violationsGeneric).as("d_generic"))
        .where(col("n_detail") =!= col("violation_count") ||
          col("violation_count") =!= col("n_count_generic") ||
          col("d_native") =!= col("d_generic"))
        .collect()
      if (bad.nonEmpty) {
        System.err.println(s"[fuzz] DIVERGENCE under spec:\n${plan.describe}")
        bad.take(3).foreach(r => System.err.println(s"[fuzz]   $r"))
      }
      bad.isEmpty
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("fuzz: recursive specs — all forms agree and depth bounding is exact") {
    val spark0 = spark
    import spark0.implicits._
    // random tree documents of EXACTLY the given nesting depth (every level
    // present), recursing through both the optional and the repeated edge
    def doc(d: Int): Gen[String] =
      if (d <= 1) Gen.choose(0, 100).map(v => s"""{"value":$v}""")
      else Gen.frequency(
        2 -> (for {
          v <- Gen.choose(0, 100); k <- Gen.choose(1, 2)
          deep <- doc(d - 1) // at least one child reaches full depth
          rest <- Gen.listOfN(k - 1, Gen.choose(1, d - 1).flatMap(doc))
        } yield s"""{"value":$v,"kids":[${(deep +: rest).mkString(",")}]}"""),
        1 -> (for { v <- Gen.choose(0, 100); nx <- doc(d - 1) }
          yield s"""{"value":$v,"next":$nx}"""))
    val caseGen = for {
      maxDepth <- Gen.choose(1, 3)
      docs <- Gen.listOfN(12,
        Gen.choose(1, maxDepth + 2).flatMap(d => doc(d).map(j => (d, j))))
    } yield (maxDepth, docs)

    val prop = Prop.forAll(caseGen) { case (maxDepth, docs) =>
      val spec = treeSpec(maxDepth)
      val plan = SpecCompiler.compile(spec)
      val schema = Convert.sparkSchema(spec)
      val df = docs.toDF("depth", "json")
        .withColumn("_rec", from_json(col("json"), schema))
        .select(Seq(col("depth"), col("json")) ++
          schema.fields.map(f => col(s"_rec.${f.name}").as(f.name)): _*)
      val rows = df.select(
          col("depth"), col("json"),
          size(plan.violations).as("n_detail"),
          plan.violationCount,
          plan.violationCountGeneric.as("n_generic"),
          (array_sort(plan.violations) === array_sort(plan.violationsGeneric)).as("deq"),
          exists(plan.violations, v => v.getField("rule").startsWith("depth:")).as("has_depth"))
        .collect()
      val bad = rows.filter { r =>
        val agree = r.getInt(2).toLong == r.getLong(3) && r.getLong(3) == r.getLong(4) &&
          r.getBoolean(5)
        val depthOk = r.getBoolean(6) == (r.getInt(0) > maxDepth)
        !(agree && depthOk)
      }
      if (bad.nonEmpty) {
        System.err.println(s"[fuzz-rec] maxDepth=$maxDepth divergence:")
        bad.take(3).foreach(r => System.err.println(s"[fuzz-rec]   $r"))
      }
      bad.isEmpty
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
