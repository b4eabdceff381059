package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.spec._
import graft.compile.SpecCompiler
import graft.exec.ValidationRunner

/** Compiler edges not covered by the doc-domain corpus: variant structs,
  * alias constraint chains, list typedefs, base64, nested records. */
class CompilerEdgeSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  test("variant as struct: exactly-one option enforced + option value checked (B15)") {
    val spec = Spec("m", Seq(
      EnumDef("color", Seq("red", "green")),
      VariantDef("payload", Seq(
        POption("num", Some(PInt(0, 100))),
        POption("word", Some(PString)),
        POption("hue", Some(TypeRef("color"))))),
      RecordDef("r", Seq(
        PField("id", PString, Required),
        PField("p", TypeRef("payload"), Required)))), "r")
    val plan = SpecCompiler.compile(spec)
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("p", StructType(Seq(
        StructField("num", LongType),
        StructField("word", StringType),
        StructField("hue", StringType))))))
    def rules(rows: Row*): Seq[Set[String]] = {
      val df = spark.createDataFrame(rows.asJava, schema)
      ValidationRunner.validate(df, plan)
        .select(col("id"), col("violations.rule")).collect()
        .sortBy(_.getString(0)).map(_.getSeq[String](1).toSet).toSeq
    }
    val out = rules(
      Row("a", Row(5L, null, null)),        // ok: one option
      Row("b", Row(5L, "x", null)),         // two options set
      Row("c", Row(null, null, null)),      // none set
      Row("d", Row(500L, null, null)),      // option value out of range
      Row("e", Row(null, null, "blue")))    // unknown enum inside option
    assert(out(0) === Set.empty)
    assert(out(1) === Set("exactly-one:p"))
    assert(out(2) === Set("exactly-one:p"))
    assert(out(3) === Set("range:p.num"))
    assert(out(4) === Set("unknown-enum:p.hue"))
  }

  test("alias chains accumulate constraints (B17)") {
    // alias of alias: port-number = positive-int with narrower range
    val spec = Spec("m", Seq(
      AliasDef("positive-int", PInt(0, Long.MaxValue)),
      AliasDef("port", TypeRef("positive-int"), Seq(InRange(1, 65535))),
      RecordDef("r", Seq(PField("p", TypeRef("port"), Required)))), "r")
    val plan = SpecCompiler.compile(spec)
    val schema = StructType(Seq(StructField("p", LongType)))
    val df = spark.createDataFrame(Seq(Row(80L), Row(70000L), Row(-1L)).asJava, schema)
    val out = ValidationRunner.validate(df, plan)
      .select(col("p"), col("violations.rule")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(out(80L) === Set.empty)
    assert(out(70000L) === Set("range:p"))  // violates only the port alias range
    assert(out(-1L) === Set("range:p"))     // violates both ranges (same rule name)
  }

  test("list typedef with element constraints (B16)") {
    val spec = Spec("m", Seq(
      ListDef("tags", PString, Seq(MatchesRegex("^[a-z]+$"))),
      RecordDef("r", Seq(PField("t", TypeRef("tags"), Required)))), "r")
    val plan = SpecCompiler.compile(spec)
    val schema = StructType(Seq(StructField("t", ArrayType(StringType))))
    val df = spark.createDataFrame(Seq(
      Row(Seq("abc", "def")), Row(Seq("ok", "NOPE", "fine"))).asJava, schema)
    val out = ValidationRunner.validate(df, plan)
      .select(col("violations")).collect().map(_.getSeq[Row](0))
    assert(out(0).isEmpty)
    assert(out(1).map(_.getString(0)) === Seq("format:t"))
    assert(out(1).map(_.getString(1)) === Seq("t[1]"))
  }

  test("base64 constraint (B13)") {
    val spec = Spec("m", Seq(
      RecordDef("r", Seq(PField("b", PString, Required, Seq(Base64))))), "r")
    val plan = SpecCompiler.compile(spec)
    val schema = StructType(Seq(StructField("b", StringType)))
    val df = spark.createDataFrame(Seq(
      Row("aGVsbG8="), Row("not base64!!"), Row("YWJj")).asJava, schema)
    val out = ValidationRunner.validate(df, plan)
      .select(col("b"), size(col("violations"))).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out("aGVsbG8=") === 0)
    assert(out("not base64!!") === 1)
    assert(out("YWJj") === 0)
  }

  test("nested record fields validate recursively with paths (B1 nested)") {
    val spec = Spec("m", Seq(
      RecordDef("inner", Seq(
        PField("x", PInt(0, 10), Required),
        PField("y", PString, Optional()))),
      RecordDef("r", Seq(
        PField("id", PString, Required),
        PField("nest", TypeRef("inner"), Optional())))), "r")
    val plan = SpecCompiler.compile(spec)
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("nest", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))
    val df = spark.createDataFrame(Seq(
      Row("a", Row(5L, "ok")),
      Row("b", Row(null, "missing x")),
      Row("c", Row(50L, null)),
      Row("d", null) // optional nest absent entirely: fine
    ).asJava, schema)
    val out = ValidationRunner.validate(df, plan)
      .select(col("id"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(out("a") === Set.empty)
    assert(out("b") === Set("missing-field:nest.x"))
    assert(out("c") === Set("range:nest.x"))
    assert(out("d") === Set.empty)
  }

  test("count form always equals size of detail form (emitter equivalence)") {
    val plan = SpecCompiler.compile(graft.io.Docs.docSpec)
    val d = graft.io.Docs.generate(spark, 3000, numPartitions = 4, corruptEvery = 37)
    val both = d
      .withColumn("violations", plan.violations)
      .withColumn("violation_count", plan.violationCount)
    assert(both.where(size(col("violations")) =!= col("violation_count")).count() === 0)
  }

  test("native/generic/detail forms agree on null array elements and null ordered fields") {
    // containsNull=true + nullable offset — shapes Docs.generate can never
    // produce, where the three forms historically diverged: a null element
    // must charge ONLY exactly-one rules (never not-null), and a null
    // element / null ordered value must break the increasing chain (the
    // generic adjacent-pair zip_with yields null for pairs touching a null).
    // Run under each evaluator on purpose: "interpreted" reaches
    // StructArrayRuleCount.eval, "codegen only" its generated Java (a janino
    // error fails instead of falling back). The frames are RDD-backed, so no
    // optimizer rule evaluates the projection on the driver instead.
    val plan = SpecCompiler.compile(graft.io.Docs.docSpec)
    val spanT = StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", LongType)))
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(spanT, containsNull = true))))
    val rows = Seq(
      Row("doc-a", Seq(Row("text", "t", null, 0L), Row("media", null, "m", 5L))), // valid
      Row("doc-b", Seq(Row("text", "t", null, 0L), null, Row("text", "t2", null, 0L))), // null elem
      Row("doc-c", Seq(Row("text", "t", null, 5L), Row("text", "t2", null, 3L))), // decreasing
      Row("doc-d", Seq(Row("text", "t", null, 0L), Row("text", "t2", null, null), Row("text", "t3", null, 0L))), // null offset
      Row("doc-e", Seq(Row("video", "t", null, 4L), Row("text", "t2", null, 4L))), // bad enum + tie
      Row("doc-f", null)) // null array
    val expected = Map(
      "doc-a" -> 0L, // clean
      "doc-b" -> 1L, // null element: exactly-one only; order chain broken
      "doc-c" -> 1L, // order violation
      "doc-d" -> 1L, // missing offset; order chain broken by null value
      "doc-e" -> 2L, // unknown enum + non-increasing tie
      "doc-f" -> 0L) // absent repeated ≡ empty

    // PUInt64 elements: the decimal binding of the range rule
    val u64plan = SpecCompiler.compile(Spec("u", Seq(
      RecordDef("span", Seq(PField("u", PInt.uint64, Required))),
      RecordDef("r", Seq(PField("doc_id", PString, Required),
        PField("spans", TypeRef("span"), Repeated)))), "r"))
    val u64schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("u", DecimalType(20, 0)))), containsNull = true))))
    def dec(v: String) = new java.math.BigDecimal(v)
    val u64rows = Seq(
      Row("u-a", Seq(Row(dec("0")), Row(dec("18446744073709551615")))), // both bounds
      Row("u-b", Seq(Row(dec("18446744073709551616")), Row(dec("-1")))), // above + below
      Row("u-c", Seq(Row(null), null))) // missing u; null element charges nothing
    val u64expected = Map("u-a" -> 0L, "u-b" -> 2L, "u-c" -> 1L)

    def counts(p: graft.compile.ValidationPlan, rs: Seq[Row], sch: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), sch)
        .withColumn("n_detail", size(p.violations).cast("long"))
        .withColumn("n_native", p.violationCount)
        .withColumn("n_generic", p.violationCountGeneric)
        .select("doc_id", "n_detail", "n_native", "n_generic")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    inEachEvaluator { mode =>
      Seq((counts(plan, rows, schema), expected),
          (counts(u64plan, u64rows, u64schema), u64expected)).foreach { case (all, exp) =>
        exp.foreach { case (id, n) =>
          assert(all(id) === ((n, n, n)),
            s"$mode $id: (detail,native,generic)=${all(id)} expected $n")
        }
      }
    }
  }

  test("native detail form equals generic detail form as multisets (corpus + null edges)") {
    val plan = SpecCompiler.compile(graft.io.Docs.docSpec)
    def sortedVios(c: org.apache.spark.sql.Column) =
      array_sort(c) // struct arrays sort by (rule, path, detail)

    // generated corpus with every corruption kind
    val d = graft.io.Docs.generate(spark, 3000, numPartitions = 4, corruptEvery = 13)
      .withColumn("n", sortedVios(plan.violations))
      .withColumn("g", sortedVios(plan.violationsGeneric))
    assert(d.where(!(col("n") <=> col("g"))).count() === 0)
    // and the corpus actually exercises the rules
    assert(d.where(size(col("n")) > 0).count() > 0)

    // null array elements / null ordered values (containsNull=true shapes)
    val spanT = StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", LongType)))
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(spanT, containsNull = true))))
    val rows = Seq(
      Row("doc-a", Seq(Row("text", "t", null, 0L), null, Row("video", null, null, null))),
      Row("doc-b", Seq(Row("text", "t", "m", 5L), Row("text", "t2", null, 3L))),
      Row("doc-c", null))
    val edge = spark.createDataFrame(rows.asJava, schema)
      .withColumn("n", sortedVios(plan.violations))
      .withColumn("g", sortedVios(plan.violationsGeneric))
    assert(edge.where(!(col("n") <=> col("g"))).count() === 0)
  }

  test("describe dumps the resolved module (A14)") {
    val text = graft.SparkEntry.documentsPlan.describe
    assert(text.contains("record doc"))
    assert(text.contains("enum lang-code"))
  }
}
