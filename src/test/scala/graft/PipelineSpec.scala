package graft

import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointManager
import graft.compile.SpecCompiler
import graft.exec.ValidationRunner
import graft.io.{Convert, Docs}
import graft.ops.Multimodal

class PipelineSpec extends SparkTestBase {

  test("checkpoint: kill between buckets resumes without recomputation or dups") {
    import graft.checkpoint.ValidationCheckpoint
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val mgr = new CheckpointManager(root)
    val plan = SpecCompiler.compile(Docs.docSpec)
    val docs = Docs.generate(spark, 600, numPartitions = 4, corruptEvery = 50)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    def run(m: CheckpointManager) = ValidationCheckpoint.run(docs, plan, m, "bucket", Seq(0, 1, 2, 3), "doc_id")

    // first run is killed at the third bucket's marker rename, after its
    // violations landed
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFs].getName)
    FaultFs.arm("rename", 3)(_.contains("/.lineage_staging/commit-"))
    val e = try intercept[Exception](run(new CheckpointManager("faulty://" + root))) finally FaultFs.disarm()
    assert(e.isInstanceOf[FaultFs.Fault], s"run failed for another reason: $e")
    assert(mgr.committedBuckets(spark) === Set(0, 1))

    // resume: one job per uncommitted batch, none for the committed ones
    assert(jobsOf(run(mgr)) === 2)
    assert(mgr.committedBuckets(spark) === Set(0, 1, 2, 3))

    // outputs equal a non-checkpointed run (no loss, no double count)
    val validated = ValidationRunner.validate(docs, plan)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val summaryCols = Seq("bucket", "n_docs", "n_valid", "n_invalid", "n_violations")
    assert(rows(mgr.summary(spark), summaryCols: _*) ===
      rows(ValidationRunner.summary(validated, Seq("bucket")), summaryCols: _*))
    val violationCols = Seq("doc_id", "bucket", "rule", "path", "detail")
    assert(rows(mgr.violations(spark), violationCols: _*) ===
      rows(ValidationRunner.violationRows(validated, "doc_id", Seq("bucket")), violationCols: _*))

    // idempotence: a third run does nothing
    assert(jobsOf(run(mgr)) === 0)

    // STAGING-COMMIT atomicity: a crash mid-lineage-write leaves torn bytes
    // only in .lineage_staging — inject exactly that garbage and prove no
    // reader ever sees it
    val stag = new java.io.File(s"$root/.lineage_staging/crashed-batch")
    assert(stag.mkdirs())
    val torn = new java.io.FileOutputStream(s"$stag/part-00000-torn")
    torn.write("buckets=0,1\nbucket=0 n_docs=".getBytes) // a marker cut mid-line
    torn.close()
    assert(mgr.committedBuckets(spark) === Set(0, 1, 2, 3)) // unpoisoned
    assert(jobsOf(run(mgr)) === 0) // resume unaffected by the torn staging file
    // every entry in lineage/ is a published commit marker (or its local-FS
    // checksum sidecar), and the markers name exactly the committed buckets
    val (markers, sidecars) = new java.io.File(s"$root/lineage").listFiles().toSeq
      .partition(!_.getName.startsWith("."))
    assert(markers.nonEmpty && markers.forall(_.getName.startsWith("commit-")))
    assert(sidecars.map(_.getName).toSet.subsetOf(markers.map(f => s".${f.getName}.crc").toSet))
    val ids = markers.flatMap { f =>
      val first = java.nio.file.Files.readAllLines(f.toPath).get(0)
      assert(first.startsWith("buckets="), s"${f.getName}: $first")
      first.stripPrefix("buckets=").split(',').map(_.toInt)
    }
    assert(ids.sorted === Seq(0, 1, 2, 3))
    // and violations/ holds exactly the batch directories the markers name:
    // the killed batch's directory went with the resume's first commit
    assert(new java.io.File(s"$root/violations").list().toSet === markers.map(_.getName).toSet)
  }

  test("checkpoint: sketch accumulators survive crash-resume and merge to the whole-run digest") {
    import graft.checkpoint.ValidationCheckpoint
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-sk").toString
    val mgr = new CheckpointManager(root)
    val plan = SpecCompiler.compile(Docs.docSpec)
    val docs = Docs.generate(spark, 2000, numPartitions = 4)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    val sketchCols = Seq(ValidationCheckpoint.SketchCol("nspans", size(col("spans")).cast("double")))

    // crash inside the run: the first bucket commits, the second bucket's
    // marker rename fails
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFs].getName)
    val crashing = new CheckpointManager("faulty://" + root) // same lineage
    FaultFs.arm("rename", 2)(_.contains("/.lineage_staging/commit-"))
    val e = try intercept[Exception](ValidationCheckpoint.run(docs, plan, crashing, "bucket", Seq(0, 1, 2, 3),
      "doc_id", sketchCols)) finally FaultFs.disarm()
    assert(e.isInstanceOf[FaultFs.Fault], s"run failed for another reason: $e")
    assert(mgr.committedBuckets(spark) === Set(0))

    // resume through the high-level API
    ValidationCheckpoint.run(docs, plan, mgr, "bucket", Seq(0, 1, 2, 3), "doc_id", sketchCols)
    assert(mgr.committedBuckets(spark) === Set(0, 1, 2, 3))

    // merged per-bucket sketches ≈ one-shot sketch over all docs
    val merged = ValidationCheckpoint.mergedSketch(spark, mgr, "nspans")
    assert(merged.totalWeight === 2000.0)
    val oneShot = graft.exec.QuantileSketch.fromBytes(
      docs.agg(graft.exec.Drift.kllSketch(size(col("spans"))))
        .collect()(0).getAs[Array[Byte]](0))
    for (q <- Seq(0.25, 0.5, 0.75))
      assert(math.abs(merged.quantile(q) - oneShot.quantile(q)) <= 1.0) // n_spans ∈ 1..7
    // and drift between the resumed state and a fresh run of the same data is nil
    assert(graft.exec.Drift.ksStatistic(merged, oneShot) < 0.05)
  }

  test("checkpoint: duplicate doc_ids do not multiply committed violation rows") {
    import graft.checkpoint.ValidationCheckpoint
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-dup").toString
    val mgr = new CheckpointManager(root)
    val plan = SpecCompiler.compile(Docs.docSpec)
    // hotEvery=10 makes docs 0,10,20,… share doc_id "doc-hot"; corruptEvery=10
    // makes exactly those docs carry violations — the worst case for any
    // docKey re-join (each doc-hot violation would multiply ×10)
    val docs = Docs.generate(spark, 100, 2, hotEvery = 10, corruptEvery = 10)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(2)).cast("int"))
    ValidationCheckpoint.run(docs, plan, mgr, "bucket", Seq(0, 1), "doc_id")
    val committed = mgr.violations(spark).count()
    val direct = ValidationRunner.violationRows(
      ValidationRunner.validate(docs, plan), "doc_id").count()
    assert(direct > 0)
    assert(committed === direct, s"committed=$committed direct=$direct (re-join multiplication?)")
  }

  test("checkpoint: session conf untouched; half run + resume keeps every bucket") {
    import graft.checkpoint.ValidationCheckpoint
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-conf").toString
    val mgr = new CheckpointManager(root)
    val plan = SpecCompiler.compile(Docs.docSpec)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val docs = Docs.generate(spark, 200, 2, corruptEvery = 10)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    withConf(key -> "static") {
      ValidationCheckpoint.run(docs, plan, mgr, "bucket", Seq(0, 1), "doc_id") // half run
      assert(spark.conf.get(key) === "static")
      ValidationCheckpoint.run(docs, plan, mgr, "bucket", Seq(0, 1, 2, 3), "doc_id") // resume
      assert(spark.conf.get(key) === "static")
    }
    // the resume adds its batches' directories next to the half run's; a
    // static overwrite of violations/ would have wiped buckets 0 and 1
    val committed = mgr.violations(spark)
    assert(committed.select("bucket").distinct().collect().map(_.getInt(0)).toSet === Set(0, 1, 2, 3))
    val direct = ValidationRunner.violationRows(ValidationRunner.validate(docs, plan), "doc_id", Seq("bucket"))
    val cols = Seq("doc_id", "bucket", "rule", "path", "detail").map(col)
    assert(committed.select(cols: _*).exceptAll(direct.select(cols: _*)).isEmpty &&
      direct.select(cols: _*).exceptAll(committed.select(cols: _*)).isEmpty)
  }

  test("checkpoint: resuming with a DIFFERENT spec fails fast (spec fingerprint)") {
    import graft.checkpoint.ValidationCheckpoint
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toString
    val mgr = new CheckpointManager(root)
    val docs = Docs.generate(spark, 50, 1)
      .withColumn("bucket", lit(0))
    ValidationCheckpoint.run(docs, SpecCompiler.compile(Docs.docSpec), mgr, "bucket", Seq(0), "doc_id")
    assert(mgr.recordedSpec(spark).isDefined)
    // same spec resumes fine (no-op: bucket committed)
    ValidationCheckpoint.run(docs, SpecCompiler.compile(Docs.docSpec), mgr, "bucket", Seq(0), "doc_id")
    // a changed spec must be rejected
    val changed = SpecCompiler.compile(
      Docs.docSpec.extendRecord("document",
        graft.spec.PField("extra", graft.spec.PString, graft.spec.Optional())))
    val e = intercept[graft.spec.SpecException] {
      ValidationCheckpoint.run(docs, changed, mgr, "bucket", Seq(0), "doc_id")
    }
    assert(e.getMessage.contains("different spec"))
  }

  test("JSON ingest: parse + validate + strict unknown-key semantics (B2/B3/I10)") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(
      """{"doc_id":"doc-1","spans":[{"kind":"text","text":"hi","offset":0}]}""",
      """{"doc_id":"doc-2","spans":[{"kind":"video","text":"x","offset":0}]}""",
      """{"doc_id":"doc-3","spans":[],"extra_key":1}""",
      """not json at all""",
      """{"doc_id":null,"spans":[]}""")
    val df = rows.toDF("json")

    // non-strict: unknown key tolerated (warning-level in the reference)
    val lax = Convert.fromJson(df, "json", Docs.docSpec)
    val laxMap = lax.select(col("_raw"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(laxMap(rows(0)) === Set.empty)
    assert(laxMap(rows(1)) === Set("unknown-enum:spans.kind"))
    assert(laxMap(rows(2)) === Set.empty)
    assert(laxMap(rows(3)) === Set("parse:json", "missing-field:doc_id"))
    assert(laxMap(rows(4)) === Set("missing-field:doc_id"))

    // strict: unknown key is an error (piqobj_of_json.ml:31-37 + strict flag)
    val strictSpec = Docs.docSpec.copy(strict = true)
    val strict = Convert.fromJson(df, "json", strictSpec)
    val strictMap = strict.select(col("_raw"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(strictMap(rows(2)) === Set("unknown-field"))
  }

  test("JSON ingest: recursive unknown/duplicate keys + shape mismatches at nested levels") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(
      """{"doc_id":"doc-1","spans":[{"kind":"text","text":"a","offset":0,"bogus":1}]}""",
      """{"doc_id":"doc-2","spans":[{"kind":"text","text":"a","offset":0,"offset":1}]}""",
      """{"doc_id":"doc-3","spans":"nope"}""",
      """{"doc_id":"doc-4","spans":[42]}""",
      """{"doc_id":"doc-5","doc_id":"doc-5b","spans":[]}""",
      """{"doc_id":"doc-6","spans":[{"kind":"text","text":"a","offset":0}]}""")
    val df = rows.toDF("json")

    def vioMap(spec: graft.spec.Spec) =
      Convert.fromJson(df, "json", spec)
        .select(col("_raw"), col("violations")).collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(v => (v.getString(0), v.getString(1))).toSet)
        .toMap

    // lax: nested unknown keys tolerated (reference warns); dups still error
    val lax = vioMap(Docs.docSpec)
    assert(lax(rows(0)) === Set.empty)
    assert(lax(rows(1)) === Set(("duplicate-field", "$.spans[0]")))
    assert(lax(rows(2)) === Set(("parse:array-expected", "$.spans")))
    assert(lax(rows(3)).contains(("parse:object-expected", "$.spans[0]")))
    assert(lax(rows(4)) === Set(("duplicate-field", "$")))
    assert(lax(rows(5)) === Set.empty)

    // strict: nested unknown key flagged at its own path
    val strict = vioMap(Docs.docSpec.copy(strict = true))
    assert(strict(rows(0)) === Set(("unknown-field", "$.spans[0]")))
    assert(strict(rows(5)) === Set.empty)
  }

  test("JSON ingest reads one dialect: parse:json iff the typed record parse cannot read it") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(
      "{\"doc_id\":\"doc-1\tx\",\"spans\":[]}",          // unescaped control character
      """{"doc_id":"doc-1x","spans":[],"n":NaN}""") // non-numeric number literal
    val out = Convert.fromJson(rows.toDF("json"), "json", Docs.docSpec)
      .select(col("_raw"), col("doc_id"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out(rows(0)).isNullAt(1))
    assert(out(rows(0)).getSeq[String](2) === Seq("parse:json", "missing-field:doc_id"))
    assert(out(rows(1)).getString(1) === "doc-1x")
    assert(out(rows(1)).getSeq[String](2) === Seq.empty)
  }

  test("fromJson and validateAny give each document the same violations, strict or not") {
    import graft.spec._
    import org.apache.spark.sql.Row
    val spark0 = spark
    import spark0.implicits._
    def mkSpec(strict: Boolean) = Spec("m", Seq(
      RecordDef("inner", Seq(PField("v", PInt.int32, Optional()))),
      RecordDef("r", Seq(
        PField("i", PInt.int64, Optional()),
        PField("u", PInt.uint64, Optional()),
        PField("f", PFloat, Optional()),
        PField("b", PBool, Optional()),
        PField("count", PInt(0, 9), Optional(), jsonName = Some("n-count")),
        PField("inner", TypeRef("inner"), Optional(), jsonName = Some("in-ner"))))), "r",
      strict = strict)
    val docs = Seq(
      """{"i":1,"u":2,"f":1.5,"b":true,"n-count":3,"in-ner":{"v":4}}""",
      """{"i":"12"}""",                  // quoted int
      """{"u":"7","f":"1.5","b":"true","n-count":"3"}""", // more quoted scalars
      """{"i":"null","b":" null "}""",   // the STRING "null"
      """{"i":null,"u":null,"n-count":null}""", // JSON null ≡ missing
      """{"u":1.5}""",                   // uint64 non-integers
      """{"u":5e-4}""",
      """{"u":1e20}""",
      """{"u":"1,000"}""",
      """{"f":1e400}""",                 // past Double
      """{"i":"x","b":1,"n-count":[1]}""", // garbage
      """{"n-count":12,"count":1}""",    // range; the declared name is not a key
      """{"i":1,"i":"z"}""",             // duplicate keys
      """{"u":null,"u":"x"}""",
      """{"in-ner":{"v":"5"}}""",        // nested quoted int
      """{"in-ner":{"v":"null"}}""",
      """[1]""",
      """not json""")
    def multiset(vs: Seq[Row]) = vs.map(v => (v.getString(0), v.getString(1), v.getString(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    for (strict <- Seq(false, true)) {
      val spec = mkSpec(strict)
      val ingest = Convert.fromJson(docs.toDF("json"), "json", spec)
        .select(col("_raw"), col("violations")).collect()
        .map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
      val any = Convert.validateAny(docs.map(d => ("t", d)).toDF("any_type", "payload"),
        "payload", "any_type", Map("t" -> spec))
        .select(col("payload"), col("any_violations")).collect()
        .map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
      for (d <- docs)
        assert(multiset(ingest(d)) === multiset(any(d)), s"strict=$strict $d")
      // root conversion failures carry one name in both modes
      def rootVios(d: String) = ingest(d).filter(_.getString(0) == "parse:value").map(_.getString(1))
      assert(rootVios(docs(1)) === Seq("$.i"), s"strict=$strict")
      assert(rootVios(docs(3)) === Seq("$.b", "$.i"), s"strict=$strict")
      for (k <- 5 to 9) assert(rootVios(docs(k)).nonEmpty, s"strict=$strict ${docs(k)}")
      assert(rootVios(docs(4)).isEmpty && rootVios(docs(0)).isEmpty, s"strict=$strict")
    }
  }

  test("withDefaults: recursive — nested records and repeated elements (A6 nested)") {
    import graft.spec._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spec = Spec("m", Seq(
      RecordDef("inner", Seq(
        PField("x", PString, Optional(Some("dx"))),
        PField("y", PInt(0, 100), Required))),
      RecordDef("r", Seq(
        PField("id", PString, Required),
        PField("nest", TypeRef("inner"), Optional()),
        PField("items", TypeRef("inner"), Repeated)))), "r")
    val plan = SpecCompiler.compile(spec)
    val innerT = StructType(Seq(StructField("x", StringType), StructField("y", LongType)))
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("nest", innerT),
      StructField("items", ArrayType(innerT))))
    val df = spark.createDataFrame(Seq(
      Row("a", Row(null, 1L), Seq(Row(null, 2L), Row("set", 3L))),
      Row("b", null, null)).asJava, schema)
    val out = plan.withDefaults(df)
    // rebuild must not change physical types (nullability may tighten via coalesce)
    assert(out.schema.map(f => (f.name, f.dataType.catalogString)) ===
      schema.map(f => (f.name, f.dataType.catalogString)))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    val a = rows("a")
    assert(a.getStruct(1).getString(0) === "dx") // nested record default applied
    assert(a.getStruct(1).getLong(1) === 1L)
    val items = a.getSeq[Row](2)
    assert(items(0).getString(0) === "dx") // default inside repeated element
    assert(items(1).getString(0) === "set") // present value untouched
    val b = rows("b")
    assert(b.isNullAt(1)) // missing nested record stays missing
    assert(b.getSeq[Row](2) === Seq.empty) // absent repeated ≡ empty
  }

  test("withDefaults: a record reached through a variant option gets its defaults") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("m", Seq(
      RecordDef("A", Seq(
        PField("x", PInt.int32, Optional(Some(5))),
        PField("y", PString, Optional()))),
      VariantDef("V", Seq(POption("a", Some(TypeRef("A"))), POption("b", Some(PString)))),
      RecordDef("r", Seq(
        PField("id", PString, Required),
        PField("v", TypeRef("V"), Optional())))), "r")
    val plan = SpecCompiler.compile(spec)
    val df = Convert.fromJson(Seq("""{"id":"k","v":{"a":{"x":null,"y":"q"}}}""",
      """{"id":"j","v":{"b":"s"}}""").toDF("json"), "json", spec).select("id", "v")
    val rows = plan.withDefaults(df).select(col("id"), col("v.a").isNull, col("v.a.x"),
      col("v.a.y"), col("v.b")).collect().map(r => r.getString(0) -> r).toMap
    assert(rows("k").getLong(2) === 5L) // the option's record has its default
    assert(rows("k").getString(3) === "q")
    assert(rows("k").isNullAt(4)) // the option not chosen stays null
    assert(rows("j").getBoolean(1)) // no record is conjured for an unchosen option
    assert(rows("j").getString(4) === "s")
    assert(Convert.toJson(df, plan, addDefaults = true).collect().map(_.getString(0)).toSet ===
      Set("""{"id":"k","v":{"a":{"x":5,"y":"q"}}}""", """{"id":"j","v":{"b":"s"}}"""))
  }

  test("piqi-any: payloads validate against their per-row typename (B18)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.spec._
    val registry = Map(
      "point" -> Spec("m", Seq(RecordDef("point", Seq(
        PField("x", PInt(0, 100), Required),
        PField("y", PInt(0, 100), Required)))), "point"),
      "tag" -> Spec("m", Seq(RecordDef("tag", Seq(
        PField("name", PString, Required)))), "tag"))
    val df = Seq(
      ("1", "point", """{"x":5,"y":2}"""),
      ("2", "point", """{"x":500,"y":2}"""),
      ("3", "tag", """{"name":"a"}"""),
      ("4", "tag", """{"nope":1}"""),
      ("5", "mystery", """{}"""),
      ("6", "point", "not json")).toDF("id", "any_type", "payload")
    val out = Convert.validateAny(df, "payload", "any_type", registry)
    assert(out.columns.toSeq ===
      Seq("id", "any_type", "payload", "any_violations", "any_valid"))
    val rules = out.select(col("id"), col("any_violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(rules("1") === Set.empty)
    assert(rules("2") === Set("range:x"))
    assert(rules("3") === Set.empty)
    assert(rules("4") === Set("missing-field:name"))
    assert(rules("5") === Set("unknown-type"))
    assert(rules("6") === Set("parse:json", "missing-field:x", "missing-field:y"))
  }

  test("XML ingest: parse + validate interleaved docs via from_xml (piqobj_of_xml analog)") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(
      """<doc><doc_id>doc-1</doc_id><spans><kind>text</kind><text>a</text><offset>0</offset></spans><spans><kind>media</kind><media_ref>m-1</media_ref><offset>5</offset></spans></doc>""",
      """<doc><doc_id>doc-2</doc_id><spans><kind>video</kind><text>x</text><offset>0</offset></spans></doc>""",
      """this is not xml""")
    val df = rows.toDF("xml")
    val out = Convert.fromXml(df, "xml", Docs.docSpec)
    val m = out.select(col("_raw"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(m(rows(0)) === Set.empty)
    assert(m(rows(1)) === Set("unknown-enum:spans.kind"))
    assert(m(rows(2)).contains("parse:xml"))
    // repeated elements landed as an ordered array
    val spans = out.where(col("doc_id") === "doc-1").select(col("spans.kind")).collect()(0)
    assert(spans.getSeq[String](0) === Seq("text", "media"))
  }

  test("format matrix: json -> xml -> json legs preserve span sequences (test_piq analog)") {
    // the reference's format-matrix scripts convert each fixture through
    // every format pair and cmp the results (tests/examples/test_piq);
    // ours: generate -> toJson -> fromJson -> toXml -> fromXml and assert
    // per-row span-sequence equality (kind,text,media_ref,offset + order)
    // plus identical validation verdicts at both ends
    val plan = SpecCompiler.compile(Docs.docSpec)
    val docs = Docs.generate(spark, 500, 4, corruptEvery = 100)
    val fromJ = Convert.fromJson(Convert.toJson(docs, plan), "json", Docs.docSpec)
    val fromX = Convert.fromXml(
      Convert.toXml(fromJ.select("doc_id", "spans"), plan, rootTag = "doc"),
      "xml", Docs.docSpec)
    val joined = docs.alias("a").join(fromX.alias("b"), "doc_id")
    assert(joined.count() === 500)
    val mismatched = joined.where(
      !Docs.spansEqual(col("a.spans"), col("b.spans"), withOffsets = true)).count()
    assert(mismatched === 0, s"$mismatched docs lost span fidelity through json->xml")
    // verdicts survive the format trip
    val directInvalid = ValidationRunner.validate(docs, plan).where(!col("valid")).count()
    assert(fromX.where(!col("valid")).count() === directInvalid)
  }

  test("PUInt64: full uint64 domain on DecimalType(20,0) (doc/piqi.md:345-347)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.spec._
    val spec = Spec("u64", Seq(RecordDef("r", Seq(
      PField("id", PInt.int64, Required),
      PField("u", PInt.uint64, Optional())))), "r")
    assert(Convert.sparkSchema(spec)("u").dataType === org.apache.spark.sql.types.DecimalType(20, 0))
    val rows = Seq(
      """{"id":1,"u":9223372036854775808}""",   // 2^63 — past Long.MaxValue
      """{"id":2,"u":18446744073709551615}""",  // 2^64 − 1 (domain max)
      """{"id":3,"u":18446744073709551616}""",  // 2^64 → out of range
      """{"id":4,"u":-1}""",                    // negative → out of range
      """{"id":5,"u":100000000000000000000}""", // 10^20: past decimal(20,0)
      """{"id":6,"u":null}""",                  // bare null ≡ missing: legal
      """{"id":7,"u":"null"}""")                // the STRING "null": garbage
    val out = Convert.fromJson(rows.toDF("json"), "json", spec)
      .select(col("id"), col("u"), col("violations.rule"), col("violations.path")).collect()
      .filterNot(_.isNullAt(0))
      .map(r => r.getLong(0) -> r).toMap
    def vios(r: org.apache.spark.sql.Row) = r.getSeq[String](2).zip(r.getSeq[String](3))
    assert(out(1L).getSeq[String](2) === Seq.empty)
    assert(out(1L).getDecimal(1) === new java.math.BigDecimal("9223372036854775808"))
    assert(out(2L).getSeq[String](2) === Seq.empty)
    assert(out(2L).getDecimal(1) === new java.math.BigDecimal("18446744073709551615"))
    assert(out(3L).getSeq[String](2) === Seq("range:u"))
    assert(out(4L).getSeq[String](2) === Seq("range:u"))
    // past the 20-digit precision the value cannot even be REPRESENTED:
    // PERMISSIVE parsing nulls it, and the present-key-but-parsed-null
    // check turns that into a parse:value violation instead of silence
    out.get(5L).foreach(r => assert(vios(r).contains(("parse:value", "$.u"))))
    if (!out.contains(5L)) { // whole-record nulling flavor: row must still be flagged
      val r5 = Convert.fromJson(Seq(rows(4)).toDF("json"), "json", spec)
        .select(col("violations.rule"), col("violations.path")).collect()(0)
      assert(r5.getSeq[String](0).zip(r5.getSeq[String](1)).contains(("parse:value", "$.u")))
    }
    // bare JSON null is legal (null ≡ missing); the STRING "null" is not
    assert(out(6L).getSeq[String](2) === Seq.empty)
    assert(vios(out(7L)) === Seq(("parse:value", "$.u")))
    // portable blob carries the kind
    assert(SpecJson.fromJson(SpecJson.toJson(spec)) === spec)
  }

  test("PUInt64: full-domain default literals + native decimal array rules (NOTES #7 retired)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.spec._
    val max = "18446744073709551615" // 2^64 − 1
    // a default past Long.MaxValue compiles (string literal flavor)
    val spec = Spec("u64d", Seq(
      RecordDef("span", Seq(PField("u", PInt.uint64, Required))),
      RecordDef("r", Seq(
        PField("id", PInt.int64, Required),
        PField("d", PInt.uint64, Optional(Some(max))),
        PField("spans", TypeRef("span"), Repeated)))), "r")
    // resolved normalizes the string default to a BigDecimal
    val dMode = spec.resolved.defs.collect { case RecordDef("r", fs) => fs }.flatten
      .find(_.name == "d").get.mode
    assert(dMode === Optional(Some(new java.math.BigDecimal(max))))
    // out-of-domain / garbage defaults are rejected at schema load
    intercept[SpecException] {
      Spec("m", Seq(RecordDef("r", Seq(
        PField("d", PInt.uint64, Optional(Some("18446744073709551616")))))), "r")
    }
    intercept[SpecException] {
      Spec("m", Seq(RecordDef("r", Seq(
        PField("d", PInt.uint64, Optional(Some("12abc")))))), "r")
    }
    val plan = SpecCompiler.compile(spec)
    // uint64 rules ride the NATIVE array-rule program now
    assert(plan.violationCount.toString.toLowerCase.contains("structarrayrule"),
      s"expected native path, got: ${plan.violationCount.toString.take(200)}")
    // defaults materialize to the full-domain decimal
    val df = Convert.fromJson(Seq("""{"id":1,"spans":[{"u":1}]}""").toDF("json"),
      "json", spec).select("id", "d", "spans")
    assert(plan.withDefaults(df).select("d").collect()(0).getDecimal(0) ===
      new java.math.BigDecimal(max))
    // native count/detail agree with the generic walk across the domain edge
    val data = Seq(
      s"""{"id":1,"spans":[{"u":$max}]}""",
      """{"id":2,"spans":[{"u":18446744073709551616}]}""", // 2^64 → range
      """{"id":3,"spans":[{"u":-1}]}""",                    // negative → range
      """{"id":4,"spans":[{},null]}""",                     // missing u + null elem
      """{"id":5,"spans":[]}""").toDF("json")
    val parsed = Convert.fromJson(data, "json", spec).select("id", "d", "spans")
    val rowsEq = parsed.select(col("id"),
      (plan.violationCount === plan.violationCountGeneric).as("ceq"),
      (sort_array(plan.violations) === sort_array(plan.violationsGeneric)).as("deq"),
      plan.violationCount).collect()
    assert(rowsEq.forall(_.getBoolean(1)), rowsEq.mkString("; "))
    assert(rowsEq.forall(_.getBoolean(2)), rowsEq.mkString("; "))
    val byId = rowsEq.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byId(1L) === 0L)
    assert(byId(2L) === 1L)
    assert(byId(3L) === 1L)
    assert(byId(4L) === 1L)
    assert(byId(5L) === 0L)
    // full-domain default survives the portable blob (canonical-form trip)
    val back = SpecJson.fromJson(SpecJson.toJson(spec.resolved))
    assert(SpecJson.toJson(back.resolved) === SpecJson.toJson(spec.resolved))
  }

  test("PUInt64: native array rules accept a user frame carrying uint64 as LongType") {
    import graft.spec._
    import org.apache.spark.sql.types.{ArrayType => AT, StructType => ST, StructField => SF, LongType => LT}
    import scala.jdk.CollectionConverters._
    val spec = Spec("u64l", Seq(
      RecordDef("span", Seq(PField("u", PInt.uint64, Required))),
      RecordDef("r", Seq(
        PField("id", PInt.int64, Required),
        PField("spans", TypeRef("span"), Repeated)))), "r")
    val plan = SpecCompiler.compile(spec)
    // the uint64 rule still rides the native program
    assert(plan.violationCount.toString.toLowerCase.contains("structarrayrule"))
    // user-built frame: u is a PHYSICAL long, not DecimalType(20,0) — the
    // decimal rule must bind to a clamped long compare (x < 0), exactly
    // what the generic decimal-literal promotion checked, not throw
    val schema = ST(Seq(SF("id", LT), SF("spans", AT(ST(Seq(SF("u", LT)))))))
    val df = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, Seq(org.apache.spark.sql.Row(5L))),
      org.apache.spark.sql.Row(2L, Seq(org.apache.spark.sql.Row(-1L))),   // < 0 → range
      org.apache.spark.sql.Row(3L, Seq(org.apache.spark.sql.Row(Long.MaxValue))), // fits uint64
      org.apache.spark.sql.Row(4L, Seq(org.apache.spark.sql.Row(null)))   // missing u
    ).asJava, schema)
    val out = df.select(org.apache.spark.sql.functions.col("id"), plan.violationCount,
        (plan.violationCount === plan.violationCountGeneric).as("ceq"),
        plan.violations)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 0L)
    assert(out(2L).getLong(1) === 1L)
    assert(out(3L).getLong(1) === 0L)
    assert(out(4L).getLong(1) === 1L)
    assert(out.values.forall(_.getBoolean(2)), out.values.mkString("; "))
    // detail text renders the long value like the generic cast would
    val d2 = out(2L).getSeq[org.apache.spark.sql.Row](3)
    assert(d2.exists(v => v.getString(0) == "range:spans.u" && v.getString(2) == "-1"))
  }

  test("float32 fields and the uint-as-Long fast flavor (SURVEY §1.2)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.spec._
    val spec = Spec("m", Seq(
      AliasDef("uint64", PInt.uint),
      RecordDef("r", Seq(
        PField("f32", PFloat32, Required, Seq(InRange(0.0, 10.0))),
        PField("u", TypeRef("uint64"), Required)))), "r")
    assert(Convert.sparkSchema(spec).fields.map(f => (f.name, f.dataType.simpleString)).toSeq
      === Seq(("f32", "float"), ("u", "bigint")))
    val ok = Convert.fromJson(Seq("""{"f32":1.5,"u":123}""").toDF("json"), "json", spec)
    assert(ok.select(size(col("violations"))).collect()(0).getInt(0) === 0)
    assert(ok.select(col("f32")).collect()(0).getFloat(0) === 1.5f)
    val range = Convert.fromJson(Seq("""{"f32":99.0,"u":1}""").toDF("json"), "json", spec)
    assert(range.select(col("violations.rule")).collect()(0).getSeq[String](0)
      === Seq("range:f32"))
    // uint64 beyond Long.MaxValue cannot round-trip (LongType repr): the
    // value does NOT survive and the row is flagged, never silently wrong
    val big = Convert.fromJson(
      Seq("""{"f32":1.0,"u":18446744073709551615}""").toDF("json"), "json", spec)
    val r = big.select(col("u"), col("violations.rule")).collect()(0)
    assert(r.isNullAt(0) || r.getLong(0) === Long.MaxValue)
    if (r.isNullAt(0)) assert(r.getSeq[String](1).nonEmpty)
  }

  test("toJson: omit-missing and add-defaults semantics (B4/B20/D1)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.spec._
    val spec = Spec("m", Seq(RecordDef("r", Seq(
      PField("a", PString, Required),
      PField("b", PString, Optional(Some("dflt"))),
      PField("tag", PBool, Flag)))), "r")
    val plan = SpecCompiler.compile(spec)
    val df = Seq(("x", null: String, null: java.lang.Boolean)).toDF("a", "b", "tag")

    // omit-missing (reference default): nulls dropped
    val omitted = Convert.toJson(df, plan).collect()(0).getString(0)
    assert(omitted === """{"a":"x"}""")
    // add-defaults: optional default + flag-false materialized (convert.ml:316-324)
    val defaulted = Convert.toJson(df, plan, addDefaults = true).collect()(0).getString(0)
    assert(defaulted === """{"a":"x","b":"dflt","tag":false}""")
    // keep nulls mode
    val kept = Convert.toJson(df, plan, omitMissing = false).collect()(0).getString(0)
    assert(kept === """{"a":"x","b":null,"tag":null}""")
  }

  test("multimodal: real PNG/WAV decode, poison/null isolation, determinism") {
    val media = Multimodal.synthesizeMedia(spark, 200, numPartitions = 4)
    val feats = Multimodal.extractFeatures(media, dim = 16)
    val rows = feats.collect()
    assert(rows.length === 200)
    val failed = rows.filterNot(_.ok)
    // nulls: ids 0,50,100,150 (4); poison (payload truncated to 8 bytes):
    // id%7==0 minus id 0 which is already null → 28
    assert(failed.length === 32)
    assert(rows.filter(_.ok).forall(_.features.length === 16))
    val byRef = rows.map(r => r.media_ref -> r).toMap
    // REAL ImageIO decode: true pixel dims for id=3 (w = h = 8 + 3*4 = 20)
    assert(byRef("m-3").features(0) === 20f && byRef("m-3").features(1) === 20f)
    // REAL WAV decode: 8 kHz mono, 16 + 1*8 = 24 samples for id=1
    assert(byRef("m-1").features(0) === 8000f)
    assert(byRef("m-1").features(1) === 1f)
    assert(byRef("m-1").features(2) === 24f)
    // REAL MJPEG-AVI decode: id=2 → 2 + 2%6 = 4 frames of 24×20, 25 fps,
    // all parsed from the RIFF tree and decoded JPEG-by-JPEG
    assert(byRef("m-2").features(0) === 4f)
    assert(byRef("m-2").features(1) === 24f && byRef("m-2").features(2) === 20f)
    assert(byRef("m-2").features(3) === 25f)
    // luminance from really-decoded pixels: mean within [min, max] ⊂ [0,255]
    assert(byRef("m-2").features(5) >= 0f && byRef("m-2").features(6) <= 255f)
    assert(byRef("m-2").features(4) >= byRef("m-2").features(5) &&
      byRef("m-2").features(4) <= byRef("m-2").features(6))
    // poison payloads fail per-row, not per-task
    assert(!byRef("m-7").ok && !byRef("m-49").ok)
    // determinism: a second run gives identical checksums
    val again = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(rows.map(r => r.media_ref -> r.checksum).toMap ===
      again.map(r => r.media_ref -> r.checksum).toMap)
  }

  test("multimodal: frame sampling and resize plans") {
    val media = Multimodal.synthesizeMedia(spark, 30, numPartitions = 2)
    val frames = Multimodal.sampleFrames(media, everyMs = 5000)
    val perRef = frames.groupBy("media_ref").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perRef.nonEmpty)
    // each video contributes ceil(duration/5000) frames
    val durs = media.where(col("mime") === "video/avi")
      .select("media_ref", "duration_ms").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    durs.foreach { case (ref, d) =>
      assert(perRef(ref) === (d + 4999) / 5000, s"ref=$ref dur=$d")
    }
    val resized = Multimodal.resizePlan(media, maxSide = 32).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      assert(math.max(r.getInt(3), r.getInt(4)) <= 32)
    }
    // at least one real downscale happened (PNG dims go up to 68×52)
    assert(resized.exists(r => r.getInt(3) < r.getInt(1) || r.getInt(4) < r.getInt(2)))
  }

  /** A test that starts streaming queries: each start logs Spark's two
    * WARNs that AQE is off in streaming (`ResolveWriteToStream`,
    * `MicroBatchExecution`). Those loggers, and `loggers`, run at ERROR, so
    * an error still shows. */
  private def streamTest(name: String, loggers: String*)(body: => Any)(
      implicit pos: org.scalactic.source.Position): Unit =
    test(name)(withLoggersAt(org.apache.logging.log4j.Level.ERROR,
      Seq("org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution") ++ loggers: _*)(body))

  /** A [[streamTest]] whose stateful query restarts: each restart logs
    * WARNs for the older state snapshots it does not load
    * (`ChecksumCheckpointFileManager`: no checksum file for a snapshot;
    * `HDFSBackedStateStoreProvider`: a version not in the loaded maps). The
    * provider's logger name carries its store id after the class name, so
    * its level comes from the package's logger. */
  private def restartingStreamTest(name: String)(body: => Any)(implicit pos: org.scalactic.source.Position): Unit =
    streamTest(name,
      "org.apache.spark.sql.execution.streaming.checkpointing.ChecksumCheckpointFileManager",
      "org.apache.spark.sql.execution.streaming.state")(body)

  restartingStreamTest("streaming: windowed validation summary over file stream") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    val schema = StructType(Docs.docSchema.fields :+ StructField("ts", TimestampType))
    // write two batches of docs with event times
    val d1 = Docs.generate(spark, 100, 2, corruptEvery = 25)
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:10")))
    d1.write.mode("append").parquet(dir)
    val plan = SpecCompiler.compile(Docs.docSpec)
    val stream = graft.streaming.ValidateStream.fromParquetDir(spark, dir, schema)
    val validated = ValidationRunner.validate(stream, plan)
    val summary = graft.streaming.ValidateStream.windowedSummary(validated, "ts")
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    def runOnce(): Unit = {
      val q = summary.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow windowed summary did not terminate")
    }
    runOnce()
    // append-mode windowed agg emits only watermark-closed windows; a second
    // batch past the watermark closes the first window
    val d2 = Docs.generate(spark, 10, 1)
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:10:00")))
    d2.write.mode("append").parquet(dir)
    runOnce()
    val out = spark.read.parquet(outDir).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n_docs") === 100)
    assert(out(0).getAs[Long]("n_invalid") === 4)
  }

  restartingStreamTest("streaming: stateful first-seen dedup across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-dedup-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedup-ck").toString
    // batch 1: docs 0..99 plus a hot duplicate every 10
    Docs.generate(spark, 100, 2, hotEvery = 10).write.mode("append").parquet(dir)
    def runOnce(): Unit = {
      val stream = graft.streaming.ValidateStream.fromParquetDir(spark, dir, Docs.docSchema)
      val deduped = graft.streaming.ValidateStream.dedupFirstSeen(stream, "doc_id")
      val q = deduped.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow first-seen dedup did not terminate")
    }
    runOnce()
    val firstCount = spark.read.parquet(outDir).count()
    // 100 docs, 10 of them share doc_id "doc-hot" → 91 distinct keys
    assert(firstCount === 91)
    // batch 2: same docs again (all duplicates) + 10 new ones
    Docs.generate(spark, 100, 2, hotEvery = 10).write.mode("append").parquet(dir)
    Docs.generate(spark, 110, 2).where(col("doc_id") >= "doc-000000000100")
      .write.mode("append").parquet(dir)
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() === 101) // +10 new keys only; state dropped all repeats
    assert(all.groupBy("doc_id").count().where(col("count") > 1).count() === 0)
  }

  restartingStreamTest("streaming: watermarked first-seen dedup forgets keys past the event-time horizon") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-horizon-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-horizon-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-horizon-ck").toString
    val schema = StructType(Docs.docSchema.fields :+ StructField("ts", TimestampType))
    def write(docs: org.apache.spark.sql.DataFrame, at: String): Unit =
      docs.withColumn("ts", to_timestamp(lit(s"2026-01-01 $at"))).write.mode("append").parquet(dir)
    def runOnce(): Long = {
      val stream = graft.streaming.ValidateStream.fromParquetDir(spark, dir, schema)
        .withWatermark("ts", "1 minute")
      val deduped = graft.streaming.ValidateStream.dedupFirstSeen(stream, "doc_id")
      val q = deduped.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow watermarked dedup did not terminate")
      spark.read.parquet(outDir).count()
    }
    write(Docs.generate(spark, 50, 1), "00:00:00")
    assert(runOnce() === 50)
    // the same docs 10 s later: within the 1-minute horizon, all dropped
    write(Docs.generate(spark, 50, 1), "00:00:10")
    assert(runOnce() === 50)
    // one new doc 10 minutes later passes and moves the watermark past
    // every first event + 1 minute, which evicts those keys' state
    write(Docs.generate(spark, 51, 1).where(col("doc_id") === "doc-000000000050"), "00:10:00")
    assert(runOnce() === 51)
    // so the same 50 docs at +10 min count as first-seen again
    write(Docs.generate(spark, 50, 1), "00:10:00")
    assert(runOnce() === 101)
  }

  restartingStreamTest("streaming: near-dup detection against keyed bucket state (cross-batch)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-neardup-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-neardup-ck").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    // nonlinear (i, j) mix — linear token formulas make "distinct" docs
    // overlap heavily (the DedupCorpus r3 lesson)
    def base(i: Int) = (0 until 30).map { j =>
      var x = i.toLong * 2654435761L + j * 1013904223L
      x ^= x >>> 16; x *= 2246822519L; x ^= x >>> 13
      s"tok${java.lang.Math.floorMod(x, 100000L)}"
    }.mkString(" ")
    // batch 1: 20 distinct docs
    (0 until 20).map(i => (i.toLong, base(i))).toDF("id", "text")
      .write.mode("append").parquet(dir)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val hits = graft.streaming.ValidateStream.nearDupPairs(
        stream, "id", "text", numHashes = 32, bands = 8, threshold = 0.9)
      val q = hits.toDF.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow near-dup pairs did not terminate")
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() === 0, "distinct docs must not pair")
    // batch 2: an exact copy of doc 3 (new id 103) and a fresh doc 21 —
    // the copy must pair with doc 3 ACROSS batches via restored state
    Seq((103L, base(3)), (21L, base(21))).toDF("id", "text")
      .write.mode("append").parquet(dir)
    runOnce()
    val pairs = spark.read.parquet(outDir)
      .select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((3L, 103L)), s"got $pairs")
    // batch 3: in-batch pair (two copies of a new doc) detected within one batch
    Seq((200L, base(50)), (201L, base(50))).toDF("id", "text")
      .write.mode("append").parquet(dir)
    runOnce()
    val pairs3 = spark.read.parquet(outDir)
      .select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs3 === Set((3L, 103L), (200L, 201L)), s"got $pairs3")
  }

  restartingStreamTest("near-dup bucket cap: the 5-doc probe gives the batch's pairs in one stream micro-batch") {
    val spark0 = spark
    import spark0.implicits._
    // 5 identical docs: every band bucket sees all 5
    val text = (0 until 30).map(j => s"w$j").mkString(" ")
    val docs = (0L until 5L).map(id => (id, text))
    val all = (for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)).toSet
    def hitsOf(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def batch(rows: Seq[(Long, String)], cap: Int) = hitsOf(graft.ops.Dedup.minhashNearDups(
      rows.toDF("id", "text"), "id", "text", numHashes = 32, bands = 8, threshold = 0.9, maxBucket = cap)).toSet
    /** The stream's hits, one per pair and band bucket, after one AvailableNow
      * run per part of `parts`, on one checkpoint. */
    def stream(parts: Seq[Seq[(Long, String)]], cap: Int) = {
      val Seq(in, out, ck) = Seq("in", "out", "ck")
        .map(d => java.nio.file.Files.createTempDirectory(s"graft-probe-$d").toString)
      parts.foreach { part =>
        part.toDF("id", "text").coalesce(1).write.mode("append").parquet(in)
        val hits = graft.streaming.ValidateStream.nearDupPairs(
          spark.readStream.schema("id long, text string").parquet(in), "id", "text",
          numHashes = 32, bands = 8, threshold = 0.9, maxBucket = cap)
        val q = hits.toDF.writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "AvailableNow near-dup probe did not terminate")
      }
      hitsOf(spark.read.schema("id_a long, id_b long, sig_sim double").parquet(out))
    }
    // a bucket that has seen more than the cap yields no pairs; cap 0 is no cap
    for ((cap, expected) <- Seq(3 -> Set.empty[(Long, Long)], 5 -> all, 0 -> all)) withClue(s"cap $cap: ") {
      assert(batch(docs, cap) === expected)
      assert(stream(Seq(docs), cap).toSet === expected)
    }
    // micro-batches of 3 then 2 docs at cap 3: the first batch's pairs
    // stand, and the overflowing second batch adds none
    val first3 = docs.take(3)
    assert(batch(first3, 3) === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(stream(Seq(first3, docs.drop(3)), 3).toSet === batch(first3, 3))
    // uncapped, the second micro-batch emits only the pairs its arrivals
    // make: each pair once in each of its 8 band buckets
    val split = stream(Seq(first3, docs.drop(3)), 0)
    assert(split.toSet === all)
    assert(split.size === all.size * 8)
  }

  streamTest("streaming: violation rows written exactly-once via checkpointed file sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vstream-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-vstream-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vstream-ck").toString
    Docs.generate(spark, 200, 2, corruptEvery = 50).write.mode("append").parquet(dir)
    val plan = SpecCompiler.compile(Docs.docSpec)
    val stream = graft.streaming.ValidateStream.fromParquetDir(spark, dir, Docs.docSchema)
    val validated = ValidationRunner.validate(stream, plan)
    val q = graft.streaming.ValidateStream
      .writeViolations(validated, "doc_id", outDir, ckpt).start()
    assert(q.awaitTermination(60000), "AvailableNow violations sink did not terminate")
    val written = spark.read.parquet(outDir)
    assert(written.count() === 4)
    // re-run with same checkpoint: no duplicates
    val q2 = graft.streaming.ValidateStream
      .writeViolations(validated, "doc_id", outDir, ckpt).start()
    assert(q2.awaitTermination(60000), "AvailableNow violations sink re-run did not terminate")
    assert(spark.read.parquet(outDir).count() === 4)
  }

  test("XML ingest: empty-but-valid vs garbage vs unknown element (B21/B23 narrowed)") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("x", Seq(RecordDef("doc", Seq(
      PField("a", PString, Optional()),
      PField("b", PInt.int64, Optional())))), "doc", strict = true)
    val rows = Seq(
      "<value><a>hi</a></value>",
      "<value/>",                    // empty but valid: all-optional schema
      "not xml at all",              // garbage → parse:xml
      "<value><zzz>1</zzz></value>", // unknown element (strict)
      "<value><!-- <legacy> gone --><![CDATA[<fake>]]><a>x</a></value>")
    val out = Convert.fromXml(rows.toDF("xml"), "xml", spec)
      .select(col("_raw"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(out(rows(0)) === Set.empty)
    assert(out(rows(1)) === Set.empty, "empty document must not be a parse failure")
    assert(out(rows(2)).contains("parse:xml"))
    assert(out(rows(3)).contains("unknown-element"))
    // element-like names inside comments/CDATA are not elements
    assert(!out(rows(4)).contains("unknown-element"), out(rows(4)).toString)
  }

  test("json-name: parse by JSON key at every level, emit under it, declared name unknown under strict") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec(
      module = "jn",
      defs = Seq(
        RecordDef("inner", Seq(
          PField("deep_val", PInt.int32, Required, jsonName = Some("deepVal")))),
        VariantDef("pay", Seq(
          POption("a_num", Some(PInt.int64), jsonName = Some("aNum")),
          POption("tagged"))),
        RecordDef("doc", Seq(
          PField("doc_id", PInt.int64, Required),
          PField("full_text", PString, Required, jsonName = Some("fullText")),
          PField("nested", TypeRef("inner"), Optional()),
          PField("items", TypeRef("inner"), Repeated, jsonName = Some("itemList")),
          PField("p", TypeRef("pay"), Optional())))),
      root = "doc", strict = true)

    val good = """{"doc_id":1,"fullText":"hi","nested":{"deepVal":7},""" +
      """"itemList":[{"deepVal":1},{"deepVal":2}],"p":{"aNum":9}}"""
    val declared = """{"doc_id":2,"full_text":"hi"}""" // declared name is NOT a legal key
    val out = Convert.fromJson(Seq(good, declared).toDF("json"), "json", spec)
      .select(col("_raw"), col("violations.rule"), col("full_text"),
        col("nested.deep_val"), col("items"), col("p.a_num"))
      .collect().map(r => r.getString(0) -> r).toMap

    // good doc: zero violations, values land under DECLARED column names
    assert(out(good).getSeq[String](1) === Seq.empty)
    assert(out(good).getString(2) === "hi")
    assert(out(good).getLong(3) === 7L)
    assert(out(good).getSeq[org.apache.spark.sql.Row](4).map(_.getLong(0)) === Seq(1L, 2L))
    assert(out(good).getLong(5) === 9L)

    // declared-name doc: full_text is an unknown key (strict) AND the field
    // is missing (it was not provided under its JSON key)
    val rules = out(declared).getSeq[String](1).toSet
    assert(rules === Set("unknown-field", "missing-field:full_text"))

    // emit: JSON keys come back out (piqobj_to_json.ml:115,151,164)
    val plan = SpecCompiler.compile(spec)
    val parsed = Convert.fromJson(Seq(good).toDF("json"), "json", spec)
      .select("doc_id", "full_text", "nested", "items", "p")
    val emitted = Convert.toJson(parsed, plan).collect()(0).getString(0)
    assert(emitted.contains("\"fullText\"") && emitted.contains("\"deepVal\"") &&
      emitted.contains("\"itemList\"") && emitted.contains("\"aNum\""))
    assert(!emitted.contains("full_text") && !emitted.contains("deep_val") &&
      !emitted.contains("a_num"))

    // roundtrip: emitted JSON re-ingests clean under the same strict spec
    val back = Convert.fromJson(Seq(emitted).toDF("json"), "json", spec)
    assert(back.select("valid").collect()(0).getBoolean(0))
  }

  test("multimodal: bulk-raster image path is bit-identical to the getRGB reference") {
    // PNG RGB decodes to TYPE_3BYTE_BGR → bulk path; features must equal
    // the per-pixel getRGB twin exactly (same 0-255 ints, same op order)
    (0L until 40L).foreach { id =>
      val (png, _, _) = Multimodal.makePng(id)
      val fast = Multimodal.imageFeatures(png, 16)
      val ref = Multimodal.imageFeaturesRef(png, 16)
      assert(fast.toSeq === ref.toSeq, s"id=$id bulk != getRGB reference")
    }
    // gray PNG (no 3-band fast path) → fallback; still equals the reference
    val gimg = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 7).foreach(y => (0 until 9).foreach(x =>
      gimg.setRGB(x, y, (x * 31 + y * 7) % 256 * 0x010101)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gimg, "png", bos)
    assert(Multimodal.imageFeatures(bos.toByteArray, 16).toSeq ===
      Multimodal.imageFeaturesRef(bos.toByteArray, 16).toSeq)
  }

  test("multimodal: non-16-bit-LE WAV flavors transcode instead of misreading") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wavBytes(fmt: AudioFormat, pcm: Array[Byte], frames: Long): Array[Byte] = {
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, frames)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val n = 64
    val samples = Array.tabulate(n)(i => ((i * 37) % 2000 - 1000).toShort)
    val le = new Array[Byte](n * 2); val be = new Array[Byte](n * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      le(2 * i) = (s & 0xff).toByte; le(2 * i + 1) = ((s >> 8) & 0xff).toByte
      be(2 * i) = ((s >> 8) & 0xff).toByte; be(2 * i + 1) = (s & 0xff).toByte
    }
    val u8 = Array.tabulate(n)(i => (((samples(i) >> 8) + 128) & 0xff).toByte)
    val leWav = wavBytes(new AudioFormat(8000f, 16, 1, true, false), le, n.toLong)
    val beWav = wavBytes(new AudioFormat(8000f, 16, 1, true, true), be, n.toLong)
    val u8Wav = wavBytes(new AudioFormat(8000f, 8, 1, false, false), u8, n.toLong)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("le", "audio/wav", leWav, null, null, null),
        org.apache.spark.sql.Row("be", "audio/wav", beWav, null, null, null),
        org.apache.spark.sql.Row("u8", "audio/wav", u8Wav, null, null, null)), 1),
      Multimodal.mediaSchema)
    val rows = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(r => r.media_ref -> r).toMap
    assert(rows.values.forall(_.ok), rows.toString)
    // big-endian carries the SAME samples: features identical to LE after transcode
    assert(rows("be").features.toSeq === rows("le").features.toSeq)
    // 8-bit unsigned transcodes (samples scale to the upper byte): header
    // rate/channels reported, sample count preserved, not misread as 16-bit
    assert(rows("u8").features(0) === 8000f)
    assert(rows("u8").features(1) === 1f)
    assert(rows("u8").features(2) === n.toFloat)
  }

  test("deprecatedUsage: a projected-away deprecated column reports 0, not an error") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("dep", Seq(RecordDef("r", Seq(
      PField("id", PInt.int64, Required),
      PField("old_a", PString, Optional(), deprecated = true),
      PField("old_b", PString, Optional(), deprecated = true)))), "r")
    val plan = graft.compile.SpecCompiler.compile(spec)
    val df = Seq((1L, "x"), (2L, null)).toDF("id", "old_a") // old_b projected away
    val rep = graft.exec.ValidationRunner.deprecatedUsage(df, plan)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep("old_a") === ((1L, 2L)))
    assert(rep("old_b") === ((0L, 2L)))
  }

  test("XML: foreign root ok; namespaces and attributes rejected like the reference") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("x2", Seq(RecordDef("doc", Seq(
      PField("a", PString, Optional())))), "doc", strict = true)
    val rows = Seq(
      "<record><a>hi</a></record>",            // root differs from rootTag param
      "<value><ns:a>hi</ns:a></value>",        // prefixed element name
      "<record><zzz>1</zzz></record>",         // foreign root + truly unknown child
      "<value xmlns=\"urn:x\"><a>hi</a></value>", // namespace declaration = attribute
      "<value><a lang=\"en\">hi</a></value>",  // plain attribute
      "<value><a>x = y</a></value>")           // '=' in TEXT must not false-positive
    val out = Convert.fromXml(rows.toDF("xml"), "xml", spec)
      .select(col("_raw"), col("violations.rule"), col("violations.detail")).collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getSeq[String](2)))).toMap
    assert(!out(rows(0))._1.contains("unknown-element"), out(rows(0)).toString)
    // `piqi_xml.ml:129`: "namespaces are not allowed in XML element names"
    assert(out(rows(1))._1.contains("xml-namespace"), out(rows(1)).toString)
    assert(out(rows(1))._2.exists(_.contains("ns:a")), out(rows(1)).toString)
    assert(!out(rows(1))._1.contains("unknown-element"), out(rows(1)).toString)
    assert(out(rows(2))._1.contains("unknown-element"))
    // `piqi_xml.ml:132`: "attributes are not allowed in XML elements"
    assert(out(rows(3))._1.contains("xml-attribute"), out(rows(3)).toString)
    assert(out(rows(4))._1.contains("xml-attribute"), out(rows(4)).toString)
    assert(out(rows(4))._2.exists(_.contains("a")), out(rows(4)).toString)
    assert(out(rows(5))._1.forall(r => r != "xml-attribute" && r != "xml-namespace"),
      out(rows(5)).toString)
  }

  test("XML strict scan: known element in a WRONG POSITION is flagged (xpath count check)") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("x3", Seq(
      RecordDef("inner", Seq(PField("b", PInt.int64, Optional()))),
      RecordDef("doc", Seq(
        PField("a", PString, Optional()),
        PField("nested", TypeRef("inner"), Optional()),
        PField("tags", PString, Repeated)))), "doc", strict = true)
    val rows = Seq(
      "<value><a>hi</a><nested><b>1</b></nested></value>",  // everything in place
      "<value><b>1</b></value>",                            // b belongs under nested
      "<value><a>hi</a><nested><a>dup</a></nested></value>",// a nested where only root declares it
      "<value><tags>x</tags><tags>y</tags></value>",        // repeated in place
      "<value><nested><b>1</b><b>2</b></nested></value>",   // repeated b in place (count-safe)
      "not xml")                                            // malformed: xpath must not throw
    val out = Convert.fromXml(rows.toDF("xml"), "xml", spec)
      .select(col("_raw"), col("violations.rule"), col("violations.detail")).collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getSeq[String](2)))).toMap
    assert(!out(rows(0))._1.contains("wrong-position-element"), out(rows(0)).toString)
    assert(out(rows(1))._1.contains("wrong-position-element"))
    assert(out(rows(1))._2.exists(_.contains("b")))
    assert(out(rows(2))._1.contains("wrong-position-element"))
    assert(!out(rows(3))._1.contains("wrong-position-element"), out(rows(3)).toString)
    assert(!out(rows(4))._1.contains("wrong-position-element"), out(rows(4)).toString)
    assert(out(rows(5))._1.contains("parse:xml"))
    assert(!out(rows(5))._1.contains("wrong-position-element"))
  }

  test("XML strict scan: DOCTYPE docs do not kill the xpath probe (secure-processing gap)") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("x4", Seq(
      RecordDef("inner", Seq(PField("b", PInt.int64, Optional()))),
      RecordDef("doc", Seq(
        PField("a", PString, Optional()),
        PField("nested", TypeRef("inner"), Optional())))), "doc", strict = true)
    val rows = Seq(
      // DOCTYPE (with internal subset) + clean body: Spark's xpath would
      // throw on the DTD under secure processing; stripped, it must probe
      "<!DOCTYPE value [<!ELEMENT value ANY>]><value><a>hi</a></value>",
      // DOCTYPE + a genuinely misplaced known element: still FLAGGED
      "<!DOCTYPE value><value><b>1</b></value>",
      // custom entity the (stripped) DTD defined: exempted, not a crash
      "<!DOCTYPE value [<!ENTITY who \"world\">]><value><a>&who;</a></value>",
      // predefined entities stay probed
      "<value><a>a&amp;b</a></value>")
    val out = Convert.fromXml(rows.toDF("xml"), "xml", spec)
      .select(col("_raw"), col("violations.rule")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(!out(rows(0)).contains("wrong-position-element"), out(rows(0)).toString)
    assert(out(rows(1)).contains("wrong-position-element"), out(rows(1)).toString)
    assert(!out(rows(2)).contains("wrong-position-element"), out(rows(2)).toString)
    assert(!out(rows(3)).contains("wrong-position-element"), out(rows(3)).toString)
  }

  test("nested scalar conversion failures surface as parse:value (raw-space probe)") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    val spec = Spec("nest", Seq(
      RecordDef("inner", Seq(
        PField("deep_val", PInt.int32, Optional()),
        PField("ratio", PFloat, Optional()),
        PField("flag", PBool, Optional()))),
      RecordDef("doc", Seq(
        PField("id", PInt.int64, Required),
        PField("nested", TypeRef("inner"), Optional()),
        PField("nums", PInt.int64, Repeated)))), "doc")
    val docs = Seq(
      """{"id":1,"nested":{"deepVal_unused":0,"deep_val":3,"ratio":1.5,"flag":true},"nums":[1,2]}""",
      """{"id":2,"nested":{"deep_val":"x"}}""",             // garbage nested int
      """{"id":3,"nested":{"ratio":"abc"}}""",              // garbage nested float
      """{"id":4,"nested":{"flag":"yes"}}""",               // garbage nested bool
      """{"id":5,"nums":[1,"a",3]}""",                      // garbage array element
      """{"id":6,"nested":{"deep_val":99999999999999999999}}""", // past Long
      """{"id":7,"nested":{"deep_val":null}}""").toDF("json") // null ≡ missing
    val out = Convert.fromJson(docs, "json", spec)
      .select(col("id"),
        expr("transform(violations, v -> concat(v.rule, '@', v.path))").as("v"))
      .collect().filterNot(_.isNullAt(0)).map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(!out(1L).exists(_.startsWith("parse:value")), out(1L).toString)
    assert(out(2L).exists(v => v.startsWith("parse:value@") && v.contains("nested.deep_val")),
      out(2L).toString)
    assert(out(3L).exists(_.contains("nested.ratio")), out(3L).toString)
    assert(out(4L).exists(_.contains("nested.flag")), out(4L).toString)
    assert(out(5L).exists(v => v.startsWith("parse:value@") && v.contains("nums[1]")),
      out(5L).toString)
    assert(out(6L).exists(_.contains("nested.deep_val")), out(6L).toString)
    assert(!out(7L).exists(_.startsWith("parse:value")), out(7L).toString)
  }

  test("only JSON null is absent: the string \"null\" is a value at every level and node") {
    import graft.spec._
    import org.apache.spark.sql.Row
    val spark0 = spark
    import spark0.implicits._
    def mkSpec(strict: Boolean) = Spec("n", Seq(
      RecordDef("inner", Seq(PField("v", PInt.int32, Optional()))),
      RecordDef("doc", Seq(
        PField("i", PInt.int64, Required),
        PField("inner", TypeRef("inner"), Optional()),
        PField("nums", PInt.int64, Repeated)))), "doc", strict = strict)
    val docs = Seq(
      """{"i":1,"inner":{"v":"null"}}""",
      """{"i":2,"inner":"null"}""",
      """{"i":3,"nums":"null"}""",
      """{"i":4,"inner":{"v":null},"nums":null}""",
      """{"i":5,"inner":null}""")
    for (strict <- Seq(false, true)) {
      val out = Convert.fromJson(docs.toDF("json"), "json", mkSpec(strict))
        .select(col("_raw"), col("violations")).collect()
        .map(r => r.getString(0) -> r.getSeq[Row](1)
          .map(v => (v.getString(0), v.getString(1), v.getString(2)))).toMap
      assert(out(docs(0)) === Seq(("parse:value", "$.inner.v", "null")), s"strict=$strict")
      assert(out(docs(1)) === Seq(("parse:object-expected", "$.inner", "null")), s"strict=$strict")
      assert(out(docs(2)) === Seq(("parse:array-expected", "$.nums", "null")), s"strict=$strict")
      assert(out(docs(3)).isEmpty && out(docs(4)).isEmpty, s"strict=$strict")
    }
  }

  test("quoted scalars: strict flags \"123\"-for-int at every level; non-strict plays relaxed") {
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    def mkSpec(strict: Boolean) = Spec("q", Seq(
      RecordDef("inner", Seq(
        PField("deep_val", PInt.int32, Optional()),
        PField("ratio", PFloat, Optional()),
        PField("flag", PBool, Optional()))),
      RecordDef("doc", Seq(
        PField("id", PInt.int64, Required),
        PField("nested", TypeRef("inner"), Optional()),
        PField("nums", PInt.int64, Repeated)))), "doc", strict = strict)
    val docs = Seq(
      """{"id":1,"nested":{"deep_val":3,"ratio":1.5,"flag":true},"nums":[1,2]}""",
      """{"id":2,"nested":{"deep_val":"3"}}""",   // QUOTED int (valid digits)
      """{"id":3,"nested":{"ratio":"1.5"}}""",    // QUOTED float
      """{"id":4,"nested":{"flag":"true"}}""",    // QUOTED bool
      """{"id":5,"nums":[1,"2",3]}""",            // QUOTED array element
      """{"id":6,"nested":{"deep_val":"x"}}""",   // garbage: raw probe's case
      """{"id":7,"nums":[1,null,3]}""").toDF("json") // null element: legal
    def run(strict: Boolean) = Convert.fromJson(docs, "json", mkSpec(strict))
      .select(col("id"),
        expr("transform(violations, v -> concat(v.rule, '@', v.path))").as("v"),
        expr("size(filter(violations, v -> v.rule like 'parse:value%'))").as("npv"))
      .collect().filterNot(_.isNullAt(0))
      .map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getInt(2)))).toMap
    val st = run(strict = true)
    assert(st(1L)._2 === 0, st(1L).toString)
    // quoted scalars: flagged EXACTLY ONCE each (typed-parse probe; the
    // raw-space probe stays quiet because the digits parse)
    assert(st(2L)._1.exists(v => v.startsWith("parse:value@") && v.contains("nested.deep_val")) &&
      st(2L)._2 === 1, st(2L).toString)
    assert(st(3L)._1.exists(_.contains("nested.ratio")) && st(3L)._2 === 1, st(3L).toString)
    assert(st(4L)._1.exists(_.contains("nested.flag")) && st(4L)._2 === 1, st(4L).toString)
    assert(st(5L)._1.exists(v => v.startsWith("parse:value@") && v.contains("nums")) &&
      st(5L)._2 === 1, st(5L).toString)
    // garbage keeps exactly one violation too (probes are disjoint)
    assert(st(6L)._1.exists(_.contains("nested.deep_val")) && st(6L)._2 === 1, st(6L).toString)
    assert(st(7L)._2 === 0, st(7L).toString)
    // non-strict ≡ the reference's relaxed mode: quoted accepted, garbage still caught
    val rx = run(strict = false)
    assert(rx(2L)._2 === 0 && rx(3L)._2 === 0 && rx(4L)._2 === 0 && rx(5L)._2 === 0)
    assert(rx(6L)._2 === 1, rx(6L).toString)
  }
}
