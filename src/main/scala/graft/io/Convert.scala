package graft.io

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.compile.{SpecCompiler, ValidationPlan}
import graft.spec._

/**
 * Format ingest + normalize/emit — the Spark analog of `piqi convert`
 * (`src/convert.ml:534-573`): read format X, validate against the spec,
 * re-emit format Y with optional defaults materialization.
 */
object Convert {

  /** Build the Spark read-schema for a spec's root record (all nullable —
    * requiredness is validated, not enforced by the reader). Field names are
    * the DECLARED names — the engine-internal shape every compiled plan
    * addresses. */
  def sparkSchema(spec: Spec): StructType = schemaFor(spec, external = false)

  /** The JSON-facing twin of [[sparkSchema]]: field/option names are the
    * effective JSON keys (json-name override honored at every level) — the
    * shape `from_json` must parse, per the reference's resolve-by-json-name
    * semantics (`piqobj_of_json.ml:171,241,277`). */
  def jsonSchema(spec: Spec): StructType = schemaFor(spec, external = true)

  private def schemaFor(spec: Spec, external: Boolean): StructType = {
    val s = spec.resolved
    // finite-but-recursive types (SpecChecks A5 productivity semantics) are
    // unrolled to spec.maxDepth occurrences per type def; at the cutoff the
    // subtree is typed StringType — Spark's JSON parser captures any value
    // as its raw text for a string field, so beyond-depth content survives
    // as a raw blob and the compiled plan's `depth:` rule can see presence
    def dataTypeOf(sh: TypeShape): DataType = sh match {
      case TypeShape.Leaf(base, _) => base match {
        case PBool => BooleanType
        case _: PInt => LongType
        case PFloat => DoubleType
        case PFloat32 => FloatType
        case PUInt64 => DecimalType(20, 0) // full uint64 domain (doc/piqi.md:345-347)
        case PString => StringType
        case PBinary => BinaryType
        case PAny => StringType // raw JSON capture, parsed lazily (piqobj.ml:267-318 analog)
      }
      case _: TypeShape.Enum | _: TypeShape.Cut => StringType
      case r: TypeShape.Record => structOf(r)
      case TypeShape.Variant(options, depth, _) =>
        StructType(options.map(o => StructField(
          if (external) o.jsonKey else o.name,
          o.tpe.map(t => dataTypeOf(s.shape(t, depth))).getOrElse(BooleanType), nullable = true)))
      case l: TypeShape.ListOf => ArrayType(dataTypeOf(s.shape(l.elem, l.depth)))
    }
    def structOf(r: TypeShape.Record): StructType = StructType(r.fields.map { f =>
      val dt = dataTypeOf(s.shape(f.tpe, r.depth))
      StructField(if (external) f.jsonKey else f.name,
        if (f.mode == Repeated) ArrayType(dt) else dt, nullable = true)
    })
    structOf(s.rootRecord)
  }

  // ---------- json-name rename trees ----------

  /** The rewrite of a value of shape `sh` renaming struct fields between
    * the declared (internal) and JSON (external) name spaces; None where
    * its subtree declares no json-name. Recursive types stop at the
    * schema's maxDepth cutoff (the value there is a raw-capture string —
    * nothing to rename; below the cutoff content stays under its
    * on-the-wire names). */
  private def renaming(sh: TypeShape, s: Spec, toExternal: Boolean): Option[Column => Column] = {
    /** A struct of members (declared name, json-name, type, repeated). */
    def members(ms: Seq[(String, Option[String], Option[PiqiType], Boolean)],
        depth: UnrollDepth): Option[Column => Column] = {
      val rws = ms.map { case (_, _, t, repeated) => memberRenaming(t, repeated, depth, s, toExternal) }
      if (ms.forall(_._2.isEmpty) && rws.forall(_.isEmpty)) None
      else Some(c => when(c.isNull, lit(null)).otherwise(struct(ms.zip(rws).map {
        case ((name, jsonName, _, _), rw) =>
          val key = jsonName.getOrElse(name)
          val src = c.getField(if (toExternal) name else key)
          rw.fold(src)(_(src)).as(if (toExternal) key else name)
      }: _*)))
    }
    sh match {
      case r: TypeShape.Record => members(r.fields.map(f =>
        (f.name, f.jsonName, Some(f.tpe), f.mode == Repeated)), r.depth)
      case v: TypeShape.Variant =>
        members(v.options.map(o => (o.name, o.jsonName, o.tpe, false)), v.depth)
      case l: TypeShape.ListOf => memberRenaming(Some(l.elem), repeated = true, l.depth, s, toExternal)
      case _ => None
    }
  }

  /** A member's rename rewrite (each element's for a repeated member). */
  private def memberRenaming(t: Option[PiqiType], repeated: Boolean, depth: UnrollDepth, s: Spec,
      toExternal: Boolean): Option[Column => Column] =
    t.flatMap(t => renaming(s.shape(t, depth), s, toExternal))
      .map(rw => if (repeated) (c: Column) => transform(c, rw) else rw)

  /** A JSON document column read against a spec: its typed record, parsed
    * BY JSON KEY (json-name honored, `piqobj_of_json.ml:171`) and renamed
    * back to the declared names compiled plans address, and the one
    * [[JsonShape]] walk's violations, led by `parse:json`. */
  private def readJson(json: Column, spec: Spec): (Column, Column) = {
    val rs = spec.resolved
    val parsed = from_json(json, jsonSchema(spec))
    (renaming(rs.rootRecord, rs, toExternal = false).fold(parsed)(_(parsed)),
      JsonShape.walk(json, spec, parseVio = true))
  }

  /**
   * JSON-string ingest with validation — `piqobj_of_json` semantics
   * (`piqilib/piqobj_of_json.ml`):
   *  - unparseable JSON → `parse:json` violation (reference raises a
   *    located error; we collect);
   *  - key-shape checks at EVERY record level via [[JsonShape.checkKeys]]:
   *    unknown keys (violation iff `spec.strict`, `piqobj_of_json.ml:31-37`,
   *    flag `src/convert.ml:499`), duplicate keys (always,
   *    `piqobj_of_json.ml:25-28`), object/array shape mismatches;
   *  - scalar conversion failures at every level (`parse:value`: a present
   *    value PERMISSIVE parsing would otherwise null silently, where the
   *    reference raises a located error);
   *  - then the full compiled constraint pass.
   *
   * Each document is tokenised twice: the typed record parse and ONE
   * streaming walk that yields `parse:json`, every key-shape violation and
   * every conversion failure.
   *
   * Returns the parsed columns + `violations` + `valid`.
   */
  def fromJson(jsonDf: DataFrame, jsonCol: String, spec: Spec): DataFrame = {
    val plan = SpecCompiler.compile(spec)
    val (rec, shapeVio) = readJson(col(jsonCol), spec)
    jsonDf.withColumn("_rec", rec)
      .select((spec.resolved.rootRecord.fields.map(f => col("_rec").getField(f.name).as(f.name)) :+
        col(jsonCol).as("_raw") :+ shapeVio.as("_sv")): _*)
      .withColumn("violations", concat(col("_sv"), plan.violations))
      .withColumn("valid", size(col("violations")) === 0)
      .drop("_sv")
  }


  /**
   * Validate `piqi-any` payloads against their per-row typename — the
   * analog of the reference's lazy cross-conversion of `Any` values against
   * a registered type (`/root/reference/piqilib/piqobj.ml:267-401`, resolved
   * through the module db like `piqi_db.find_piqtype`): each row carries a
   * raw JSON payload (`anyCol`) and a type name (`typeCol`); the payload is
   * read and validated against the named spec from `registry` exactly as
   * [[fromJson]] reads and validates a document.
   *
   * Returns the input columns + `any_violations` + `any_valid`. Unknown
   * typenames yield an `unknown-type` violation (`piqi_db.ml:149-153`).
   */
  def validateAny(df: DataFrame, anyCol: String, typeCol: String,
      registry: Map[String, Spec]): DataFrame = {
    // ONE case-when projection over all registered types — no per-type scan,
    // no union, no shuffle: the typename dispatch is a column expression.
    // Each type's record is its own column, parsed on that type's rows only:
    // read inside the dispatch, `from_json(payload).field` would be split
    // into one parse per field read (Catalyst's OptimizeJsonExprs)
    val types = registry.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, spec), i) =>
      (col(typeCol) === name, spec, readJson(col(anyCol), spec), s"_any_rec$i")
    }
    val unknownVio = SpecCompiler.vio(lit(true), "unknown-type", "$",
      coalesce(col(typeCol), lit("null")))
    val dispatch = types.foldRight(unknownVio) { case ((isType, spec, (_, shapeVio), recCol), rest) =>
      when(isType, concat(shapeVio, SpecCompiler.compile(spec).violationsFor(col(recCol)))).otherwise(rest)
    }
    df.select(col("*") +: types.map { case (isType, _, (rec, _), recCol) => when(isType, rec).as(recCol) }: _*)
      .withColumn("any_violations", dispatch)
      .withColumn("any_valid", size(col("any_violations")) === 0)
      .drop(types.map(_._4): _*)
  }

  /**
   * XML-string ingest with validation — the Spark-4 `from_xml` analog of
   * the reference's `piqobj_of_xml.ml` input path (342 LoC there; element
   * nesting ↔ record fields, repeated elements ↔ arrays, `doc/
   * encodings.md:168-189`). Unparseable XML → `parse:xml` violation
   * (detected via the parser's own corrupt-record column, so a legitimately
   * EMPTY document over an all-optional schema is NOT a parse failure),
   * then the full compiled constraint pass.
   *
   * XML has no duplicate-key notion, and nested unknown elements are not
   * enumerable through `from_xml`; strict mode instead runs two
   * document-level scans covering the reference's unknown-XML-element
   * warning (`piqobj_of_xml.ml:133,184`) in full:
   *  - an element-NAME scan flags names outside the spec's legal set;
   *  - an XPath occurrence-count check ([[wrongPositionVio]]) flags KNOWN
   *    names appearing outside their spec-declared positions (the r3
   *    name-scan deviation, closed).
   */
  def fromXml(xmlDf: DataFrame, xmlCol: String, spec: Spec,
      rootTag: String = "value"): DataFrame = {
    val plan = SpecCompiler.compile(spec)
    val schema = sparkSchema(spec)
    val probeSchema = schema.add(StructField("_corrupt_record", StringType, nullable = true))
    val parsed = xmlDf.withColumn("_rec",
      from_xml(col(xmlCol), probeSchema,
        java.util.Map.of("mode", "PERMISSIVE", "columnNameOfCorruptRecord", "_corrupt_record")))
    val parseVio = SpecCompiler.vio(
      col(xmlCol).isNotNull && col("_rec._corrupt_record").isNotNull,
      "parse:xml", "$", col(xmlCol))
    // comment/CDATA-stripped text for the raw scans below: "<word" inside
    // them cannot false-positive; "</", "<?" never match the name charset
    val scannable = regexp_replace(col(xmlCol),
      lit("(?s)<!--.*?-->|<!\\[CDATA\\[.*?\\]\\]>"), lit(""))
    // the reference REJECTS namespaces and attributes at parse level
    // (`piqi_xml.ml:127-132`: "namespaces are not allowed in XML element
    // names" / "attributes are not allowed in XML elements") — both are
    // violations regardless of strictness, not local-name-matched away.
    // Unescaped "<name" / "name=" can only occur inside real tags, so the
    // raw regexes cannot fire on (escaped) text content.
    val nsNames = array_distinct(regexp_extract_all(scannable,
      lit("</?([A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z_][A-Za-z0-9_.-]*)"), lit(1)))
    val nsVio = SpecCompiler.vio(col(xmlCol).isNotNull && size(nsNames) > 0,
      "xml-namespace", "$", concat_ws(",", nsNames))
    val attrTags = array_distinct(regexp_extract_all(scannable,
      lit("<([A-Za-z_][A-Za-z0-9_.-]*(?::[A-Za-z_][A-Za-z0-9_.-]*)?)\\s+[^<>]*?[A-Za-z_][A-Za-z0-9_.:-]*\\s*="),
      lit(1)))
    val attrVio = SpecCompiler.vio(col(xmlCol).isNotNull && size(attrTags) > 0,
      "xml-attribute", "$", concat_ws(",", attrTags))
    // strict: element names outside the spec's legal set → unknown-element.
    // Non-strict tolerates unknown elements, mirroring the JSON unknown-key
    // semantics (warning-level in the reference). The document's ACTUAL
    // root element (the first extracted name) is always legal — `from_xml`
    // parses any root tag, so a wrapper differing from the `rootTag`
    // parameter is not an unknown element. Namespace-prefixed elements
    // need no unknown-element treatment here: they are rejected outright
    // by the xml-namespace rule above, like the reference.
    val elemVio =
      if (!spec.resolved.strict) SpecCompiler.emptyVio
      else {
        val legal = (legalElementNames(spec) + rootTag).toSeq
        val names = array_distinct(regexp_extract_all(
          scannable,
          lit("<(?:[A-Za-z_][A-Za-z0-9_.-]*:)?([A-Za-z_][A-Za-z0-9_.-]*)"), lit(1)))
        val docRoot = element_at(names, 1)
        val unknown = filter(names, n => !n.isin(legal: _*) && n =!= docRoot)
        SpecCompiler.vio(col(xmlCol).isNotNull && size(unknown) > 0,
          "unknown-element", "$", concat_ws(",", unknown))
      }
    // positional check for known names (strict): guarded on a clean parse —
    // xpath throws on malformed XML, which parse:xml already reports
    val posVio =
      if (!spec.resolved.strict) SpecCompiler.emptyVio
      else wrongPositionVio(col(xmlCol), spec,
        col(xmlCol).isNotNull && col("_rec._corrupt_record").isNull)
    val flat = parsed.select(
      (schema.fields.map(f => col(s"_rec.${f.name}").as(f.name)) :+
        col(xmlCol).as("_raw") :+
        SpecCompiler.concatVios(Seq(parseVio, nsVio, attrVio)).as("_pv") :+
        elemVio.as("_ev") :+ posVio.as("_wv")): _*)
    flat
      .withColumn("violations", concat(col("_pv"), col("_ev"), col("_wv"), plan.violations))
      .withColumn("valid", size(col("violations")) === 0)
      .drop("_pv", "_ev", "_wv")
  }

  /**
   * Absolute legal XPath positions per element name, from walking the spec
   * root to `maxDepth` (root element = any tag, the XPath any-name step):
   * field elements
   * at `parent/name`, variant option elements at `parent/option`, repeated
   * fields at the same path (XML repeats the element), with an extra
   * `path/item` step allowed wherever an array renders through the
   * `item` wrapper tag. Returns (name → legal paths, wildcard prefixes) —
   * a wildcard prefix marks a recursion cutoff under which ANY position is
   * legal (the depth: rule governs content there).
   */
  private def legalElementPaths(spec: Spec): (Map[String, Seq[String]], Seq[String]) = {
    val s = spec.resolved
    val acc = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    val wildcards = scala.collection.mutable.ArrayBuffer[String]()
    def add(n: String, p: String): Unit = acc(n) = acc.getOrElse(n, Vector.empty) :+ p
    def walk(sh: TypeShape, path: String): Unit = sh match {
      case _: TypeShape.Cut => wildcards += path
      case r: TypeShape.Record => r.fields.foreach(f => walkField(f, path, r.depth))
      case TypeShape.Variant(os, depth, _) =>
        os.foreach { o =>
          add(o.name, s"$path/${o.name}")
          o.tpe.foreach(t => walk(s.shape(t, depth), s"$path/${o.name}"))
        }
      case l: TypeShape.ListOf =>
        add("item", s"$path/item")
        val elem = s.shape(l.elem, l.depth)
        walk(elem, path)
        walk(elem, s"$path/item")
      case _ => () // scalars and enums → text content, no child elements
    }
    def walkField(f: PField, parent: String, depth: UnrollDepth): Unit = {
      val (p, sh) = (s"$parent/${f.name}", s.shape(f.tpe, depth))
      add(f.name, p)
      if (f.mode == Repeated) { add("item", s"$p/item"); walk(sh, s"$p/item") }
      walk(sh, p)
    }
    walk(s.rootRecord, "/*")
    (acc.toMap.view.mapValues(_.distinct.toSeq).toMap, wildcards.distinct.toSeq)
  }

  /**
   * Wrong-position detection for KNOWN element names (the r3 documented
   * deviation, now closed): for each known name `n`, the document's total
   * `//n` occurrence count must not exceed its count at spec-legal
   * positions (one XPath union expression per name) — a known element
   * nested where the spec doesn't declare it makes the total exceed the
   * legal count, reproducing the reference's per-record-level
   * unknown-field detection (`piqobj_of_xml.ml:133,184` fires for ANY
   * undeclared element at a level, known-elsewhere or not). Strict-mode
   * only — and the probe costs 2 XPath PARSES per known name per document,
   * so a very wide spec makes this the dominant per-doc cost; `guard` must
   * exclude malformed docs — Spark's xpath THROWS on unparseable XML.
   *
   * Spark's `xpath` runs with secure processing (DTDs disallowed), so a
   * DOCTYPE that `from_xml` happily parses would THROW here and kill the
   * job: the probe input has any DOCTYPE declaration stripped (same
   * pre-scan stripping as comments/CDATA in the name scan), and documents
   * still carrying non-predefined entity references after that (entities
   * the stripped DTD defined — undecidable without the DTD) are exempted
   * from this check rather than allowed to throw.
   */
  private def wrongPositionVio(xmlRaw: Column, spec: Spec, guard0: Column): Column = {
    val xmlCol = regexp_replace(xmlRaw,
      lit("(?s)<!DOCTYPE[^>\\[]*(\\[.*?\\])?[^>]*>"), lit(""))
    val hasCustomEntity =
      xmlCol.rlike("&(?!amp;|lt;|gt;|apos;|quot;|#)[A-Za-z_][A-Za-z0-9._-]*;")
    val guard = guard0 && !hasCustomEntity
    val (paths, wildcards) = legalElementPaths(spec)
    val checks: Seq[Column] = paths.toSeq.sortBy(_._1).map { case (n, ps) =>
      // "/$n" whitelists the DOCUMENT ROOT position: any root tag is legal
      // (mirrors the name scan's docRoot exemption) — without it a root
      // tag that happens to equal a known field name (e.g. a field named
      // "value" under the default rootTag) falsely flags every valid doc
      val legalPaths = ps ++ wildcards.map(w => s"$w//$n") :+ s"/$n"
      val legal = size(call_function("xpath", xmlCol, lit(legalPaths.mkString(" | "))))
      val total = size(call_function("xpath", xmlCol, lit(s"//$n")))
      when(total > legal, lit(n))
    }
    val bad = when(guard, concat_ws(",", checks: _*)).otherwise(lit(""))
    SpecCompiler.vio(guard && bad =!= "", "wrong-position-element", "$", bad)
  }

  /** Every element name a document of this spec may legally contain: field
    * names and variant option names of all defs (XML uses declared names). */
  private def legalElementNames(spec: Spec): Set[String] = {
    val s = spec.resolved
    def ofDef(d: TypeDef): Seq[String] = d match {
      case RecordDef(_, fs) => fs.map(_.name)
      case VariantDef(_, os) => os.map(_.name)
      case _ => Nil
    }
    (s.defTable.values.flatMap(ofDef) ++
      s.imports.flatMap(i => i.defTable.values.flatMap(ofDef))).toSet + "item"
    // "item" is to_xml/from_xml's repeated-element wrapper tag
  }

  /**
   * Emit rows as XML — the `piqobj_to_xml.ml` analog (Spark 4 `to_xml`;
   * element nesting ↔ record fields, repeated fields ↔ repeated elements,
   * `doc/encodings.md:168-189`: no attributes, no namespaces). `rootTag`
   * plays `<value>`'s role there. `addDefaults` mirrors the JSON emitter's
   * output-stage defaults projection.
   */
  def toXml(df: DataFrame, plan: ValidationPlan, rootTag: String = "value",
      addDefaults: Boolean = false): DataFrame = {
    val base = if (addDefaults) plan.withDefaults(df) else df
    val dataCols = base.columns.filterNot(c => c == "violations" || c == "valid")
    base.select(to_xml(struct(dataCols.map(col): _*),
      java.util.Map.of("rootTag", rootTag)).as("xml"))
  }

  /**
   * Emit rows as JSON with reference output semantics
   * (`piqobj_to_json.ml:27-141`): `omitMissing=true` (the default there)
   * drops null fields; `addDefaults` materializes declared defaults first
   * (`src/convert.ml:316-324` — defaults are an output-stage projection).
   */
  def toJson(df: DataFrame, plan: ValidationPlan, addDefaults: Boolean = false,
      omitMissing: Boolean = true): DataFrame = {
    val base = if (addDefaults) plan.withDefaults(df) else df
    val dataCols = base.columns.filterNot(c => c == "violations" || c == "valid")
    // emit under the JSON keys (`piqobj_to_json.ml:115,151,164`): spec root
    // fields rename declared → json-name at every level; non-spec passthrough
    // columns keep their names
    val (s, root) = (plan.spec, plan.spec.rootRecord) // compile() resolves the spec
    val byName = root.fields.map(f => f.name -> f).toMap
    val cols = dataCols.map { cname =>
      byName.get(cname) match {
        case Some(f) =>
          val rw = memberRenaming(Some(f.tpe), f.mode == Repeated, root.depth, s, toExternal = true)
          rw.fold(col(cname))(_(col(cname))).as(f.jsonKey)
        case None => col(cname)
      }
    }
    base.select(to_json(struct(cols: _*),
      Map("ignoreNullFields" -> omitMissing.toString)).as("json"))
  }
}
