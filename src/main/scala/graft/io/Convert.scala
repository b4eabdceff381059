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
    def dataTypeOf(t: PiqiType, seen: Map[String, Int]): DataType = t match {
      case PBool => BooleanType
      case _: PInt => LongType
      case PFloat => DoubleType
      case PFloat32 => FloatType
      case PUInt64 => DecimalType(20, 0) // full uint64 domain (doc/piqi.md:345-347)
      case PString => StringType
      case PBinary => BinaryType
      case PAny => StringType // raw JSON capture, parsed lazily (piqobj.ml:267-318 analog)
      case TypeRef(n) => s.defTable(n) match {
        case RecordDef(_, fields) =>
          if (s.atDepthCutoff(n, seen)) StringType
          else StructType(fields.map(structField(_, s.bumpDepth(n, seen))))
        case VariantDef(_, options) =>
          if (s.atDepthCutoff(n, seen)) StringType
          else {
            val s2 = s.bumpDepth(n, seen)
            StructType(options.map(o => StructField(
              if (external) o.jsonKey else o.name,
              o.tpe.map(dataTypeOf(_, s2)).getOrElse(BooleanType), nullable = true)))
          }
        case EnumDef(_, _) => StringType
        case ListDef(_, e, _) =>
          if (s.atDepthCutoff(n, seen)) StringType
          else ArrayType(dataTypeOf(e, s.bumpDepth(n, seen)))
        case AliasDef(_, target, _) => dataTypeOf(target, seen)
      }
    }
    def structField(f: PField, seen: Map[String, Int]): StructField = {
      val nm = if (external) f.jsonKey else f.name
      f.mode match {
        case Repeated => StructField(nm, ArrayType(dataTypeOf(f.tpe, seen)), nullable = true)
        case _ => StructField(nm, dataTypeOf(f.tpe, seen), nullable = true)
      }
    }
    s.defTable(s.root) match {
      case RecordDef(_, fields) =>
        StructType(fields.map(structField(_, Map(s.root -> 1))))
      case other => throw new SpecException(s"root must be a record, got $other")
    }
  }

  // ---------- json-name rename trees ----------

  /** Does `t`'s subtree declare any json-name override? (Guards the struct
    * rebuilds below — a spec without json-names pays nothing.) */
  private def hasRenames(t: PiqiType, s: Spec, seen: Set[String] = Set.empty): Boolean = t match {
    case TypeRef(n) if !seen(n) => s.defTable.get(n).exists {
      case RecordDef(_, fs) =>
        fs.exists(f => f.jsonName.isDefined || hasRenames(f.tpe, s, seen + n))
      case VariantDef(_, os) =>
        os.exists(o => o.jsonName.isDefined || o.tpe.exists(hasRenames(_, s, seen + n)))
      case ListDef(_, e, _) => hasRenames(e, s, seen + n)
      case AliasDef(_, target, _) => hasRenames(target, s, seen + n)
      case _ => false
    }
    case _ => false
  }

  /** Rebuild a value of type `t` renaming struct fields between the declared
    * (internal) and JSON (external) name spaces. Identity when the subtree
    * has no json-names. Recursive types stop at the schema's maxDepth cutoff
    * (the value there is a raw-capture string — nothing to rename; below the
    * cutoff content stays under its on-the-wire names). */
  private def renameTree(c: Column, t: PiqiType, s: Spec, toExternal: Boolean,
      seen: Map[String, Int]): Column = {
    if (!hasRenames(t, s)) return c
    t match {
      case TypeRef(n) => s.defTable(n) match {
        case _: RecordDef | _: VariantDef | _: ListDef
            if s.atDepthCutoff(n, seen) => c
        case RecordDef(_, fields) =>
          val s2 = s.bumpDepth(n, seen)
          val rebuilt = struct(fields.map(f => fieldValue(c, f, s, toExternal, s2)
            .as(if (toExternal) f.jsonKey else f.name)): _*)
          when(c.isNull, lit(null)).otherwise(rebuilt)
        case VariantDef(_, options) =>
          val s2 = s.bumpDepth(n, seen)
          val rebuilt = struct(options.map { o =>
            val src = c.getField(if (toExternal) o.name else o.jsonKey)
            o.tpe.map(renameTree(src, _, s, toExternal, s2)).getOrElse(src)
              .as(if (toExternal) o.jsonKey else o.name)
          }: _*)
          when(c.isNull, lit(null)).otherwise(rebuilt)
        case ListDef(_, elem, _) =>
          val s2 = s.bumpDepth(n, seen)
          transform(c, e => renameTree(e, elem, s, toExternal, s2))
        case AliasDef(_, target, _) => renameTree(c, target, s, toExternal, seen)
        case _ => c
      }
      case _ => c
    }
  }

  /** One record field's renamed value (handles the repeated wrapper). */
  private def fieldValue(rec: Column, f: PField, s: Spec, toExternal: Boolean,
      seen: Map[String, Int]): Column =
    fieldValueFrom(rec.getField(if (toExternal) f.name else f.jsonKey), f, s, toExternal, seen)

  private def fieldValueFrom(src: Column, f: PField, s: Spec, toExternal: Boolean,
      seen: Map[String, Int]): Column =
    f.mode match {
      case Repeated =>
        if (hasRenames(f.tpe, s)) transform(src, e => renameTree(e, f.tpe, s, toExternal, seen))
        else src
      case _ => renameTree(src, f.tpe, s, toExternal, seen)
    }

  private def rootFields(spec: Spec): Seq[PField] =
    spec.resolved.defTable(spec.resolved.root) match {
      case RecordDef(_, fields) => fields
      case other => throw new SpecException(s"root must be a record, got $other")
    }

  /** A JSON document column read against a spec: its typed record, parsed
    * BY JSON KEY (json-name honored, `piqobj_of_json.ml:171`) and renamed
    * back to the declared names compiled plans address, and the one
    * [[JsonShape]] walk's violations, led by `parse:json`. */
  private def readJson(json: Column, spec: Spec): (Column, Column) = {
    val rs = spec.resolved
    (renameTree(from_json(json, jsonSchema(spec)), TypeRef(rs.root), rs, toExternal = false,
      Map.empty), JsonShape.walk(json, spec, parseVio = true))
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
      .select((rootFields(spec).map(f => col("_rec").getField(f.name).as(f.name)) :+
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
    def walkType(t: PiqiType, path: String, seen: Map[String, Int]): Unit = t match {
      case TypeRef(n) => s.defTable(n) match {
        case RecordDef(_, fs) =>
          if (s.atDepthCutoff(n, seen)) wildcards += path
          else {
            val s2 = s.bumpDepth(n, seen)
            fs.foreach(f => walkField(f, path, s2))
          }
        case VariantDef(_, os) =>
          if (s.atDepthCutoff(n, seen)) wildcards += path
          else {
            val s2 = s.bumpDepth(n, seen)
            os.foreach { o =>
              add(o.name, s"$path/${o.name}")
              o.tpe.foreach(walkType(_, s"$path/${o.name}", s2))
            }
          }
        case ListDef(_, e, _) =>
          if (s.atDepthCutoff(n, seen)) wildcards += path
          else {
            val s2 = s.bumpDepth(n, seen)
            add("item", s"$path/item")
            walkType(e, path, s2)
            walkType(e, s"$path/item", s2)
          }
        case AliasDef(_, target, _) => walkType(target, path, seen)
        case _ => () // enum → text content, no child elements
      }
      case _ => ()
    }
    def walkField(f: PField, parent: String, seen: Map[String, Int]): Unit = {
      val p = s"$parent/${f.name}"
      add(f.name, p)
      if (f.mode == Repeated) { add("item", s"$p/item"); walkType(f.tpe, s"$p/item", seen) }
      walkType(f.tpe, p, seen)
    }
    s.defTable(s.root) match {
      case RecordDef(_, fields) =>
        fields.foreach(f => walkField(f, "/*", Map(s.root -> 1)))
      case _ => ()
    }
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
    val s = plan.spec // compile() resolves, so this is the desugared spec
    val byName = (s.defTable.get(s.root) match {
      case Some(RecordDef(_, fs)) => fs
      case _ => Nil
    }).map(f => f.name -> f).toMap
    val cols = dataCols.map { cname =>
      byName.get(cname) match {
        case Some(f) => fieldValueFrom(col(cname), f, s, toExternal = true,
          Map(s.root -> 1)).as(f.jsonKey)
        case None => col(cname)
      }
    }
    base.select(to_json(struct(cols: _*),
      Map("ignoreNullFields" -> omitMissing.toString)).as("json"))
  }
}
