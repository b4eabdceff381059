package graft

import org.apache.spark.sql.functions._
import graft.exec.ValidationRunner

/**
 * Physical-plan regression guards: the scale properties the 100-TB design
 * depends on, pinned as tests so a refactor cannot silently lose them.
 * (`explain("formatted")` review found these once — `tools.BenchExtra`
 * writes those plans for every query via `SPARK_GRAFT_EXPLAIN_DIR`; these
 * tests keep them found.)
 */
class PlanGuardSpec extends SparkTestBase {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val tmpDocs: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-planguard").toString
    graft.io.Docs.generate(spark, 2000, 4)
      .withColumn("n", length(col("doc_id")))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("filter pushdown + column pruning reach the parquet scan") {
    val df = spark.read.parquet(tmpDocs)
      .where(col("doc_id") > "doc-000000000100")
      .select("doc_id") // projection must prune spans from ReadSchema
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id"),
      s"filter not pushed to scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("spans"),
      s"column pruning lost: $readSchema")
  }

  test("validation is a narrow plan: scan -> project -> partial/final agg, no join, no sort") {
    val docs = spark.read.parquet(tmpDocs).select("doc_id", "spans")
    val s = physical(ValidationRunner.summary(
      ValidationRunner.validateCounts(docs, SparkEntry.docsPlan), Seq.empty))
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
      s"validation must not join:\n$s")
    assert(s.contains("HashAggregate"), "summary should be a hash aggregate")
    // exactly one exchange: the partial->final aggregate boundary
    val exchanges = s.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      s.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"validation summary shuffled more than once:\n$s")
  }

  test("refCheck broadcasts a small catalog and shuffles a huge one") {
    // disable Catalyst's size-stat auto-broadcast so the test exercises
    // refCheck's OWN cardinality gate (at real scale, stats are huge and
    // only the explicit hint broadcasts; here stats are tiny and only the
    // absence of the hint prevents it)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = spark.read.parquet(tmpDocs).select(col("doc_id"))
      val catalog = spark.range(100).select(concat(lit("doc-"), col("id")).as("k"))
      val small = physical(ValidationRunner.refCheck(docs, "doc_id", catalog, "k"))
      assert(small.contains("BroadcastHashJoin"),
        s"small catalog must broadcast via the explicit hint:\n$small")
      val big = physical(ValidationRunner.refCheck(docs, "doc_id", catalog, "k",
        broadcastMaxRows = 10, catalogRowHint = Some(1000000L)))
      assert(!big.contains("BroadcastHashJoin"),
        s"huge catalog must not broadcast (driver OOM at scale):\n$big")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        s"huge catalog should shuffle-join:\n$big")
      assert(big.contains("HashAggregate"), s"a shuffled catalog is made distinct first:\n$big")
      // repeated catalog keys: the broadcast side is built as is, with no
      // aggregate under it, and the output equals the distinct catalog's
      val half = docs.select(col("doc_id").as("k")).where(col("k") < "doc-000000001000")
      val repeated = half.union(half)
      val missing = ValidationRunner.refCheck(docs, "doc_id", repeated, "k")
      val plan = physical(missing)
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("HashAggregate"),
        s"broadcast catalog must not be aggregated:\n$plan")
      def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).toSeq.sorted
      assert(ids(missing) === ids(ValidationRunner.refCheck(docs, "doc_id", repeated.distinct(), "k")))
      assert(ids(missing).size === 1000)
    }
  }

  test("minhash/simhash/embedding near-dup plans contain no cartesian product") {
    val docs = graft.tools.DedupCorpus.generate(spark, 500, 4, degen = 100)
    for (df <- Seq(
        graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.9),
        graft.ops.Dedup.simhashNearDups(docs, "doc_id", "text"),
        graft.ops.Dedup.embeddingNearDups(
          docs.select(col("doc_id"),
            array(col("doc_id").cast("double"), lit(1.0), lit(2.0)).as("v")),
          "doc_id", "v"))) {
      val p = physical(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"near-dup plan went quadratic:\n${p.take(4000)}")
    }
  }

  test("native expressions compute inside a whole-stage codegen stage on a distributed input") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import graft.functions._
    // (operator, in a codegen stage) for each operator that computes a `cls`
    def placed(df: org.apache.spark.sql.DataFrame, cls: Class[_]): Seq[(String, Boolean)] = {
      def walk(p: SparkPlan, inStage: Boolean): Seq[(String, Boolean)] = p match {
        case w: WholeStageCodegenExec => walk(w.child, inStage = true)
        case a: InputAdapter => walk(a.child, inStage = false)
        case _ =>
          val here = if (p.expressions.exists(_.exists(cls.isInstance))) Seq(p.nodeName -> inStage)
            else Nil
          here ++ p.children.flatMap(walk(_, inStage))
      }
      walk(df.queryExecution.executedPlan, inStage = false)
    }
    val docs = graft.tools.DedupCorpus.generate(spark, 500, 4, degen = 100)
    val vecs = docs.select(col("doc_id"),
      array(col("doc_id").cast("double"), lit(1.0), lit(2.0)).as("v"))
    val spec = graft.spec.Spec("pin", Seq(graft.spec.RecordDef("doc", Seq(
      graft.spec.PField("id", graft.spec.PInt.int64, graft.spec.Required)))), "doc", strict = true)
    val json = spark.range(0, 100, 1, 4)
      .select(concat(lit("{\"id\":"), col("id").cast("string"), lit("}")).as("json"))
    // the static plan (AQE plans its codegen stages only when it runs)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      for ((df, cls) <- Seq(
          graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
            numHashes = 32, bands = 8, threshold = 0.9) -> classOf[MinHashFromTokens],
          graft.ops.Dedup.simhashNearDups(docs, "doc_id", "text") -> classOf[Simhash64],
          graft.ops.Dedup.embeddingNearDups(vecs, "doc_id", "v") -> classOf[VectorNormalize],
          graft.ops.Dedup.embeddingNearDups(vecs, "doc_id", "v") -> classOf[SignBits],
          // the walk alone: Convert.fromJson computes it in one project with
          // from_json, a CodegenFallback that keeps that project out
          json.select(graft.io.JsonShape.checkKeys(col("json"), spec))
            -> classOf[graft.io.JsonShapeWalk])) {
        val ops = placed(df, cls)
        assert(ops.nonEmpty && ops.forall(_._2),
          s"${cls.getSimpleName} computed outside whole-stage codegen: $ops\n" +
            physical(df).take(4000))
      }
    }
  }

  test("q1_agg aggregates with map-side partial aggregation (two HashAggregates, one exchange)") {
    val dir = "/root/testdata/sf0.001"
    val p = physical(SparkEntry.queries("q1_agg")(spark, dir))
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final aggregate:\n$p")
  }

  test("ANN plans: queries broadcast, docs never shuffle by score; lsh joins on cells") {
    val docs = spark.range(0, 2000, 1, 4).select(col("id"),
      array(col("id").cast("double"), (col("id") % 7).cast("double"), lit(1.0)).as("v"))
    val queries = docs.where(col("id") < 3)
    // brute: the doc side must stream through a BROADCAST of the query side
    // (narrow over docs) into ONE partial-aggregable top-k groupBy — the
    // only exchange carries <= #queries x k x #partitions heap entries
    val brute = physical(graft.ops.Ann.bruteTopK(docs, queries, "id", "v", "id", "v", k = 5))
    assert(brute.contains("BroadcastNestedLoopJoin") || brute.contains("BroadcastHashJoin"),
      s"brute top-k must broadcast the query side:\n${brute.take(3000)}")
    assert(!brute.contains("SortMergeJoin"), "doc side must never sort-merge on scores")
    // lsh: equi-join on (probe, cell) with the query side broadcast — a
    // cell-key hash join, never a nested loop over all docs
    val lsh = physical(graft.ops.Ann.lshTopK(docs, queries, "id", "v", "id", "v",
      k = 5, bits = 4, probes = 2))
    assert(lsh.contains("BroadcastHashJoin"),
      s"lsh must hash-join on cell keys with broadcast queries:\n${lsh.take(3000)}")
    assert(!lsh.contains("CartesianProduct") && !lsh.contains("BroadcastNestedLoopJoin"),
      s"lsh path must not scan all docs per query:\n${lsh.take(3000)}")
    // the final top-k must be the bounded-heap partial aggregation in EVERY
    // ANN path — a window rank would shuffle every candidate to one reducer
    // per query and sort it there; a plan-level Sort means the same thing
    val cents = graft.ops.Ann.trainCentroids(docs, "id", "v", nCells = 8, sampleN = 200)
    val ivf = physical(graft.ops.Ann.ivfTopK(docs, queries, "id", "v", "id", "v",
      k = 5, centroids = cents, nProbe = 2))
    // pq (with re-rank, so BOTH finishTopK stages are in one plan): the
    // compressed scan broadcasts the query LUTs over the codes table
    val model = graft.ops.Pq.train(docs, "id", "v", m = 3, sampleN = 200)
    val pq = physical(graft.ops.Pq.topK(docs, queries, "id", "v", "id", "v",
      k = 5, model, rerank = 10))
    for ((name, plan) <- Seq(("brute", brute), ("lsh", lsh), ("ivf", ivf), ("pq", pq))) {
      assert(!plan.contains("Window"),
        s"$name top-k must use the bounded-heap aggregator, not a window rank:\n${plan.take(3000)}")
      assert(!plan.contains("Sort "),
        s"$name top-k must not sort candidates:\n${plan.take(3000)}")
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate")
          || plan.contains("SortAggregate"),
        s"$name top-k must be a partial-aggregable groupBy:\n${plan.take(3000)}")
    }
    assert(ivf.contains("BroadcastHashJoin") && !ivf.contains("CartesianProduct"),
      s"ivf must hash-join on cell keys with broadcast queries:\n${ivf.take(3000)}")
  }

  test("precision-pin queries stay single-aggregate after their pair joins (no extra exchange)") {
    val dir = "/root/testdata/sf0.001"
    val p = physical(SparkEntry.queries("d_minhash_near_precision")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"precision pin went quadratic:\n${p.take(3000)}")
  }

  test("a checkpoint batch writes one unsorted, unpartitioned directory, named by its marker") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.checkpoint.{CheckpointManager, ValidationCheckpoint}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec])) writes.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val root = java.nio.file.Files.createTempDirectory("graft-planguard-ckpt").toString
    val docs = spark.read.parquet(tmpDocs).withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    spark.listenerManager.register(listener)
    try ValidationCheckpoint.run(docs, SparkEntry.docsPlan, new CheckpointManager(root), "bucket", 0 to 3,
      "doc_id", batches = 2)
    finally {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    assert(writes.size === 2)
    for (w <- writes.asScala) assert(!nodes(w).exists(_.isInstanceOf[SortExec]), s"the batch write sorts:\n$w")
    def names(sub: String) = new java.io.File(s"$root/$sub").list().toSeq.filterNot(_.startsWith(".")).toSet
    assert(names("lineage").size === 2 && names("violations") === names("lineage"))
  }

  test("exactDedup keep-one is agg + anti-join, never a window over the content hash") {
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"text-${i % 10}")).toDF("id", "text")
    val plan = physical(graft.ops.Dedup.exactDedup(df, "text", "id"))
    // a window partitioned by md5(text) lands every row of a hot dup group
    // (templated pages: 10^8 rows of one text at web scale) on ONE task's
    // sort — the exact skew this operator exists to remove
    assert(!plan.contains("Window"),
      s"exactDedup must not window over the content hash:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"),
      s"exactDedup should collapse dup mass via partial aggregation:\n${plan.take(3000)}")
    assert(plan.contains("LeftAnti"),
      s"exactDedup should anti-join the removal set:\n${plan.take(3000)}")
  }

  test("JSON ingest parses each document twice: the typed record and one shape walk") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, Expression,
      JsonObjectKeys, JsonToStructs}
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    // strict, nested, repeated records and scalars: every shape check the
    // column form built as per-level key probes, map parses and lambdas
    val spec = Spec("pin", Seq(
      RecordDef("inner", Seq(PField("v", PInt.int32, Optional()), PField("n", PInt.int64, Repeated))),
      RecordDef("doc", Seq(PField("id", PInt.int64, Required),
        PField("nested", TypeRef("inner"), Optional()),
        PField("items", TypeRef("inner"), Repeated)))), "doc", strict = true)
    def exprs(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
      df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect { case e => e })
    def hofs(es: Seq[Expression]) =
      es.count(e => e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ArrayFilter])
    val ingest = exprs(graft.io.Convert.fromJson(Seq("""{"id":1}""").toDF("json"), "json", spec))
    assert(!ingest.exists(_.isInstanceOf[JsonObjectKeys]), "a json_object_keys probe is back")
    assert(ingest.count(_.isInstanceOf[graft.io.JsonShapeWalk]) === 1)
    assert(ingest.collect { case j: JsonToStructs => j.canonicalized }.distinct.size === 1,
      "expected the typed record parse only")
    // lambdas come from the compiled constraint plan alone, none from shape checks
    val planOnly = exprs(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.io.Convert.sparkSchema(spec)).select(graft.compile.SpecCompiler.compile(spec).violations))
    assert(hofs(ingest) === hofs(planOnly))
  }

  test("piqi-any ingest parses each payload once: one JsonToStructs per registered type") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import graft.spec._
    val spark0 = spark
    import spark0.implicits._
    // four root fields read by the compiled plan; Catalyst splits
    // `from_json(payload).field` into one single-field parse per field read
    // when the record is consumed inside the dispatch projection
    val registry = Map(
      "point" -> Spec("m", Seq(RecordDef("point", Seq(PField("x", PInt(0, 100), Required),
        PField("y", PInt(0, 100), Required), PField("z", PInt.int64, Optional()),
        PField("label", PString, Optional())))), "point"),
      "tag" -> Spec("m", Seq(RecordDef("tag", Seq(PField("name", PString, Required),
        PField("n", PInt.int32, Optional())))), "tag"))
    val df = Seq(("1", "point", """{"x":5,"y":2}"""), ("2", "tag", """{"name":"a"}"""))
      .toDF("id", "any_type", "payload").repartition(2)
    val out = graft.io.Convert.validateAny(df, "payload", "any_type", registry)
    val parses = out.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case j: JsonToStructs => j })
    assert(parses.size === registry.size, s"one parse per registered type, got:\n${parses.mkString("\n")}")
    assert(parses.map(_.canonicalized).distinct.size === registry.size)
    assert(out.select("id", "any_valid").as[(String, Boolean)].collect().toMap === Map("1" -> true, "2" -> true))
  }
}
