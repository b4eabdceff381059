package piqibench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.{CheckpointManager, ValidationCheckpoint}
import graft.compile.{SpecCompiler, ValidationPlan}
import graft.exec.{Drift, ValidationRunner}
import graft.io.{Convert, JsonShape}
import graft.ops.Dedup
import graft.spec._

/** What one run shares with its workload: the session, the span recorder
  * and the run's scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Materialised inputs of one set-up round. `bytes` is the size of the
  * main input table on disk. */
final case class Inputs(dir: File, main: String, bytes: Long, catalog: Option[String] = None)

/**
 * One benchmark workload: a complete user job repeated in a closed loop.
 * `job` is the timed part; `check` compares its outputs with the closed
 * forms of [[Expected]] and returns one message per mismatch.
 */
trait Workload {
  type Out
  def name: String
  def shape(seed: Long): Shape
  def materialise(ctx: Ctx, s: Shape, dir: File): Inputs
  /** Reference answers computed once per run, untimed. */
  def prepare(ctx: Ctx, s: Shape, in: Inputs): Unit = ()
  def job(ctx: Ctx, s: Shape, in: Inputs, iter: Long): Out
  def check(ctx: Ctx, s: Shape, in: Inputs, out: Out): Seq[String]
  /** Calls traced in isolation in the traced run only, outside the job. */
  def isolated(ctx: Ctx, s: Shape, in: Inputs): Unit = ()
  /** Extra per-layer figures of one traced iteration. */
  def extras(ctx: Ctx, s: Shape, in: Inputs, out: Out): Map[String, Double] = Map.empty
}

object Workloads {
  lazy val all: Seq[Workload] = Seq(ValidateScan, AuditCheckpoint, IngestDedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  final val Buckets = 8

  /** The document spec: the piqi record of the interleaved text+media
    * domain, with enum, range, exactly-one and ordering rules. */
  val spec: Spec = Spec(
    module = "document",
    defs = Seq(
      EnumDef("span-kind", Seq("text", "media")),
      RecordDef("span", Seq(
        PField("kind", TypeRef("span-kind"), Required),
        PField("text", PString, Optional()),
        PField("media_ref", PString, Optional()),
        PField("offset", PInt(0L, Int.MaxValue.toLong), Required))),
      RecordDef("document", Seq(
        PField("doc_id", PString, Required, constraints = Seq(MatchesRegex("^doc-[0-9a-zA-Z-]+$"))),
        PField("spans", TypeRef("span"), Repeated)))),
    root = "document",
    rowRules = Seq(
      ExactlyOneOf("span-payload", Seq("spans.text", "spans.media_ref")),
      StrictlyIncreasing("span-offset", "spans", "offset")))

  def bucket: Column = pmod(xxhash64(col("doc_id")), lit(Buckets.toLong)).cast("int")

  def write(df: DataFrame, path: File): Long = {
    df.write.mode("overwrite").parquet(path.getPath)
    Files.size(path)
  }

  /** Sums of a `summary` frame: (docs, valid, invalid, violations). */
  def sums(rows: Seq[org.apache.spark.sql.Row]): (Long, Long, Long, Long) =
    rows.foldLeft((0L, 0L, 0L, 0L)) { case ((d, v, i, x), r) =>
      (d + r.getAs[Long]("n_docs"), v + r.getAs[Long]("n_valid"),
        i + r.getAs[Long]("n_invalid"), x + r.getAs[Long]("n_violations"))
    }

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")
}

/** Scan + one codegen'd count projection + a partial aggregate per bucket:
  * the validation hot path, with no shuffle of rows and no writes. */
object ValidateScan extends Workload {
  import Workloads._
  type Out = (ValidationPlan, Seq[org.apache.spark.sql.Row])
  val name = "validate-scan"
  def shape(seed: Long): Shape = Shape(n = 400000, seed = seed, corruptEvery = 1000)

  def materialise(ctx: Ctx, s: Shape, dir: File): Inputs = {
    val path = new File(dir, "docs")
    Inputs(dir, path.getPath, write(Gen.docs(ctx.spark, s, 8), path))
  }

  def job(ctx: Ctx, s: Shape, in: Inputs, iter: Long): Out = {
    val plan = ctx.span("compile.compile")(SpecCompiler.compile(spec))
    val rows = ctx.span("exec.validate_counts") {
      val docs = ctx.spark.read.parquet(in.main).withColumn("bucket", bucket)
      ValidationRunner.summary(ValidationRunner.validateCounts(docs, plan), Seq("bucket")).collect().toSeq
    }
    (plan, rows)
  }

  def check(ctx: Ctx, s: Shape, in: Inputs, out: Out): Seq[String] = {
    val e = Expected(s)
    val (d, v, i, x) = sums(out._2)
    Seq(expect("summary docs", d, e.docs), expect("summary valid", v, e.docs - e.corrupt),
      expect("summary invalid", i, e.corrupt), expect("summary violations", x, e.violations)).flatten
  }
}

/** Checkpointed validation (half the buckets from a fresh root, then a
  * resume over all) with a t-digest sketch column, then the audit checks:
  * exact column stats, salted uniqueness, referential check and KS drift. */
object AuditCheckpoint extends Workload {
  import Workloads._
  final case class Result(root: File, committed: Set[Int], sketchWeight: Double,
      stats: Seq[org.apache.spark.sql.Row], dups: Seq[(String, Long)], missing: Long, ks: Double)
  type Out = Result
  val name = "audit-checkpoint"
  def shape(seed: Long): Shape =
    Shape(n = 20000, seed = seed, corruptEvery = 1000, hotEvery = 1000, missingEvery = 1000)

  /** Buckets committed per checkpoint batch: one batch for the first half,
    * one for the resume. */
  val BucketsPerBatch = Buckets / 2
  val BatchesPerIteration = Buckets / BucketsPerBatch
  private var ksExact = Double.NaN
  private var directByRule = Map.empty[String, Long]

  def materialise(ctx: Ctx, s: Shape, dir: File): Inputs = {
    val docs = new File(dir, "docs")
    val cat = new File(dir, "catalog")
    write(Gen.catalog(ctx.spark, s), cat)
    Inputs(dir, docs.getPath, write(Gen.docs(ctx.spark, s, 8), docs), Some(cat.getPath))
  }

  private def docs(ctx: Ctx, in: Inputs) =
    ctx.spark.read.parquet(in.main).withColumn("bucket", bucket)
  /** Sum of span offsets per doc, split into two groups by bucket parity. */
  private def driftFrame(df: DataFrame) = df.select(
    aggregate(col("spans"), lit(0L), (acc, sp) => acc + sp.getField("offset")).cast("double").as("v"),
    (col("bucket") % 2).cast("string").as("g"))
  private def mediaRefs(df: DataFrame) =
    df.select(col("doc_id"), explode(col("spans")).as("sp")).select(col("doc_id"), col("sp.media_ref").as("media_ref"))

  override def prepare(ctx: Ctx, s: Shape, in: Inputs): Unit = {
    val d = docs(ctx, in)
    ksExact = Drift.ksTestExact(driftFrame(d), "v", "g", "0", "1").statistic
    directByRule = ValidationRunner.violationRows(ValidationRunner.validate(d, SpecCompiler.compile(spec)), "doc_id")
      .groupBy("rule").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def job(ctx: Ctx, s: Shape, in: Inputs, iter: Long): Out = {
    val spark = ctx.spark
    val root = new File(ctx.work, s"checkpoint/iter-$iter")
    val plan = ctx.span("compile.compile")(SpecCompiler.compile(spec))
    val d = docs(ctx, in)
    val mgr = new CheckpointManager(root.getPath)
    val sketch = Seq(ValidationCheckpoint.SketchCol("spans", size(col("spans"))))
    val all = 0 until Buckets
    ctx.span("checkpoint.run")(ValidationCheckpoint.run(d, plan, mgr, "bucket", all.take(Buckets / 2), "doc_id",
      sketch, batches = BucketsPerBatch))
    ctx.span("checkpoint.resume")(ValidationCheckpoint.run(d, plan, mgr, "bucket", all, "doc_id", sketch,
      batches = BucketsPerBatch))
    val committed = ctx.span("checkpoint.committed_buckets")(mgr.committedBuckets(spark))
    val weight = ctx.span("checkpoint.merged_sketch")(ValidationCheckpoint.mergedSketch(spark, mgr, "spans").totalWeight)
    val stats = ctx.span("exec.column_stats")(ValidationRunner.columnStats(
      d.select(col("doc_id"), size(col("spans")).as("n_spans")), Seq("doc_id", "n_spans"),
      exactDistinct = true).collect().toSeq)
    val dups = ctx.span("exec.unique_salted")(ValidationRunner.uniqueDuplicatesSalted(d, "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq)
    val cat = spark.read.parquet(in.catalog.get)
    val missing = ctx.span("exec.ref_check")(ValidationRunner.refCheck(mediaRefs(d), "media_ref", cat, "media_ref",
      catalogRowHint = Some(s.catalog.toLong)).count())
    val ks = ctx.span("exec.drift_ks")(Drift.ksTest(driftFrame(d), "v", "g", "0", "1").statistic)
    Result(root, committed, weight, stats, dups, missing, ks)
  }

  def check(ctx: Ctx, s: Shape, in: Inputs, r: Out): Seq[String] =
    try checkOutputs(ctx, s, r) finally Files.delete(r.root)

  private def checkOutputs(ctx: Ctx, s: Shape, r: Out): Seq[String] = {
    val e = Expected(s)
    val mgr = new CheckpointManager(r.root.getPath)
    // plain reads, counted here: the checks should add as few generated
    // classes as possible to the codegen cache the next iteration uses
    val committedByRule = mgr.violations(ctx.spark).select("rule").collect().toSeq
      .groupMapReduce(_.getString(0))(_ => 1L)(_ + _)
    val (d, v, i, x) = sums(mgr.summary(ctx.spark).collect().toSeq)
    val stat = r.stats.map(x => x.getString(0) -> x).toMap
    Seq(
      expect("committed buckets", r.committed, (0 until Buckets).toSet),
      expect("committed violations by rule", committedByRule, directByRule),
      expect("direct violations by rule", directByRule, e.violationsPerRule),
      expect("committed summary", (d, v, i, x), (e.docs, e.docs - e.corrupt, e.corrupt, e.violations)),
      expect("merged sketch weight", r.sketchWeight, e.docs.toDouble),
      expect("doc_id stats (cnt, nulls, distinct)",
        (stat("doc_id").getLong(1), stat("doc_id").getLong(2), stat("doc_id").getLong(5)),
        (e.docs, 0L, e.distinctDocIds)),
      expect("duplicate keys", r.dups, if (e.duplicateKeys > 0) Seq(("doc-hot", e.hot)) else Nil),
      expect("missing refs", r.missing, e.missingRefs),
      if (math.abs(r.ks - ksExact) <= 0.02) None
      else Some(f"KS sketch ${r.ks}%.4f vs exact $ksExact%.4f differs by more than 0.02")).flatten
  }

  override def extras(ctx: Ctx, s: Shape, in: Inputs, r: Out): Map[String, Double] =
    Map("checkpoint.write_bytes_per_input_byte" -> Files.size(r.root).toDouble / in.bytes)
}

/** JSON ingest with validation, then near-duplicate and exact dedup over
  * the valid docs' text: mostly io and ops work, CC bound by scheduling. */
object IngestDedup extends Workload {
  import Workloads._
  final case class Result(rows: Seq[org.apache.spark.sql.Row], pairs: Long, nodes: Long,
      components: Long, kept: Long, exactKept: Long)
  type Out = Result
  val name = "ingest-dedup"
  def shape(seed: Long): Shape = Shape(n = 5000, seed = seed, corruptEvery = 1000, badJsonEvery = 1000,
    tokens = 25, degen = 1000, dupClusters = true)

  val MaxBucket = 100

  def materialise(ctx: Ctx, s: Shape, dir: File): Inputs = {
    val path = new File(dir, "json")
    Inputs(dir, path.getPath, write(Gen.jsonDocs(ctx.spark, s, 8), path))
  }

  def job(ctx: Ctx, s: Shape, in: Inputs, iter: Long): Out = {
    val spark = ctx.spark
    val conv = ctx.span("io.from_json")(
      Convert.fromJson(spark.read.parquet(in.main), "json", spec)
        .select(col("doc_id"), col("spans"), col("violations"), col("valid"))
        .localCheckpoint(true))
    val rows = ValidationRunner.summary(conv.withColumn("bucket", bucket), Seq("bucket")).collect().toSeq
    val docs = conv.where(col("valid")).select(
      substring(col("doc_id"), 5, 12).cast("long").as("id"),
      concat_ws(" ", transform(filter(col("spans"), sp => sp.getField("kind") === "text"),
        sp => sp.getField("text"))).as("text"))
    val pairs = ctx.span("ops.minhash_pairs") {
      val p = Dedup.minhashNearDups(docs, "id", "text", threshold = 1.0, maxBucket = MaxBucket)
        .select("id_a", "id_b").localCheckpoint(true)
      (p, p.count())
    }
    val (nodes, comps) = ctx.span("ops.components") {
      val labels = Dedup.connectedComponents(pairs._1)
      (labels.count(), labels.select(countDistinct(col("label"))).first().getLong(0))
    }
    val kept = ctx.span("ops.dedup_keep")(Dedup.dedupByPairs(docs, "id", pairs._1).count())
    val exactKept = ctx.span("ops.exact_dedup")(Dedup.exactDedup(docs, "text", "id").count())
    Result(rows, pairs._2, nodes, comps, kept, exactKept)
  }

  def check(ctx: Ctx, s: Shape, in: Inputs, r: Out): Seq[String] = {
    val e = Expected(s)
    val (d, v, i, _) = sums(r.rows)
    Seq(expect("summary (docs, valid, invalid)", (d, v, i), (e.docs, e.valid, e.invalid)),
      expect("near-dup pairs", r.pairs, e.truePairs),
      expect("components (nodes, labels)", (r.nodes, r.components), (e.componentNodes, e.components)),
      expect("kept by pairs", r.kept, e.keptByPairs),
      expect("kept by exact dedup", r.exactKept, e.keptExact)).flatten
  }

  override def isolated(ctx: Ctx, s: Shape, in: Inputs): Unit =
    ctx.span("io.json_shape")(ctx.spark.read.parquet(in.main)
      .select(size(JsonShape.checkKeys(col("json"), spec)).as("k")).agg(sum("k")).collect())
}

/** Local-filesystem helpers for the run's scratch directory. */
object Files {
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length()
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
