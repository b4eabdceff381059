package graft.checkpoint

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.ValidationPlan
import graft.exec.{Drift, QuantileSketch, ValidationRunner}

/**
 * Partition-lineage checkpointing: a killed validation run resumes from the
 * last committed partition without recomputation (north rule: "validation
 * state (sketch accumulators, partition lineage, per-partition metrics) is
 * checkpointed"; the reference's seed is `.piq` stream appendability —
 * "no headers or footers... append", `doc/piq.md:697-700`).
 *
 * Layout under `root/`:
 *   <output>/bucket=N/...   one directory per named output (violations,
 *                           summary, sketches, …), parquet
 *   lineage/                one row per COMMITTED bucket (append-only)
 *
 * Exactly-once per bucket: bucket outputs are written with dynamic
 * partition overwrite (idempotent on re-run), and the lineage row is
 * appended only AFTER all of the bucket's outputs land — a crash between
 * the two re-processes that bucket (overwriting identical output), never
 * skips or duplicates. The lineage append itself is a STAGING COMMIT:
 * each batch is written as a single parquet file under
 * `.lineage_staging/<uuid>/`, then published into `lineage/` with one
 * atomic same-filesystem rename — a crash mid-write leaves only staging
 * garbage that no reader ever lists, never a half-written file inside
 * `lineage/` that would poison [[committedBuckets]] on resume. This is
 * the parquet-filesystem equivalent of the Iceberg snapshot+lineage
 * single-transaction design in SURVEY.md §2.D (no Iceberg runtime jars
 * ship in this sandbox — documented deviation; swap the per-output writes
 * + lineage staging-commit for one Iceberg transaction when running
 * against a real catalog).
 */
final class CheckpointManager(root: String) extends Serializable {
  private def lineagePath = s"$root/lineage"
  private def outPath(name: String) = s"$root/$name"

  def committedBuckets(spark: SparkSession): Set[Int] = {
    // ONLY "no lineage yet" means an empty set; any other failure (corrupt
    // file, transient IO) propagates — treating it as "no lineage" would
    // silently reprocess every bucket. Checking first (instead of catching
    // PATH_NOT_FOUND) keeps a fresh root from logging a stack trace.
    val lineage = new org.apache.hadoop.fs.Path(lineagePath)
    if (!lineage.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lineage)) Set.empty
    else spark.read.parquet(lineagePath).select("bucket").collect().map(_.getInt(0)).toSet
  }

  /**
   * Run `outputs` over every not-yet-committed bucket of `df` and commit
   * each named result partitioned by bucket.
   *
   * @param df        input with an integral `bucketCol` (e.g.
   *                  `pmod(xxhash64(doc_id), nBuckets)`)
   * @param outputs   bucket-batch DataFrame → named outputs; each must
   *                  retain bucketCol
   * @param batches   buckets are committed in groups of this many (fewer
   *                  jobs at scale; 1 = finest-grained resume)
   */
  def runResumable(df: DataFrame, bucketCol: String, allBuckets: Seq[Int],
      outputs: DataFrame => Map[String, DataFrame], batches: Int = 1): Unit = {
    val spark = df.sparkSession
    val done = committedBuckets(spark)
    val todo = allBuckets.filterNot(done)
    todo.grouped(math.max(1, batches)).foreach { group =>
      val batch = df.where(col(bucketCol).isin(group.map(Integer.valueOf): _*))
      outputs(batch).foreach { case (name, out) =>
        // per-writer option, never the session conf: other jobs share it
        out.withColumn("bucket", col(bucketCol).cast("int"))
          .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(outPath(name))
      }
      // commit marker LAST: crash before this line → bucket re-runs idempotently
      commitLineage(spark, group)
    }
  }

  /**
   * Staged lineage append: write the batch's rows as ONE parquet file in a
   * fresh staging dir, then publish it into `lineage/` with a single
   * atomic rename. Readers list only `lineage/`, so a crash at any point
   * here leaves either no commit (staging garbage, swept on the next
   * commit) or the complete one — never a torn file a resume would choke
   * on. One marker FILE per committed batch keeps this O(#batches) tiny
   * metadata, not a table rewrite.
   */
  private def commitLineage(spark: SparkSession, group: Seq[Int]): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val stagingRoot = s"$root/.lineage_staging"
    val staging = s"$stagingRoot/${java.util.UUID.randomUUID()}"
    group.map(b => (b, System.currentTimeMillis()))
      .toDF("bucket", "committed_at_ms")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new Path(staging))
      .filter(_.getPath.getName.endsWith(".parquet"))
    require(dataFiles.length == 1,
      s"staged lineage batch must be one file, found ${dataFiles.length} in $staging")
    val dst = new Path(lineagePath, s"commit-${group.min}-${group.max}-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    fs.mkdirs(new Path(lineagePath))
    if (!fs.rename(dataFiles(0).getPath, dst))
      throw new java.io.IOException(s"lineage commit rename failed: $dst")
    // best-effort sweep: this batch's dir is published; stale siblings are
    // prior crashes' garbage (readers never see them either way)
    fs.delete(new Path(staging), true)
    fs.listStatus(new Path(stagingRoot)).foreach(d => fs.delete(d.getPath, true)): Unit
  }

  def read(spark: SparkSession, name: String): DataFrame = spark.read.parquet(outPath(name))
  def violations(spark: SparkSession): DataFrame = read(spark, "violations")
  def summary(spark: SparkSession): DataFrame = read(spark, "summary")

  // ---- compiled-spec fingerprint (the `piqi compile` blob riding with the
  // lineage: a resumed run must be the SAME plan that wrote the outputs) ----

  private def specPath = new org.apache.hadoop.fs.Path(s"$root/spec.json")

  /** The spec JSON recorded with this checkpoint, if any. */
  def recordedSpec(spark: SparkSession): Option[String] = {
    val fs = specPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(specPath)) None
    else {
      val in = fs.open(specPath)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  def recordSpec(spark: SparkSession, specJson: String): Unit = {
    val fs = specPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(specPath, true)
    try out.write(specJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}

/**
 * The full checkpointed validation job: per bucket, commits (violations,
 * summary, sketches) atomically-enough (lineage last), where `sketches` are
 * per-bucket KLL sketches (Spark's `kll_sketch_agg_double`, k = [[Drift.K]])
 * over the configured numeric columns — resumable drift state: merging the
 * committed per-bucket sketches reconstructs the whole-run sketch without
 * touching processed data again, within the rank-error bound stated on
 * [[Drift]].
 */
object ValidationCheckpoint {

  final case class SketchCol(name: String, column: org.apache.spark.sql.Column)

  def run(docs: DataFrame, plan: ValidationPlan, mgr: CheckpointManager,
      bucketCol: String, allBuckets: Seq[Int], docKey: String,
      sketchCols: Seq[SketchCol] = Nil, batches: Int = 1): Unit = {
    // spec fingerprint: resuming a lineage with a DIFFERENT spec would mix
    // outputs of two plans in one table — fail fast instead (the serialized
    // blob is the `piqi compile` portable-spec analog, SpecJson)
    val spark = docs.sparkSession
    val specJson = graft.spec.SpecJson.toJson(plan.spec)
    mgr.recordedSpec(spark) match {
      case Some(prev) if prev != specJson =>
        throw new graft.spec.SpecException(
          s"checkpoint at a different spec: lineage was written by another plan " +
            s"(recorded spec differs); use a fresh checkpoint root or the original spec")
      case Some(_) => ()
      case None => mgr.recordSpec(spark, specJson)
    }
    mgr.runResumable(docs, bucketCol, allBuckets, batch => {
      val validated = ValidationRunner.validate(batch, plan)
      // bucketCol rides through the explode — NEVER re-join on docKey here:
      // duplicate doc_ids (a supported, validated scenario) would multiply
      // each violation row by the duplicate count
      val violations = ValidationRunner.violationRows(
        validated.select(col(docKey), col(bucketCol), col("violations")),
        docKey, passthroughCols = Seq(bucketCol))
      val summary = ValidationRunner.summary(validated, Seq(bucketCol))
      val base = Map("violations" -> violations, "summary" -> summary)
      if (sketchCols.isEmpty) base
      else {
        val aggs = sketchCols.map(sc => Drift.kllSketch(sc.column).as(s"sketch_${sc.name}"))
        val sketches = batch.groupBy(col(bucketCol)).agg(aggs.head, aggs.tail: _*)
        base + ("sketches" -> sketches)
      }
    }, batches)
  }

  /** Merge the committed per-bucket sketches for `name` into one sketch
    * (one `kll_merge_agg_double` over the `sketches` table). */
  def mergedSketch(spark: SparkSession, mgr: CheckpointManager, name: String): QuantileSketch =
    QuantileSketch.fromBytes(mgr.read(spark, "sketches")
      .agg(kll_merge_agg_double(col(s"sketch_$name"), Drift.K))
      .collect()(0).getAs[Array[Byte]](0))
}
