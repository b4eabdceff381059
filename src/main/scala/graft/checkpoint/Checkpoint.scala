package graft.checkpoint

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
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
 *   lineage/commit-<min>-<max>-<uuid8>
 *                           one text marker per COMMITTED batch: its bucket
 *                           ids, one per line
 *   .lineage_staging/       markers being written; never read
 *   spec.json               the compiled spec that wrote the outputs
 *
 * Exactly-once per bucket: bucket outputs are written with dynamic
 * partition overwrite (idempotent on re-run), and the lineage marker is
 * published only AFTER all of the batch's outputs land — a crash between
 * the two re-processes that batch (overwriting identical output), never
 * skips or duplicates. The marker itself is a STAGED COMMIT through the
 * Hadoop FS: it is written under `.lineage_staging/`, then published into
 * `lineage/` with one atomic same-filesystem rename — a crash mid-write
 * leaves only staging garbage that no reader lists (swept by the next
 * commit), never a half-written marker that would poison
 * [[committedBuckets]] on resume. Commits and [[committedBuckets]] run no
 * Spark job. This stands in for an Iceberg snapshot+lineage transaction
 * (SURVEY.md §2.D): no Iceberg runtime ships with this build, so outputs
 * are plain parquet and the lineage is these marker files.
 */
final class CheckpointManager(root: String) extends Serializable {
  private def lineagePath = new Path(s"$root/lineage")
  private def stagingPath = new Path(s"$root/.lineage_staging")
  private def specPath = new Path(s"$root/spec.json")
  private def outPath(name: String) = s"$root/$name"
  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Buckets named by the published lineage markers. Only a missing
    * `lineage/` means "none"; a marker that does not parse (e.g. a parquet
    * marker from an older layout) or cannot be read throws, naming the file —
    * treating it as "no lineage" would silently reprocess every bucket. */
  def committedBuckets(spark: SparkSession): Set[Int] = {
    val fs = this.fs(spark)
    if (!fs.exists(lineagePath)) Set.empty
    else fs.listStatus(lineagePath).iterator.flatMap { st =>
      val ids = if (st.isFile) readText(fs, st.getPath).split('\n').map(_.trim.toIntOption).toSeq
        else Seq(None)
      if (ids.contains(None))
        throw new java.io.IOException(s"unreadable lineage marker ${st.getPath}: expected one " +
          "bucket id per line (a root written with parquet lineage markers cannot be resumed)")
      ids.flatten
    }.toSet
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
      outputs: DataFrame => Map[String, DataFrame], batches: Int = 1): Unit =
    forEachBatch(df, bucketCol, allBuckets, batches) { (batch, _) =>
      outputs(batch).foreach { case (name, out) => write(name, out, bucketCol) }
    }

  /** The batch loop: `commit` writes one group's outputs, then the group's
    * lineage marker is published — LAST, so a crash before it re-runs the
    * group idempotently. */
  private[checkpoint] def forEachBatch(df: DataFrame, bucketCol: String, allBuckets: Seq[Int],
      batches: Int)(commit: (DataFrame, Seq[Int]) => Unit): Unit = {
    val spark = df.sparkSession
    val done = committedBuckets(spark)
    allBuckets.filterNot(done).grouped(math.max(1, batches)).foreach { group =>
      commit(df.where(col(bucketCol).isin(group.map(Integer.valueOf): _*)), group)
      commitLineage(spark, group)
    }
  }

  /** Overwrite the buckets present in `out` under output `name`, leaving
    * every other bucket in place. */
  private[checkpoint] def write(name: String, out: DataFrame, bucketCol: String): Unit =
    // per-writer option, never the session conf: other jobs share it
    out.withColumn("bucket", col(bucketCol).cast("int"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(outPath(name))

  /**
   * Staged lineage commit: write the group's bucket ids as one text file in
   * `.lineage_staging/`, then publish it into `lineage/` with a single
   * atomic rename. Readers list only `lineage/`, so a crash at any point
   * here leaves either no commit (staging garbage, swept on the next
   * commit) or the complete one — never a torn marker. One marker per
   * committed batch keeps this O(#batches) tiny files.
   */
  private def commitLineage(spark: SparkSession, group: Seq[Int]): Unit = {
    val fs = this.fs(spark)
    val staged = new Path(stagingPath, java.util.UUID.randomUUID().toString)
    writeText(fs, staged, group.mkString("", "\n", "\n"))
    val dst = new Path(lineagePath,
      s"commit-${group.min}-${group.max}-${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(lineagePath)
    if (!fs.rename(staged, dst))
      throw new java.io.IOException(s"lineage commit rename failed: $staged -> $dst")
    // sweep: this marker is published; anything left is prior crashes' garbage
    fs.delete(stagingPath, true): Unit
  }

  def read(spark: SparkSession, name: String): DataFrame = spark.read.parquet(outPath(name))
  def violations(spark: SparkSession): DataFrame = read(spark, "violations")
  def summary(spark: SparkSession): DataFrame = read(spark, "summary")

  // ---- compiled-spec fingerprint (the `piqi compile` blob riding with the
  // lineage: a resumed run must be the SAME plan that wrote the outputs) ----

  /** The spec JSON recorded with this checkpoint, if any. */
  def recordedSpec(spark: SparkSession): Option[String] = {
    val fs = this.fs(spark)
    if (!fs.exists(specPath)) None else Some(readText(fs, specPath))
  }

  def recordSpec(spark: SparkSession, specJson: String): Unit = writeText(fs(spark), specPath, specJson)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
}

/**
 * The full checkpointed validation job: per batch of buckets, commits
 * (violations, summary, sketches), lineage last, where `sketches` are
 * per-bucket KLL sketches (Spark's `kll_sketch_agg_double`, k = [[Drift.K]])
 * over the configured numeric columns — resumable drift state: merging the
 * committed per-bucket sketches reconstructs the whole-run sketch without
 * touching processed data again, within the rank-error bound stated on
 * [[Drift]].
 *
 * One validation pass per batch: the `violations` write is the only job
 * that scans and validates. `observe` on the validated frame computes, per
 * bucket of the batch, the summary counts and one KLL sketch per sketch
 * column (KLL sketches merge, so each task's partial sketch combines into
 * the bucket's); `summary` and `sketches` are then written from those
 * values as local relations of at most `batches` rows. The observed
 * metrics are exactly-once: the violations write is a single result stage,
 * and Spark applies each task's accumulator updates from an action once,
 * even when the task is retried. The observation carries (4 + sketch
 * columns) expressions per bucket, so its size grows with buckets per
 * batch.
 */
object ValidationCheckpoint {

  final case class SketchCol(name: String, column: Column)

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
    val counts = Seq("n_docs", "n_valid", "n_invalid", "n_violations")
    val bucketType = docs.schema(bucketCol).dataType
    mgr.forEachBatch(docs, bucketCol, allBuckets, batches) { (batch, group) =>
      val name = s"checkpoint-${java.util.UUID.randomUUID()}"
      val metrics = group.flatMap { k =>
        val in = col(bucketCol) === k
        Seq(count(when(in, 1)), count(when(in && col("valid"), 1)), count(when(in && !col("valid"), 1)),
          sum(when(in, size(col("violations")).cast(LongType))))
          .zip(counts).map { case (m, n) => m.as(s"${n}_$k") } ++
          sketchCols.map(sc => Drift.kllSketch(when(in, sc.column)).as(s"sketch_${sc.name}_$k"))
      }
      val validated = ValidationRunner.validate(batch, plan).observe(name, metrics.head, metrics.tail: _*)
      val m = observed(spark, name) {
        // bucketCol rides through the explode — NEVER re-join on docKey here:
        // duplicate doc_ids (a supported, validated scenario) would multiply
        // each violation row by the duplicate count
        mgr.write("violations", ValidationRunner.violationRows(
          validated.select(col(docKey), col(bucketCol), col("violations")),
          docKey, passthroughCols = Seq(bucketCol)), bucketCol)
      }
      // an empty bucket gets no rows, as a groupBy would give it none
      val present = group.filter(k => m(s"n_docs_$k").asInstanceOf[Long] > 0)
      present.foreach { k =>
        val Seq(n, valid, invalid) = counts.take(3).map(c => m(s"${c}_$k").asInstanceOf[Long])
        require(valid + invalid == n, s"bucket $k: n_valid $valid + n_invalid $invalid != n_docs $n")
      }
      def local(names: Seq[String], tpe: DataType): DataFrame = spark.createDataFrame(
        java.util.Arrays.asList(present.map(k => Row(k +: names.map(c => m(s"${c}_$k")): _*)): _*),
        StructType(StructField(bucketCol, IntegerType) +: names.map(StructField(_, tpe))))
        .withColumn(bucketCol, col(bucketCol).cast(bucketType))
      mgr.write("summary", local(counts, LongType), bucketCol)
      if (sketchCols.nonEmpty)
        mgr.write("sketches", local(sketchCols.map(sc => s"sketch_${sc.name}"), BinaryType), bucketCol)
    }
  }

  /** Run `write`, then return the metrics `observe(name, …)` collected in
    * it. The listener lives only for this call: Spark's `Observation`
    * registers one that stays on the session and, for every later query
    * that fails analysis, logs an error with a stack trace. */
  private def observed(spark: SparkSession, name: String)(write: => Unit): Map[String, Any] = {
    val metrics = Promise[Row]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(metrics.trySuccess)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val row = try { write; Await.result(metrics.future, Duration.Inf) }
      finally spark.listenerManager.unregister(listener)
    row.getValuesMap[Any](row.schema.fieldNames.toSeq)
  }

  /** Merge the committed per-bucket sketches for `name` into one sketch
    * (one `kll_merge_agg_double` over the `sketches` table). */
  def mergedSketch(spark: SparkSession, mgr: CheckpointManager, name: String): QuantileSketch =
    QuantileSketch.fromBytes(mgr.read(spark, "sketches")
      .agg(kll_merge_agg_double(col(s"sketch_$name"), Drift.K))
      .collect()(0).getAs[Array[Byte]](0))
}
