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
 *   lineage/commit-<min>-<max>-<uuid8>
 *                           one text marker per COMMITTED batch: a first
 *                           line `buckets=<id>,<id>,…`, then one line per
 *                           bucket of the batch: `bucket=<id> n_docs=…
 *                           n_valid=… n_invalid=… n_violations=…
 *                           sketch_<name>=<base64> …` (n_docs=0 and no
 *                           sketch for an empty bucket)
 *   violations/commit-<min>-<max>-<uuid8>/
 *                           the violation rows of the batch whose marker has
 *                           the same name: plain parquet, `bucket` an int
 *                           column; read only once that marker is published
 *   .lineage_staging/       markers and spec.json being written; never read
 *   spec.json               the compiled spec that wrote the outputs,
 *                           published through `.lineage_staging/` too
 *
 * Exactly-once per bucket, committed as an Iceberg snapshot is: a batch
 * writes its violation rows into a fresh directory named after the marker
 * it is about to publish, then publishes the marker, and readers read only
 * the directories that published markers name. So one commit makes the
 * batch's rows, counts and sketches visible together. A crash before it
 * leaves a directory no marker names, which no reader reads; the re-run
 * writes the batch again under a fresh name, and the next commit deletes
 * the orphan. The marker itself is a STAGED COMMIT through the Hadoop FS:
 * it is written under `.lineage_staging/`, then published into `lineage/`
 * with one atomic same-filesystem rename — a crash mid-write leaves only
 * staging garbage that no reader lists (swept by the next commit), never a
 * half-written marker that would poison [[committedBuckets]] on resume.
 * The sweeps assume one writer per root: a concurrent run's unpublished
 * directory would be deleted. Commits, [[committedBuckets]] and [[summary]]
 * run no Spark job. This stands in for an Iceberg snapshot+lineage
 * transaction (SURVEY.md §2.D), which writes data files first and keeps
 * snapshot summaries and sketch blobs with the snapshot: no Iceberg runtime
 * ships with this build, so outputs are plain parquet and the lineage is
 * these marker files.
 */
final class CheckpointManager(root: String) extends Serializable {
  import CheckpointManager._
  private def lineagePath = new Path(s"$root/lineage")
  private def stagingPath = new Path(s"$root/.lineage_staging")
  private def specPath = new Path(s"$root/spec.json")
  private def violationsPath = new Path(s"$root/violations")
  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Buckets named by the published lineage markers; of each marker only
    * the first line is read. Only a missing `lineage/` means "none"; a
    * marker that does not parse (an id-only or parquet marker of an older
    * layout) or cannot be read throws, naming the file — treating it as "no
    * lineage" would silently reprocess every bucket. So does a marker that
    * names no violations directory (a root of the older
    * `violations/bucket=N` layout), naming the root. */
  def committedBuckets(spark: SparkSession): Set[Int] = {
    val fs = this.fs(spark)
    val ms = markers(fs)
    val ids = ms.flatMap(readMarker(fs, _, idsOnly = true)._1).toSet
    requireBatchDirs(fs, ms)
    ids
  }

  /** A fresh batch name: its lineage marker's file name and its violations
    * directory's. */
  private[checkpoint] def batchName(group: Seq[Int]): String =
    s"commit-${group.min}-${group.max}-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Every committed bucket's record, from the markers. Throws, naming the
    * markers, when a marker's bucket lines differ from its buckets or a
    * bucket is committed twice: a partial answer would miscount silently. */
  private[checkpoint] def bucketRecords(spark: SparkSession): Seq[BucketRecord] = {
    val fs = this.fs(spark)
    val records = markers(fs).flatMap { p =>
      val (ids, lines) = readMarker(fs, p, idsOnly = false)
      val records = lines.map(decode(p, _))
      if (records.map(_.bucket) != ids)
        throw new java.io.IOException(s"lineage marker $p: bucket lines ${records.map(_.bucket)} " +
          s"differ from its buckets $ids")
      records
    }
    records.groupBy(_.bucket).values.find(_.size > 1).foreach { twice =>
      throw new java.io.IOException(s"bucket ${twice.head.bucket} committed by more than one " +
        s"lineage marker: ${twice.map(_.marker).mkString(", ")}")
    }
    records
  }

  /** Write `out` into `violations/<name>/`, one unpartitioned parquet
    * directory that no reader reads until the marker `name` is published,
    * with `bucketCol` as the int column `bucket`, last. */
  private[checkpoint] def writeViolations(out: DataFrame, bucketCol: String, name: String): Unit =
    out.select(out.columns.filter(_ != "bucket").map(col).toSeq :+ col(bucketCol).cast("int").as("bucket"): _*)
      .write.mode(SaveMode.ErrorIfExists).parquet(new Path(violationsPath, name).toString)

  /**
   * Staged lineage commit of the batch `name`, whose violations directory
   * is written: write the group's marker as one text file in
   * `.lineage_staging/`, then publish it as `lineage/<name>` with a single
   * atomic rename. Readers list only `lineage/`, so a crash at any point
   * here leaves either no commit (staging garbage and an unnamed violations
   * directory, swept on the next commit) or the complete one — never a torn
   * marker. One marker per committed batch keeps this O(#batches) small
   * files.
   */
  private[checkpoint] def commitLineage(spark: SparkSession, name: String, group: Seq[Int],
      records: Seq[BucketRecord]): Unit = {
    val fs = this.fs(spark)
    val lines = (Header + group.mkString(",")) +: records.map(encode)
    publish(fs, new Path(lineagePath, name), lines.mkString("", "\n", "\n"))
    // sweep: this marker is published; anything left is prior crashes' garbage
    fs.delete(stagingPath, true)
    val named = markers(fs).map(_.getName).toSet
    batchDirs(fs).filterNot(named).foreach(d => fs.delete(new Path(violationsPath, d), true))
  }

  /** The violation rows of the committed batches (`docKey`, `rule`, `path`,
    * `detail`, `bucket`): exactly the directories the published markers
    * name, so a crashed batch's rows are never read. Throws as
    * [[committedBuckets]] does, and when no batch is committed. */
  def violations(spark: SparkSession): DataFrame = {
    val fs = this.fs(spark)
    val ms = markers(fs)
    requireBatchDirs(fs, ms)
    if (ms.isEmpty) throw new java.io.IOException(s"checkpoint root $root has no committed batch")
    spark.read.parquet(ms.map(m => new Path(violationsPath, m.getName).toString): _*)
  }

  /** Per-bucket counts (`bucket`, `n_docs`, `n_valid`, `n_invalid`,
    * `n_violations`) of the buckets [[ValidationCheckpoint.run]] committed,
    * one row per non-empty bucket: a local relation built from the markers,
    * so collecting it runs no job. Throws as [[bucketRecords]] does. */
  def summary(spark: SparkSession): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(bucketRecords(spark).filter(_.counts("n_docs") > 0)
      .map(r => Row(r.bucket +: Counts.map(r.counts): _*)): _*),
    StructType(StructField("bucket", IntegerType) +: Counts.map(StructField(_, LongType))))

  // ---- compiled-spec fingerprint (the `piqi compile` blob riding with the
  // lineage: a resumed run must be the SAME plan that wrote the outputs) ----

  /** The spec JSON recorded with this checkpoint, if any. */
  def recordedSpec(spark: SparkSession): Option[String] = {
    val fs = this.fs(spark)
    if (!fs.exists(specPath)) None else Some(readText(fs, specPath))
  }

  /** Record the spec JSON, staged as a marker is ([[publish]]): a kill
    * mid-write leaves no `spec.json`, so the resume records it again. */
  def recordSpec(spark: SparkSession, specJson: String): Unit = publish(fs(spark), specPath, specJson)

  /** The staged write of the markers and `spec.json`: write `text` as
    * `.lineage_staging/<dst name>`, then publish it as `dst` with one atomic
    * rename, so a crash at any point leaves `dst` whole or absent. */
  private def publish(fs: FileSystem, dst: Path, text: String): Unit = {
    val staged = new Path(stagingPath, dst.getName)
    writeText(fs, staged, text)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(staged, dst)) throw new java.io.IOException(s"staged write rename failed: $staged -> $dst")
  }

  private def markers(fs: FileSystem): Seq[Path] =
    if (!fs.exists(lineagePath)) Nil
    else fs.listStatus(lineagePath).toSeq.map { st =>
      if (!st.isFile) throw unreadable(st.getPath)
      st.getPath
    }

  /** The names of the batch directories under `violations/`. */
  private def batchDirs(fs: FileSystem): Seq[String] =
    if (!fs.exists(violationsPath)) Nil
    else fs.listStatus(violationsPath).toSeq.filter(_.isDirectory).map(_.getPath.getName)

  private def requireBatchDirs(fs: FileSystem, markers: Seq[Path]): Unit = {
    val dirs = batchDirs(fs).toSet
    markers.find(m => !dirs(m.getName)).foreach { m =>
      throw new java.io.IOException(s"checkpoint root $root: lineage marker ${m.getName} names no " +
        "violations directory (a root of the older violations/bucket=N layout cannot be read or resumed)")
    }
  }

  /** A marker's bucket ids and, unless `idsOnly`, its bucket lines. With
    * `idsOnly`, the marker is read up to the end of its first line only. */
  private def readMarker(fs: FileSystem, p: Path, idsOnly: Boolean): (Seq[Int], Seq[String]) = {
    val in = fs.open(p)
    try {
      val first = readLine(in)
      if (!first.startsWith(Header)) throw unreadable(p)
      val ids = first.stripPrefix(Header).split(',').toSeq.map(_.trim.toIntOption)
      if (ids.contains(None)) throw unreadable(p)
      (ids.flatten, if (idsOnly) Nil else new String(in.readAllBytes(), UTF_8).linesIterator.toSeq)
    } finally in.close()
  }

  private def unreadable(p: Path) = new java.io.IOException(s"unreadable lineage marker $p: expected a " +
    "buckets= first line (a root written with id-only or parquet lineage markers cannot be resumed)")

  private def readLine(in: java.io.InputStream): String = {
    val line = new java.io.ByteArrayOutputStream()
    var b = in.read()
    while (b != -1 && b != '\n') { line.write(b); b = in.read() }
    line.toString(UTF_8)
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
}

object CheckpointManager {
  /** The summary counts of one bucket, in marker and [[CheckpointManager.summary]] order. */
  private[checkpoint] val Counts: Seq[String] = Seq("n_docs", "n_valid", "n_invalid", "n_violations")

  /** One bucket line of a marker: the bucket's [[Counts]] and its
    * KLL sketch bytes by sketch name; `marker` is the file it was read from. */
  private[checkpoint] final case class BucketRecord(bucket: Int, counts: Map[String, Long],
      sketches: Map[String, Array[Byte]], marker: String = "")

  private val Header = "buckets="

  private def encode(r: BucketRecord): String =
    ((s"bucket=${r.bucket}" +: Counts.map(c => s"$c=${r.counts(c)}")) ++
      r.sketches.map { case (n, b) => s"sketch_$n=${java.util.Base64.getEncoder.encodeToString(b)}" })
      .mkString(" ")

  private def decode(p: Path, line: String): BucketRecord = {
    val fields = line.split(' ').map { t =>
      val eq = t.indexOf('=')
      if (eq <= 0) throw new java.io.IOException(s"lineage marker $p: unreadable field '${t.take(40)}'")
      t.take(eq) -> t.drop(eq + 1)
    }.toMap
    def long(k: String) = fields.get(k).flatMap(_.toLongOption).getOrElse(throw new java.io.IOException(
      s"lineage marker $p: bucket line without a numeric $k: '${line.take(80)}'"))
    BucketRecord(long("bucket").toInt, Counts.map(c => c -> long(c)).toMap,
      fields.collect { case (k, v) if k.startsWith("sketch_") =>
        k.stripPrefix("sketch_") -> java.util.Base64.getDecoder.decode(v) },
      p.toString)
  }
}

/**
 * The full checkpointed validation job: per batch of buckets, writes the
 * batch's violations directory, then commits the lineage marker of the
 * same name, carrying each bucket's summary counts and one KLL sketch per
 * sketch column (Spark's `kll_sketch_agg_double`, k = [[Drift.K]]) —
 * resumable drift state: merging the committed per-bucket sketches
 * reconstructs the whole-run sketch without touching processed data again,
 * within the rank-error bound stated on [[Drift]].
 *
 * One job per batch: the violations write is the only job, and the only
 * scan. It writes one unpartitioned parquet directory, so Spark plans no
 * sort before it and each task writes at most one file. `observe` on the
 * validated frame computes, per bucket of the batch, the summary counts
 * and the sketches (KLL sketches merge, so each task's partial sketch
 * combines into the bucket's); they ride in the marker's bucket lines, so
 * the marker's one atomic rename commits the rows, counts, sketches and
 * lineage together. A KLL sketch at k = 400 serializes to at most about
 * 10 KB (5.7 KB at 2.5k items, 10.3 KB at 10⁹), about 14 KB in base64, per
 * bucket and sketch column. The observed metrics are exactly-once: the
 * violations write is a single result stage, and Spark applies each
 * task's accumulator updates from an action once, even when the task is
 * retried. The observation carries (4 + sketch columns) expressions per
 * bucket, so its size grows with buckets per batch.
 *
 * [[CheckpointManager.summary]], [[bucketSketches]] and [[mergedSketch]]
 * read the markers and run no job. They throw, naming the markers, when a
 * marker's bucket lines differ from its buckets or a bucket is committed
 * twice; a root of an older layout, with id-only markers, fails on its
 * first marker read. A sketch name must be a word
 * (`[A-Za-z0-9_]+`) that no other sketch column of the run uses: the
 * marker format carries no other; [[run]] checks this before any job.
 */
object ValidationCheckpoint {
  import CheckpointManager.{BucketRecord, Counts}

  final case class SketchCol(name: String, column: Column)

  def run(docs: DataFrame, plan: ValidationPlan, mgr: CheckpointManager,
      bucketCol: String, allBuckets: Seq[Int], docKey: String,
      sketchCols: Seq[SketchCol] = Nil, batches: Int = 1): Unit = {
    val names = sketchCols.map(_.name)
    names.foreach(n => require(n.matches("\\w+"), s"sketch name '$n' is not a word ([A-Za-z0-9_]+)"))
    require(names.distinct.size == names.size, s"sketch names repeat: ${names.mkString(", ")}")
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
    val done = mgr.committedBuckets(spark)
    allBuckets.filterNot(done).grouped(math.max(1, batches)).foreach { group =>
      val batch = docs.where(col(bucketCol).isin(group.map(Integer.valueOf): _*))
      val name = mgr.batchName(group)
      val metrics = group.flatMap { k =>
        val in = col(bucketCol) === k
        Seq(count(when(in, 1)), count(when(in && col("valid"), 1)), count(when(in && !col("valid"), 1)),
          sum(when(in, size(col("violations")).cast(LongType))))
          .zip(Counts).map { case (m, n) => m.as(s"${n}_$k") } ++
          sketchCols.map(sc => Drift.kllSketch(when(in, sc.column)).as(s"sketch_${sc.name}_$k"))
      }
      val validated = ValidationRunner.validate(batch, plan).observe(name, metrics.head, metrics.tail: _*)
      val m = observed(spark, name) {
        // bucketCol rides through the explode — NEVER re-join on docKey here:
        // duplicate doc_ids (a supported, validated scenario) would multiply
        // each violation row by the duplicate count
        mgr.writeViolations(ValidationRunner.violationRows(
          validated.select(col(docKey), col(bucketCol), col("violations")),
          docKey, passthroughCols = Seq(bucketCol)), bucketCol, name)
      }
      val records = group.map { k =>
        // an empty bucket gets no summary row and no sketch, as a groupBy
        // would give it none (its n_violations sum is null)
        if (m(s"n_docs_$k") == 0L) BucketRecord(k, Counts.map(_ -> 0L).toMap, Map.empty)
        else {
          val counts = Counts.map(c => c -> m(s"${c}_$k").asInstanceOf[Long]).toMap
          require(counts("n_valid") + counts("n_invalid") == counts("n_docs"), s"bucket $k: n_valid + " +
            s"n_invalid != n_docs in $counts")
          BucketRecord(k, counts, sketchCols.map(sc => sc.name -> m(s"sketch_${sc.name}_$k")
            .asInstanceOf[Array[Byte]]).toMap)
        }
      }
      // the marker is published LAST: a crash before it re-runs the batch
      // under a fresh name, and no reader reads the orphan directory
      mgr.commitLineage(spark, name, group, records)
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

  /** The committed sketch `name` of each non-empty bucket, read from the
    * markers (no job). Throws as [[CheckpointManager.summary]] does, and,
    * naming the marker and the bucket, for a bucket without that sketch. */
  def bucketSketches(spark: SparkSession, mgr: CheckpointManager, name: String): Map[Int, QuantileSketch] =
    mgr.bucketRecords(spark).filter(_.counts("n_docs") > 0).map { r =>
      r.bucket -> QuantileSketch.fromBytes(r.sketches.getOrElse(name, throw new java.io.IOException(
        s"lineage marker ${r.marker}: bucket ${r.bucket} has no sketch '$name'")))
    }.toMap

  /** Merge the committed per-bucket sketches for `name` into one sketch at
    * k = [[Drift.K]], on the driver (no job). */
  def mergedSketch(spark: SparkSession, mgr: CheckpointManager, name: String): QuantileSketch =
    QuantileSketch.merge(bucketSketches(spark, mgr, name).values)
}
