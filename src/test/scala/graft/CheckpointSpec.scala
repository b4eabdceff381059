package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.{CheckpointManager, ValidationCheckpoint}
import graft.compile.SpecCompiler
import graft.exec.{Drift, ValidationRunner}
import graft.io.Docs

/** Local files under the `faulty:` scheme. When armed, the `nth` matching
  * (op, path) call throws instead of running — a process kill at that point,
  * seen from the files. Fires once, then disarms. The op `opened` is a kill
  * after a `create` and before anything is written: the file is left empty. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.hit("create", f)
    opened(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.hit("create", f)
    opened(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }
  private def opened(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    try FaultFs.hit("opened", f) catch { case e: FaultFs.Fault => out.close(); throw e }
    out
  }
  override def rename(src: Path, dst: Path): Boolean = { FaultFs.hit("rename", src); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { FaultFs.hit("delete", p); super.delete(p, recursive) }
}

object FaultFs {
  final class Fault(msg: String) extends java.io.IOException(msg)
  private final case class Arm(op: String, nth: Int, matches: String => Boolean, var seen: Int = 0)
  private var armed: Option[Arm] = None

  def arm(op: String, nth: Int)(matches: String => Boolean): Unit = synchronized {
    armed = Some(Arm(op, nth, matches))
  }

  def disarm(): Unit = synchronized { armed = None }

  private[graft] def hit(op: String, p: Path): Unit = synchronized {
    val path = p.toUri.getPath
    armed.filter(a => a.op == op && a.matches(path)).foreach { a =>
      a.seen += 1
      if (a.seen == a.nth) {
        armed = None
        throw new Fault(s"injected fault: $op $path")
      }
    }
  }
}

class CheckpointSpec extends SparkTestBase {
  private val plan = SpecCompiler.compile(Docs.docSpec)
  private val partitionOverwriteMode = "spark.sql.sources.partitionOverwriteMode"
  /** KLL's a-priori normalized rank error at k = Drift.K (see Drift). */
  private val eps = org.apache.datasketches.kll.KllSketch.getNormalizedRankError(Drift.K, false)

  private def withBuckets(docs: DataFrame, n: Int) =
    docs.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(n)).cast("int"))
  private val offsets = ValidationCheckpoint.SketchCol("offsets",
    aggregate(col("spans"), lit(0L), (acc, sp) => acc + sp.getField("offset")))

  private def tempRoot(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
  private def run(docs: DataFrame, mgr: CheckpointManager, buckets: Seq[Int], batches: Int): Unit =
    ValidationCheckpoint.run(docs, plan, mgr, "bucket", buckets, "doc_id", Seq(offsets), batches)

  private def sortedRows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
  private def violationRows(mgr: CheckpointManager) =
    sortedRows(mgr.violations(spark), "doc_id", "bucket", "rule", "path", "detail")
  private val summaryCols = Seq("bucket", "n_docs", "n_valid", "n_invalid", "n_violations")
  private def summaryRows(df: DataFrame) = sortedRows(df, summaryCols: _*)

  test("fault injection: a kill at every write boundary resumes to the uninterrupted outputs") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFs].getName)
    val docs = withBuckets(Docs.generate(spark, 1200, numPartitions = 4, corruptEvery = 40), 4)
    val all = Seq(0, 1, 2, 3)
    val clean = new CheckpointManager(tempRoot("graft-fault-clean"))
    run(docs, clean, all, batches = 2)
    val cleanSketch = ValidationCheckpoint.mergedSketch(spark, clean, "offsets")

    // batches of two: {0,1} commits, the kill lands in {2,3}'s write or
    // commit, or in the spec record before either batch. Per boundary: the
    // (op, nth, path) that throws and the lineage at the kill
    val batch23 = "/commit-2-3-"
    val boundaries: Seq[(String, String, Int, String => Boolean, Set[Int])] = Seq(
      ("spec.json created, before close", "opened", 1, _.endsWith("/spec.json"), Set.empty),
      ("batch data-file create", "create", 1, p => p.contains(s"/violations$batch23") && p.contains("/part-"),
        Set(0, 1)),
      ("write job commit", "create", 1, p => p.contains(s"/violations$batch23") && p.endsWith("/_SUCCESS"),
        Set(0, 1)),
      ("staged marker create", "create", 1, _.contains(s"/.lineage_staging$batch23"), Set(0, 1)),
      ("staged, before rename", "rename", 1, _.contains(s"/.lineage_staging$batch23"), Set(0, 1)),
      ("renamed, before sweep", "delete", 2, _.endsWith("/.lineage_staging"), Set(0, 1, 2, 3)))
    def batchDirs(dir: String) =
      Option(new java.io.File(s"$dir/violations").list()).toSeq.flatten.filterNot(_.startsWith(".")).toSet
    def markerNames(dir: String) =
      new java.io.File(s"$dir/lineage").list().toSeq.filterNot(_.startsWith(".")).toSet
    // the injected failures are expected: keep their task-failure stack traces
    // (some logged by killed sibling tasks after the run has thrown) out of the log
    spark.sparkContext.setLogLevel("OFF")
    try for ((point, op, nth, matches, committedAtKill) <- boundaries) withClue(s"[$point] ") {
      val dir = tempRoot("graft-fault")
      val mgr = new CheckpointManager("faulty://" + dir)
      FaultFs.arm(op, nth)(matches)
      val e = try intercept[Exception](run(docs, mgr, all, batches = 2)) finally FaultFs.disarm()
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[FaultFs.Fault]), s"run failed for another reason: $e")
      assert(Seq("summary", "sketches").forall(o => !new java.io.File(s"$dir/$o").exists))
      assert(mgr.committedBuckets(spark) === committedAtKill)
      if (committedAtKill.isEmpty) {
        // killed before the first batch: no batch ran and no torn spec is recorded
        assert(batchDirs(dir).isEmpty)
        assert(mgr.recordedSpec(spark).isEmpty)
      } else {
        // the killed batch's directory is there, but only the committed
        // batches' rows are read
        assert(batchDirs(dir).exists(_.startsWith(batch23.stripPrefix("/"))))
        assert(violationRows(mgr) === violationRows(clean).filter(r => committedAtKill(r.split('|')(1).toInt)))
      }

      run(docs, mgr, all, batches = 2)
      assert(mgr.committedBuckets(spark) === all.toSet)
      assert(batchDirs(dir) === markerNames(dir)) // the orphan is swept
      assert(violationRows(mgr) === violationRows(clean))
      assert(summaryRows(mgr.summary(spark)) === summaryRows(clean.summary(spark)))
      val sketch = ValidationCheckpoint.mergedSketch(spark, mgr, "offsets")
      assert(sketch.totalWeight === cleanSketch.totalWeight)
      assert(Drift.ksStatistic(sketch, cleanSketch) <= 2 * eps)
    } finally spark.sparkContext.setLogLevel(SparkTestBase.LogLevel)
  }

  test("batches of 4 with an empty bucket equal the direct forms") {
    // buckets {0, 1, 3, 4}: bucket 2 is empty and shares a batch with 0, 1, 3
    val docs = withBuckets(Docs.generate(spark, 900, numPartitions = 3, corruptEvery = 30), 4)
      .withColumn("bucket", when(col("bucket") === 2, 4).otherwise(col("bucket")))
    val mgr = new CheckpointManager(tempRoot("graft-ckpt-empty"))
    run(docs, mgr, 0 to 4, batches = 4)
    assert(mgr.committedBuckets(spark) === (0 to 4).toSet)

    val validated = ValidationRunner.validate(docs, plan)
    val direct = ValidationRunner.summary(validated, Seq("bucket"))
    val committed = mgr.summary(spark)
    assert(summaryRows(committed) === summaryRows(direct))
    assert(committed.where(col("bucket") === 2).isEmpty)
    assert(committed.schema.map(f => f.name -> f.dataType.typeName).toMap ===
      summaryCols.map(_ -> "long").toMap + ("bucket" -> "integer"))

    val perBucket = docs.groupBy("bucket").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sketches = ValidationCheckpoint.bucketSketches(spark, mgr, "offsets")
    assert(sketches.keys.toSeq.sorted === Seq(0, 1, 3, 4))
    for ((b, sketch) <- sketches) assert(sketch.totalWeight === perBucket(b).toDouble)

    assert(violationRows(mgr) === sortedRows(
      ValidationRunner.violationRows(validated, "doc_id", Seq("bucket")),
      "doc_id", "bucket", "rule", "path", "detail"))
  }

  test("a batch with no violation rows commits and reads back") {
    // clean docs in buckets 0-1 and none in bucket 2: both batches write no row
    val docs = withBuckets(Docs.generate(spark, 300, numPartitions = 3), 2)
    val root = tempRoot("graft-ckpt-norows")
    val mgr = new CheckpointManager(root)
    run(docs, mgr, 0 to 2, batches = 2)
    assert(mgr.committedBuckets(spark) === Set(0, 1, 2))
    val dirs = new java.io.File(s"$root/violations").list().toSeq.filterNot(_.startsWith("."))
    assert(dirs.size === 2)
    val rows = mgr.violations(spark)
    assert(rows.isEmpty)
    assert(rows.schema.map(f => f.name -> f.dataType.typeName) === Seq("doc_id" -> "string",
      "rule" -> "string", "path" -> "string", "detail" -> "string", "bucket" -> "integer"))
  }

  test("two concurrent runs on one session keep their observations apart") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // getAll holds only explicitly set keys (getOption would report the
    // default); start from unset so any set by the runs shows
    def overwriteModeSet = spark.conf.getAll.get(partitionOverwriteMode)
    val before = overwriteModeSet
    spark.conf.unset(partitionOverwriteMode)
    val inputs = Seq(
      withBuckets(Docs.generate(spark, 600, numPartitions = 2, corruptEvery = 25), 4),
      withBuckets(Docs.generate(spark, 1500, numPartitions = 3, corruptEvery = 60), 4))
    val mgrs = inputs.map(_ => new CheckpointManager(tempRoot("graft-ckpt-conc")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val both = Future.sequence(inputs.zip(mgrs).map { case (d, m) => Future(run(d, m, 0 to 3, batches = 2)) })
      val seen = Iterator.continually { Thread.sleep(5); overwriteModeSet }
        .takeWhile(_ => !both.isCompleted).toList
      Await.result(both, 5.minutes)
      assert(seen.nonEmpty && (overwriteModeSet :: seen).forall(_.isEmpty))
    } finally {
      pool.shutdown()
      before.foreach(spark.conf.set(partitionOverwriteMode, _))
    }

    for ((d, m) <- inputs.zip(mgrs)) {
      assert(summaryRows(m.summary(spark)) ===
        summaryRows(ValidationRunner.summary(ValidationRunner.validate(d, plan), Seq("bucket"))))
      assert(ValidationCheckpoint.mergedSketch(spark, m, "offsets").totalWeight === d.count().toDouble)
    }
  }

  test("a lineage marker that does not parse fails resume, naming the file") {
    val docs = withBuckets(Docs.generate(spark, 40, 1), 2)
    // markers of older layouts: a parquet file, and the id-only text form
    // (one bucket id per line)
    val oldMarkers = Seq("commit-1-1-0000abcd.parquet" -> Array[Byte](80, 65, 82, 49, 1, 2, 3),
      "commit-1-1-0000abcd" -> "1\n".getBytes)
    for ((name, bytes) <- oldMarkers) withClue(s"[$name] ") {
      val root = tempRoot("graft-ckpt-oldmarker")
      val mgr = new CheckpointManager(root)
      run(docs, mgr, Seq(0), batches = 1)
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "lineage", name), bytes)
      for (read <- Seq[() => Any](() => mgr.committedBuckets(spark), () => run(docs, mgr, Seq(0, 1), batches = 1)))
        assert(intercept[java.io.IOException](read()).getMessage.contains(name))
    }
  }

  test("a batch commits in one job, into one marker; reading the committed state runs none") {
    val docs = withBuckets(Docs.generate(spark, 400, numPartitions = 2, corruptEvery = 20), 4)
    val root = tempRoot("graft-ckpt-jobs")
    val mgr = new CheckpointManager(root)
    assert(jobsOf(run(docs, mgr, 0 to 4, batches = 5)) === 1)
    assert(jobsOf(mgr.committedBuckets(spark)) === 0)
    assert(jobsOf(mgr.summary(spark).collect()) === 0)
    assert(jobsOf(ValidationCheckpoint.mergedSketch(spark, mgr, "offsets")) === 0)
    assert(ValidationCheckpoint.mergedSketch(spark, mgr, "offsets").totalWeight === 400.0)

    // the marker: the batch's ids first, then one line per bucket, each with
    // n_docs; bucket 4 is empty and carries no sketch
    import scala.jdk.CollectionConverters._
    val Seq(marker) = new java.io.File(s"$root/lineage").listFiles().toSeq.filterNot(_.getName.startsWith("."))
    val lines = java.nio.file.Files.readAllLines(marker.toPath).asScala.toSeq
    assert(lines.head === "buckets=0,1,2,3,4")
    assert(lines.tail.map(_.split(' ')(0)) === (0 to 4).map(k => s"bucket=$k"))
    assert(lines.tail.forall(_.split(' ')(1).startsWith("n_docs=")))
    assert(lines.last === "bucket=4 n_docs=0 n_valid=0 n_invalid=0 n_violations=0")
    assert(lines.tail.init.forall(_.contains(" sketch_offsets=")))

    // a marker whose bucket lines miss one of its buckets, or a bucket in two
    // markers, would miscount: the reads throw, naming the markers
    val other = java.nio.file.Paths.get(root, "lineage", "commit-5-6-0000abcd")
    java.nio.file.Files.write(other, "buckets=5,6\nbucket=5 n_docs=1 n_valid=1 n_invalid=0 n_violations=0\n".getBytes)
    assert(intercept[java.io.IOException](mgr.summary(spark)).getMessage.contains("commit-5-6-0000abcd"))
    java.nio.file.Files.copy(marker.toPath, other, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val twice = intercept[java.io.IOException](ValidationCheckpoint.mergedSketch(spark, mgr, "offsets"))
    assert(twice.getMessage.contains("more than one lineage marker") && twice.getMessage.contains(marker.getName))

    // a sketch name the marker cannot carry fails before any job or file
    val bad = new CheckpointManager(tempRoot("graft-ckpt-badname"))
    for (name <- Seq("off sets", "a=b", "")) withClue(s"[$name] ") {
      assert(jobsOf {
        val e = intercept[IllegalArgumentException](ValidationCheckpoint.run(docs, plan, bad, "bucket",
          0 to 3, "doc_id", Seq(offsets.copy(name = name))))
        assert(e.getMessage.contains("sketch name"))
      } === 0)
    }
    intercept[IllegalArgumentException](ValidationCheckpoint.run(docs, plan, bad, "bucket", 0 to 3, "doc_id",
      Seq(offsets, offsets)))
    assert(bad.recordedSpec(spark).isEmpty && bad.committedBuckets(spark).isEmpty)
  }
}
