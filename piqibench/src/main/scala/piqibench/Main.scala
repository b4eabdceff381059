package piqibench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Stats {
  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above
    * it, as (p, value), or None when there are fewer than 20 samples. */
  def highPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= 10)
      .map(p => p -> percentile(xs, p))
}

/** Counts attempted and failed iterations. A failed check or a thrown
  * exception marks the iteration failed and is reported on stderr; the run
  * goes on. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  def record(label: String, errors: Seq[String]): Unit = {
    attempted += 1
    if (errors.nonEmpty) {
      failed += 1
      errors.foreach(m => System.err.println(s"[piqibench] FAILED $label: $m"))
    }
  }
}

/**
 * One benchmark run: one workload, one JVM, `local[4]`, one closed-loop
 * driver thread. Prints the result object as the last line of stdout and
 * writes a provenance-stamped artifact under `<work>/results/`.
 *
 * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
 *             [--sha SHA] [--source-hash H]
 */
object Main {
  val Cores = 4
  val SetupRounds = 3
  /** Warm-up runs whole iterations until this long has passed (at least
    * one), so short iterations reach a warm JIT before timing starts. */
  val WarmUpSeconds = 4.0
  /** A run stops measuring after this long even when iterations keep
    * failing, so it always ends well inside its time limit. */
  val MaxLoopSeconds = 90.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.byName(arg("workload")).getOrElse(sys.error(s"unknown workload ${arg("workload")}"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    Files.delete(work)
    work.mkdirs()
    val spark = session(work)
    try {
      val result = run(spark, wl, seed, seconds, traced, work,
        Map("git_sha" -> args.getOrElse("sha", "unknown"), "source_sha256" -> args.getOrElse("source-hash", "unknown")))
      println(result)
    } finally spark.stop()
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("piqibench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Whole-stage and expression classes compiled so far (JVM-wide). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    val hwm =
      if (!status.exists()) None
      else scala.util.Using(scala.io.Source.fromFile(status))(_.getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)).toOption.flatten
    hwm.getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
  }

  def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double, traced: Boolean, work: File,
      ids: Map[String, String]): String = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    if (traced) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val ctx = new Ctx(spark, tracer, work)
    val shape = wl.shape(seed)
    val ledger = new Ledger
    var inputs: Inputs = null
    var iter = 0L

    /** One checked iteration: its job wall time (NaN when the job threw)
      * and, for a traced iteration, the workload's extras. */
    def iterate(label: String, extras: Boolean = false): (Double, Map[String, Double]) = {
      iter += 1
      tracer.startRun(iter)
      try {
        val (out, wall) = secs(ctx.span("iteration")(wl.job(ctx, shape, inputs, iter)))
        val ext = if (extras) wl.extras(ctx, shape, inputs, out) else Map.empty[String, Double]
        val errors = try wl.check(ctx, shape, inputs, out) catch { case e: Exception => Seq(s"check threw $e") }
        ledger.record(s"$label $iter", errors)
        (wall, ext)
      } catch {
        case e: Exception =>
          ledger.record(s"$label $iter", Seq(s"job threw $e"))
          (Double.NaN, Map.empty)
      }
    }

    // ---- set-up: the inputs are materialised afresh several times (the
    // median counts), then the first iteration warms the session up. Every
    // round regenerates the same inputs from the seed, so the untimed
    // reference answers are computed once, on the last round's inputs.
    val materialiseTimes = (1 to SetupRounds).map { r =>
      if (inputs != null) Files.delete(inputs.dir)
      val dir = new File(work, s"inputs/${wl.name}_${shape.tag}_r$r")
      val (in, t) = secs(wl.materialise(ctx, shape, dir))
      inputs = in
      t
    }
    wl.prepare(ctx, shape, inputs)
    var warmUps = 0
    val warmUp = secs {
      val w0 = System.nanoTime()
      while (warmUps == 0 || (System.nanoTime() - w0) / 1e9 < WarmUpSeconds) { iterate("warm-up"); warmUps += 1 }
    }._2
    val setup = Stats.median(materialiseTimes) + warmUp
    val floor = Stats.median((1 to 3).map(_ => secs(scanFloor(spark, inputs))._2))
    val jobsFloor = Stats.median((1 to 3).map(_ => secs(jobsControl(spark))._2))

    // ---- measurement: closed loop until the time is up ----
    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val perIter = ArrayBuffer.empty[(Long, Map[String, Double])] // traced iteration → extras
    val sinceProcessStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < seconds || walls.size < 3 || (traced && tracedWalls.size < 3)) && elapsed < MaxLoopSeconds) {
      // untraced and traced iterations alternate in U T T U order, so a
      // warm-up trend over the run does not favour either side
      val traceThis = traced && Set(1, 2).contains((walls.size + tracedWalls.size) % 4)
      // start every iteration from a collected heap, so garbage (and the
      // cleanup of shuffle files and checkpoints it releases) left by the
      // previous one is not charged to it
      System.gc()
      tracer.enabled = traceThis
      if (traceThis) {
        val gc0 = gcSeconds()
        val cg0 = codegenCompiles()
        val (wall, ext) = iterate("traced", extras = true)
        tracer.span("control.scan")(scanFloor(spark, inputs))
        wl.isolated(ctx, shape, inputs)
        if (!wall.isNaN) {
          tracedWalls += wall
          perIter += iter -> (ext + ("spark.gc_s" -> (gcSeconds() - gc0)) +
            ("spark.codegen_compiles" -> (codegenCompiles() - cg0).toDouble))
        }
      } else {
        val (wall, _) = iterate("timed")
        if (!wall.isNaN) walls += wall
      }
      tracer.enabled = false
    }
    val wall = elapsed

    val e2e = Map(
      "setup_s" -> (setup, "s"),
      "docs_per_s" -> (shape.n * walls.size / walls.sum, "docs/s"),
      "run_s.p50" -> (Stats.median(walls.toSeq), "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"),
      "ok_ops_ratio" -> ((ledger.attempted - ledger.failed).toDouble / ledger.attempted, "ratio"))

    val layers: Map[String, (Double, String)] =
      if (!traced) Map.empty
      else {
        tracer.drain()
        Layers.metrics(tracer, perIter.toSeq, Cores, shape.n, inputs.bytes) +
          ("trace.overhead_s" -> (Stats.median(tracedWalls.toSeq) - Stats.median(walls.toSeq), "s"))
      }
    val metrics = if (traced) layers else e2e

    val high = Stats.highPercentile(walls.toSeq)
    System.err.println(f"[piqibench] ${wl.name} seed=$seed: ${walls.size} timed iterations in $wall%.1f s, " +
      s"run_s.p50=${Stats.median(walls.toSeq)}" +
      high.map { case (p, v) => s", run_s.p$p=$v (${walls.size} samples)" }.getOrElse("") +
      s", failed_ops_ratio=${ledger.failed}/${ledger.attempted}")

    val provenance = ids.map { case (k, v) => k -> Json.str(v) } ++ Seq(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "corpus_root" -> Json.str(inputs.dir.getParentFile.getPath),
      "input_docs" -> shape.n.toString, "input_bytes" -> inputs.bytes.toString,
      "control_scan_floor_s" -> floor.toString,
      "control_jobs_floor_s" -> jobsFloor.toString,
      "session_conf" -> Json.obj(spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql")).sorted
        .map { case (k, v) => k -> Json.str(v) } :+ ("spark.master" -> Json.str(sc.master)): _*))
    val artifact = Json.obj(
      "provenance" -> Json.obj(provenance.toSeq.sortBy(_._1): _*),
      "iterations" -> Json.obj("warm_up" -> warmUps.toString, "timed" -> walls.size.toString,
        "traced" -> tracedWalls.size.toString),
      "run_s" -> Json.arr(walls.map(_.toString).toSeq),
      "setup" -> Json.obj("materialise_s" -> Json.arr(materialiseTimes.map(_.toString)),
        "warm_up_s" -> warmUp.toString),
      "process_start_to_first_timed_iteration_s" -> sinceProcessStart.toString,
      "run_s_high" -> high.map { case (p, v) => Json.obj("p" -> p.toString, "value" -> v.toString,
        "samples" -> walls.size.toString) }.getOrElse("null"),
      "failed_ops" -> Json.obj("failed" -> ledger.failed.toString, "attempted" -> ledger.attempted.toString),
      "metrics" -> metricsJson(e2e ++ layers))
    val results = new File(work, "results")
    results.mkdirs()
    val stem = s"${wl.name}_seed${seed}_trace${if (traced) 1 else 0}"
    writeFile(new File(results, s"$stem.json"), artifact + "\n")
    if (traced) writeFile(new File(results, s"${stem}_spans.jsonl"), tracer.spans.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "run" -> s.run.toString, "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)
    }.mkString("", "\n", "\n"))
    Files.delete(new File(work, "inputs"))

    Json.obj("correct" -> (ledger.failed == 0).toString, "attempted" -> ledger.attempted.toString,
      "failed" -> ledger.failed.toString, "metrics" -> metricsJson(metrics))
  }

  /** The control: a scan that reads every column of the main input and
    * does no engine work. */
  def scanFloor(spark: SparkSession, in: Inputs): Unit = {
    val df = spark.read.parquet(in.main)
    df.agg(sum(hash(df.columns.map(col).toIndexedSeq: _*).cast("long"))).collect(): Unit
  }

  /** The scheduling control: 20 trivial 4-task jobs. Workloads made of
    * many small jobs slow down with it while the scan floor stays put. */
  def jobsControl(spark: SparkSession): Unit =
    (1 to 20).foreach(_ => spark.sparkContext.parallelize(1 to Cores, Cores).count())

  private def metricsJson(m: Map[String, (Double, String)]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)

  private def writeFile(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}

/** Minimal JSON rendering: values are passed already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
