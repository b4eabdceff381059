package piqibench

/**
 * Per-layer metrics of a traced run. Every span name gets six figures, each
 * the median over traced iterations of the iteration's total for that name:
 *
 *  - `wall_s`: span duration;
 *  - `self_s`: duration minus the part covered by child spans;
 *  - `driver_s`: duration not covered by a running stage of the span's jobs;
 *  - `jobs`, `executor_cpu_s`, `shuffle_write_bytes`: charged to the span
 *    and its descendants through the job tag.
 *
 * A span a workload never calls reports 0.
 */
object Layers {
  val SpanNames: Seq[String] = Seq(
    "compile.compile", "exec.validate_counts", "control.scan",
    "checkpoint.run", "checkpoint.resume", "checkpoint.committed_buckets", "checkpoint.merged_sketch",
    "exec.column_stats", "exec.unique_salted", "exec.ref_check", "exec.drift_ks",
    "io.from_json", "io.json_shape", "ops.minhash_pairs", "ops.components", "ops.dedup_keep",
    "ops.exact_dedup")

  val Fields: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "executor_cpu_s" -> "s", "shuffle_write_bytes" -> "bytes")

  /** Figures of one span (inclusive of its descendants' counters). */
  def row(s: Span, self: Long, subtree: Seq[SpanCounters]): Map[String, Double] = {
    val stages = subtree.flatMap(_.stageIntervals).map { case (a, b) => (a * 1000000L, b * 1000000L) }
    Map(
      "wall_s" -> s.dur / 1e9,
      "self_s" -> self / 1e9,
      "driver_s" -> (s.dur - Intervals.covered(stages, s.start, s.end)) / 1e9,
      "jobs" -> subtree.map(_.jobs).sum.toDouble,
      "executor_cpu_s" -> subtree.map(_.cpuNs).sum / 1e9,
      "shuffle_write_bytes" -> subtree.map(_.shuffleWrite).sum.toDouble,
      "scan_bytes" -> subtree.map(_.scanBytes).sum.toDouble)
  }

  private def add(a: Map[String, Double], b: Map[String, Double]) =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  /**
   * @param perIter traced iteration id → workload extras of that iteration
   */
  def metrics(tracer: Tracer, perIter: Seq[(Long, Map[String, Double])], cores: Int, docs: Long,
      inputBytes: Long): Map[String, (Double, String)] = {
    val all = tracer.spans
    val self = Intervals.selfTime(all)
    val kids = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val runs = perIter.map(_._1)
    val byRun: Map[Long, Map[String, Map[String, Double]]] = runs.map { r =>
      r -> all.filter(_.run == r).groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(s => row(s, self(s.id), subtree(s).map(x => tracer.counters(x.id)))).reduce(add)
      }
    }.toMap
    def perRun(f: Map[String, Map[String, Double]] => Option[Double]): Seq[Double] = runs.flatMap(r => f(byRun(r)))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def field(name: String, f: String) = med(perRun(_.get(name).map(_(f))))

    val perSpan = for (n <- SpanNames; (f, unit) <- Fields) yield s"$n.$f" -> (field(n, f), unit)

    def util(name: String) = med(perRun(_.get(name).map(m => m("executor_cpu_s") / (m("wall_s") * cores))))
    val batches = AuditCheckpoint.BatchesPerIteration.toDouble
    def checkpoint(f: String) =
      med(perRun(m => Seq("checkpoint.run", "checkpoint.resume").flatMap(m.get).map(_(f)).reduceOption(_ + _)))
    // counters are charged to exactly one span, so a run's totals are the
    // sums over its spans' own counters
    def runTotal(f: SpanCounters => Long) =
      med(runs.map(r => all.filter(_.run == r).map(s => f(tracer.counters(s.id)).toDouble).sum))
    def extra(k: String) = med(perIter.flatMap(_._2.get(k)))
    val overScan =
      if (!byRun.values.exists(_.contains("exec.validate_counts"))) 0.0
      else field("exec.validate_counts", "wall_s") - field("control.scan", "wall_s")

    (perSpan ++ Seq(
      "checkpoint.scan_bytes_per_input_byte" -> (checkpoint("scan_bytes") / batches / inputBytes, "ratio"),
      "checkpoint.jobs_per_batch" -> (checkpoint("jobs") / batches, "count"),
      "checkpoint.write_bytes_per_input_byte" -> (extra("checkpoint.write_bytes_per_input_byte"), "ratio"),
      "exec.validate_counts.core_util" -> (util("exec.validate_counts"), "ratio"),
      "control.scan.core_util" -> (util("control.scan"), "ratio"),
      "io.from_json.core_util" -> (util("io.from_json"), "ratio"),
      "exec.validate_counts.over_scan_s" -> (overScan, "s"),
      "ops.minhash_pairs.shuffle_bytes_per_doc" -> (field("ops.minhash_pairs", "shuffle_write_bytes") / docs, "bytes/doc"),
      "spark.gc_s" -> (extra("spark.gc_s"), "s"),
      "spark.codegen_compiles" -> (extra("spark.codegen_compiles"), "count"),
      "spark.spill_bytes" -> (runTotal(_.spill), "bytes"),
      "spark.failed_tasks" -> (runTotal(_.failedTasks), "count"))).toMap
  }
}
