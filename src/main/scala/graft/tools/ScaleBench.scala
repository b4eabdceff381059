package graft.tools

import org.apache.spark.sql.SparkSession
import graft.exec.ValidationRunner
import graft.io.Docs

/**
 * Two-parallelism scaling protocol (BASELINE.md): the north rule's
 * N-vs-4N-executor criterion, evidenced in-sandbox by running the SAME
 * validation job at 8 and 32 cores on the SAME deterministic input and
 * reporting docs/sec at both + scaling efficiency = (thr_32 / thr_8) / 4
 * (target ≥ 0.8).
 *
 * Each width runs in its OWN JVM (one `single` invocation per width), so
 * the 8-core run can be pinned with `taskset -c 0-7` — otherwise the
 * "8-core" JVM still uses all 32 cores for GC/JIT and the comparison
 * under-reports true cluster scaling.
 *
 * Usage:
 *   taskset -c 0-7 … runMain graft.tools.ScaleBench single 8  <docs> /tmp/thr8.json
 *                  … runMain graft.tools.ScaleBench single 32 <docs> /tmp/thr32.json
 *                  … runMain graft.tools.ScaleBench report <docs> /tmp/thr8.json /tmp/thr32.json BENCH/BASELINE.md
 */
object ScaleBench {

  def main(args: Array[String]): Unit = args.toList match {
    case "single" :: cores :: docs :: out :: Nil => single(cores.toInt, docs.toLong, out)
    case "dedup" :: cores :: docs :: out :: Nil => dedupSingle(cores.toInt, docs.toLong, out)
    case "paired" :: docs :: out :: Nil => paired(docs.toLong, out)
    case "report" :: docs :: f8 :: f32 :: out :: Nil => report(docs.toLong, f8, f32, out)
    case other => sys.error(s"usage: single <cores> <docs> <outJson> | dedup <cores> <docs> <outJson> | paired <docs> <outMd> | report <docs> <thr8Json> <thr32Json> <outMd>; got $other")
  }

  /** Dedup-plane twin of [[single]]: MinHash+LSH (banded, capped) then
    * SimHash (general Manku k=6) over the materialized DedupCorpus — one
    * JVM per width so the 8-core run can be `taskset -c 0-7` pinned
    * (executor-faithful: its GC/JIT see 8 CPUs). */
  private def dedupSingle(cores: Int, nDocs: Long, outJson: String): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scalebench-dedup-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val path = DedupCorpus.ensure(spark, nDocs)
    var pairs = (0L, 0L)
    def job(): Unit = {
      val docs = spark.read.parquet(path)
      val mh = DedupCorpus.Probe.minhash(docs).count()
      val sh = DedupCorpus.Probe.simhash(docs).count()
      pairs = (mh, sh)
    }
    job() // warm-up
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
    }
    val sec = secs.min
    val expected = DedupCorpus.expectedClusterPairs(nDocs)
    spark.stop()
    val json = s"""{"cores":$cores,"docs":$nDocs,"corpus":"$path","sec":$sec,"docs_per_sec":${nDocs / sec},"minhash_pairs":${pairs._1},"simhash_pairs":${pairs._2},"expected_cluster_pairs":$expected,"trials":[${secs.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
  }

  /**
   * Interleaved protocol: this sandbox VM shows hypervisor steal (vmstat
   * `st` up to ~14%), so back-to-back same-width trials sample different
   * noise windows. Alternating widths 8,32,8,32,… in ONE process and taking
   * the min per width compares both under the same conditions. local[8]
   * unpinned still shares the 32-core GC — that inflates thr_8 and therefore
   * UNDERSTATES efficiency (conservative direction for the ≥0.8 claim).
   */
  private def paired(nDocs: Long, outMd: String): Unit = {
    val partitions = 256
    def sessionAt(cores: Int): SparkSession = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"graft-scalebench-$cores")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN"); s
    }
    def trial(cores: Int): Double = {
      val spark = sessionAt(cores)
      require(job(spark, 1000000L, partitions) > 0) // per-session warm-up
      val t0 = System.nanoTime()
      val counted = job(spark, nDocs, partitions)
      val sec = (System.nanoTime() - t0) / 1e9
      require(counted == nDocs)
      spark.stop()
      sec
    }
    val t8 = scala.collection.mutable.ArrayBuffer[Double]()
    val t32 = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to 3) { t8 += trial(8); t32 += trial(32) }
    val (sec8, sec32) = (t8.min, t32.min)
    writeReport(nDocs, sec8, nDocs / sec8, sec32, nDocs / sec32, outMd,
      s"interleaved best-of-3; trials local[8]=${t8.map(x => f"$x%.1f").mkString(",")}s " +
        s"local[32]=${t32.map(x => f"$x%.1f").mkString(",")}s")
  }

  /** The measured job: deterministic generation → full constraint-eval → global summary. */
  private def job(spark: SparkSession, nDocs: Long, partitions: Int): Long = {
    val plan = graft.SparkEntry.docsPlan
    val docs = Docs.generate(spark, nDocs, numPartitions = partitions, corruptEvery = 1000)
    val v = ValidationRunner.validateCounts(docs, plan)
    ValidationRunner.summary(v, Seq.empty).collect()(0).getAs[Long]("n_docs")
  }

  private def single(cores: Int, nDocs: Long, outJson: String): Unit = {
    val partitions = 256
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scalebench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(job(spark, math.min(nDocs, 2000000L), partitions) > 0) // warm-up (JIT + codegen)
    // best-of-3: this box shows hypervisor steal (vmstat st 10%+), so a
    // single trial under-reports capability; min wall-clock is the honest
    // steady-state figure at each width
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val counted = job(spark, nDocs, partitions)
      val sec = (System.nanoTime() - t0) / 1e9
      require(counted == nDocs, s"row count mismatch: $counted != $nDocs")
      sec
    }
    val sec = secs.min
    spark.stop()
    // docs are generated inline, so no materialized corpus backs this run
    val json = s"""{"cores":$cores,"docs":$nDocs,"corpus":null,"sec":$sec,"docs_per_sec":${nDocs / sec},"partitions":$partitions,"trials":[${secs.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
  }

  private def report(nDocs: Long, f8: String, f32: String, outMd: String): Unit = {
    def parse(p: String): Map[String, Double] = {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      "\"(\\w+)\":([0-9.E-]+)".r.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val r8 = parse(f8); val r32 = parse(f32)
    writeReport(nDocs, r8("sec"), r8("docs_per_sec"), r32("sec"), r32("docs_per_sec"),
      outMd, "separate-JVM runs; 8-core pinned via taskset -c 0-7")
  }

  private def writeReport(nDocs: Long, sec8: Double, thr8: Double,
      sec32: Double, thr32: Double, outMd: String, protocolNote: String): Unit = {
    val eff = (thr32 / thr8) / 4.0
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD").start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      p.waitFor(); out
    } catch { case _: Exception => "unknown" }
    val md =
      s"""# BENCH/BASELINE — two-parallelism scaling protocol
         |
         |Same job (deterministic interleaved-doc generation, full constraint-eval
         |projection — enum membership, required fields, int32 range, exactly-one
         |variant payload, strictly-increasing offsets, doc-id regex — then global
         |pass/fail aggregate), same input ($nDocs docs, 256 input partitions),
         |two parallelism levels. Protocol: $protocolNote.
         |
         || parallelism | wall-clock (warm) | docs/sec |
         ||---|---|---|
         || 8 cores (local[8])  | ${f"$sec8%.2f"} s | ${f"$thr8%.0f"} |
         || 32 cores (local[32]) | ${f"$sec32%.2f"} s | ${f"$thr32%.0f"} |
         |
         |**Scaling efficiency (thr_32 / thr_8) / 4 = ${f"$eff%.3f"}** (target >= 0.8)
         |
         |Config: AQE on, shuffle.partitions = cores, input partitions = 256,
         |validation = graft.io.Docs.docSpec compiled by SpecCompiler (codegen'd
         |Column tree, no UDFs), corruptEvery=1000 (0.1% invalid rows),
         |warm-up job before each timed run. Deterministic generator (seed fixed
         |by construction). Git SHA: $sha. Machine: 32-core, single-node.
         |""".stripMargin
    val path = java.nio.file.Paths.get(outMd)
    if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, md)
    println(md)
    println(s"""{"metric":"scaling_efficiency","value":$eff,"thr8":$thr8,"thr32":$thr32,"docs":$nDocs}""")
  }
}
