package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/**
 * Per-query optimization harness (guide §1): times individual SparkEntry
 * queries under EXACTLY the frozen Bench session config, and reports the
 * scheduling profile (jobs / stages / tasks) per query — on sf0.1 the
 * inputs are ~MBs, so wall time is dominated by job/stage/shuffle count,
 * and this is the number the optimization loop must drive down.
 *
 * Usage: runMain graft.tools.BenchExtra [query ...]  (default: all)
 *   SPARK_GRAFT_SF_DIR       data dir (default /root/testdata/sf0.1)
 *   SPARK_GRAFT_CPUS         core count (default 32)
 *   SPARK_GRAFT_EXPLAIN_DIR  if set, writes <dir>/<query>.txt formatted plans
 *   SPARK_GRAFT_TRIALS       timed trials per query (default 3, min reported)
 *
 * This is measurement-only tooling; the driver-facing Bench.scala is frozen
 * and unchanged.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val localDir = {
      val shm = new java.io.File("/dev/shm/spark-graft")
      if (shm.isDirectory || shm.mkdirs()) shm.getAbsolutePath else "/tmp"
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // scheduling profile counters (reset per timed region)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet(): Unit
    })

    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.filterNot(_.startsWith("st_")).toSeq.sorted
    val results = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      explainDir.foreach { d =>
        new java.io.File(d).mkdirs()
        try {
          val df = fn(spark, sfDir)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/$name.txt"),
            df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => System.err.println(s"[explain] $name: ${e.getMessage}") }
      }
      val warm = timeIt(fn(spark, sfDir).count())
      // listener events are async: drain the bus so the warm-up's events
      // land before the reset and the trials' events before the read
      GraftBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      val ts = (1 to trials).map(_ => timeIt(fn(spark, sfDir).count()))
      GraftBridge.drainListenerBus(spark.sparkContext)
      val (j, st, tk) = (jobs.get / trials, stages.get / trials, tasks.get / trials)
      System.err.println(f"[extra] $name%-28s min=${ts.min}%.3f med=${ts.sorted.apply(ts.size / 2)}%.3f warm=$warm%.3f  jobs=$j stages=$st tasks=$tk")
      (name, ts.min)
    }
    val total = results.map(_._2).sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"extra_total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
