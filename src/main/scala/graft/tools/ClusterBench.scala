package graft.tools

import org.apache.spark.sql.SparkSession
import graft.exec.ValidationRunner
import graft.io.Docs

/**
 * Multi-executor scaling protocol. This main is MASTER-AGNOSTIC (no
 * `.master(...)` — supplied by `spark-submit --master spark://…`) and is
 * meant to run against a real standalone cluster: one master plus four
 * workers, each worker pinned to a disjoint 8-core set with `taskset`,
 * so executors are separate JVMs with private heaps/GC and shuffles
 * cross process boundaries through netty — the execution shape of the
 * north rule's "N and 4N executors", as faithfully as a single box allows.
 *
 *   N  = --conf spark.cores.max=8,  spark.executor.cores=8 → 1 executor
 *   4N = --conf spark.cores.max=32, spark.executor.cores=8 → 4 executors
 *
 * `scripts/cluster_scale.sh` orchestrates the full run and reports
 * throughput at both sizes + scaling efficiency (thr_4N / thr_N) / 4.
 * The executor topology actually granted is recorded in the output JSON
 * (from the status tracker) so the artifact proves the cluster shape
 * rather than asserting it.
 *
 * Jobs: `validate` = deterministic interleaved-doc generation → full
 * constraint-eval projection → global summary; `dedup` = MinHash+LSH
 * then SimHash pair generation over the materialized dedup corpus (pair
 * counts checked against the closed form). Warm-up run first, then
 * best-of-3 (hypervisor steal makes the min the honest steady-state
 * figure).
 */
object ClusterBench {

  def main(args: Array[String]): Unit = args.toList match {
    case mode :: docs :: out :: Nil if mode == "validate" || mode == "dedup" =>
      run(mode, docs.toLong, out)
    case other => sys.error(s"usage: <validate|dedup> <docs> <outJson>; got $other")
  }

  private def run(mode: String, nDocs: Long, outJson: String): Unit = {
    val spark = SparkSession.builder()
      .appName(s"graft-cluster-$mode")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (secs, corpus, extra) = mode match {
      case "validate" =>
        val partitions = 256
        // validate a MATERIALIZED parquet table — the production shape
        // (scan + one wide codegen'd constraint projection + partial agg)
        // and the same job as graft.Bench's in-JVM probe, so cluster and
        // in-JVM numbers are comparable. Inline generation (the previous
        // form) spent 60-75% of the timed path in the interpreted
        // span-building generator — harness cost, not engine cost.
        // Same canonical path as Bench (corpus reused across protocols),
        // written once with materialize's temp+rename; ~19 B/doc of
        // parquet (64M docs measured 1.2 GB).
        val docsPath = DedupCorpus.materialize(
            s"${DedupCorpus.benchRoot}/graft_bench_docs_$nDocs", expectedBytes = nDocs * 20L) { tmp =>
          Docs.generate(spark, nDocs, numPartitions = partitions, corruptEvery = 1000)
            .write.mode("overwrite").parquet(tmp)
        }
        def job(): Long = {
          val docs = spark.read.parquet(docsPath)
          val v = ValidationRunner.validateCounts(docs, graft.SparkEntry.docsPlan)
          ValidationRunner.summary(v, Seq.empty).collect()(0).getAs[Long]("n_docs")
        }
        require(job() > 0) // warm-up (JIT + codegen + page cache)
        val trials = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val counted = job()
          val sec = (System.nanoTime() - t0) / 1e9
          require(counted == nDocs, s"row count mismatch: $counted != $nDocs")
          sec
        }
        // generation-only control: same generator, no constraint eval.
        // hash(spans) forces full doc materialization (a bare count lets
        // Catalyst prune the columns and measures scheduling overhead).
        // Its per-width throughput is the window's compute/bandwidth
        // ceiling — recorded so each artifact carries its own noise
        // context (the reporter compares control efficiency across the
        // paired runs).
        import org.apache.spark.sql.functions.{sum, hash, col}
        // sized at nDocs/8: the interpreted generator is ~10x slower than
        // the scan-shaped validate job, and the control only needs enough
        // wall-clock (seconds) to read the window, not to dominate it
        val ctrlDocs = math.max(1000000L, nDocs / 8)
        def ctrlJob(): Unit = {
          Docs.generate(spark, ctrlDocs, numPartitions = partitions, corruptEvery = 1000)
            .agg(sum(hash(col("spans")).cast("long"))).collect(): Unit
        }
        ctrlJob() // warm-up
        val ctrl = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); ctrlJob(); (System.nanoTime() - t0) / 1e9
        }.min
        (trials, docsPath, s""","control_sec":$ctrl,"control_docs_per_sec":${ctrlDocs / ctrl}""")
      case "dedup" =>
        val path = DedupCorpus.ensure(spark, nDocs)
        var pairs = (0L, 0L)
        def job(): Unit = {
          val docs = spark.read.parquet(path)
          val mh = DedupCorpus.Probe.minhash(docs).count()
          val sh = DedupCorpus.Probe.simhash(docs).count()
          pairs = (mh, sh)
        }
        job() // warm-up
        val trials = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
        }
        val expected = DedupCorpus.expectedClusterPairs(nDocs)
        require(pairs._1 == expected && pairs._2 == expected,
          s"pair counts ${pairs} != expected $expected — wrong results disqualify the timing")
        // dedup COMPUTE control (same as graft.Bench's in-JVM probe): the
        // scan + shingle + signature leg reduced to one aggregate — zero
        // wide-shuffle bytes, pure codegen. Its paired-run efficiency is
        // the window's compute/bandwidth ceiling, recorded so a dedup
        // cluster artifact certifies its own window quality like the
        // validate mode does.
        import org.apache.spark.sql.functions.{col, element_at, sum}
        def ctrlJob(): Unit = {
          spark.read.parquet(path)
            .select(graft.functions.HashExpressions.minhashSignatureNative(
                graft.ops.Dedup.shingleHashes(col("text"), 3),
                DedupCorpus.Probe.NumHashes).as("sig"))
            .select(element_at(col("sig"), 1).as("s1"))
            .agg(sum("s1")).collect(): Unit
        }
        ctrlJob() // warm-up
        val ctrl = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); ctrlJob(); (System.nanoTime() - t0) / 1e9
        }.min
        (trials, path, s""","minhash_pairs":${pairs._1},"simhash_pairs":${pairs._2},"expected_cluster_pairs":$expected,"control_sec":$ctrl,"control_docs_per_sec":${nDocs / ctrl}""")
    }

    // prove the topology in-artifact: executor JVMs actually granted
    // (status tracker includes the driver — filter it out) and the
    // requested caps.
    val executors = spark.sparkContext.statusTracker.getExecutorInfos.length - 1
    val coresMax = spark.conf.getOption("spark.cores.max").getOrElse("unset")
    val execCores = spark.conf.getOption("spark.executor.cores").getOrElse("unset")
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val master = spark.sparkContext.master
    val sec = secs.min
    spark.stop()
    val json =
      s"""{"mode":"$mode","master":"$master","executors":$executors,"cores_max":"$coresMax","executor_cores":"$execCores","shuffle_partitions":$shufflePartitions,"docs":$nDocs,"corpus":"$corpus","sec":$sec,"docs_per_sec":${nDocs / sec},"trials":[${secs.mkString(",")}]$extra}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
  }
}
