package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * ANN-plane scaling probe at VOLUME — the standalone twin of the ANN/IVF
 * phase in [[graft.Bench]], runnable on its own so an ANN-plane reading
 * does not pay the ~10 min validate+dedup phases first.
 *
 * Why this exists: at the default bench size (100k docs) the whole IVF
 * timed leg is ~1 s, so task-scheduling and shuffle fixed costs dominate
 * and the 32-wide leg can read SLOWER than 8-wide — an anti-scaling probe
 * artifact, not an operator property (the per-query work, nProbe·√n
 * cosines, shrinks relative to overhead as n falls). At 10^6 docs with
 * cells = √n = 1000 the timed leg is tens of seconds and measures the
 * operator. This main runs ONLY the ANN plane at a configurable size
 * (default 10^6), alternating 8-wide and full-width legs in this JVM like
 * every other probe, and emits one JSON line.
 *
 * It also carries its own zero-shuffle compute control (scan + normalize +
 * one cosine per doc against a broadcast constant vector, reduced to a
 * single aggregate) so the artifact certifies its own window quality the
 * way the validate/dedup probes do.
 */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val nAnn = sys.env.getOrElse("SPARK_GRAFT_ANN_DOCS", "1000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
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

    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val path = DedupCorpus.ensureAnn(spark, nAnn)
    val widthRatio = math.max(1.0, cpus / 8.0)

    // zero-shuffle ANN compute control: same scan + same vector kernel
    // (cosine) against a broadcast constant, one partial agg — the
    // window's compute ceiling for this plane
    val constVec = array((0 until DedupCorpus.AnnDim)
      .map(j => lit(math.cos(j * 0.7).toFloat)): _*)
    def ctrl(width: Int): Unit = {
      spark.read.parquet(path).repartition(if (width > 0) width else cpus)
        .select(graft.functions.Vectors.cosine(col("vec"), constVec).as("s"))
        .agg(sum("s")).collect(): Unit
    }

    def lshLeg(width: Int): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions",
        if (width > 0) width.toString else cpus.toString)
      try {
        val docs = spark.read.parquet(path)
          .repartition(if (width > 0) width else cpus)
        DedupCorpus.AnnProbe.lsh(docs).count(): Unit
      } finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    }

    val ivfCells = DedupCorpus.AnnProbe.ivfCells(nAnn)
    var ivfTrainSec = 0.0
    val cents = {
      val t0 = System.nanoTime()
      val c = DedupCorpus.AnnProbe.trainIvf(spark.read.parquet(path), nAnn)
      ivfTrainSec = (System.nanoTime() - t0) / 1e9
      c
    }
    def ivfLeg(width: Int): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions",
        if (width > 0) width.toString else cpus.toString)
      try {
        val docs = spark.read.parquet(path)
          .repartition(if (width > 0) width else cpus)
        DedupCorpus.AnnProbe.ivf(docs, cents).count(): Unit
      } finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    }

    // SKIP_LSH=1 → IVF-only timed legs: the fixed-bits LSH legs dominate
    // wall-clock at 10^6 docs (its per-cell lists grow ~n/2^bits — the
    // collapse the first 1M artifact demonstrates), so re-reading the IVF
    // design point shouldn't pay ~15 min for a number already on record
    val skipLsh = sys.env.get("SPARK_GRAFT_SKIP_LSH").contains("1")
    // SKIP_PQ=1 → skip the compressed-domain full-scan legs (they score
    // every (doc, query) pair by ADC — the heaviest timed legs at 10^6)
    val skipPq = sys.env.get("SPARK_GRAFT_SKIP_PQ").contains("1")

    var pqTrainSec = 0.0
    val pqModel = if (skipPq) null else {
      val t0 = System.nanoTime()
      val m = DedupCorpus.AnnProbe.trainPq(spark.read.parquet(path))
      pqTrainSec = (System.nanoTime() - t0) / 1e9
      m
    }
    // encode ONCE (untimed, like IVF training): the (cell, codes) rows are
    // the persisted IVF×PQ index; each timed leg pays only the in-cell ADC
    // scan + exact re-rank — both ANN dials composed (count via cells,
    // bytes via codes)
    // The codes path carries every parameter the persisted index depends on
    // (corpus formula version is already in `path`) — a param change can
    // never score a stale index against freshly trained centroids/codebooks;
    // materialize() gives the same temp+rename protocol as the corpora.
    val pqCodesFingerprint = {
      val p = DedupCorpus.AnnProbe
      s"ivf${ivfCells}x${p.ivfSampleN(nAnn)}x${p.IvfIters}-" +
        s"pq${p.PqM}x${p.PqCodes}x${p.PqSampleN}x${p.PqIters}"
    }
    val pqCodesPath = if (skipPq) null else {
      // indexes under any other fingerprint are stale: drop them (they hold
      // ramdisk headroom) from the corpus dir and from materialize's /tmp
      // fallback, sparing the current index and its in-flight builds
      val prefix = new java.io.File(path).getName + "-ivfpq-"
      val current = prefix + pqCodesFingerprint
      for {
        dir <- Seq(new java.io.File(path).getParentFile, new java.io.File("/tmp")).distinct
        f <- Option(dir.listFiles).getOrElse(Array.empty[java.io.File])
        name = f.getName
        if name.startsWith(prefix) && name != current && !name.startsWith(current + "_build_")
      } DedupCorpus.deleteTree(f)
      DedupCorpus.materialize(s"$path-ivfpq-$pqCodesFingerprint",
          expectedBytes = nAnn * 32L) { tmp =>
        DedupCorpus.AnnProbe.encodeIvfPq(spark.read.parquet(path), cents, pqModel)
          .write.mode("overwrite").parquet(tmp)
      }
    }
    def pqLeg(width: Int): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions",
        if (width > 0) width.toString else cpus.toString)
      try {
        val w = if (width > 0) width else cpus
        val codes = spark.read.parquet(pqCodesPath).repartition(w)
        val docs = spark.read.parquet(path).repartition(w)
        DedupCorpus.AnnProbe.ivfPqFromCodes(codes, docs, cents, pqModel).count(): Unit
      } finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    }

    // warm-ups (JIT + codegen + page cache), then alternate widths in-JVM
    ctrl(8); ctrl(0)
    if (!skipLsh) { lshLeg(8); lshLeg(0) }
    ivfLeg(8); ivfLeg(0)
    if (!skipPq) { pqLeg(8); pqLeg(0) }
    val (c8, cF) = (collection.mutable.ArrayBuffer[Double](), collection.mutable.ArrayBuffer[Double]())
    val (l8, lF) = (collection.mutable.ArrayBuffer[Double](), collection.mutable.ArrayBuffer[Double]())
    val (i8, iF) = (collection.mutable.ArrayBuffer[Double](), collection.mutable.ArrayBuffer[Double]())
    val (p8, pF) = (collection.mutable.ArrayBuffer[Double](), collection.mutable.ArrayBuffer[Double]())
    for (_ <- 1 to 3) {
      c8 += timeIt(ctrl(8)); cF += timeIt(ctrl(0))
      if (!skipLsh) { l8 += timeIt(lshLeg(8)); lF += timeIt(lshLeg(0)) }
      i8 += timeIt(ivfLeg(8)); iF += timeIt(ivfLeg(0))
      if (!skipPq) { p8 += timeIt(pqLeg(8)); pF += timeIt(pqLeg(0)) }
    }
    def thr(ts: Seq[Double]): Double = if (ts.isEmpty) 0.0 else nAnn / ts.min
    def eff(f: Double, e: Double): Double = if (e == 0.0) 0.0 else (f / e) / widthRatio
    val (ctl8, ctlF) = (thr(c8.toSeq), thr(cF.toSeq))
    val (lsh8, lshF) = (thr(l8.toSeq), thr(lF.toSeq))
    val (ivf8, ivfF) = (thr(i8.toSeq), thr(iF.toSeq))
    val (pq8, pqF) = (thr(p8.toSeq), thr(pF.toSeq))

    // recall once (untimed): brute oracle over the same corpus
    val base = spark.read.parquet(path)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(2))
    val bruteSet = DedupCorpus.AnnProbe.brute(base)
      .select("query_id", "rank", "neighbor_id").collect().map(key).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "rank", "neighbor_id").collect().map(key).toSet
      if (bruteSet.isEmpty) 0.0 else got.intersect(bruteSet).size.toDouble / bruteSet.size
    }
    val lshRecall = if (skipLsh) -1.0 else recallOf(DedupCorpus.AnnProbe.lsh(base))
    val ivfRecall = recallOf(DedupCorpus.AnnProbe.ivf(base, cents))
    val pqRecall = if (skipPq) -1.0 else recallOf(DedupCorpus.AnnProbe.ivfPqFromCodes(
      spark.read.parquet(pqCodesPath), base, cents, pqModel))

    System.err.println(f"[ann-probe] n=$nAnn cells=$ivfCells train=$ivfTrainSec%.1f s | " +
      f"ctrl eff=${eff(ctlF, ctl8)}%.2f | lsh ${lshF}%.0f docs/s eff=${eff(lshF, lsh8)}%.2f r=$lshRecall%.3f | " +
      f"ivf ${ivfF}%.0f docs/s eff=${eff(ivfF, ivf8)}%.2f r=$ivfRecall%.3f | " +
      f"ivfpq ${pqF}%.0f docs/s eff=${eff(pqF, pq8)}%.2f r=$pqRecall%.3f")
    println(s"""{"metric":"ann_scale_probe","ann_docs":$nAnn,"cpus":$cpus,""" +
      s""""control_docs_per_sec":$ctlF,"control_docs_per_sec_8wide":$ctl8,"control_scaling_efficiency":${eff(ctlF, ctl8)},""" +
      s""""lsh_docs_per_sec":$lshF,"lsh_docs_per_sec_8wide":$lsh8,"lsh_scaling_efficiency":${eff(lshF, lsh8)},"lsh_recall":$lshRecall,""" +
      s""""ivf_cells":$ivfCells,"ivf_nprobe":${DedupCorpus.AnnProbe.IvfProbes},"ivf_train_sec":$ivfTrainSec,""" +
      s""""ivf_docs_per_sec":$ivfF,"ivf_docs_per_sec_8wide":$ivf8,"ivf_scaling_efficiency":${eff(ivfF, ivf8)},"ivf_recall":$ivfRecall,""" +
      s""""ivfpq_m":${DedupCorpus.AnnProbe.PqM},"ivfpq_rerank":${DedupCorpus.AnnProbe.IvfPqRefine},"ivfpq_train_sec":$pqTrainSec,""" +
      s""""ivfpq_docs_per_sec":$pqF,"ivfpq_docs_per_sec_8wide":$pq8,"ivfpq_scaling_efficiency":${eff(pqF, pq8)},"ivfpq_recall":$pqRecall,""" +
      s""""ann_k":${DedupCorpus.AnnProbe.K},"trials":3}""")
    spark.stop()
  }
}
