package graft

import org.apache.spark.sql.functions._
import org.apache.datasketches.kll.{KllDoublesSketch, KllSketch}
import graft.exec.{Drift, QuantileSketch}

class DriftSpec extends SparkTestBase {

  // deterministic pseudo-random doubles (LCG), no Random seed ambiguity
  private def lcg(n: Int, seed: Long): Seq[Double] = {
    var s = seed
    (0 until n).map { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble)
    }
  }

  private def sketch(xs: Iterable[Double]): QuantileSketch = new QuantileSketch(kll(xs))

  private def kll(xs: Iterable[Double]): KllDoublesSketch = {
    val k = KllDoublesSketch.newHeapInstance(Drift.K)
    xs.foreach(k.update)
    k
  }

  private def aggBytes(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    df.agg(Drift.kllSketch(col("x"))).collect()(0).getAs[Array[Byte]](0)

  test("KLL quantiles accurate on uniform data") {
    val xs = lcg(20000, 42)
    val k = kll(xs)
    val d = new QuantileSketch(k)
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      assert(math.abs(d.quantile(q) - q) < 0.02, s"q=$q got ${d.quantile(q)}")
    }
    // KLL keeps O(k) items (about 3k at k = 400), far below the input size
    assert(k.getNumRetained < xs.size / 10, s"space bound: ${k.getNumRetained}")
  }

  test("KLL merge associativity: split-merge equals whole") {
    val xs = lcg(10000, 7)
    val whole = sketch(xs)
    val parts = KllDoublesSketch.newHeapInstance(Drift.K)
    xs.grouped(1000).foreach(p => parts.merge(kll(p)))
    val merged = new QuantileSketch(parts)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      assert(math.abs(whole.quantile(q) - merged.quantile(q)) < 0.02)
    }
    assert(math.abs(merged.totalWeight - 10000.0) < 1e-9)
  }

  test("KLL sketch bytes roundtrip through parquet") {
    val spark0 = spark
    import spark0.implicits._
    val bytes = aggBytes(lcg(5000, 3).toDF("x"))
    val dir = java.nio.file.Files.createTempDirectory("graft-kll-rt").toString + "/s"
    Seq(bytes).toDF("sketch").write.parquet(dir)
    val d = QuantileSketch.fromBytes(bytes)
    val d2 = QuantileSketch.fromBytes(spark.read.parquet(dir).collect()(0).getAs[Array[Byte]](0))
    assert(d2.totalWeight === d.totalWeight)
    for (x <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) assert(d2.cdf(x) === d.cdf(x))
  }

  test("distributed KLL agg equals local sketch (local[1] vs local[4] agree)") {
    val spark0 = spark
    import spark0.implicits._
    val xs = lcg(8000, 11)
    val df = xs.toDF("x").repartition(8)
    val dist = QuantileSketch.fromBytes(aggBytes(df))
    val local = sketch(xs)
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(math.abs(dist.quantile(q) - local.quantile(q)) < 0.02)
    // partitioning must not change the answer materially
    val one = QuantileSketch.fromBytes(aggBytes(df.coalesce(1)))
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(math.abs(dist.quantile(q) - one.quantile(q)) < 0.02)
  }

  test("KS: same distribution → small statistic, large p") {
    val a = sketch(lcg(10000, 1))
    val b = sketch(lcg(10000, 2))
    val d = Drift.ksStatistic(a, b)
    assert(d < 0.05, s"d=$d")
    assert(Drift.ksPValue(d, 10000, 10000) > 0.001)
  }

  test("KS: shifted distribution detected") {
    val a = sketch(lcg(10000, 1))
    val b = sketch(lcg(10000, 2).map(_ + 0.3))
    val d = Drift.ksStatistic(a, b)
    assert(d > 0.25, s"d=$d")
    assert(Drift.ksPValue(d, 10000, 10000) < 1e-6)
  }

  test("end-to-end ksTest over DataFrame groups") {
    val spark0 = spark
    import spark0.implicits._
    val a = lcg(5000, 1).map(("a", _))
    val b = lcg(5000, 2).map(x => ("b", x + 0.5))
    val df = (a ++ b).toDF("g", "x").repartition(8)
    val r = Drift.ksTest(df, "x", "g", "a", "b")
    assert(r.statistic > 0.4)
    assert(r.pValue < 1e-9)
    assert(r.n1 === 5000.0 && r.n2 === 5000.0)
  }

  test("chi-square: skewed categorical distribution detected; uniform not") {
    // same proportions → small stat
    val same = Seq(("a", "x", 500L), ("a", "y", 500L), ("b", "x", 250L), ("b", "y", 250L))
    val r1 = Drift.chiSquareFromCounts(same)
    assert(r1.statistic < 1e-9 && r1.pValue > 0.99)
    // strongly different proportions → big stat
    val diff = Seq(("a", "x", 900L), ("a", "y", 100L), ("b", "x", 100L), ("b", "y", 900L))
    val r2 = Drift.chiSquareFromCounts(diff)
    assert(r2.statistic > 100 && r2.pValue < 1e-9)
    assert(r2.dof === 1)
  }

  test("chi-square over DataFrame matches hand computation") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq.fill(90)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(50)(("b", "x")) ++ Seq.fill(50)(("b", "y"))
    val r = Drift.chiSquareTest(rows.toDF("g", "c"), "c", "g")
    // expected: chi2 = sum (o-e)^2/e with margins 140/60, 100/100
    val e = Seq(("a", "x", 70.0, 90.0), ("a", "y", 30.0, 10.0), ("b", "x", 70.0, 50.0), ("b", "y", 30.0, 50.0))
    val expected = e.map { case (_, _, ee, oo) => (oo - ee) * (oo - ee) / ee }.sum
    assert(math.abs(r.statistic - expected) < 1e-9)
  }

  test("KLL skips nulls in nullable input columns (no crash, weight = non-null count)") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq[java.lang.Double](1.0, null, 2.0, null, 3.0).toDF("x")
    val d = QuantileSketch.fromBytes(aggBytes(df))
    assert(d.totalWeight === 3.0)
    assert(math.abs(d.quantile(0.5) - 2.0) < 1e-9)
  }

  /** [[Drift.ksTestExact]] of groups "a" and "b": its cumulative window
    * has no partition key by contract (bounded cardinality), so Spark's
    * WindowExec WARNs that it moves all data to one partition on every call. */
  private def exactKs(df: org.apache.spark.sql.DataFrame) =
    withLoggersOff("org.apache.spark.sql.execution.window.WindowExec") {
      Drift.ksTestExact(df, "x", "g", "a", "b")
    }

  test("ksTestExact matches hand computation and bounds the sketch approximation") {
    val spark0 = spark
    import spark0.implicits._
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 3.0, 4.0).map(("b", _)))
      .toDF("g", "x")
    val r = exactKs(df)
    // F_a = (1/3, 2/3, 1, 1) and F_b = (0, 1/3, 2/3, 1) at x = 1,2,3,4 -> D = 1/3
    assert(math.abs(r.statistic - 1.0 / 3.0) < 1e-12)
    assert(r.n1 === 3.0 && r.n2 === 3.0)

    // on a larger sample the KLL sketch statistic must approximate the exact one
    val big = (lcg(4000, 1).map(("a", _)) ++ lcg(4000, 2).map(x => ("b", x + 0.2))).toDF("g", "x")
    val exact = exactKs(big)
    val approx = Drift.ksTest(big, "x", "g", "a", "b")
    assert(math.abs(exact.statistic - approx.statistic) < 0.03,
      s"exact=${exact.statistic} sketch=${approx.statistic}")
  }

  test("KLL KS statistic within the stated 2*eps bound of exact KS (10k vs 10k)") {
    val spark0 = spark
    import spark0.implicits._
    val df = (lcg(10000, 5).map(("a", _)) ++ lcg(10000, 6).map(("b", _))).toDF("g", "x")
      .repartition(4)
    val eps = KllSketch.getNormalizedRankError(Drift.K, false)
    val exact = exactKs(df)
    val approx = Drift.ksTest(df, "x", "g", "a", "b")
    assert(math.abs(approx.statistic - exact.statistic) <= 2 * eps,
      s"exact=${exact.statistic} sketch=${approx.statistic} 2eps=${2 * eps}")
    assert(approx.n1 === 10000.0 && approx.n2 === 10000.0)
  }

  test("chi2 p-value (regularized gamma) cross-checks against Wilson-Hilferty") {
    // independent derivation: chi2_k CDF ≈ Φ(z), z = ((x/k)^(1/3) − (1 −
    // 2/(9k))) / sqrt(2/(9k)) (Wilson & Hilferty 1931); Φ via the
    // Abramowitz–Stegun 7.1.26 erf polynomial. Two disjoint published
    // algorithms agreeing across the grid pins the NR series/continued-
    // fraction implementation.
    def phi(z: Double): Double = {
      val t = 1.0 / (1.0 + 0.3275911 * math.abs(z) / math.sqrt(2.0))
      val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
        t * (-1.453152027 + t * 1.061405429))))
      val erf = 1.0 - poly * math.exp(-z * z / 2.0)
      if (z >= 0) 0.5 * (1.0 + erf) else 0.5 * (1.0 - erf)
    }
    for (k <- Seq(3, 5, 10, 20, 50); mult <- Seq(0.5, 1.0, 1.5, 2.0, 3.0)) {
      val x = k * mult
      val pOurs = 1.0 - Drift.gammaP(k / 2.0, x / 2.0)
      val z = (math.cbrt(x / k) - (1.0 - 2.0 / (9.0 * k))) / math.sqrt(2.0 / (9.0 * k))
      val pWH = 1.0 - phi(z)
      assert(math.abs(pOurs - pWH) < 0.02,
        s"k=$k x=$x ours=$pOurs wilson-hilferty=$pWH")
      assert(pOurs >= 0.0 && pOurs <= 1.0)
    }
    // monotonicity in the statistic at fixed dof
    val ps = (1 to 30).map(i => 1.0 - Drift.gammaP(5.0, i.toDouble))
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-15 })
  }
}
