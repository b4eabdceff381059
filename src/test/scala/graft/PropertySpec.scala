package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.datasketches.kll.KllDoublesSketch
import graft.exec.{Drift, QuantileSketch}

/**
 * Property tests (SURVEY.md §5d): sketch merge associativity / partition
 * independence — the algebraic property that makes distributed aggregation
 * correct regardless of partitioning. Raw ScalaCheck (no scalatestplus in
 * the offline cache).
 */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, s"$name: $res")
  }

  private val valuesGen: Gen[List[Double]] =
    Gen.choose(50, 400).flatMap(n => Gen.listOfN(n, Gen.choose(-1000.0, 1000.0)))

  private def kll(xs: Iterable[Double]): KllDoublesSketch = {
    val k = KllDoublesSketch.newHeapInstance(Drift.K)
    xs.foreach(k.update)
    k
  }

  test("KLL: any split of the input merges to the same quantiles") {
    check("merge-split", Prop.forAll(valuesGen, Gen.choose(1, 10)) { (xs, parts) =>
      val whole = new QuantileSketch(kll(xs))
      val chunkSize = math.max(1, xs.size / parts)
      val merged = KllDoublesSketch.newHeapInstance(Drift.K)
      xs.grouped(chunkSize).foreach(c => merged.merge(kll(c)))
      val m = new QuantileSketch(merged)
      val range = xs.max - xs.min + 1e-9
      val qOk = Seq(0.25, 0.5, 0.75).forall { q =>
        val exact = xs.sorted.apply(math.min(xs.size - 1, (q * xs.size).toInt))
        math.abs(whole.quantile(q) - exact) / range < 0.12 &&
          math.abs(m.quantile(q) - exact) / range < 0.12
      }
      math.abs(whole.totalWeight - m.totalWeight) < 1e-9 &&
        merged.getMinItem == xs.min && merged.getMaxItem == xs.max && qOk
    })
  }

  test("KLL: heapify round-trip is lossless w.r.t. quantiles and weight") {
    check("serde", Prop.forAll(valuesGen) { xs =>
      val k = kll(xs)
      val d = new QuantileSketch(k)
      val rt = QuantileSketch.fromBytes(k.toByteArray)
      rt.totalWeight == d.totalWeight &&
        Seq(0.1, 0.5, 0.9).forall(q => rt.quantile(q) == d.quantile(q))
    })
  }

  test("cdf is monotone and bounded") {
    check("cdf-monotone", Prop.forAll(valuesGen) { xs =>
      val d = new QuantileSketch(kll(xs))
      val probes = (0 to 20).map(i => xs.min + (xs.max - xs.min) * i / 20.0)
      val cdfs = probes.map(d.cdf)
      cdfs.forall(c => c >= 0.0 && c <= 1.0) &&
        cdfs.sliding(2).forall { case Seq(a, b) => b >= a - 1e-12; case _ => true }
    })
  }

  test("KS statistic is symmetric and zero against self") {
    check("ks-symmetric", Prop.forAll(valuesGen, valuesGen) { (xs, ys) =>
      val a = new QuantileSketch(kll(xs))
      val b = new QuantileSketch(kll(ys))
      math.abs(Drift.ksStatistic(a, b) - Drift.ksStatistic(b, a)) < 1e-12 &&
        Drift.ksStatistic(a, a) < 1e-12
    })
  }

  test("chi-square: permuting group labels preserves the statistic") {
    val countsGen = for {
      k <- Gen.choose(2, 5)
      cs <- Gen.listOfN(k, Gen.choose(1L, 500L))
      ds <- Gen.listOfN(k, Gen.choose(1L, 500L))
    } yield (cs, ds)
    check("chi2-permute", Prop.forAll(countsGen) { case (cs, ds) =>
      val cats = cs.indices.map(i => s"c$i")
      val t1 = cats.zip(cs).map { case (c, n) => ("a", c, n) } ++
        cats.zip(ds).map { case (c, n) => ("b", c, n) }
      val t2 = cats.zip(ds).map { case (c, n) => ("a", c, n) } ++
        cats.zip(cs).map { case (c, n) => ("b", c, n) }
      val r1 = Drift.chiSquareFromCounts(t1)
      val r2 = Drift.chiSquareFromCounts(t2)
      math.abs(r1.statistic - r2.statistic) < 1e-9 && r1.dof == r2.dof
    })
  }
}
