package graft.exec

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
import org.apache.commons.math3.special.Gamma
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A KLL quantile sketch as produced by Spark's `kll_sketch_agg_double` /
 * `kll_merge_agg_double`: the one quantile-sketch type the engine hands
 * out, so no caller depends on the datasketches byte format. An empty
 * sketch (no non-null input) answers NaN.
 */
final class QuantileSketch(private val kll: KllDoublesSketch) {
  def totalWeight: Double = kll.getN.toDouble
  /** Fraction of the input ≤ x. */
  def cdf(x: Double): Double = if (kll.isEmpty) Double.NaN else kll.getRank(x, INCLUSIVE)
  /** Smallest retained item whose rank reaches q ∈ [0, 1]. */
  def quantile(q: Double): Double = if (kll.isEmpty) Double.NaN else kll.getQuantile(q, INCLUSIVE)
  /** The retained items: the jump points of the sketch's step CDF. */
  private[exec] def items: Array[Double] =
    if (kll.isEmpty) Array.empty else kll.getSortedView.getQuantiles
}

object QuantileSketch {
  /** Reads the bytes of a KLL sketch column (the aggregates never yield NULL). */
  def fromBytes(bytes: Array[Byte]): QuantileSketch =
    new QuantileSketch(KllDoublesSketch.heapify(Memory.wrap(bytes)))

  /** One sketch at k = [[Drift.K]] of all of `parts`, as `kll_merge_agg_double` merges them. */
  def merge(parts: Iterable[QuantileSketch]): QuantileSketch = {
    val union = KllDoublesSketch.newHeapInstance(Drift.K)
    parts.foreach(p => union.merge(p.kll))
    new QuantileSketch(union)
  }
}

/**
 * Distribution-drift checks (north rule: "distribution-drift checks via
 * two-sample KS/chi-square over quantile sketches"). The reference has no
 * statistical layer — this generalizes its per-value validation to
 * population-level validation (SURVEY.md §2.D).
 *
 * Execution shape: the sketches are Spark's built-in KLL aggregates
 * (`kll_sketch_agg_double`, Karnin–Lang–Liberty), a partial+final hash
 * aggregate — one shuffle of ~KB-sized sketches regardless of input row
 * count. The KS/χ² statistics are computed driver-side from the sketches,
 * never from raw data.
 *
 * Error bound, stated up front: at k = [[K]] each sketch's CDF estimate is
 * within ε = `KllSketch.getNormalizedRankError(400, false)` ≈ 0.0068 of the
 * true rank (datasketches' a-priori bound, 99% confidence). D̂ and D are
 * sups of |F̂a − F̂b| and |Fa − Fb|, so the sketch KS statistic satisfies
 * |D̂ − D| ≤ 2ε ≈ 0.014 against the exact [[ksTestExact]]. KLL compaction
 * is randomised: answers are within the bound, not bit-identical across
 * runs.
 */
object Drift {

  /** KLL accuracy parameter for every sketch the engine builds. */
  val K = 400

  /** KLL sketch of a numeric column (cast to double; nulls skipped). */
  def kllSketch(c: Column): Column = kll_sketch_agg_double(c.cast("double"), K)

  /** Per-group sketches: one sketch per distinct value of `groupCol`. */
  def sketchByGroup(df: DataFrame, valueCol: String,
      groupCol: String): Map[String, QuantileSketch] =
    df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(kllSketch(col(valueCol)).as("sketch"))
      .collect()
      .map(r => r.getString(0) -> QuantileSketch.fromBytes(r.getAs[Array[Byte]](1)))
      .toMap

  /**
   * Two-sample KS statistic from two sketches: sup |F̂a − F̂b| over the union
   * of both sketches' retained items. Both estimates are right-continuous
   * step functions jumping only at those items, so this is their exact
   * supremum distance.
   */
  def ksStatistic(a: QuantileSketch, b: QuantileSketch): Double = {
    val points = a.items ++ b.items
    if (points.isEmpty) Double.NaN
    else points.foldLeft(0.0)((d, x) => math.max(d, math.abs(a.cdf(x) - b.cdf(x))))
  }

  /**
   * Asymptotic two-sample KS p-value: Kolmogorov distribution
   * Q(λ) = 2 Σ_{k≥1} (-1)^{k-1} e^{-2k²λ²} with the standard effective-n
   * correction (Numerical Recipes §14.3 form, public).
   */
  def ksPValue(d: Double, n1: Double, n2: Double): Double = {
    if (d.isNaN || n1 <= 0 || n2 <= 0) return Double.NaN
    val ne = n1 * n2 / (n1 + n2)
    val lambda = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    var sum = 0.0
    var k = 1
    while (k <= 100) {
      val term = 2.0 * math.pow(-1, k - 1) * math.exp(-2.0 * k * k * lambda * lambda)
      sum += term
      if (math.abs(term) < 1e-12) return math.max(0.0, math.min(1.0, sum))
      k += 1
    }
    math.max(0.0, math.min(1.0, sum))
  }

  final case class KsResult(group1: String, group2: String, statistic: Double,
      pValue: Double, n1: Double, n2: Double)

  /** Two-sample KS over a numeric column between two groups of `groupCol`. */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String): KsResult = {
    val sketches = sketchByGroup(
      df.where(col(groupCol).cast("string").isin(g1, g2)), valueCol, groupCol)
    val (a, b) = (sketches(g1), sketches(g2))
    val d = ksStatistic(a, b)
    KsResult(g1, g2, d, ksPValue(d, a.totalWeight, b.totalWeight), a.totalWeight, b.totalWeight)
  }

  /**
   * EXACT two-sample KS over a numeric column between two groups: D is the
   * sup over observed values x of |F₁(x) − F₂(x)| computed from cumulative
   * per-distinct-value counts. The per-value aggregation is fully
   * distributed (partial-agg groupBy); the cumulative step is a global-order
   * window over DISTINCT values — a single task over the distinct-value set,
   * so this is the bounded-cardinality / audit path. [[ksTest]] (KLL
   * sketches) is the unbounded-scale path; this exact form is its oracle.
   *
   * Contract: the distinct values of `valueCol` in the two groups must fit
   * one task. That window has no partition key by design, so Spark's
   * `WindowExec` logs "No Partition Defined for Window operation!" on every
   * call; the WARN restates this contract and is not a fault.
   */
  def ksTestExact(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String): KsResult = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .where(col(groupCol).cast("string").isin(g1, g2) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("x"))
      .agg(
        sum(when(col(groupCol).cast("string") === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol).cast("string") === g2, 1L).otherwise(0L)).as("c2"))
    // single pass: cumulative counts via the ordered window, totals via the
    // whole-partition window — one job, one collect of one row
    val cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val row = counts
      .select(
        sum("c1").over(cum).as("f1"), sum("c2").over(cum).as("f2"),
        sum("c1").over(all).as("n1"), sum("c2").over(all).as("n2"))
      .select(
        abs(col("f1").cast("double") / col("n1").cast("double") -
          col("f2").cast("double") / col("n2").cast("double")).as("diff"),
        col("n1"), col("n2"))
      .agg(max(col("diff")).as("d"), max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .collect()(0)
    // max over an empty aggregate is NULL → name the problem instead of NPE
    if (row.isNullAt(1) || row.isNullAt(2))
      throw new IllegalArgumentException(
        s"ksTestExact: no non-null '$valueCol' rows for groups '$g1'/'$g2' of '$groupCol'")
    val (n1, n2) = (row.getLong(1).toDouble, row.getLong(2).toDouble)
    if (n1 == 0 || n2 == 0)
      throw new IllegalArgumentException(
        s"ksTestExact: group '${if (n1 == 0) g1 else g2}' of '$groupCol' has no rows " +
          s"with non-null '$valueCol' (n1=${n1.toLong}, n2=${n2.toLong})")
    val d = row.getDouble(0)
    KsResult(g1, g2, d, ksPValue(d, n1, n2), n1, n2)
  }

  final case class Chi2Result(statistic: Double, dof: Int, pValue: Double)

  /**
   * Two-sample chi-square homogeneity test over a categorical column:
   * one distributed groupBy(group, category) count (exact, partial-agg
   * friendly), statistic computed driver-side from the contingency table.
   */
  def chiSquareTest(df: DataFrame, catCol: String, groupCol: String): Chi2Result = {
    val counts = df
      .groupBy(col(groupCol).cast("string").as("g"), col(catCol).cast("string").as("c"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    chiSquareFromCounts(counts)
  }

  def chiSquareFromCounts(counts: Seq[(String, String, Long)]): Chi2Result = {
    val groups = counts.map(_._1).distinct.sorted
    val cats = counts.map(_._2).distinct.sorted
    val table = counts.map { case (g, c, n) => (g, c) -> n.toDouble }.toMap.withDefaultValue(0.0)
    val rowTot = groups.map(g => g -> cats.map(c => table((g, c))).sum).toMap
    val colTot = cats.map(c => c -> groups.map(g => table((g, c))).sum).toMap
    val total = rowTot.values.sum
    var stat = 0.0
    for (g <- groups; c <- cats) {
      val e = rowTot(g) * colTot(c) / total
      if (e > 0) { val d = table((g, c)) - e; stat += d * d / e }
    }
    val dof = math.max(1, (groups.size - 1) * (cats.size - 1))
    Chi2Result(stat, dof, chiSquarePValue(stat, dof))
  }

  /** Chi-square upper-tail p-value: the regularized upper incomplete gamma
    * Q(dof / 2, statistic / 2) (commons-math3, a Spark dependency). */
  private[graft] def chiSquarePValue(statistic: Double, dof: Int): Double =
    Gamma.regularizedGammaQ(dof / 2.0, statistic / 2.0)

  /**
   * INDEPENDENT approximation of the chi² upper-tail p-value: the Wilson &
   * Hilferty (1931) cube-root normal transform, Φ via the Abramowitz–Stegun
   * 7.1.26 erf polynomial. Two disjoint published algorithms; used as a
   * tolerance pin against [[chiSquarePValue]] (agreement ≲0.02 across the
   * practical (dof, statistic) range) so the non-SQL-expressible gamma
   * path gets a driver-checkable oracle twin.
   */
  def chiSquarePValueWH(statistic: Double, dof: Int): Double = {
    val k = dof.toDouble
    val z = (math.cbrt(statistic / k) - (1.0 - 2.0 / (9.0 * k))) / math.sqrt(2.0 / (9.0 * k))
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(z) / math.sqrt(2.0))
    val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429))))
    val erf = 1.0 - poly * math.exp(-z * z / 2.0)
    val phi = if (z >= 0) 0.5 * (1.0 + erf) else 0.5 * (1.0 - erf)
    1.0 - phi
  }
}
