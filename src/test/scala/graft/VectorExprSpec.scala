package graft

import org.apache.spark.sql.functions._
import graft.functions.{Vectors, VectorExpressions, VectorsHof}

/** Native codegen VectorDot vs the HOF reference formulation. */
class VectorExprSpec extends SparkTestBase {

  private def vecsF(n: Int) = {
    val spark0 = spark
    import spark0.implicits._
    (0 until n).map { i =>
      (i.toLong, (0 until 16).map(d => math.sin(i * 0.7 + d * 1.3).toFloat).toArray)
    }.toDF("id", "v").repartition(4)
  }

  test("native dot equals HOF dot exactly (float arrays)") {
    val df = vecsF(200)
    val pairs = df.as("a").crossJoin(df.as("b"))
      .where(col("a.id") < col("b.id") && col("b.id") < 20)
    inEachEvaluator { mode =>
      val diff = pairs.select(
        Vectors.dot(col("a.v"), col("b.v")).as("native"),
        VectorsHof.dotHof(col("a.v"), col("b.v")).as("hof"))
        .where(col("native") =!= col("hof"))
      assert(diff.count() === 0, mode)
    }
  }

  test("native dot equals HOF dot exactly (double arrays)") {
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 50).map { i =>
      (i.toLong, (0 until 8).map(d => math.cos(i + d * 0.3)).toArray)
    }.toDF("id", "v")
    val pairs = df.as("a").crossJoin(df.as("b")).where(col("a.id") < col("b.id"))
    inEachEvaluator { mode =>
      assert(pairs.select(
        (Vectors.dot(col("a.v"), col("b.v")) =!= VectorsHof.dotHof(col("a.v"), col("b.v"))).as("d"))
        .where(col("d")).count() === 0, mode)
    }
  }

  test("native dot: null array → null, empty → 0") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (2L, null.asInstanceOf[Array[Float]], Array(1.0f)),
      (3L, Array.empty[Float], Array.empty[Float])).toDF("id", "a", "b")
    inEachEvaluator { mode =>
      val out = df.select(col("id"), Vectors.dot(col("a"), col("b")).as("d"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(out(1L) === Some(11.0), mode)
      assert(out(2L) === None, mode)
      assert(out(3L) === Some(0.0), mode)
    }
  }

  test("Ann.bruteTopK scores through the native vectordot") {
    val df = vecsF(60)
    val q = df.where(col("id") < 3)
    val got = graft.ops.Ann.bruteTopK(df, q, "id", "v", "id", "v", k = 2)
    assert(got.count() === 6)
    // plan must contain the native expression, not lambda dispatch, for the score
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("vectordot") || plan.toLowerCase.contains("vectordot"))
  }

  test("rejects non-numeric arrays at analysis time") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, Array("x", "y"))).toDF("id", "s")
    val e = intercept[Exception] {
      df.select(VectorExpressions.dotNative(col("s"), col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("vectordot") ||
      e.getMessage.toLowerCase.contains("datatype"))
  }

  test("native SignBits equals HOF sign-bit LSH exactly (floats, doubles, edge cases)") {
    val spark0 = spark
    import spark0.implicits._
    // real float embeddings from testdata + synthetic doubles + edges
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).select(col("vec_id"), col("embedding").as("v"))
    val params = for (bits <- Seq(1, 4, 8); seed <- Seq(42, 43)) yield (bits, seed)
    // doubles (via normalize), empty, null array, null element
    val edge = Seq(
      (1L, Seq[java.lang.Double](0.5, -0.25, 1.0)),
      (2L, Seq[java.lang.Double]()),
      (3L, null: Seq[java.lang.Double]),
      (4L, Seq[java.lang.Double](0.5, null, 1.0))).toDF("id", "v")
    inEachEvaluator { mode =>
      // one scan for every (bits, seed): columns native_i, hof_i
      val cmp = emb.select(params.zipWithIndex.flatMap { case ((bits, seed), i) => Seq(
        graft.functions.Vectors.signBits(col("v"), bits, seed).as(s"native_$i"),
        graft.functions.VectorsHof.signBitsHOF(col("v"), bits, seed).as(s"hof_$i")) }: _*)
        .collect()
      params.indices.foreach { i =>
        assert(cmp.forall(r => r.get(2 * i) == r.get(2 * i + 1)), s"$mode ${params(i)}")
      }
      val cmp2 = edge.select(col("id"),
        graft.functions.Vectors.signBits(col("v"), 6).as("native"),
        graft.functions.VectorsHof.signBitsHOF(col("v"), 6).as("hof"))
      val rows = cmp2.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      rows.foreach { case (id, (n, h)) => assert(n === h, s"$mode id=$id native=$n hof=$h") }
      assert(rows(2L)._1 === 0L && rows(3L)._1 === 0L && rows(4L)._1 === 0L, mode)
    }
  }

  test("native VectorNormalize equals the HOF composite exactly (floats, doubles, edges)") {
    val spark0 = spark
    import spark0.implicits._
    // real float embeddings
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200).select(col("embedding").as("v"))
    // double edges: zero vector (unchanged), empty, null array, null element
    val edge = Seq(
      (1L, Seq[java.lang.Double](3.0, -4.0)),          // norm 5 → (0.6, -0.8)
      (2L, Seq[java.lang.Double](0.0, 0.0)),           // zero norm → unchanged
      (3L, Seq[java.lang.Double]()),
      (4L, null: Seq[java.lang.Double]),
      (5L, Seq[java.lang.Double](0.5, null, 1.0))).toDF("id", "v")
    inEachEvaluator { mode =>
      val cmp = emb.select(
        graft.functions.Vectors.normalize(col("v")).as("native"),
        graft.functions.VectorsHof.normalizeHOF(col("v")).as("hof"))
      assert(cmp.where(!(col("native") <=> col("hof"))).count() === 0, mode)
      val cmp2 = edge.select(col("id"),
        graft.functions.Vectors.normalize(col("v")).as("native"),
        graft.functions.VectorsHof.normalizeHOF(col("v")).as("hof"))
      assert(cmp2.where(!(col("native") <=> col("hof"))).count() === 0,
        s"$mode " + cmp2.collect().mkString("; "))
      val byId = cmp2.collect().map(r => r.getLong(0) -> r).toMap
      assert(byId(1L).getSeq[Double](1) === Seq(0.6, -0.8), mode)
      assert(byId(2L).getSeq[Double](1) === Seq(0.0, 0.0), mode)
      assert(byId(4L).isNullAt(1), mode)
    }
  }
}
