package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.ops.{Ann, Pq}
import graft.functions.{Vectors, VectorsHof}

/** Product-quantization ANN: native ADC twin-equivalence, training
  * determinism, encode hygiene, and recall floors (compressed-domain scan
  * alone and with exact re-rank). */
class PqSpec extends SparkTestBase {

  private def embeddings = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  test("PqAdc native == HOF twin, including null/mismatch/out-of-range edges") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val m = 1 + rnd.nextInt(6)
      val codes: Seq[Integer] = i % 11 match {
        case 9 => null // null codes array
        case 8 => (0 until m).map(j => if (j == 0) null
          else Integer.valueOf(rnd.nextInt(4))) // null code element
        case 7 => (0 until m).map(_ => Integer.valueOf(rnd.nextInt(8))) // out of range (luts are 4-wide)
        case 6 => (0 until m).map(_ => Integer.valueOf(-1)) // unassigned marker
        case _ => (0 until m).map(_ => Integer.valueOf(rnd.nextInt(4)))
      }
      val luts: Seq[Seq[java.lang.Double]] = i % 13 match {
        case 12 => null // null luts array
        case 11 => (0 until m + 1).map(_ => // subspace-count mismatch
          (0 until 4).map(_ => java.lang.Double.valueOf(rnd.nextDouble())): Seq[java.lang.Double])
        case 10 => (0 until m).map(j => if (j == 0) null
          else (0 until 4).map(_ => java.lang.Double.valueOf(rnd.nextDouble())): Seq[java.lang.Double])
        case _ => (0 until m).map(_ =>
          (0 until 4).map(_ => java.lang.Double.valueOf(rnd.nextDouble())): Seq[java.lang.Double])
      }
      Row(codes, luts)
    }
    val schema = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = true)),
      StructField("luts", ArrayType(ArrayType(DoubleType, containsNull = true),
        containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    inEachEvaluator { mode =>
      val got = df.select(
        Vectors.pqAdc(col("codes"), col("luts")).as("nat"),
        VectorsHof.pqAdcHof(col("codes"), col("luts")).as("hof")).collect()
      got.zipWithIndex.foreach { case (r, i) =>
        val nat = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
        val hof = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
        if (nat == null || hof == null) assert(nat == hof, s"$mode row $i: $nat vs $hof")
        else assert(math.abs(nat - hof) < 1e-12, s"$mode row $i: $nat vs $hof")
      }
    }
  }

  test("train is deterministic; encode emits m in-range codes and drops poison rows") {
    val e = embeddings
    val m1 = Pq.train(e, "vec_id", "embedding", m = 8, iters = 5)
    val m2 = Pq.train(e, "vec_id", "embedding", m = 8, iters = 5)
    assert(m1.dsub === 8)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(m1.packedBytesPerDoc === 8)

    // poison rows: null vector, ragged vector, null element — all dropped,
    // clean rows all encoded
    import scala.jdk.CollectionConverters._
    val clean = e.limit(50)
    val poisonRows = Seq(
      Row(9001L, null, 0),
      Row(9002L, Seq(1.0f, 2.0f), 0), // ragged (dim 2, corpus dim 64)
      Row(9003L, (0 until 64).map(i => if (i == 3) null
        else java.lang.Float.valueOf(i.toFloat)): Seq[java.lang.Float], 0))
    val poisoned = spark.createDataFrame(poisonRows.asJava, clean.schema)
    val enc = Pq.encode(clean.unionByName(poisoned), "vec_id", "embedding", m1)
    val got = enc.collect()
    assert(got.length === 50, "poison rows must be dropped, clean rows kept")
    got.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length === 8)
      codes.zipWithIndex.foreach { case (c, j) =>
        assert(c >= 0 && c < m1.codebooks(j).length, s"code $c out of range in subspace $j")
      }
    }
    // determinism of the encode itself
    val enc2 = Pq.encode(clean, "vec_id", "embedding", m1).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    got.filter(r => enc2.contains(r.getLong(0))).foreach { r =>
      assert(enc2(r.getLong(0)) === r.getSeq[Int](1))
    }
  }

  test("compressed-domain ADC scan alone clears recall 0.6; +re-rank clears 0.9 and returns true neighbors") {
    val e = embeddings
    val q = e.where(col("vec_id") < 20)
    val model = Pq.train(e, "vec_id", "embedding", m = 8, iters = 10)
    val exact = Ann.bruteTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val adcOnly = Pq.topK(e, q, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, model, rerank = 0)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAdc = (exact intersect adcOnly).size.toDouble / exact.size
    info(f"PQ ADC-only recall@5 = $recallAdc%.2f")
    assert(recallAdc >= 0.6, f"ADC-only recall $recallAdc%.2f")

    val reranked = Pq.topK(e, q, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, model, rerank = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect reranked).size.toDouble / exact.size
    info(f"PQ re-ranked recall@5 = $recall%.2f")
    assert(recall >= 0.9, f"re-ranked recall $recall%.2f")

    // the re-rank stage scores exactly, so every returned pair must be a
    // TRUE near neighbor (within the exact top-25 by construction)
    val exact25 = Ann.bruteTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reranked.subsetOf(exact25), "re-ranked PQ returned a non-neighbor")
  }

  test("IVF×PQ (both dials composed) clears recall 0.9 and returns true neighbors") {
    val e = embeddings
    val q = e.where(col("vec_id") < 20)
    val model = Pq.train(e, "vec_id", "embedding", m = 8, iters = 10)
    val cents = Ann.trainCentroids(e, "vec_id", "embedding", nCells = 22,
      sampleN = 500, iters = 10)
    val exact = Ann.bruteTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uniform vectors: recall ∝ probed fraction (same as the IVF pin), so
    // probe most cells; the point under test is the ADC ordering + re-rank
    // INSIDE probed cells, not coarse recall
    val ivfpq = Pq.ivfPqTopK(e, q, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, cents, nProbe = 18, model, rerank = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    info(f"IVF×PQ recall@5 = $recall%.2f")
    assert(recall >= 0.9, f"IVF×PQ recall $recall%.2f")
    val exact25 = Ann.bruteTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.subsetOf(exact25), "IVF×PQ returned a non-neighbor")
    // the persisted-index entry point is the same path (delegation pin)
    val enc = Pq.encodeWithCells(e, "vec_id", "embedding", cents, model)
    assert(enc.columns.toSeq === Seq("doc_id", "cell", "codes"))
    val viaCodes = Pq.ivfPqFromCodes(enc, e, q, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, cents, nProbe = 18, model, rerank = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaCodes === ivfpq)
  }

  test("ADC score approximates exact cosine on the trained distribution") {
    val e = embeddings.limit(100)
    val q = e.where(col("vec_id") < 3)
    val model = Pq.train(embeddings, "vec_id", "embedding", m = 8, iters = 10)
    // per (doc, query) pair: |adc - cosine| small on average (quantization
    // error of 8 codebooks × up to 256 codewords on unit vectors)
    val scored = Pq.topK(e, q, "vec_id", "embedding", "vec_id", "embedding",
      k = 90, model, rerank = 0)
    val exactScores = Ann.bruteTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 90)
      .select(col("query_id"), col("neighbor_id"), col("score").as("cos"))
    val err = scored.join(exactScores, Seq("query_id", "neighbor_id"))
      .select(avg(abs(col("score") - col("cos"))).as("mae"))
      .collect()(0).getDouble(0)
    info(f"ADC vs exact cosine MAE = $err%.4f")
    assert(err < 0.08, f"ADC error too large: $err%.4f")
  }
}
