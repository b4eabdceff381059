package piqibench

import org.scalatest.funsuite.AnyFunSuite

/** The closed forms of [[Expected]] against brute-force counts over the
  * generated documents themselves. */
class GenSpec extends AnyFunSuite {

  private val shapes = for (seed <- Seq(0L, 1L, 7L, 123456789L)) yield Seq(
    ValidateScan.shape(seed).copy(n = 5300),
    AuditCheckpoint.shape(seed).copy(n = 4700),
    IngestDedup.shape(seed).copy(n = 9900))

  private def textOf(d: DocRow) = d.spans.filter(_.kind == "text").map(_.text).mkString(" ")

  for (s <- shapes.flatten) test(s"closed forms hold: seed ${s.seed}, n ${s.n}, degen ${s.degen}") {
    val e = Expected(s)
    val idx = 0L until s.n
    val docs = idx.map(i => Gen.doc(s, i))
    assert(docs.size == e.docs)

    assert(idx.count(Gen.isCorrupt(s, _)) == e.corrupt)
    assert(idx.count(Gen.isHot(s, _)) == e.hot)
    assert(idx.count(Gen.isMissing(s, _)) == e.missingRefs)
    assert(idx.count(Gen.isBadJson(s, _)) == e.badJson)
    assert(e.perKind.sum == e.corrupt)
    Gen.CorruptKinds.indices.foreach { k =>
      assert(idx.count(i => Gen.isCorrupt(s, i) && Gen.corruptKind(s, i) == k) == e.perKind(k))
    }
    assert(docs.map(_.doc_id).distinct.size == e.distinctDocIds)
    assert(docs.map(_.doc_id).groupBy(identity).count(_._2.size > 1) == e.duplicateKeys)
    val catalog = (0 until s.catalog).map(k => s"m-$k").toSet
    assert(docs.flatMap(_.spans).flatMap(sp => Option(sp.media_ref)).count(!catalog(_)) == e.missingRefs)

    // dedup closed forms over the valid docs
    val valid = idx.filterNot(i => Gen.isCorrupt(s, i) || Gen.isBadJson(s, i))
    assert(valid.size == e.valid)
    val groups = valid.groupBy(i => textOf(docs(i.toInt))).values.map(_.size).toSeq
    if (s.dupClusters) {
      val nonTemplate = valid.filter(_ >= s.degen).groupBy(i => textOf(docs(i.toInt))).values.map(_.size)
      assert(nonTemplate.map(g => g * (g - 1) / 2).sum == e.truePairs)
      assert(nonTemplate.count(_ > 1) == e.components)
      assert(valid.size - nonTemplate.map(_ - 1).sum == e.keptByPairs)
    }
    assert(groups.size == e.keptExact)
  }

  test("the same seed gives the same documents, another seed other ones") {
    val a = ValidateScan.shape(3L)
    assert((0L until 200L).map(Gen.json(a, _)) == (0L until 200L).map(Gen.json(a, _)))
    assert((0L until 200L).map(Gen.json(a, _)) != (0L until 200L).map(Gen.json(a.copy(seed = 4L), _)))
  }

  test("bad JSON docs are exactly the truncated ones") {
    val s = IngestDedup.shape(5L).copy(n = 3000)
    (0L until s.n).foreach { i =>
      assert(Gen.json(s, i).endsWith("}") != Gen.isBadJson(s, i), s"doc $i")
    }
  }
}
