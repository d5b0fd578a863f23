package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Connected-components algorithm equivalence and the round-count
  * property that justifies the large-star/small-star upgrade: on a
  * long chain (the worst case for label propagation) the star
  * alternation must converge in O(log d) rounds while propagation
  * needs O(d). */
class DedupClusterSpec extends AnyFunSuite with SparkFixture {

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  test("diameter-20 chain: star contraction O(log d) rounds vs propagation O(d)") {
    val chain = (0L until 20L).map(i => (i, i + 1))
    val e = Dedup.symmetrized(edgesDf(chain), "doc_a", "doc_b")
    val (propLabels, propRounds) = Dedup.propagateMinLabels(e)
    val (starLabels, starRounds) = Dedup.starContract(e)
    assert(propRounds >= 15, s"propagation took $propRounds rounds — chain should cost ~diameter")
    assert(starRounds <= 8, s"star contraction took $starRounds rounds — not O(log d)")
    val p = propLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val st = starLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == st)
    assert(st == (0L to 20L).map(i => (i, 0L)).toSet)
  }

  test("star contraction agrees with propagation on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(30)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2)
      val df = edgesDf(edges)
      val viaStar = Dedup.connectedComponentsStar(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaProp = Dedup.connectedComponents(df) // small edge list -> propagation path
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStar == viaProp, s"trial $trial: edges=$edges")
    }
  }

  test("threshold dispatch: all three paths agree; empty input") {
    val pairs = edgesDf(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val expect = Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    val viaLocal = Dedup.connectedComponents(pairs) // tiny -> driver union-find
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaProp = Dedup.connectedComponents(pairs, localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStar = Dedup.connectedComponents(pairs, starThreshold = 1, localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLocal == expect && viaProp == expect && viaStar == expect)
    assert(Dedup.connectedComponentsStar(edgesDf(Seq.empty)).count() == 0)
    assert(Dedup.connectedComponents(edgesDf(Seq.empty)).count() == 0)
  }
}
