package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed fixtures for PMI collocations and token-space
  * divergence. */
class CorpusStatsSpec extends AnyFunSuite with SparkFixture {

  test("pmiCollocations: exact PMI/NPMI on a hand-computed corpus, minCount prunes") {
    val s = spark; import s.implicits._
    // tokens: x:2 y:2 z:2 (T=6); pairs: (x,y):2 (y,x):1 (z,z):1 (P=4)
    val docs = Seq((1L, "x y x y"), (2L, "z z")).toDF("doc_id", "text")
    val out = TextSearch.pmiCollocations(docs, minCount = 2, topK = 10).collect()
    assert(out.length == 1) // (y,x) and (z,z) fall under minCount
    val r = out.head
    assert(r.getAs[String]("bigram") == "x y")
    assert(r.getAs[Long]("c12") == 2 && r.getAs[Long]("c1") == 2 && r.getAs[Long]("c2") == 2)
    // p12 = 1/2, p1 = p2 = 1/3: pmi = ln(4.5), npmi = ln(4.5)/ln(2)
    assert(r.getAs[Double]("pmi") == math.rint(math.log(4.5) * 1e6) / 1e6)
    assert(r.getAs[Double]("npmi") ==
      math.rint(math.log(4.5) / math.log(2.0) * 1e6) / 1e6)
  }

  test("tokenDivergence: identical corpora diverge zero; planted shift ranks first") {
    val s = spark; import s.implicits._
    val a = Seq((1L, "common words here"), (2L, "common again")).toDF("doc_id", "text")
    val same = Drift.tokenDivergence(a, a, topK = 5).collect()
    assert(same.forall(r => r.getAs[Double]("js") == 0.0 &&
      r.getAs[Double]("kl_ab") == 0.0 && r.getAs[Double]("kl_ba") == 0.0))

    val b = Seq((1L, "common words here"), (2L, "shifted again")).toDF("doc_id", "text")
    val out = Drift.tokenDivergence(a, b, topK = 5).collect()
    assert(out.head.getAs[Double]("js") > 0.0)
    // the tokens that moved ("common" lost mass / "shifted" appeared)
    // dominate the contribution ranking
    val top2 = out.take(2).map(_.getAs[String]("token")).toSet
    assert(top2.contains("shifted"))
  }
}
