package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.VectorQueries

/** Mechanism guarantees for the LSH-bucketed hard-negative mine (q280):
  * the planted exact-duplicate clones must collide in every band and
  * win rank 1 at sim 1.0, and the bucketing must actually prune (the
  * candidate set stays far below the different-label corpus). */
class HardNegLshSpec extends AnyFunSuite with SparkFixture {

  test("planted duplicate clones win rank 1 at sim 1.0; buckets prune") {
    val rows = VectorQueries.q280HardNegativesLsh(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val byProbe = rows.groupBy(_.getAs[Long]("q_id"))
    for ((pid, clone) <- Seq(0L -> -1L, 20L -> -2L) if byProbe.contains(pid)) {
      val r1 = byProbe(pid).find(_.getAs[Int]("rank") == 1).get
      assert(r1.getAs[Long]("neg_id") == clone, s"probe $pid rank-1 must be its clone")
      assert(r1.getAs[Double]("sim") == 1.0)
    }
    // pruning: every probe's candidate count is well below the corpus
    val corpus = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") < corpus / 2,
        "band buckets must prune, not enumerate the corpus")
    }
    // ranks are dense 1..k per probe and sims non-increasing
    byProbe.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => b <= a })
    }
  }
}
