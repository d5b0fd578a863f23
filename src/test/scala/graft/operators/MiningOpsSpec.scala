package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Planted-fixture oracles for the round-10 tranche: majority-direction
  * election + the directed cycle/transitive census on hand-drawn
  * graphs, CCNet boilerplate removal thresholds, and the bitext margin
  * normalization (a hub vector must NOT win on raw cosine). */
class MiningOpsSpec extends AnyFunSuite with SparkFixture {

  test("electMajorityEdges: majority wins, ties go low->high, support prunes") {
    val s = spark; import s.implicits._
    val ev = Seq(
      (1L, 2L), (1L, 2L), (2L, 1L),   // majority 1->2 (2 vs 1)
      (3L, 4L), (4L, 3L),             // tie -> 3->4
      (5L, 6L),                       // support 1 -> pruned
      (7L, 7L)                        // self-loop -> dropped
    ).toDF("src", "dst")
    val e = Graph.electMajorityEdges(ev, "src", "dst", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(e == Set((1L, 2L, 3L), (3L, 4L, 2L)))
  }

  test("directedCycleCensus: one cycle canonicalized once, transitive counted") {
    val s = spark; import s.implicits._
    // cycle 10->20->30->10 plus a transitive triangle 1->2, 2->3, 1->3
    val edges = Seq((10L, 20L), (20L, 30L), (30L, 10L),
      (1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val (cyc, tra) = Graph.directedCycleCensus(edges)
    val cycles = cyc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cycles.toSeq == Seq((10L, 20L, 30L)),
      s"cycle must appear exactly once, canonical rotation: ${cycles.toSeq}")
    val trans = tra.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(trans.toSeq == Seq((1L, 2L, 3L)), s"transitive: ${trans.toSeq}")
  }

  test("boilerplateRemoval: threshold and minDocs gates, exact rebuild fp") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "nav\nbody one", "big"),
      (2L, "nav\nbody two", "big"),
      (3L, "nav\nbody three", "big"),
      (4L, "nav\nbody four", "big"),
      (5L, "body five only", "big"),     // nav in 4/5 = 0.8 >= 0.5 -> removed
      (6L, "shared\nx", "small"),
      (7L, "shared\ny", "small")         // small source: 2 docs < minDocs=5
    ).toDF("doc_id", "text", "source")
    val out = Dedup.boilerplateRemoval(docs, minDocs = 5, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.size == 7, "total report")
    def fp(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((2L, 1L, fp("body one"))), s"doc1: ${out(1L)}")
    assert(out(5L) == ((1L, 0L, fp("body five only"))))
    // below minDocs: the shared line survives
    assert(out(6L) == ((2L, 0L, fp("shared\nx"))), s"doc6: ${out(6L)}")
  }

  test("bitextMarginMine: margin demotes the hub, mutual flags the clone pair") {
    val s = spark; import s.implicits._
    // side A: x1 (axis 0), x2 (axis 1). side B: hub h close to both
    // (diagonal), y1 = x1's true translation (axis 0), y2 = axis-1-ish.
    def v(cs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0f); cs.foreach { case (i, x) => a(i) = x }; a
    }
    val a = Seq((1L, v(0 -> 1f)), (2L, v(1 -> 1f))).toDF("vec_id", "embedding")
    val b = Seq(
      (10L, v(0 -> 1f, 1 -> 1f)),          // hub: cos ~0.707 to BOTH
      (11L, v(0 -> 1f, 2 -> 0.1f)),        // x1's translation: cos ~0.995
      (12L, v(1 -> 1f, 2 -> 0.4f))         // x2's: cos ~0.928
    ).toDF("vec_id", "embedding")
    val out = Similarity.bitextMarginMine(s, a, b, k = 2, minMargin = 0.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    // raw cosine already prefers 11/12, but the margin must too, and the
    // hub must not be anyone's best despite high cosine to both sides
    assert(out(1L)._1 == 11L, s"x1 -> ${out(1L)}")
    assert(out(2L)._1 == 12L, s"x2 -> ${out(2L)}")
    assert(out(1L)._2 && out(2L)._2, "both pairs are mutual best")
  }

  test("q283: banded mine recovers the planted clone pair and prunes candidates") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.MiningQueries.q283BitextMarginLsh(s, sf).collect()
    // the clone plant (identical embedding on both sides) collides in
    // every band, so the mine MUST surface it: sim exactly 1.0, mutual,
    // and agreeing with the exact brute mine
    val plant = out.find(_.getAs[Long]("src_id") == -1L)
    assert(plant.isDefined, "planted clone pair must be mined")
    assert(plant.get.getAs[Long]("dst_id") == -2L)
    assert(plant.get.getAs[Double]("sim") == 1.0)
    assert(plant.get.getAs[Boolean]("mutual"))
    assert(plant.get.getAs[Boolean]("matches_exact"))
    // the pruning bound that makes this the scale path: every row's
    // candidate list is a strict subset of the corpus side
    val corpusN = graft.sources.Tables.embeddings(s, sf)
      .filter(col("label") % 2 === 1).count() + 1 // + clone -2
    out.foreach { r =>
      assert(r.getAs[Long]("n_candidates") < corpusN,
        s"src ${r.getAs[Long]("src_id")} candidates must be band-pruned")
    }
    // margins are finite and the filter bound holds
    out.foreach(r => assert(r.getAs[Double]("margin") >= 1.0))
  }
}
