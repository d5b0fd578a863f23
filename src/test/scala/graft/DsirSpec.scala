package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dsir

class DsirSpec extends AnyFunSuite with SparkFixture {

  test("fitted log ratios favor target-only vocabulary, disfavor raw-only") {
    val s = spark; import s.implicits._
    // target docs speak 'alpha beta', raw-only docs speak 'gamma delta'
    val docs = ((0L until 50L).map(i => (i, "t", "alpha beta alpha beta alpha")) ++
      (50L until 100L).map(i => (i, "r", "gamma delta gamma delta gamma")))
      .toDF("doc_id", "grp", "text")
    val model = Dsir.fitLogRatios(docs, col("grp") === "t", nBuckets = 64)
    val scored = Dsir.score(docs, model).select("grp", "logw_raw")
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    val tMin = scored.collect { case ("t", w) => w }.min
    val rMax = scored.collect { case ("r", w) => w }.max
    assert(tMin > 0.0 && rMax < 0.0,
      s"target docs must score positive, raw-only negative: tMin=$tMin rMax=$rMax")
  }

  test("selection enriches the target slice beyond its base rate") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, "/root/testdata/sf0.01")
    val sel = Dsir.select(s, docs, col("lang") === "en", k = 125)
    val enFrac = sel.filter(col("lang") === "en").count().toDouble / 125
    val baseFrac = docs.filter(col("lang") === "en").count().toDouble / docs.count()
    assert(enFrac > baseFrac * 1.3,
      s"DSIR should enrich the target: selected $enFrac vs base $baseFrac")
  }

  test("scoring plan: zero exchanges (map-only deployment shape)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = (0L until 20L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val plan = Dsir.score(docs, Array.fill(256)(0.1)).queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"$plan")
  }

  test("selection is deterministic across reruns and k-boundary ties break by id") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
    def run() = Dsir.select(s, docs, col("lang") === "en", k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(run() == run())
  }
}
