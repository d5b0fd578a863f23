package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Classifier

/** The trained-quality-classifier operator: feature hashing, the
  * one-aggregate-per-iteration GD loop, and the frozen-weights scoring
  * path. Ground truths are hand-computable (tiny separable corpora). */
class ClassifierSpec extends AnyFunSuite with SparkFixture {

  test("hash_features: counts fold into buckets, intercept slot is 1") {
    val s = spark; import s.implicits._
    val out = Seq((1L, "a b a")).toDF("id", "text")
      .select(expr("hash_features(split(text, ' '), 8)").as("f"))
      .head().getSeq[Double](0)
    assert(out.length == 9)
    assert(out.last == 1.0, "intercept")
    assert(out.take(8).sum == 3.0, "three token increments")
    assert(out.take(8).max == 2.0, "'a' hashed twice into one bucket")
  }

  test("training on a separable corpus reaches accuracy 1 with monotone loss") {
    val s = spark; import s.implicits._
    val train = (0 until 60).map { i =>
      if (i % 2 == 0) (1.0, s"pos${i % 7} pos${(i + 3) % 7} shared filler")
      else (0.0, s"neg${i % 7} neg${(i + 3) % 7} shared filler")
    }.toDF("label", "text")
    val (w, trace) = Classifier.trainLogisticTrace(s, train, "label",
      dim = 128, maxIter = 20, lr = 1.0)
    assert(w.length == 129)
    assert(trace.length == 20)
    trace.sliding(2).foreach { case Array((l0, _), (l1, _)) =>
      assert(l1 <= l0 + 1e-12, s"loss must not increase: $l0 -> $l1")
    }
    assert(trace.last._2 == 1.0, s"separable data must be fully learned, got ${trace.last}")
    assert(trace.last._1 < trace.head._1, "loss must strictly improve overall")
  }

  test("hash_features_md5 buckets by md5-h1 % dim (the DuckDB-replayable rule)") {
    val s = spark; import s.implicits._
    val toks = Seq("good3", "junk11", "the", "data", "of", "and")
    val out = Seq((1L, toks.mkString(" "))).toDF("id", "text")
      .select(expr("hash_features_md5(split(text, ' '), 256)").as("f"))
      .head().getSeq[Double](0)
    assert(out.length == 257 && out.last == 1.0)
    // expected buckets via the SQL restatement the oracle uses:
    // ('0x' || substr(md5(tok), 1, 15))::BIGINT % 256
    val expected = s.sql(
      s"SELECT CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 256 AS b " +
        "FROM VALUES " + toks.map(t => s"('$t')").mkString(", ") + " v(t)")
      .collect().map(_.getLong(0).toInt)
    val counts = new Array[Double](256)
    expected.foreach(b => counts(b) += 1.0)
    assert(out.init == counts.toSeq, "md5 buckets must match the oracle arithmetic")
  }

  test("md5Mode + floatCast training still learns, and weights are float-exact") {
    val s = spark; import s.implicits._
    val train = (0 until 60).map { i =>
      if (i % 2 == 0) (1.0, s"pos${i % 7} pos${(i + 3) % 7} shared filler")
      else (0.0, s"neg${i % 7} neg${(i + 3) % 7} shared filler")
    }.toDF("label", "text")
    val (w, trace) = Classifier.trainLogisticTrace(s, train, "label",
      dim = 128, maxIter = 20, lr = 1.0, md5Mode = true, floatCast = true)
    trace.sliding(2).foreach { case Array((l0, _), (l1, _)) =>
      assert(l1 <= l0 + 1e-12, s"float-cast GD must stay monotone: $l0 -> $l1")
    }
    assert(trace.last._2 == 1.0, "separable data fully learned in cross-engine mode")
    // the machine-stability invariant: every weight is exactly its own
    // float narrowing, so an engine replaying the trajectory cannot
    // disagree below float precision
    assert(w.forall(v => v == v.toFloat.toDouble), "weights must be float-exact")
  }

  test("scoring with frozen weights separates unseen class mixes") {
    val s = spark; import s.implicits._
    val train = (0 until 60).map { i =>
      if (i % 2 == 0) (1.0, s"pos${i % 7} pos${(i + 3) % 7} shared filler")
      else (0.0, s"neg${i % 7} neg${(i + 3) % 7} shared filler")
    }.toDF("label", "text")
    val (w, _) = Classifier.trainLogisticTrace(s, train, "label",
      dim = 128, maxIter = 20, lr = 1.0)
    val scored = Classifier.scoreLogistic(s,
      Seq((1L, "pos1 pos2 pos5"), (2L, "neg0 neg4 neg6")).toDF("id", "text"), w, dim = 128)
      .orderBy("id").collect()
    assert(scored(0).getAs[Boolean]("pred"), "unseen positive mix")
    assert(!scored(1).getAs[Boolean]("pred"), "unseen negative mix")
    val sc = scored.map(_.getAs[Double]("score"))
    assert(sc(0) > 0.5 && sc(1) < 0.5 && sc.forall(v => v >= 0 && v <= 1))
  }
}
