package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.QualityRules

class QualityRulesSpec extends AnyFunSuite with SparkFixture {

  test("line-shape rules: bullets, ellipses, duplicate lines on a planted multi-line doc") {
    val s = spark; import s.implicits._
    val docs = Seq(
      // 4 lines: 2 identical, one bullet, one ellipsis-terminated
      (1L, "the data table here\nthe data table here\n- a bullet line\ntrails off..."),
      // clean single-line doc
      (2L, "the a data table clean line")).toDF("doc_id", "text")
    val m = QualityRules.gopherMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = m(1L)
    assert(d1.getAs[Int]("n_lines") == 4)
    assert(math.abs(d1.getAs[Double]("dup_line_frac") - 0.25) < 1e-12)     // 1 - 3/4
    assert(math.abs(d1.getAs[Double]("bullet_line_frac") - 0.25) < 1e-12)  // 1/4
    assert(math.abs(d1.getAs[Double]("ellipsis_line_frac") - 0.25) < 1e-12)
    // '...' is also a symbol hit: 1 occurrence over the doc's 14 words
    assert(math.abs(d1.getAs[Double]("symbol_ratio") - 1.0 / 14) < 1e-12)
    val d2 = m(2L)
    assert(d2.getAs[Int]("n_lines") == 1)
    assert(d2.getAs[Double]("dup_line_frac") == 0.0)
    assert(d2.getAs[Int]("stop_hits") == 4)
  }

  test("run-length gram folds match a local reference on every n") {
    val s = spark; import s.implicits._
    // deterministic pseudo-random token stream over a small vocab so
    // every n in 2..10 sees real duplicate and unique grams
    val vocab = Vector("aa", "bb", "cc", "dd")
    val toksPerDoc = (0 until 20).map { d =>
      d.toLong -> (0 until 30 + d).map(i => vocab(((i * 2654435761L + d * 97) % 4).toInt.abs))
    }
    val docs = toksPerDoc.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val got = QualityRules.gopherMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def ref(ts: Seq[String], n: Int): (Long, Long, Long) = {
      val grams = ts.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).toSeq.map { case (g, os) =>
        (os.size.toLong, (g.length - (n - 1)).toLong)
      }
      val top = if (counts.isEmpty) 0L else counts.map { case (c, ch) => c * ch }.max
      val dup = counts.collect { case (c, ch) if c >= 2 => c * ch }.sum
      val tot = counts.map { case (c, ch) => c * ch }.sum
      (top, dup, tot)
    }
    toksPerDoc.foreach { case (id, ts) =>
      val row = got(id)
      for (n <- 2 to 4) {
        val (top, _, tot) = ref(ts, n)
        val expected = if (tot > 0) top.toDouble / tot else 0.0
        assert(row.getAs[Double](s"top${n}_frac") == expected, s"doc $id top$n")
      }
      for (n <- 5 to 10) {
        val (_, dup, tot) = ref(ts, n)
        val expected = if (tot > 0) dup.toDouble / tot else 0.0
        assert(row.getAs[Double](s"dup${n}_frac") == expected, s"doc $id dup$n")
      }
    }
  }

  test("docs shorter than n produce zero fractions, not nulls or errors") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a b"), (2L, "single")).toDF("doc_id", "text")
    val m = QualityRules.gopherMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (n <- 5 to 10) assert(m(1L).getAs[Double](s"dup${n}_frac") == 0.0)
    assert(m(2L).getAs[Double]("top2_frac") == 0.0)
    assert(!m.values.exists(r => (0 until r.length).exists(r.isNullAt)))
  }

  test("plan: the full filter report runs with zero exchanges (row-local at any scale)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = (0L until 50L).map(i => (i, s"tok$i the a data")).toDF("doc_id", "text")
    val plan = QualityRules.gopherFilterReport(docs).queryExecution.executedPlan
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"quality filtering must be embarrassingly parallel:\n$plan")
  }

  test("funnel: stages chain (n_in = previous n_out), counts monotone, end equals keep count") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
    val funnel = QualityRules.gopherFunnel(docs).orderBy("stage").collect()
    assert(funnel.length == QualityRules.Rules.length)
    assert(funnel.head.getAs[Long]("n_in") == docs.count())
    funnel.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_out"), s"chain broken at ${b.getString(1)}")
    }
    funnel.foreach { r =>
      assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n_in"))
      assert(r.getAs[Long]("n_dropped") == r.getAs[Long]("n_in") - r.getAs[Long]("n_out"))
    }
    val kept = QualityRules.gopherFilterReport(docs).filter(col("keep") === 1).count()
    assert(funnel.last.getAs[Long]("n_out") == kept,
      "funnel end must equal the all-rules keep count")
  }

  test("keep decision: a Gopher-clean doc passes, a word-count or repetition violation fails") {
    val s = spark; import s.implicits._
    val clean = (0 until 60).map(i => s"word$i").mkString(" ") + " the a data table"
    val short = "the a data table tiny"
    val repeated = ("the a data table " + "same gram run " * 40).trim
    val docs = Seq((1L, clean), (2L, short), (3L, repeated)).toDF("doc_id", "text")
    val got = QualityRules.gopherFilterReport(docs)
      .select("doc_id", "keep", "n_failed").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) == (1, 0), s"clean doc should keep: ${got(1L)}")
    assert(got(2L)._1 == 0, "short doc must fail the word-count rule")
    assert(got(3L)._1 == 0, "heavily repeated doc must fail a repetition rule")
    assert(got(3L)._2 >= 5, s"the repeated doc should trip top- and dup-gram rules: ${got(3L)}")
  }
}
