package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

class CurationSpec extends AnyFunSuite with SparkFixture {

  private def docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")

  test("lengthBatchingAudit: sorted batches pad zero on equal-length classes, hashed never beats sorted") {
    val s = spark; import s.implicits._
    // lengths 4×1, 4×10, 2×100 with batchSize 4: length order packs
    // each batch from ONE length class -> padded == real, waste 0;
    // n_batches = ceil(10/4) = 3; both strategies see the same tokens
    val rows = (Seq.fill(4)(1L) ++ Seq.fill(4)(10L) ++ Seq.fill(2)(100L))
      .zipWithIndex.map { case (len, i) => (i.toLong, len) }
    val out = Curation.lengthBatchingAudit(rows.toDF("id", "len"), "id", "len", batchSize = 4)
      .collect().map(r => r.getString(0) -> r).toMap
    val srt = out("length_sorted")
    assert(srt.getAs[Long]("n_batches") == 3L)
    assert(srt.getAs[Long]("n_docs") == 10L)
    assert(srt.getAs[Long]("real_tokens") == 244L)
    assert(srt.getAs[Long]("padded_tokens") == 244L)
    assert(srt.getAs[Double]("waste_pct") == 0.0)
    val hsh = out("hashed")
    assert(hsh.getAs[Long]("real_tokens") == 244L)
    assert(hsh.getAs[Long]("padded_tokens") >= srt.getAs[Long]("padded_tokens"))
    assert(hsh.getAs[Double]("waste_pct") >= 0.0)
  }

  test("split is deterministic, covers all rows, and lands near 80/10/10") {
    val s1 = Curation.split(docs, "doc_id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s2 = Curation.split(docs, "doc_id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2) // rerun-stable
    val total = s1.values.sum
    assert(total == docs.count())
    assert(math.abs(s1("train").toDouble / total - 0.8) < 0.05)
    assert(math.abs(s1("test").toDouble / total - 0.1) < 0.05)
  }

  test("stratified sample keeps ~requested fraction per stratum, zero for absent strata") {
    val out = Curation.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "fr" -> 0.1))
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("en").toDouble / base("en") - 0.5) < 0.15)
    assert(math.abs(counts("fr").toDouble / base("fr") - 0.1) < 0.1)
    assert(!counts.contains("de")) // stratum not in fractions → dropped
  }

  test("mix unions weighted subsets; compact repartitions to the size estimate") {
    val a = docs.filter(col("lang") === "en")
    val b = docs.filter(col("lang") === "fr")
    val mixed = Curation.mix(Seq((a, 1.0), (b, 0.2)), "doc_id")
    val n = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n("en") == a.count()) // weight 1.0 keeps everything
    assert(n("fr") < b.count() * 0.4)
    val compacted = Curation.compact(docs, targetMB = 1)
    assert(compacted.rdd.getNumPartitions >= 1)
    assert(compacted.count() == docs.count())
  }

  test("normalize+redact scrubs the planted PII docs completely") {
    val out = graft.queries.TextQueries2.q67NormalizeRedact(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 0).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(4))).toMap
    assert(out(-1L)._1 == 1 && out(-1L)._2 == 1)
    assert(out(-2L)._1 == 0 && out(-2L)._2 == 0)
    assert(out(-3L)._1 == 2 && out(-3L)._2 == 1)
    // fully scrubbed text, independently hashed
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("contact john doe at <email> or <ip> for details".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(-1L)._3 == expected)
  }

  test("weighted sample is deterministic and keep-rate tracks the weight") {
    val s = spark; import s.implicits._
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) 0.9 else 0.1))
      .toDF("doc_id", "w")
    val kept = Curation.weightedSample(df, "doc_id", col("w"))
    assert(kept.count() == Curation.weightedSample(df, "doc_id", col("w")).count())
    val byW = kept.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(math.abs(byW(0.9) / 2000.0 - 0.9) < 0.05)
    assert(math.abs(byW(0.1) / 2000.0 - 0.1) < 0.05)
    // weight 0 keeps nothing, weight 1 keeps everything
    assert(Curation.weightedSample(df, "doc_id", lit(0.0)).count() == 0)
    assert(Curation.weightedSample(df, "doc_id", lit(1.0)).count() == 4000)
  }

  test("contamination report flags a planted train/test leak with zeros for clean docs") {
    val s = spark; import s.implicits._
    // find one train and one test id under the q56 split, then give the
    // test doc the train doc's exact text -> max possible overlap
    val base = (0L until 300L).map(i => (i, s"document number $i with some unique filler content item$i value$i end$i"))
      .toDF("doc_id", "text")
    val buckets = Curation.split(base, "doc_id").select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = buckets.collectFirst { case (id, "train") => id }.get
    val testId = buckets.collectFirst { case (id, "test") => id }.get
    val trainText = s"document number $trainId with some unique filler content item$trainId value$trainId end$trainId"
    val planted = base.withColumn("text",
      when(col("doc_id") === testId, lit(trainText)).otherwise(col("text")))
    val report = Curation.contaminationReport(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val leaked = report.find(_._1 == testId).get
    assert(leaked._2 >= 1, s"planted leak not flagged: $report")
    // the leaked doc shares ALL its shingles with the train twin (11 tokens -> 9 shingles)
    assert(leaked._3 == 9, s"expected full 9-shingle overlap, got $leaked")
    assert(report.map(_._1).toSet == buckets.collect { case (id, "test") => id }.toSet)
  }

  test("bloom prefilter: no false negatives on a planted leak, clean docs pruned") {
    val s = spark; import s.implicits._
    // fully disjoint per-doc vocabulary: the ONLY cross-split shingle
    // overlap is the planted leak, so clean train docs must be prunable
    def text(i: Long) = s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"
    val base = (0L until 300L).map(i => (i, text(i))).toDF("doc_id", "text")
    val buckets = Curation.split(base, "doc_id").select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = buckets.collectFirst { case (id, "train") => id }.get
    val testId = buckets.collectFirst { case (id, "test") => id }.get
    val planted = base.withColumn("text",
      when(col("doc_id") === testId, lit(text(trainId))).otherwise(col("text")))
    val pre = Curation.bloomContaminationPrefilter(planted, fpp = 0.001)
      .select("train_doc", "bloom_hit").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the Bloom guarantee: the leaking train doc MUST be flagged
    assert(pre(trainId), "bloom pre-filter missed the planted leak (false negative)")
    // the funnel must actually prune: most train docs share nothing with
    // the test split beyond common filler, and at fpp=0.001 the chance
    // of every clean doc false-positive-ing is astronomically small
    val pruned = pre.count(!_._2)
    assert(pruned > 0, s"bloom pre-filter pruned nothing (${pre.size} train docs)")
    // q84's in-row guarantee column: n_missed must be 0
    val q84 = graft.queries.TextQueries2.q84BloomDecontaminate(spark, "/root/testdata/sf0.001")
    assert(q84.select("n_missed").head.getLong(0) == 0L)
  }

  test("bloom prefilter: empty test split prunes everything; empty new batch matches nothing") {
    val s = spark; import s.implicits._
    // doc_ids chosen all-train under the hash split would be fragile;
    // instead drop every test doc from the corpus — the filter is built
    // over an EMPTY test shingle set and must flag nothing
    val base = (0L until 200L)
      .map(i => (i, s"t${i}a t${i}b t${i}c t${i}d t${i}e")).toDF("doc_id", "text")
    val buckets = Curation.split(base, "doc_id").select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainOnly = base.filter(!col("doc_id").isin(
      buckets.collect { case (id, "test") => id }.toSeq: _*))
    val pre = Curation.bloomContaminationPrefilter(trainOnly, fpp = 0.001).collect()
    assert(pre.nonEmpty && pre.forall(!_.getAs[Boolean]("bloom_hit")),
      "empty test split must flag no train doc")
    // incremental exact dedup with an empty new batch yields no pairs
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.incrementalNearDupsExact(empty, base).count() == 0)
  }

  test("sequence packing: budget respected within shards, deterministic, partition-local") {
    val s = spark; import s.implicits._
    val df = (0L until 1000L).map(i => (i, 100L + (i % 7) * 30)).toDF("doc_id", "nt")
    val packed = Curation.packSequences(df, "doc_id", col("nt"), budgetTokens = 512, shards = 8)
    val rows = packed.select("doc_id", "shard", "n_tokens", "cum_tokens", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // every doc's starting offset lies inside its sequence's budget window
    rows.foreach { case (id, _, nt, cum, seq) =>
      val startOffset = cum - nt
      assert(seq == startOffset / 512, s"doc $id: cum=$cum nt=$nt seq=$seq")
    }
    // within a shard, cum_tokens is strictly increasing in doc_id order
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._1)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq)
      assert(sorted.map(_._4).distinct.length == sorted.length)
    }
    // deterministic across runs
    val again = Curation.packSequences(df, "doc_id", col("nt"), budgetTokens = 512, shards = 8)
      .select("doc_id", "seq_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == rows.map(r => (r._1, r._5)).toSet)
  }

  test("tokenBudgetCut equals the single global ordered prefix sum, across bucket boundaries") {
    val s = spark; import s.implicits._
    // scores spread over [0,1) so every bucket of the 8 is populated and
    // the cut line crosses a bucket boundary mid-bucket
    val rows = (0L until 500L).map { i =>
      (i, 1L + (i * 7 % 50), ((i * 31 % 100) / 100.0))
    }
    val df = rows.toDF("doc_id", "n_tokens", "quality_score")
    val budget = rows.map(_._2).sum * 6 / 10
    val got = Curation.tokenBudgetCut(df, col("quality_score"), col("doc_id"),
        col("n_tokens"), lit(budget), nBuckets = 8)
      .select("doc_id", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // local reference: ONE ordered prefix sum (the oracle's statement)
    var cum = 0L
    val expected = rows.sortBy { case (id, _, sc) => (-sc, id) }
      .map { case (id, nt, _) => cum += nt; (id, cum) }
      .takeWhile(_._2 <= budget).toMap
    assert(got == expected, s"cut diverged: missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
  }

  test("tokenBudgetMix: each source cut independently at its own budget, per-source prefix sums") {
    val s = spark; import s.implicits._
    val rows = (0L until 300L).map { i =>
      val src = Seq("web", "code", "books")((i % 3).toInt)
      (i, src, 1L + (i * 7 % 40), ((i * 31 % 100) / 100.0))
    }
    val df = rows.toDF("doc_id", "src", "n_tokens", "quality_score")
    // uneven budgets: web gets 60% of its own tokens, code 30%, books 10%
    val budgets = Map("web" -> 6L, "code" -> 3L, "books" -> 1L).map { case (k, tenths) =>
      k -> rows.filter(_._2 == k).map(_._3).sum * tenths / 10
    }
    val withB = df.withColumn("src_budget",
      when(col("src") === "web", lit(budgets("web")))
        .when(col("src") === "code", lit(budgets("code")))
        .otherwise(lit(budgets("books"))))
    val got = Curation.tokenBudgetMix(withB, "src", col("quality_score"), col("doc_id"),
        col("n_tokens"), col("src_budget"), nBuckets = 8)
      .select("doc_id", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // local reference: one ordered prefix sum PER SOURCE
    val expected = rows.groupBy(_._2).flatMap { case (src, rs) =>
      var cum = 0L
      rs.sortBy { case (id, _, _, sc) => (-sc, id) }
        .map { case (id, _, nt, _) => cum += nt; (id, cum) }
        .takeWhile(_._2 <= budgets(src))
    }.toMap
    assert(got == expected,
      s"mix diverged: missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    // the declared ratios actually hold: per-source kept tokens ≤ budget
    // and within one document of it (the cut is exact, not approximate)
    val keptBySrc = rows.filter(r => got.contains(r._1)).groupBy(_._2)
      .view.mapValues(_.map(_._3).sum).toMap
    keptBySrc.foreach { case (src, kept) => assert(kept <= budgets(src)) }
  }

  test("tokenBudgetCut plan: no single-partition window over the corpus (two-phase prefix sum)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // AQE off so the window operators are statically visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = (0L until 100L).map(i => (i, 1L + i % 9, (i % 10) / 10.0))
        .toDF("doc_id", "n_tokens", "quality_score")
      val plan = Curation.tokenBudgetCut(df, col("quality_score"), col("doc_id"),
          col("n_tokens"), lit(100L), nBuckets = 8)
        .queryExecution.executedPlan
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, "expected window operators in the plan")
      val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
      // the only legitimate unpartitioned window is the offsets pass over
      // the ≤ nBuckets aggregated rows — its subtree must contain the
      // bucket group-by, never the raw corpus
      unpartitioned.foreach { w =>
        val bucketAgg = w.child.collect {
          case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("__bucket")) => a
        }
        assert(bucketAgg.nonEmpty,
          s"unpartitioned window runs over the corpus, not the bucket totals:\n$w")
      }
      // the per-row running sum must be partitioned (by __bucket)
      assert(wins.exists(_.partitionSpec.nonEmpty),
        "per-row prefix sum should be bucket-partitioned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontaminate: exact copies and single-window overlaps drop, clean docs pass") {
    val s = spark; import s.implicits._
    val benchText = (0 until 20).map(i => s"b$i").mkString(" ")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    // 13-token window lifted verbatim from the benchmark, wrapped in noise
    val overlap = "noise start " + (3 until 16).map(i => s"b$i").mkString(" ") + " noise end"
    // 12-token window only: below n, must NOT count as contaminated
    val under = "x " + (3 until 15).map(i => s"b$i").mkString(" ") + " y"
    val train = Seq(
      (1L, benchText),                                  // exact copy
      (2L, overlap),                                    // one shared 13-gram
      (3L, under),                                      // longest shared run = 12
      (4L, (0 until 20).map(i => s"c$i").mkString(" ")) // disjoint vocab
    ).toDF("doc_id", "text")
    val rep = Curation.decontaminate(train, bench, n = 13)
      .select("doc_id", "contaminated", "n_bench_docs", "max_shared")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep(1L)._1 == 1 && rep(1L)._2 == 1L && rep(1L)._3 == 8L) // 20-13+1 shingles
    assert(rep(2L) == (1, 1L, 1L), s"${rep(2L)}")
    assert(rep(3L)._1 == 0, "a 12-token overlap is below the 13-gram bar")
    assert(rep(4L)._1 == 0)
    // removal semantics: filtering contaminated = 0 keeps the 2 clean docs
    assert(Curation.decontaminate(train, bench, n = 13)
      .filter(col("contaminated") === 0).count() == 2L)
  }

  test("decontaminate: empty benchmark means nothing drops") {
    val s = spark; import s.implicits._
    val train = Seq((1L, "a b c")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val rep = Curation.decontaminate(train, bench, n = 13).collect()
    assert(rep.length == 1 && rep.head.getAs[Int]("contaminated") == 0)
  }
}
