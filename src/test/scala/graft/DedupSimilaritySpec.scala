package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity}

/** Oracle tests for the sketch-based operators DuckDB cannot replicate:
  * planted duplicates for MinHash/SimHash, brute-force ground truth for
  * LSH recall, hand-computed cosine for the native expression. */
class DedupSimilaritySpec extends AnyFunSuite with SparkFixture {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val df = docsDf(Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "unrelated text here")))
    val groups = Dedup.exactGroups(df).collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash near-dups finds planted near-duplicate, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val nearDup = base.replace("lazy", "sleepy") // 1-token edit
    val other = "completely different content about spark catalyst expression codegen pipelines"
    val df = docsDf(Seq((1L, base), (2L, nearDup), (3L, other), (4L, "tiny")))
    val pairs = Dedup.minhashNearDups(df, threshold = 0.3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = pairs.head.getAs[Double]("jaccard")
    assert(j > 0.3 && j < 1.0)
  }

  test("banding sweep: one sketch pass, planted dup at every config, candidate superset") {
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val docs = (1L to 30L).map(i => (i, s"$base variant$i token$i filler${i % 7}")) ++
      Seq((-2L, base), (-1L, base)) // planted exact dup
    val out = docsDf(docs).transform(df =>
      Dedup.minhashBandingSweep(df, bandConfigs = Seq(4, 8, 16), k = 32, threshold = 0.5))
      .orderBy("bands").collect()
    assert(out.map(_.getAs[Int]("bands")).toSeq == Seq(4, 8, 16))
    // identical sig => identical band hashes at EVERY config
    assert(out.forall(_.getAs[Long]("planted_recovered") == 1L),
      s"planted dup must collide at every config: ${out.mkString(";")}")
    // a longer matching band implies its sub-bands match => superset
    val cands = out.map(_.getAs[Long]("n_candidates")).toSeq
    assert(cands == cands.sorted, s"candidates must be non-decreasing in bands: $cands")
    // rows_per_band bookkeeping
    assert(out.map(_.getAs[Int]("rows_per_band")).toSeq == Seq(8, 4, 2))
  }

  test("repeated spans: exact length/offsets, sub-threshold and repeats handled") {
    val run = (1 to 24).map(i => s"r$i").mkString(" ")
    val short = (1 to 12).map(i => s"s$i").mkString(" ")
    val df = docsDf(Seq(
      (1L, s"x1 x2 x3 $run y1 y2"),          // run at pos 3
      (2L, s"z1 $run w1 w2 w3 w4"),          // same run at pos 1
      (3L, s"a1 a2 $short a3"),              // 12-token share: below minSpan
      (4L, s"b1 $short b2 b3"),
      (5L, "only unique tokens here nothing shared at all padded to width")))
    val spans = graft.operators.Dedup.repeatedSpans(df, n = 8, minSpanTokens = 20).collect()
    assert(spans.length == 1, s"expected exactly the planted span: ${spans.mkString(";")}")
    val r = spans.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getInt(2) == 3 && r.getInt(3) == 1)           // start_a, start_b
    assert(r.getLong(5) == 24L, s"span_tokens: ${r.getLong(5)}")  // exact length
    // a doc sharing the run TWICE reports two spans on two diagonals
    val df2 = docsDf(Seq(
      (1L, s"x1 x2 x3 $run y1 y2"),
      (6L, s"q1 $run q2 q3 $run q4")))
    val spans2 = graft.operators.Dedup.repeatedSpans(df2, n = 8, minSpanTokens = 20)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(5))).sorted
    assert(spans2.toSeq == Seq((3, 1, 24L), (3, 27, 24L)), s"got ${spans2.toSeq}")
  }

  test("span removal: excises from higher doc only, keeps untouched docs verbatim") {
    val s = spark; import s.implicits._
    val run = (1 to 24).map(i => s"r$i").mkString(" ")
    val df = docsDf(Seq(
      (1L, s"x1 x2 x3 $run y1 y2"),   // keeper (lower id)
      (2L, s"z1 $run w1 w2 w3 w4"),   // loses the run
      (3L, "nothing shared with anyone at all in this particular document")))
    val out = Dedup.removeRepeatedSpans(df, n = 8, minSpanTokens = 20).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L)._2 == 0, "lower-id doc must keep its copy")
    assert(out(2L)._1 == 29 && out(2L)._2 == 24, s"doc 2: ${out(2L)}")
    // doc 2 rebuilt = its tokens minus the run
    val expected2 = java.security.MessageDigest.getInstance("MD5")
      .digest("z1 w1 w2 w3 w4".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(2L)._3 == expected2, "rebuilt text must drop exactly the span tokens")
    assert(out(3L)._2 == 0)
    assert(out.size == 3, "total report: every doc appears")
  }

  test("exactSubstrAudit: cross-doc span, within-doc repetition, sub-threshold control") {
    val run = (1 to 24).map(i => s"r$i").mkString(" ")
    val rep = (1 to 25).map(i => s"p$i").mkString(" ")
    val sub = (1 to 12).map(i => s"s$i").mkString(" ")
    val df = docsDf(Seq(
      (1L, s"x1 x2 x3 $run y1 y2"),        // shares run with doc 2
      (2L, s"z1 $run w1 w2 w3 w4"),
      (3L, s"$rep $rep"),                   // WITHIN-doc repetition (q104-blind)
      (4L, s"a1 a2 $sub a3"),               // 12 shared tokens < 20 threshold
      (5L, s"b1 $sub b2 b3"),
      (6L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")))
    val out = Dedup.exactSubstrAudit(df, n = 8, minSpanTokens = 20).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.size == 6, "total report: every doc appears")
    // docs 1/2: the 24-token run is ONE maximal duplicated interval
    assert(out(1L) == ((29L, 1L, 24L, 0.8276)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((29L, 1L, 24L, 0.8276)), s"doc2: ${out(2L)}")
    // doc 3: two adjacent 25-token islands merge — the whole doc
    assert(out(3L) == ((50L, 1L, 50L, 1.0)), s"doc3: ${out(3L)}")
    // sub-threshold pair and unique filler: zero spans
    assert(out(4L)._2 == 0L && out(5L)._2 == 0L && out(6L)._2 == 0L)
    assert(out(4L)._4 == 0.0 && out(6L)._1 == 10L)
  }

  test("simhash: identical docs distance 0; near-dup within banding recall") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val df = docsDf(Seq((1L, base), (2L, base), (3L, "alpha beta gamma delta epsilon zeta")))
    val dups = Dedup.simhashNearDups(df, maxHamming = 3).collect()
    assert(dups.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getAs[Int]("hamming") == 0))
    assert(!dups.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("ngram jaccard matches hand-computed value") {
    // doc1: tokens a b c d -> shingles {a b c, b c d}; doc2: a b c e -> {a b c, b c e}
    // intersection 1, union 3 -> jaccard 1/3
    val df = docsDf(Seq((1L, "a b c d"), (2L, "a b c e")))
    val pairs = Dedup.ngramJaccardPairs(df, threshold = 0.1).collect()
    assert(pairs.length == 1)
    assert(math.abs(pairs.head.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  test("int8 quantization: roundtrip error bounded by scale/2, zero vectors safe") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.127f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // degenerate: scale 0
      (3L, Array(127.0f, -127.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qz = Similarity.quantizeInt8(df)
      .withColumn("max_code", expr("aggregate(q_vec, 0, (m, v) -> greatest(m, abs(v)))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(q_vec, embedding, (v, x) -> abs(v * q_scale - cast(x AS double))), 0D, (m, e) -> greatest(m, e))"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("q_scale"), r.getAs[Int]("max_code"), r.getAs[Double]("max_err"))).toMap
    qz.foreach { case (id, (scale, maxCode, maxErr)) =>
      assert(maxCode <= 127, s"vec $id code overflow")
      assert(maxErr <= scale / 2 + 1e-12, s"vec $id roundtrip err $maxErr > ${scale / 2}")
    }
    assert(qz(2L)._1 == 0.0 && qz(2L)._2 == 0) // zero vector → zero codes, no NaN
  }

  test("connected components: chains collapse to min-id clusters") {
    val s = spark; import s.implicits._
    // 1-2-3-4 is a diameter-3 chain (forces multiple propagation
    // rounds); 10-11 a separate cluster; (5,6)+(6,5) would be invalid
    // input (pairs are a<b) so not planted
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedupSurvivors keeps one min-id doc per near-dup cluster, leaves distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again every single day"
    val df = docsDf(Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")),   // near-dup of 1
      (3L, base.replace("quick", "speedy")),  // near-dup of 1 (chain via shingles)
      (7L, "completely different content about spark catalyst expression codegen pipelines")))
    val kept = Dedup.dedupSurvivors(df, threshold = 0.3).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept.contains(1L) && kept.contains(7L))
    assert(!kept.contains(2L)) // clustered with 1 → removed
    assert(kept.subsetOf(Set(1L, 3L, 7L)))
  }

  test("incremental near-dups: new batch matched against corpus and itself, old x old skipped") {
    val base = "the quick brown fox jumps over the lazy dog again and again every single day"
    val old = docsDf(Seq(
      (1L, base),
      (2L, base.replace("fox", "cat")), // old near-dup pair (1,2): must NOT be reported
      (3L, "completely different content about spark catalyst expression codegen pipelines")))
    val fresh = docsDf(Seq(
      (10L, base.replace("lazy", "sleepy")),   // dup of old 1
      (11L, base.replace("lazy", "sleepy")),   // exact dup of new 10
      (12L, "entirely novel text with no relation to anything already stored")))
    val pairs = Dedup.incrementalNearDups(fresh, old, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"new-new dup missed: $pairs") // within-batch
    assert(pairs.exists(p => p._1 == 10L && p._2 <= 2L), s"new-old dup missed: $pairs")
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 1L)),
      s"old x old pair must not be reported: $pairs")
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("incremental exact variant: recall equals the batch join restricted to new-side pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again every single day"
    val old = docsDf(Seq(
      (1L, base),
      (2L, base.replace("fox", "cat")),
      (3L, "completely different content about spark catalyst expression codegen pipelines")))
    val fresh = docsDf(Seq(
      (10L, base.replace("lazy", "sleepy")),
      (11L, base.replace("lazy", "sleepy")),
      (12L, "entirely novel text with no relation to anything already stored")))
    val inc = Dedup.incrementalNearDupsExact(fresh, old, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the full batch pair join, reoriented so doc_a is new
    val newIds = Set(10L, 11L, 12L)
    val batch = Dedup.ngramJaccardPairs(
      fresh.unionByName(old), threshold = 0.3, prefixFilter = Some(false)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => newIds.contains(p._1) || newIds.contains(p._2))
      .map(p => if (newIds.contains(p._1)) p else (p._2, p._1, p._3)).toSet
    assert(inc == batch, s"incremental=$inc batch=$batch")
    // re-ingest guard: doc 10 re-delivered in the new batch must not
    // fan out duplicate rows against its stale old copy
    val reIngest = Dedup.incrementalNearDupsExact(
      fresh, old.unionByName(fresh.filter(org.apache.spark.sql.functions.col("doc_id") === 10L)),
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reIngest == inc.map(p => (p._1, p._2)),
      s"re-ingested id changed the pair set: $reIngest")
  }

  test("q31/q32 guarantee columns: planted pairs recovered deterministically") {
    val q31 = graft.queries.TextQueries.q31DedupMinhash(spark, "/root/testdata/sf0.001")
    val r31 = q31.select("planted_recovered").head.getLong(0)
    assert(r31 == 2L, s"q31 planted_recovered=$r31, want 2 (set-equal + identical-text pairs)")
    assert(q31.filter(col("doc_a") === -4L && col("doc_b") === -3L)
      .head.getAs[Double]("jaccard") == 1.0)
    val q32 = graft.queries.TextQueries.q32DedupSimhash(spark, "/root/testdata/sf0.001")
    val r32 = q32.select("planted_recovered").head.getLong(0)
    assert(r32 == 1L, s"q32 planted_recovered=$r32, want 1 (multiset-permuted pair)")
    assert(q32.filter(col("doc_a") === -2L && col("doc_b") === -1L)
      .head.getAs[Int]("hamming") == 0)
  }

  test("winnowing: shared long substring guarantees a shared fingerprint; density bounded") {
    val s = spark; import s.implicits._
    val common = "one two three four five six seven eight nine ten eleven twelve"
    // docs 4/5: repetition-heavy prefixes of DIFFERENT lengths before the
    // shared run — the case where winnowing over the deduped shingle SET
    // loses the guarantee (repeated k-grams vanish from later positions);
    // the positional shingle_seq input must keep it
    val df = Seq(
      (1L, s"prefix a b c $common suffix x y z"),
      (2L, s"different start $common another finish q r"),
      (3L, "totally unrelated material about catalyst codegen and shuffles everywhere"),
      (4L, s"rep rep rep rep rep rep rep rep $common tail one"),
      (5L, s"rep rep rep rep $common other end"))
      .toDF("doc_id", "text")
    val fp = df.selectExpr("doc_id",
      "winnow_fingerprints(shingle_seq(split(lower(trim(text)), '\\\\s+'), 3), 4) AS fps")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // guarantee: >= (w + k - 1 = 6)-token shared run => >= 1 shared fingerprint
    assert((fp(1L) & fp(2L)).nonEmpty, "planted overlap produced no shared fingerprint")
    assert((fp(4L) & fp(5L)).nonEmpty, "repeated-shingle docs lost the winnowing guarantee")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty)
    // density: strictly fewer fingerprints than k-grams, at least one
    fp.values.foreach(v => assert(v.nonEmpty))
    assert(fp(1L).size < 17) // doc 1 has 19 tokens -> 17 shingles
  }

  test("ANN on an empty corpus returns empty, not a crash") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.ivfTopK(spark, empty, q).count() == 0)
    assert(Similarity.lshTopK(spark, empty, q).count() == 0)
    assert(Similarity.bruteForceTopK(spark, empty, q).count() == 0)
  }

  test("edge cases: empty pair list, dup-free corpus, empty corpus") {
    val s = spark; import s.implicits._
    // connected components over no edges terminates and returns empty
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
    // dedupSurvivors on a dup-free corpus returns it unchanged
    val distinctDocs = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different words about catalyst codegen stages here"),
      (3L, "third unrelated document mentioning parquet shuffle partitions now")))
    assert(Dedup.dedupSurvivors(distinctDocs, threshold = 0.3).count() == 3)
    // empty corpus flows through the whole sketch pipeline
    val empty = docsDf(Seq.empty)
    assert(Dedup.minhashNearDups(empty).count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, threshold = 0.8).count() == 0)
  }

  test("prefix-filtered ngram jaccard is identical to the naive index") {
    // corpus of mutated variants: plenty of shared and rare shingles,
    // mixed lengths, so prefixes genuinely prune
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rows = (0 until 40).map { i =>
      val toks = (0 until 8 + i % 5).map(j => words((i * 7 + j * 3) % words.length))
      val mutated = if (i % 3 == 0) toks.updated(2, s"uniq$i") else toks
      (i.toLong, mutated.mkString(" "))
    }
    val df = docsDf(rows)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val naive = canon(Dedup.ngramJaccardPairs(df, threshold = t, prefixFilter = Some(false)))
      val hashPref = canon(Dedup.ngramJaccardPairs(df, threshold = t, prefixFilter = Some(true)))
      val freqPref = canon(Dedup.ngramJaccardPairs(df, threshold = t,
        prefixFilter = Some(true), freqOrder = true))
      assert(hashPref == naive, s"hash-ordered prefix result diverged at threshold $t")
      assert(freqPref == naive, s"freq-ordered prefix result diverged at threshold $t")
      assert(naive.nonEmpty || t > 0.5) // the low thresholds must actually find pairs
    }
  }

  test("native cosine_sim matches hand computation and handles zero vectors") {
    val s = spark; import s.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), 1.0),
      (Array(1.0f, 0.0f), Array(1.0f, 1.0f), 1.0 / math.sqrt(2)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0) // zero vector → 0 by convention
    ).toDF("a", "b", "expected")
    val got = df.withColumn("sim", expr("cosine_sim(a, b)")).collect()
    got.foreach { r =>
      assert(math.abs(r.getAs[Double]("sim") - r.getAs[Double]("expected")) < 1e-9)
    }
    // null propagation
    val n = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
      .withColumn("sim", expr("cosine_sim(a, b)")).collect()
    assert(n.head.isNullAt(1))
  }

  test("LSH ANN achieves >=60% recall@10 vs brute force on sf0.001 embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(spark, emb, q, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Similarity.lshTopK(spark, emb, q, 10, nBits = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall was $recall")
  }

  test("IVF ANN achieves >=50% recall@10 vs brute force on sf0.001 embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(spark, emb, q, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    // same parameters as the registered q43_knn_ivf query — the recall
    // guarantee must cover the configuration verify/bench actually run
    val approx = Similarity.ivfTopK(spark, emb, q, 10, nCentroids = 16, nProbe = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall was $recall")
  }

  test("q41 embedding dedup recovers exactly the 8 planted near-dup pairs") {
    val out = graft.queries.ExtendedQueries.q41EmbeddingDedup(spark, "/root/testdata/sf0.001")
      .collect()
    val plantedPairs = out.filter(_.getAs[Boolean]("planted"))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plantedPairs == (0L until 8L).map(i => (i, i + 1000000L)).toSet)
    // scaled copies preserve direction exactly → cosine rounds to 1.0
    out.filter(_.getAs[Boolean]("planted"))
      .foreach(r => assert(r.getAs[Double]("cosine") == 1.0))
    assert(out.length >= 8) // stable rows>0 is what the driver checks
  }

  test("IVF plan text stays compact at nCentroids=1024 (no inlined centroid literals)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 2)
    val df = Similarity.ivfTopK(spark, emb, q, k = 5, nCentroids = 1024, nProbe = 8)
    val plan = df.queryExecution.analyzed.toString + df.queryExecution.executedPlan.toString
    assert(plan.contains("ivf_cells"), "expected the native centroid-assignment expression")
    assert(!plan.contains("as float)"), "centroid vectors must not be inlined as SQL literals")
    assert(plan.length < 50000, s"plan text blew up: ${plan.length} chars")
    assert(df.count() > 0)
  }

  test("srp_project: sign codes are scale-invariant and track the Charikar angle bound") {
    val s = spark; import s.implicits._
    // a, a positively scaled (angle 0), a negated (angle pi), and an
    // orthogonal-by-construction partner (angle pi/2)
    val a = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val scaled = a.map(_ * 2.5f)
    val neg = a.map(-_)
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) a(i + 1) else -a(i - 1))
    val m = 64
    val df = Seq((1L, a, scaled), (2L, a, neg), (3L, a, ortho))
      .toDF("id", "u", "v")
      .selectExpr("id",
        s"zip_with(srp_project(u, $m), srp_project(v, $m), " +
          "(x, y) -> CASE WHEN (x >= 0) <> (y >= 0) THEN 1 ELSE 0 END) AS diff")
      .withColumn("hamming", expr("aggregate(diff, 0, (acc, x) -> acc + x)"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("hamming")).toMap
    // P[bit differs] = angle/pi exactly (Charikar, STOC 2002): scaling
    // never flips a sign (0 disagreement), negation always does (m),
    // and a right angle disagrees on ~m/2 bits (binomial, 4-sigma band)
    assert(df(1L) == 0, s"positive scaling flipped ${df(1L)} sign bits")
    assert(df(2L) == m, s"negation must flip every bit, got ${df(2L)}")
    assert(math.abs(df(3L) - m / 2) <= 2 * math.sqrt(m.toDouble),
      s"orthogonal pair expected ~${m / 2} of $m bits, got ${df(3L)}")
  }

  test("srp_band_keys: native pack is bit-identical to the interpreted HOF formulation") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(40) { i =>
      // mostly random, with some near-zero components to exercise the
      // 6-dp rounded sign boundary
      (i.toLong, Array.fill(64)(
        if (rnd.nextInt(8) == 0) (rnd.nextGaussian() * 1e-7).toFloat
        else rnd.nextGaussian().toFloat))
    }.toDF("id", "embedding")
    // MSB fold (the q283/q280 banding) vs the old transform/aggregate
    val msb = rows.selectExpr("id",
      "srp_band_keys(embedding, 32, 8) AS native",
      """transform(sequence(0, 3), bb -> aggregate(
        |  slice(transform(srp_project(embedding, 32),
        |    z -> CASE WHEN round(z, 6) >= 0 THEN 1 ELSE 0 END), bb * 8 + 1, 8),
        |  0, (acc, x) -> acc * 2 + x)) AS hof""".stripMargin)
      .collect()
    msb.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"msb mismatch id=${r.getLong(0)}")
    }
    // LSB pack (the md5Mode LSH table buckets) vs the old per-table fold
    val lsb = rows.selectExpr("id",
      "srp_band_keys_lsb(embedding, 64, 8) AS native",
      """transform(sequence(0, 7), t -> aggregate(sequence(0, 7), 0, (a, b) ->
        |  a + IF(round(element_at(srp_project(embedding, 64), t * 8 + b + 1), 6) >= 0D,
        |    shiftleft(1, b), 0))) AS hof""".stripMargin)
      .collect()
    lsb.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"lsb mismatch id=${r.getLong(0)}")
    }
    // the packed 16-bit code + bit_count(xor) hamming (q112's rewrite)
    // equals the bitwise zip_with count
    val ham = rows.limit(10).selectExpr("id",
      "srp_band_keys(embedding, 16, 16)[0] AS c1")
      .crossJoin(rows.limit(10).selectExpr("id AS id2",
        "srp_band_keys(embedding, 16, 16)[0] AS c2",
        """transform(srp_project(embedding, 16),
          |  z -> CASE WHEN round(z, 6) >= 0 THEN 1 ELSE 0 END) AS bits2""".stripMargin))
      .join(rows.limit(10).selectExpr("id",
        """transform(srp_project(embedding, 16),
          |  z -> CASE WHEN round(z, 6) >= 0 THEN 1 ELSE 0 END) AS bits1""".stripMargin), Seq("id"))
      .selectExpr("bit_count(c1 ^ c2) AS fast",
        """aggregate(zip_with(bits1, bits2,
          |  (a, b) -> CASE WHEN a <> b THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x) AS slow""".stripMargin)
      .collect()
    ham.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("srp_project: JL property - projected inner product estimates the exact one") {
    val s = spark; import s.implicits._
    // E[<Pa,Pb>/m] = <a,b> for Rademacher projections (Achlioptas, JCSS
    // 2003); with m=256 the estimator's sd is ~||a||||b||/sqrt(m), so a
    // 25% relative band is a ~4-sigma test on unit-ish vectors
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(6) { p =>
      val a = Array.fill(64)(rnd.nextGaussian().toFloat / 8f)
      val b = Array.fill(64)(rnd.nextGaussian().toFloat / 8f)
      (p.toLong, a, b)
    }
    val m = 256
    val rows = pairs.toDF("id", "a", "b")
      .selectExpr("id",
        "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * y), 0D, (acc, z) -> acc + z) AS exact",
        s"aggregate(zip_with(srp_project(a, $m), srp_project(b, $m), (x, y) -> x * y), 0D, (acc, z) -> acc + z) / $m AS est")
      .collect()
    rows.foreach { r =>
      val (exact, est) = (r.getAs[Double]("exact"), r.getAs[Double]("est"))
      val normBound = 64.0 / 64.0 // E||a||^2 = 64 * (1/8)^2 = 1
      assert(math.abs(est - exact) < 0.25 * math.max(1.0, normBound),
        s"id=${r.getLong(0)}: exact=$exact est=$est")
    }
  }

  test("q288 matryoshka: a prefix-aligned planted neighbor wins both spaces") {
    val s = spark; import s.implicits._
    // planted: query q (energy in the first 2 dims), its clone c
    // (identical — must be rank 1 in both prefix and full space with
    // sim 1.0), a prefix-only impostor p (matches q on dims 1-2,
    // orthogonal tail — near-top in prefix space, demoted at full
    // width: the rerank case the audit exists to expose), and noise
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, v(1, 1, 0, 0, 0, 0, 0, 0)),  // the query
      (10L, v(1, 1, 0, 0, 0, 0, 0, 0)), // exact clone
      (11L, v(1, 1, 9, 9, 9, 9, 9, 9)), // prefix impostor
      (12L, v(0, 0, 1, 1, 1, 1, 1, 1))) // orthogonal-prefix control
      .toDF("vec_id", "embedding")
    val tr = emb.selectExpr("vec_id", "slice(embedding, 1, 2) AS embedding")
    val approx = Similarity.bruteForceTopK(s, tr, tr.filter(col("vec_id") === 0), k = 3)
    val exact = Similarity.bruteForceTopK(s, emb, emb.filter(col("vec_id") === 0), k = 3)
    val ap = approx.collect().map(r => r.getAs[Int]("rank") -> r.getAs[Long]("vec_id")).toMap
    val ex = exact.collect().map(r => r.getAs[Int]("rank") -> r.getAs[Long]("vec_id")).toMap
    // prefix space: clone and impostor TIE at sim 1.0 (ids break the
    // tie); full space: the impostor falls behind the clone
    assert(ap(1) == 10L && ap(2) == 11L, s"prefix ranks: $ap")
    assert(ex(1) == 10L, s"full ranks: $ex")
    val exSims = exact.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    assert(exSims(10L) == 1.0)
    assert(exSims(11L) < 0.2, s"impostor must be demoted at full width: $exSims")
  }

  test("multimodal stub pipeline: binary plumbing produces length-derived features") {
    val s = spark; import s.implicits._
    val df = Seq((7L, "abcdefgh", "en", "srcX", 8L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.features(spark, df).collect().head
    assert(f.getAs[Long]("byte_len") == 8L)
    assert(f.getAs[Long]("width") == 64 + 8 % 64)
    assert(f.getAs[Long]("n_frames") == 1 + 8 % 8)
  }
}
