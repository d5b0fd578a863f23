package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Paragraph-level dedup, spherical k-means + SemDeDup, and BM25 —
  * hand-computed fixtures for each, plus the planted-recovery
  * guarantees the rows-only driver check (q90) relies on. */
class CorpusOpsSpec extends AnyFunSuite with SparkFixture {

  test("paragraphDedup: corpus-wide keep-first by (doc, pos), order-preserving reassembly") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "shared one\nkeep a\nshared two"),
      (2L, "shared one\nkeep b"),
      (3L, "shared two\nshared one"),
      (4L, "  \n\n"), // whitespace-only: zero paragraphs
      (5L, "keep a")  // dup of doc 1's middle paragraph
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 3L, 3L, "shared one\nkeep a\nshared two"), // first occurrences all kept
      (2L, 2L, 1L, "keep b"),                          // "shared one" seen at (1,0)
      (3L, 2L, 0L, ""),                                // both paragraphs seen in doc 1
      (4L, 0L, 0L, ""),                                // nothing to keep
      (5L, 1L, 0L, "")))                               // "keep a" seen at (1,1)
  }

  test("paragraphDedup is idempotent: a second pass keeps every surviving paragraph") {
    val s = spark; import s.implicits._
    val docs = (0L until 40L).map { i =>
      (i, s"shared intro paragraph\nbody $i text\n${if (i % 3 == 0) "common footer block" else s"tail $i"}")
    }.toDF("doc_id", "text")
    val once = Dedup.paragraphDedup(docs)
      .select(col("doc_id"), col("text_dedup").as("text"))
    val twice = Dedup.paragraphDedup(once).collect()
    assert(twice.forall(r => r.getLong(1) === r.getLong(2)),
      "second pass must keep every paragraph (n_paras == n_kept)")
  }

  test("paragraphDedup trims paragraphs before hashing and reassembly") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "  padded para  \nx"), (2L, "padded para")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out === Array((1L, 2L, "padded para\nx"), (2L, 0L, "")))
  }

  test("kmeansFit converges on two well-separated blobs and assignment is deterministic") {
    val s = spark; import s.implicits._
    // two orthogonal directions with small jitter: cosine k-means must
    // split them perfectly whatever the seed draw
    val blobA = (0L until 20L).map(i => (i, Array(1f, 0.01f * i, 0f, 0f)))
    val blobB = (100L until 120L).map(i => (i, Array(0f, 0f, 1f, 0.01f * (i - 100))))
    val emb = (blobA ++ blobB).toDF("vec_id", "embedding")
    val cs = Similarity.kmeansFit(spark, emb, k = 2, maxIter = 10)
    assert(cs.length === 2)
    val assigned = Similarity.kmeansAssign(spark, emb, cs)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cellsA = blobA.map(v => assigned(v._1)).toSet
    val cellsB = blobB.map(v => assigned(v._1)).toSet
    assert(cellsA.size === 1 && cellsB.size === 1 && cellsA != cellsB,
      s"blobs not separated: A→$cellsA B→$cellsB")
    // determinism: a second fit over the same data yields the same table
    val cs2 = Similarity.kmeansFit(spark, emb, k = 2, maxIter = 10)
    assert(cs.map(_.toSeq).toSeq === cs2.map(_.toSeq).toSeq)
  }

  test("kmeansFit on an empty corpus returns no centroids") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.kmeansFit(spark, empty, k = 4).isEmpty)
  }

  test("semanticDedup removes planted exact copies with the original as survivor") {
    val s = spark; import s.implicits._
    val base = (0L until 40L).map { i =>
      val angle = i.toDouble / 40.0 * math.Pi / 2
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat, (i % 7).toFloat / 10f, 1f))
    }
    val copies = Seq(3L, 17L).map(i => (i + 1000L, base(i.toInt)._2))
    val emb = (base ++ copies).toDF("vec_id", "embedding")
    val removed = Dedup.semanticDedup(emb, eps = 0.999, k = 4, maxIter = 5)
      .select("vec_id", "survivor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(removed.contains(1003L), s"planted copy 1003 not removed: $removed")
    assert(removed.contains(1017L), s"planted copy 1017 not removed: $removed")
    // survivor is the min id of the duplicate component — the original,
    // unless the original itself chains to a smaller near-identical id
    assert(removed(1003L) <= 3L && removed(1017L) <= 17L)
    assert(!removed.values.exists(removed.keySet.contains),
      "a survivor appears as removed")
  }

  test("two-level k-means path: partition is total, copies co-assigned, planted dups removed") {
    val s = spark; import s.implicits._
    // 600 deterministic pseudo-random unit-ish vectors (LCG, fixed
    // seed) — random 16-d directions are near-orthogonal, so eps=0.97
    // merges only the planted exact copies
    def vec(seed: Long): Array[Float] = {
      var x = seed * 6364136223846793005L + 1442695040888963407L
      Array.fill(16) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33).toDouble / (1L << 31).toDouble - 0.5).toFloat
      }
    }
    val base = (0L until 600L).map(i => (i, vec(i)))
    val copies = Seq(7L, 123L, 401L).map(i => (i + 5000L, vec(i)))
    val emb = (base ++ copies).toDF("vec_id", "embedding")
    val assigned = Similarity.kmeansAssignTwoLevel(spark, emb, k = 100, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(assigned.size === 603, "every vector assigned exactly once")
    // identical vectors see identical broadcast centroids → same cell
    Seq(7L, 123L, 401L).foreach(i =>
      assert(assigned(i) === assigned(i + 5000L), s"copy of $i split across cells"))
    assert(assigned.values.toSet.size > 10, "fine cells actually partition the space")
    // end-to-end through semanticDedup with the two-level path forced
    val removed = Dedup.semanticDedup(emb, eps = 0.97, k = 100, maxIter = 3,
      twoLevelFrom = 8)
      .select("vec_id", "survivor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    Seq(7L, 123L, 401L).foreach { i =>
      assert(removed.contains(i + 5000L), s"planted copy ${i + 5000L} not removed")
      assert(removed(i + 5000L) === i, s"survivor of ${i + 5000L} is not the original")
    }
    assert(!removed.keySet.exists(_ < 5000L),
      s"near-orthogonal random vectors falsely merged: ${removed.keySet.filter(_ < 5000L)}")
  }

  test("q90's in-row planted_removed guarantee holds on real testdata") {
    val out = graft.queries.CorpusQueries.q90SemanticDedup(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every row carries the same corpus-wide constant; all 4 planted
    // exact copies must be removed — the guarantee that keeps the
    // driver's rows-only check from going vacuously green
    assert(rows.map(_.getAs[Long]("planted_removed")).distinct.toSeq === Seq(4L))
  }

  test("chunkTokens: window arithmetic, overlap, and the short-doc single chunk") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b")                             // shorter than one window
    ).toDF("doc_id", "text")
    val out = Curation.chunkTokens(docs, chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // doc 1: n_chunks = 1 + ceil((10-4)/3) = 3 → starts 0, 3, 6
    assert(out === Array(
      (1L, 0, 0, 4), (1L, 1, 3, 4), (1L, 2, 6, 4),
      (2L, 0, 0, 2)))
    // consecutive windows overlap by chunkSize - stride = 1 token
    val fps = Curation.chunkTokens(docs, chunkSize = 4, stride = 3)
      .filter($"doc_id" === 1L).select("chunk_fp").collect().map(_.getString(0))
    assert(fps.distinct.length === 3)
  }

  test("epochShuffle: reproducible within an epoch, different across epochs, no sort in plan") {
    val s = spark; import s.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val e0a = Curation.epochShuffle(docs, "doc_id", epoch = 0, nBatches = 8)
      .select("doc_id", "batch_id", "sort_key").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val e0b = Curation.epochShuffle(docs, "doc_id", epoch = 0, nBatches = 8)
      .select("doc_id", "batch_id", "sort_key").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(e0a === e0b, "same epoch must reproduce the same permutation")
    val e1 = Curation.epochShuffle(docs, "doc_id", epoch = 1, nBatches = 8)
      .select("doc_id", "batch_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val e0m = e0a.map(t => (t._1, t._2)).toMap
    assert((0L until 200L).exists(i => e0m(i) != e1(i)), "epochs must differ")
    // the operator is a pure map: no Exchange/Sort node may appear
    val nodes = Curation.epochShuffle(docs, "doc_id", 0)
      .queryExecution.executedPlan.collect { case p => p.getClass.getSimpleName }
    assert(!nodes.exists(n => n.contains("Exchange") || n.startsWith("Sort")),
      s"epoch shuffle must not shuffle or sort: $nodes")
  }

  test("fixedSizeSample: exactly min(k, |stratum|) per group, deterministic membership") {
    val s = spark; import s.implicits._
    val docs = (0L until 50L).map(i => (i, if (i < 40) "en" else "fr")).toDF("doc_id", "lang")
    val a = Curation.fixedSizeSample(docs, "doc_id", "lang", k = 15)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.count(_._2 == "en") === 15)
    assert(a.count(_._2 == "fr") === 10) // stratum smaller than k: all kept
    val b = Curation.fixedSizeSample(docs, "doc_id", "lang", k = 15)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSet === b.toSet, "membership must be deterministic")
  }

  test("calibrateQuality: per-stratum percent_rank lands in [0,1] with max 1 per stratum") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 200L), (3L, "en", 300L),
      (4L, "fr", 10L), (5L, "fr", 20L)).toDF("doc_id", "lang", "n_chars")
    val out = Curation.calibrateQuality(docs, "lang", $"n_chars", $"doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(out(1L) === 0.0 && out(3L) === 1.0 && out(2L) === 0.5)
    assert(out(4L) === 0.0 && out(5L) === 1.0) // fr's 20 chars calibrates to 1.0
  }

  test("k-means-trained IVF recall is at least the sampled-seed recall on a clustered corpus") {
    val s = spark; import s.implicits._
    // 4 tight direction-clusters, ids interleaved so id-percentile
    // seeding cannot align with cluster structure by accident
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val emb = (0L until 200L).map { i =>
      val d = dirs((i % 4).toInt)
      (i, d.zipWithIndex.map { case (x, j) => x + 0.05f * ((i + j) % 5) })
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 4)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.bruteForceTopK(spark, emb, q, k = 5)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val untrained = recall(Similarity.ivfTopK(spark, emb, q, k = 5, nCentroids = 8, nProbe = 1))
    val trained = recall(
      Similarity.ivfTopK(spark, emb, q, k = 5, nCentroids = 8, nProbe = 1, trainIters = 5))
    assert(trained >= untrained, s"training degraded recall: $trained < $untrained")
    assert(trained >= 0.8, s"trained IVF recall too low on a cleanly clustered corpus: $trained")
  }

  test("mmrRerank with lambda=1 reproduces the exact relevance ranking") {
    val s = spark; import s.implicits._
    val emb = (0L until 30L).map { i =>
      val a = i.toDouble / 30.0 * math.Pi / 2
      (i, Array(math.cos(a).toFloat, math.sin(a).toFloat, (i % 5).toFloat / 8f))
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0L)
    val exact = Similarity.bruteForceTopK(spark, emb, q, k = 8)
    val viaMmr = Similarity.mmrRerank(spark, exact, emb, k = 8, lambda = 1.0)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    val direct = exact.orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(viaMmr.toSeq === direct.toSeq)
  }

  test("mmrRerank diversifies: a near-copy of the top hit is deferred at low lambda") {
    val s = spark; import s.implicits._
    // candidates: 10/11 nearly identical high scorers, 12 orthogonal-ish
    // lower scorer. Pure relevance picks (10, 11, 12); MMR at λ=0.3
    // must defer the near-copy 11 behind the diverse 12.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),       // query
      (10L, Array(0.99f, 0.14f, 0f)),
      (11L, Array(0.99f, 0.141f, 0f)),
      (12L, Array(0.5f, 0f, 0.87f))).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0L)
    val top = Similarity.bruteForceTopK(spark, emb, q, k = 3)
    assert(top.orderBy("rank").collect().map(_.getLong(1)).toSeq === Seq(10L, 11L, 12L))
    val mmr = Similarity.mmrRerank(spark, top, emb, k = 3, lambda = 0.3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(mmr.toSeq === Seq(10L, 12L, 11L), s"MMR did not diversify: ${mmr.toSeq}")
  }

  test("q94's in-row first-pick guarantee holds on real testdata") {
    val out = graft.queries.VectorQueries.q94Mmr(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_first_matches_top1")).distinct.toSeq === Seq(5L))
  }

  test("q99's count-min no-underestimate guarantee holds on real testdata") {
    val out = graft.queries.TextQueries2.q99CountMin(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_underestimates")).distinct.toSeq === Seq(0L),
      "CMS must never underestimate a count")
    // at eps=0.001 over a small corpus, estimates should be near-exact
    assert(out.forall(_.getAs[Double]("rel_err") <= 0.05))
  }

  test("bigramPerplexity matches hand-computed add-half-smoothed scores") {
    val s = spark; import s.implicits._
    // corpus: doc 1 "x y x y", doc 2 "x z"
    // bigram counts: "x y"→2, "y x"→1, "x z"→1; unigram-position counts:
    // x→3, y→1; vocab = 3 distinct bigrams
    val docs = Seq((1L, "x y x y"), (2L, "x z")).toDF("doc_id", "text")
    val out = TextSearch.bigramPerplexity(docs).orderBy("doc_id").collect()
    val pXY = (2 + 0.5) / (3 + 0.5 * 3)
    val pYX = (1 + 0.5) / (1 + 0.5 * 3)
    val pXZ = (1 + 0.5) / (3 + 0.5 * 3)
    val m1 = (2 * -math.log(pXY) + -math.log(pYX)) / 3
    val m2 = -math.log(pXZ)
    assert(out(0).getLong(1) === 3L && out(1).getLong(1) === 1L)
    assert(math.abs(out(0).getDouble(2) - m1) < 1e-3, s"${out(0)} vs $m1")
    assert(math.abs(out(1).getDouble(3) - math.exp(m2)) < 1e-1, s"${out(1)} vs ${math.exp(m2)}")
    // the repetitive doc is more probable under the corpus LM than the
    // singleton bigram doc
    assert(out(0).getDouble(3) < out(1).getDouble(3))
    // in-row corpus stats: 3 distinct bigrams over 4 positions
    assert(out(0).getLong(4) === 3L && out(0).getLong(5) === 4L)
    // the shuffle-for-scan contract (see bigramPerplexity scaladoc):
    // per-(doc, bigram) counts are row-local (`bigram_counts`), so the
    // occurrence-grain corpus shuffle — the old
    // Exchange hashpartitioning(doc_id, w1, bg) with near-unique keys
    // and no map-side reduction — must NOT appear; the model branch
    // re-scans instead (2 scans), and every remaining exchange is
    // sub-corpus (vocab partials, the final per-doc aggregate).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TextSearch.bigramPerplexity(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
        .queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans === 2,
        s"probe + model branch: expected exactly two corpus scans, saw $scans")
      assert(!plan.matches("(?s).*hashpartitioning\\(doc_id#\\d+L?, w1.*"),
        "the occurrence-grain (doc, w1, bg) corpus shuffle must be gone")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("preferencePairs: deterministic argmax pair per prompt, margin gate, tie-break on id") {
    val s = spark; import s.implicits._
    // prompt 1: clear winner/loser (margin 100, 3 candidates)
    // prompt 2: margin 10 < 50 → dropped
    // prompt 3: score TIE at the top → chosen is the larger doc_id;
    //           tie at the bottom → rejected is the smaller doc_id
    val docs = Seq(
      (1L, 1L, 200L), (2L, 1L, 150L), (3L, 1L, 100L),
      (4L, 2L, 60L), (5L, 2L, 50L),
      (6L, 3L, 300L), (7L, 3L, 300L), (8L, 3L, 100L), (9L, 3L, 100L))
      .toDF("doc_id", "prompt", "score")
    val out = graft.operators.Curation.preferencePairs(docs,
        groupCols = Seq("prompt"), score = col("score"), id = col("doc_id"),
        minMargin = lit(50L))
      .orderBy("prompt").collect()
    assert(out.map(_.getAs[Long]("prompt")).toSeq === Seq(1L, 3L)) // prompt 2 gated
    val p1 = out(0); val p3 = out(1)
    assert(p1.getAs[Long]("chosen_id") === 1L && p1.getAs[Long]("rejected_id") === 3L)
    assert(p1.getAs[Long]("margin") === 100L && p1.getAs[Long]("n_candidates") === 3L)
    assert(p3.getAs[Long]("chosen_id") === 7L, "top tie breaks to the LARGER id")
    assert(p3.getAs[Long]("rejected_id") === 8L, "bottom tie breaks to the SMALLER id")
  }

  test("bigram_counts skips null tokens instead of crashing (r13 ADVICE)") {
    // bigram_counts is a registered SQL function any query author can
    // call; a null array element must neither NPE nor emit a malformed
    // bigram violating the non-null struct schema
    val out = spark.sql(
      "SELECT bigram_counts(array('a', CAST(NULL AS STRING), 'b', 'c', 'b', 'c')) AS bgs")
      .selectExpr("inline(bgs)").collect()
    // (a,NULL) and (NULL,b) skipped; (b,c)×2, (c,b)×1 counted
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      === Seq(("b", "b c", 2L), ("c", "c b", 1L)))
  }

  test("q290 CCNet split: equal-count terciles, fluency-ordered, rank = naive sort") {
    val out = graft.queries.CorpusQueries.q290CcnetSplit(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val byLang = out.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      val n = rows.length
      // the integer boundary rule gives tercile sizes within 1 of n/3
      val sizes = rows.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length)
      Seq("head", "middle", "tail").foreach { b =>
        val sz = sizes.getOrElse(b, 0)
        assert(math.abs(sz - n / 3.0) <= 1.0, s"$lang/$b: $sz of $n")
      }
      // within a language, every head perplexity ≤ every middle ≤ every tail
      def maxP(b: String) = rows.filter(_.getAs[String]("bucket") == b)
        .map(_.getAs[Double]("perplexity")).maxOption.getOrElse(Double.MinValue)
      def minP(b: String) = rows.filter(_.getAs[String]("bucket") == b)
        .map(_.getAs[Double]("perplexity")).minOption.getOrElse(Double.MaxValue)
      assert(maxP("head") <= minP("middle") || sizes.getOrElse("middle", 0) == 0)
      assert(maxP("middle") <= minP("tail") || sizes.getOrElse("tail", 0) == 0)
      // the two-phase histogram rank must equal the naive per-lang sort rank
      val naive = rows.sortBy(r =>
        (r.getAs[Double]("perplexity"), r.getAs[Long]("doc_id")))
        .zipWithIndex.map { case (r, i) => (r.getAs[Long]("doc_id"), i + 1L) }.toMap
      rows.foreach { r =>
        assert(r.getAs[Long]("lang_rank") === naive(r.getAs[Long]("doc_id")),
          s"$lang doc ${r.getAs[Long]("doc_id")}")
      }
    }
    // coverage: exactly the scoreable docs (≥ 2 tokens) are split
    val scoreable = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .where(size(split(lower(trim(col("text"))), "\\s+")) >= 2).count()
    assert(out.length.toLong === scoreable)
  }

  test("bm25 and tf-idf run one corpus explode (exchange reuse, AQE off)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bm25Plan = graft.queries.CorpusQueries.q91Bm25(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert("Scan parquet".r.findAllIn(bm25Plan).length === 1,
        "BM25 must derive doc length, df, and corpus stats from one corpus pass")
      val tfidfPlan = graft.queries.TextQueries2.q51TfIdf(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      // 2 scans: the token pipeline + the intentional doc_id-pruned n_docs count
      assert("Scan parquet".r.findAllIn(tfidfPlan).length <= 2,
        "TF-IDF must derive doc length and df from one token explode")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("vocabCoverage: correct boundary cut, exact OOV counts, one corpus explode") {
    val s = spark; import s.implicits._
    // counts: aa=4, bb=3, cc=2, dd=1 -- V=2 cuts {aa, bb}; the cc/dd
    // tail is OOV. Doc 1 is fully in-vocab, doc 3 fully OOV.
    val docs = Seq(
      (1L, "aa bb aa"), (2L, "aa bb cc"), (3L, "cc dd"), (4L, "aa bb")
    ).toDF("doc_id", "text")
    val out = TextSearch.vocabCoverage(docs, vocabSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"), r.getAs[Double]("coverage"))).toMap
    assert(out(1L) == (3L, 0L, 0.7), s"${out(1L)}")
    assert(out(2L)._2 == 1L)
    assert(out(3L) == (2L, 2L, 0.7))
    assert(out(4L)._2 == 0L)
    // vocab ties at the boundary break on token order: plant equal counts
    val tied = Seq((1L, "xx yy"), (2L, "xx yy")).toDF("doc_id", "text")
    val t = TextSearch.vocabCoverage(tied, vocabSize = 1).collect()
    assert(t.forall(_.getAs[Long]("n_oov") == 1L), "vocab must keep 'xx' (count tie, token asc)")
    // one corpus pass: vocab cut and per-doc counts share the explode
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TextSearch.vocabCoverage(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 20)
        .queryExecution.executedPlan.toString
      assert("Scan parquet".r.findAllIn(plan).length === 1,
        s"vocab + per-doc OOV must derive from one token explode")
      assert(plan.contains("ReusedExchange"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bm25TopK matches a hand-computed score") {
    val s = spark; import s.implicits._
    // 3 docs, query "apple": df=2, N=3, avgdl = (4+2+3)/3 = 3
    // idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    // doc 1: tf=2, dl=4 → 2·2.2/(2 + 1.2·(0.25 + 0.75·4/3)) = 4.4/3.5
    // doc 2: tf=1, dl=2 → 2.2/(1 + 1.2·(0.25 + 0.75·2/3)) = 2.2/1.9
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "apple date"),
      (3L, "banana cherry fig")).toDF("doc_id", "text")
    val q = Seq((0L, "apple")).toDF("query_id", "query_text")
    val out = TextSearch.bm25TopK(docs, q, k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    val idf = math.log(1.6)
    val exp1 = idf * 4.4 / 3.5
    val exp2 = idf * 2.2 / 1.9
    assert(math.abs(out(0).getDouble(3) - exp1) < 1e-5, s"${out(0)} vs $exp1")
    assert(math.abs(out(1).getDouble(3) - exp2) < 1e-5, s"${out(1)} vs $exp2")
  }

  test("tfidfCosinePairs df cap: a super-common term generates no candidate pairs") {
    val s = spark; import s.implicits._
    // every doc carries the stopword (df=120 > cap) — the quadratic
    // guard: docs 0/1 share ONLY the stopword and must produce no pair;
    // docs 2/3 additionally share a rare in-cap term and must pair at
    // sim=1.0 (their pruned vectors are identical: the singleton
    // unique terms fall to df>=2)
    val docs = (0L until 120L).map { i =>
      val extra = if (i == 2L || i == 3L) "rareterm" else s"unique$i"
      (i, s"stopword $extra")
    }.toDF("doc_id", "text")
    val pairs = TextSearch.tfidfCosinePairs(docs, threshold = 0.0, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.toSeq == Seq((2L, 3L, 1L, 1.0)),
      s"df cap failed to suppress the stopword candidates: ${pairs.toSeq}")
  }

  test("bm25TopK multi-term: scores add per matched term, rank ties break on doc id") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "x y"),
      (2L, "x y"),
      (3L, "x z")).toDF("doc_id", "text")
    val q = Seq((7L, "x y")).toDF("query_id", "query_text")
    val out = TextSearch.bm25TopK(docs, q, k = 10).orderBy("rank").collect()
    // docs 1 and 2 are identical → equal scores, doc id breaks the tie
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(out(0).getDouble(3) === out(1).getDouble(3))
    assert(out(0).getLong(4) === 2L && out(2).getLong(4) === 1L) // n_terms_matched
  }
}
