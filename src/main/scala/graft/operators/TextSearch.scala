package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions
import graft.plans.Pin

/** Full-text relevance search over the document corpus: BM25 ranking
  * (Robertson & Zaragoza 2009, the Lucene-default scoring function).
  *
  * Scale shape — the inverted-index discipline:
  *   - the query term table is tiny and BROADCAST; the corpus token
  *     explode is immediately joined against it, so only tokens that
  *     match some query term survive into any aggregation — the heavy
  *     side never shuffles unfiltered;
  *   - document length and corpus statistics (N, avgdl) are one narrow
  *     aggregate each; N/avgdl join back as a broadcast 1-row cross;
  *   - document frequency per term is computed from the matched tokens
  *     only (a matched token's doc IS a doc containing the term, so the
  *     restriction loses nothing);
  *   - final scoring is one (query, doc) aggregate plus a per-query
  *     top-k window — the same TakeOrdered shape as q19.
  *
  * At 100 TB the (term → postings) side is a pre-built bucketed table:
  * [[writeBm25Index]] builds and persists it (denormalized df/dl,
  * term-bucketed) and [[bm25TopKFromIndex]] answers from it with no
  * corpus scan; [[bm25TopK]] is the same plan with the index built
  * inline. Scores are plain arithmetic (ln, tf, dl) — fully replicable
  * in ANSI SQL, which is what makes the driver check a full hash
  * oracle on BOTH paths.
  */
object TextSearch {

  /** BM25 top-k documents per query. `queries` is (query_id,
    * query_text); scoring uses the Lucene/Robertson idf
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` and the standard saturation
    * `tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`. Ranking orders by
    * the score rounded to 1e-6 with doc id tie-break (the engine's
    * deterministic-top-k convention). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // non-null id/term (coalesce with literals): join-inserted
    // isnotnull filters would otherwise differ per branch and defeat
    // the exchange reuse this plan is shaped for (see bigramPerplexity).
    // PRECONDITION: document ids are non-null (the engine's pinned
    // schemas guarantee it) — with null ids present, every null-id doc
    // would merge into the -1 sentinel and corrupt its dl/tf stats
    val toks = docs.select(
      coalesce(col(idCol), lit(-1L)).as(idCol),
      explode(TextFunctions.tokens(textCol)).as("term0"))
      .select(col(idCol), coalesce(col("term0"), lit("")).as("term"))
    val qTerms = broadcast(
      queries.select(col("query_id"),
        explode(array_distinct(TextFunctions.tokens("query_text"))).as("term")))
    // ONE corpus explode+aggregate — doc length, corpus stats, and the
    // matched term frequencies all derive from tokCounts, so the
    // explode's exchange is computed once (ReuseExchange; spec-asserted
    // single scan). dl is the total token count per doc (sum of tf over
    // ALL terms — a property of the document, not the matched subset).
    val tokCounts = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val docLen = tokCounts.groupBy(idCol).agg(sum("tf").as("dl"))
    // avg(dl) is tf-dependent, which also keeps the optimizer from
    // collapsing this branch into a separate distinct-over-explode
    val corpusStats = broadcast(
      docLen.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl")))
    // broadcast-join the tiny term table: everything downstream is
    // linear in the MATCHED (doc, term) groups only
    val tf = tokCounts.join(qTerms.select("term").distinct().hint("broadcast"), Seq("term"))
    // tf > 0 is always true (counts are ≥ 1) but the optimizer cannot
    // prove it, so RemoveRedundantAggregates can't collapse this branch
    // into a separate distinct-over-explode corpus scan — it must reuse
    // the tokCounts exchange like everything else
    val df_ = tf.filter(col("tf") > 0).groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df_), Seq("term"))
      .join(docLen, Seq(idCol))
      .crossJoin(corpusStats)
      .join(qTerms, Seq("term"))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", idCol)
      .agg(sum("term_score").as("score"), count(lit(1)).as("n_terms_matched"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("score"), 6).desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"),
        round(col("score"), 6).as("score"), col("n_terms_matched"))
  }

  /** Persist the BM25 inverted index — the query-side counterpart of
    * [[graft.operators.Similarity.writeIvfIndex]] for text. The
    * postings are fully DENORMALIZED, Lucene-style (term, doc, tf, df,
    * dl): df and dl fold into each posting at build time, so a query
    * against the index needs NO join except the broadcast of its own
    * terms. df computed over ALL terms at build time equals the
    * query-restricted df (the restriction is BY term), which is what
    * keeps the from-index scores bit-identical to [[bm25TopK]].
    * Postings are TERM-bucketed via `writeBucketed`: the corpus
    * explode + shuffle is paid once here; a query's literal term set
    * then bucket-prunes the scan. `<name>_stats` holds the 1-row
    * (n_docs, avgdl) table. */
  def writeBm25Index(docs: DataFrame, name: String, buckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val toks = docs.select(
      coalesce(col(idCol), lit(-1L)).as(idCol),
      explode(TextFunctions.tokens(textCol)).as("term0"))
      .select(col(idCol), coalesce(col("term0"), lit("")).as("term"))
    // the postings and stats writes are two separate actions sharing
    // the tokenize/explode/aggregate lineage — cache the (doc, term)
    // counts so the corpus explode (the dominant build stage) runs once
    val tokCounts = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val docLen = tokCounts.groupBy(idCol).agg(sum("tf").as("dl"))
      val stats = docLen.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
      val df_ = tokCounts.groupBy("term").agg(count(lit(1)).as("df"))
      val postings = tokCounts
        .join(df_, Seq("term"))
        .join(docLen, Seq(idCol))
        .select(col("term"), col(idCol), col("tf"), col("df"), col("dl"))
      graft.sources.Sinks.writeBucketed(postings, s"${name}_postings", buckets, Seq("term"))
      graft.sources.Sinks.replaceManagedTable(stats, s"${name}_stats")()
    } finally tokCounts.unpersist(false)
  }

  /** BM25 top-k answered from a persisted [[writeBm25Index]] index: no
    * corpus scan, no explode, no tf/df/dl aggregation at query time —
    * the plan is (bucket-pruned postings scan) ⨝ broadcast(query terms)
    * → arithmetic → one (query, doc) aggregate → top-k window. Scores
    * are bit-identical to [[bm25TopK]] on the indexed corpus.
    *
    * Literal-prune ONLY for genuinely small term sets (the
    * [[graft.operators.Dedup.lshIndexCandidates]] / IVF `pruneLimit`
    * discipline): an ad-hoc query has a handful of terms and the IN
    * literal lets the term-bucketed postings scan prune buckets at
    * planning time; a BATCHED workload (thousands of queries in one
    * call) would otherwise rebuild the measured 4000-literal planning
    * stall. Past `pruneLimit` distinct terms the probe falls back to a
    * semi-join against the broadcast query-term table — the bucketed
    * postings side still pays no Exchange, and a term set that size
    * touches every bucket anyway. */
  def bm25TopKFromIndex(spark: SparkSession, name: String, queries: DataFrame,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", pruneLimit: Int = 64): DataFrame = {
    val qTerms = broadcast(
      queries.select(col("query_id"),
        explode(array_distinct(TextFunctions.tokens("query_text"))).as("term")))
    // collect at most pruneLimit+1 terms — enough to decide the branch
    // without materializing an unbounded literal set on the driver
    val termLits = qTerms.select("term").distinct()
      .limit(pruneLimit + 1).collect().map(_.getString(0))
    val postingsAll = spark.table(s"${name}_postings")
    val postings =
      if (termLits.length <= pruneLimit)
        postingsAll.filter(col("term").isin(termLits.toSeq: _*))
      else
        postingsAll.join(qTerms.select("term").distinct().hint("broadcast"),
          Seq("term"), "left_semi")
    val stats = broadcast(spark.table(s"${name}_stats"))
    val scored = postings
      .join(qTerms, Seq("term"))
      .crossJoin(stats)
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", idCol)
      .agg(sum("term_score").as("score"), count(lit(1)).as("n_terms_matched"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("score"), 6).desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"),
        round(col("score"), 6).as("score"), col("n_terms_matched"))
  }

  /** Bigram language-model perplexity per document — the CCNet-style
    * fluency filter (Wenzek et al. 2020 score documents with a KenLM
    * n-gram model; the standard pre-training quality gate between
    * heuristics and classifier-based filtering). The LM here is trained
    * ON the corpus itself in the same plan: corpus bigram/unigram
    * counts with add-half smoothing give P(w2|w1), and each document's
    * perplexity is exp(mean −ln P) over its bigram positions.
    *
    * Scale shape: one positional-bigram explode feeds BOTH the count
    * aggregation and the scoring join — every shuffle is an equi-shuffle
    * on a bigram/unigram/doc key with map-side partial aggregation; the
    * model "parameters" (count tables) stay distributed, joined by key,
    * never collected. Smoothing keeps the score total (no −∞ rows), so
    * the operator is pure arithmetic — fully DuckDB-replicable. */
  def bigramPerplexity(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .withColumn("toks", TextFunctions.tokens(textCol))
      .filter(size(col("toks")) >= 2)
    // Per-(doc, bigram) counts are ROW-LOCAL (a document's bigrams all
    // live in its own row), so they are counted by the native
    // `bigram_counts` expression in a per-row loop — the relational
    // `explode → groupBy(doc, w1, bg)` this replaced shuffled every
    // bigram OCCURRENCE across the cluster just to bring it back where
    // it started (Spark cannot know the group key is row-local).
    // Struct fields are non-null by the expression's schema, so the
    // downstream equi-joins insert no per-branch isnotnull filters
    // (the canonical-subtree trap the old coalesce() guarded against).
    val docBg0 = toks.select(col(idCol), explode(expr("bigram_counts(toks)")).as("e"))
      .select(col(idCol), col("e.w1").as("w1"), col("e.bg").as("bg"),
        col("e.nb").as("nb"))
    // Shuffle-for-scan trade (deliberate): the model-side branch
    // re-reads the corpus (2 scans total) but every remaining shuffle
    // is sub-corpus —
    //   bgStats groupBy(w1, bg): the partial aggregate reduces each
    //     partition to its DISTINCT bigrams before the exchange, so
    //     the shuffle carries vocab-scale partials, not occurrences
    //     (the old (doc, w1, bg) aggregate's keys were near-unique per
    //     row: a corpus-scale shuffle with no map-side reduction);
    //   c1 (the w1 margin) folds into bgStats as a WINDOW over the
    //     vocab-sized count table instead of the old corpus-scale
    //     join on w1;
    //   the scoring join on bg: AQE picks broadcast while the vocab
    //     fits (probe side then shuffles NOTHING) and falls back to
    //     SMJ — one corpus-scale exchange, the only one left besides
    //     the final per-doc aggregate — when it doesn't.
    // Old shape: 1 scan + 4 corpus-scale shuffle legs. New shape:
    // 2 scans + at most 1. A projected columnar re-scan is far cheaper
    // than a corpus shuffle leg; sharing the one scan would need either
    // the old corpus-scale aggregate exchange or a checkpoint that
    // erases the co-partitioning it was meant to exploit.
    val docBg = docBg0
    val bgStats = docBg.groupBy("w1", "bg").agg(sum("nb").as("c2"))
    val withC1 = bgStats.withColumn("c1",
      sum("c2").over(org.apache.spark.sql.expressions.Window.partitionBy("w1")))
    // vocab (distinct bigrams) PLUS the nb-dependent total: without an
    // aggregate that needs the counts, RemoveRedundantAggregates
    // collapses this branch to a bare distinct-over-explode — a
    // canonically different subtree that forces a second corpus scan.
    // total_bigrams is also a legitimate corpus stat, surfaced in-row
    // (q86 pattern), so the model scale is visible next to each score.
    val v = bgStats.agg(count(lit(1)).as("vocab"), sum("c2").as("total_bigrams"))
    docBg
      .join(withC1.select("bg", "c2", "c1"), Seq("bg"))
      .crossJoin(broadcast(v))
      .withColumn("neg_logp",
        -log((col("c2") + 0.5) / (col("c1") + lit(0.5) * col("vocab"))))
      .groupBy(idCol)
      .agg(sum("nb").as("n_bigrams"),
        (sum(col("nb") * col("neg_logp")) / sum("nb")).as("m"),
        first("vocab").as("vocab"),
        first("total_bigrams").as("total_bigrams"))
      .select(col(idCol), col("n_bigrams"),
        round(col("m"), 4).as("avg_neg_logp"),
        round(exp(col("m")), 2).as("perplexity"),
        col("vocab"), col("total_bigrams"))
  }

  /** All-pairs TF-IDF cosine document similarity via the inverted
    * index — the sparse-vector counterpart of the dense embedding
    * pairs in [[graft.operators.Dedup.embeddingNearDups]]: weight each
    * (doc, term) by tf·ln(N/df), then a pair's dot product is a sum
    * over SHARED terms only, so the self-join on term materializes
    * exactly the co-occurring pairs instead of n² rows.
    *
    * Two standard prunes keep the candidate volume linear at scale,
    * and both are part of the operator's SEMANTICS (the oracle applies
    * them identically, and text search engines define similarity in
    * the pruned space):
    *   - `df ≥ 2`: a term in one document can't produce a pair, and
    *     such terms are the bulk of any corpus vocabulary (Zipf);
    *   - `df ≤ dfCap`: stop-terms pair everything with everything —
    *     one term of df = D contributes D·(D−1)/2 candidate rows.
    *     Capping df bounds any term's fan-out (the equi-shuffle skew
    *     cap, same role as maxBucket in the MinHash path) and removes
    *     near-zero-idf noise from the similarity itself. Net bound:
    *     candidates ≤ Σ_t df(t)·(df(t)−1)/2 ≤ (dfCap−1)/2 · Σ_t df(t)
    *     — LINEAR in total postings with a dfCap constant, never the
    *     n² of a naive all-pairs join.
    *
    * Norms are computed over the surviving terms (similarity is
    * DEFINED in the pruned vector space). The threshold compares the
    * ROUNDED similarity, so a borderline pair cannot flip between
    * engines. */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double, dfCap: Int = 100,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol), explode(TextFunctions.tokens(textCol)).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = broadcast(docs.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs")))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
    val w = tf.join(broadcast(df_), Seq("term"))
      .crossJoin(nDocs)
      .withColumn("w", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .select(col(idCol), col("term"), col("w"))
    val norms = w.groupBy(idCol).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val pairs = w.as("a").join(w.as("b"), Seq("term"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(col("a.w") * col("b.w")).as("dot"))
    pairs
      .join(norms.select(col(idCol).as("doc_a"), col("nrm").as("nrm_a")), Seq("doc_a"))
      .join(norms.select(col(idCol).as("doc_b"), col("nrm").as("nrm_b")), Seq("doc_b"))
      .withColumn("sim", round(col("dot") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared_terms"), col("sim"))
  }

  /** Vocabulary induction + out-of-vocabulary coverage (the tokenizer-
    * budget planning pass every training pipeline runs: which V types
    * cover how much of the corpus, and which documents fall outside):
    * the top-`vocabSize` tokens by (count DESC, token ASC — a strict
    * total order, so the vocab is engine- and run-stable), then per-doc
    * OOV counts and the corpus-wide coverage beside each row.
    *
    * Scale shape: ONE token explode feeds both the count table and the
    * per-doc join; the vocab cut is orderBy+limit (per-partition heaps,
    * no global window); membership is a broadcast join against the
    * V-row vocab (driver-scale artifact), and the per-doc aggregate
    * shuffles (doc_id)-keyed counts with map-side combine. `oov_rate`
    * is an exact long/long division; `coverage` is the one aggregated
    * double (rounded 6). */
  def vocabCoverage(docs: DataFrame, vocabSize: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // ONE corpus explode+aggregate feeds both the vocab cut and the
    // per-doc counts (the q51/q91/q97 exchange-reuse restructure):
    // keys wrapped statically non-null so neither consumer pushes an
    // isnotnull into the shared subtree, and the vocab branch keeps a
    // tf-dependent filter the optimizer cannot prove so it must reuse
    // the tokCounts exchange instead of re-exploding the corpus
    val tokCounts = docs
      .select(coalesce(col(idCol), lit(-1L)).as(idCol),
        explode(TextFunctions.tokens(textCol)).as("tok0"))
      .select(col(idCol), coalesce(col("tok0"), lit("")).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val vocab = tokCounts.filter(col("tf") > 0)
      .groupBy("tok").agg(sum("tf").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    val perDoc = tokCounts
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(idCol)
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov") / col("n_tokens"))
    val global = perDoc.agg(
      lit(vocabSize).as("vocab_size"),
      round(lit(1.0) - sum("n_oov") / sum("n_tokens"), 6).as("coverage"))
    perDoc.crossJoin(broadcast(global))
  }

  /** PMI collocations — corpus-level keyword-phrase extraction (Church
    * & Hanks 1990): adjacent token pairs scored by (normalized)
    * pointwise mutual information,
    *
    *   pmi  = ln( p(w1w2) / (p(w1)·p(w2)) )
    *   npmi = pmi / −ln p(w1w2)    ∈ [−1, 1]
    *
    * — high npmi = the pair co-occurs far above chance ("machine
    * learning", not "of the"). The extraction statistic q97's bigram
    * LM does not provide (perplexity scores documents; PMI scores
    * PAIRS). `minCount` guards the low-frequency PMI bias (a pair seen
    * twice can max the score by accident — the standard filter).
    *
    * Scale shape: ONE positional-bigram explode (the q97 shape) feeds
    * the pair counts; unigram counts are one token explode; everything
    * after joins VOCAB-sized count tables. npmi rounds to 6 BEFORE the
    * ranking window (round-before-select), and the window ranks the
    * minCount-filtered pair table — bounded, not the corpus. */
  def pmiCollocations(docs: DataFrame, textCol: String = "text",
      minCount: Long = 5, topK: Int = 50): DataFrame = {
    val toks = docs.withColumn("toks", TextFunctions.tokens(textCol))
    // uni feeds the total and BOTH metric joins; pairs feeds the total
    // and the scoring — lazily checkpointed (vocab-/pair-table-sized)
    // so each corpus explode runs once (the q178 replay lesson)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .transform(Pin.lazily)
    val uniTotal = uni.agg(sum("c").as("t_uni"))
    val pairs = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .transform(Pin.lazily)
    val pairTotal = pairs.agg(sum("c12").as("t_pair"))
    val scored = pairs
      .where(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(uniTotal)).crossJoin(broadcast(pairTotal))
      .withColumn("__p12", col("c12") / col("t_pair").cast("double"))
      .withColumn("pmi", round(log(col("__p12") /
        ((col("c1") / col("t_uni").cast("double")) *
          (col("c2") / col("t_uni").cast("double")))), 6))
      .withColumn("npmi", round(log(col("__p12") /
        ((col("c1") / col("t_uni").cast("double")) *
          (col("c2") / col("t_uni").cast("double")))) / -log(col("__p12")), 6))
    // distributed top-k over the pair table ([[Ranking.topK]]: no
    // single-partition window before the limit)
    Ranking.topK(scored, topK, col("npmi").desc, col("w1"), col("w2"))
      .select(col("rank"), concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("c12"), col("c1"), col("c2"), col("pmi"), col("npmi"))
      .orderBy("rank")
  }

  /** Zipf's-law fit of the corpus rank–frequency curve: OLS of
    * ln(freq) on ln(rank) over the top-`topK` vocabulary — slope ≈ −1
    * is Zipf; a much flatter slope flags boilerplate-heavy or
    * template-generated text, a steeper one vocabulary collapse
    * (Zipf 1949; the corpus-health law every NL dataset audit plots).
    * One row: n_terms, top-1 share, slope, intercept, r² (rounded 6 —
    * the q55/q14 aggregated-double discipline; ln parity across
    * engines is the q97 precedent).
    *
    * Scale shape: token counts are one map-combinable aggregate; the
    * top-K cut is a distributed TakeOrdered (never a full sort); the
    * rank window and the OLS moments run on the K-row frame only. */
  /** Heaps'-law fit of vocabulary growth — [[zipfFit]]'s companion
    * corpus law (Heaps 1978: V(N) ≈ K·N^β, β ≈ 0.4–0.6 for natural
    * text): vocabulary size vs corpus token count at `nCheckpoints`
    * corpus prefixes, plus the log-log OLS (β, ln K, r²) in-row. A β
    * near 0 flags a closed template vocabulary; near 1, id-like noise
    * tokens — the tokenizer-budget planning curve.
    *
    * Scale shape — deliberately NO corpus-ordered row_number spine:
    * prefixes are defined by EXACT doc-id quantile thresholds
    * ([[Quantiles.exactQuantiles]], two-phase), each token carries its
    * min containing doc id (one exploded aggregate), and every
    * checkpoint's (N, V) is an aggregate against the broadcast 10-row
    * threshold frame. The OLS runs on nCheckpoints rows. */
  def heapsFit(docs: DataFrame, nCheckpoints: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nCheckpoints >= 3, "need at least 3 checkpoints to fit")
    val qs = (1 to nCheckpoints).map(_.toDouble / nCheckpoints)
    // 10-row threshold frame, consumed by three joins — pin it so the
    // quantile selection runs once
    val cuts = Quantiles.exactQuantiles(docs, idCol, qs)
      .select(col("q"), col("value").cast("long").as("__cut"))
      .transform(Pin.lazily)
    // the exploded (doc, token) stream feeds two aggregates with
    // DIFFERENT keys (token-min and doc-count), so exchange reuse
    // cannot share it; the checkpoint trades executor storage of the
    // narrow token stream for the second tokenize+explode pass — at
    // extreme scale prefer dropping it and paying the re-scan (the
    // storage is corpus-order; the re-scan is map-only)
    val tok = docs
      .select(col(idCol), explode(TextFunctions.tokens(textCol)).as("tok"))
      .filter(col("tok") =!= "")
      .transform(Pin.lazily)
    val firstDoc = tok.groupBy("tok").agg(min(col(idCol)).as("__fd"))
    val docLen = tok.groupBy(idCol).agg(count(lit(1)).as("__len"))
    val pts = cuts
      .join(docLen.crossJoin(broadcast(cuts)).filter(col(idCol) <= col("__cut"))
        .groupBy("q").agg(sum("__len").as("n_tokens"),
          count(lit(1)).as("n_docs")), Seq("q"))
      .join(firstDoc.crossJoin(broadcast(cuts)).filter(col("__fd") <= col("__cut"))
        .groupBy("q").agg(count(lit(1)).as("vocab")), Seq("q"))
      .transform(Pin.lazily)
    val m = pts.select(log(col("n_tokens").cast("double")).as("x"),
        log(col("vocab").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val denY = col("n") * col("syy") - col("sy") * col("sy")
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    // + 0.0 normalizes IEEE negative zero: on a degenerate fit (constant
    // vocab across checkpoints) cov rounds to -0.0 in one engine and 0.0
    // in the other — identical values, different strings under the hash
    val fit = m.select(
      (round(cov / den, 6) + lit(0.0)).as("beta"),
      (round((col("sy") - cov / den * col("sx")) / col("n"), 6) + lit(0.0)).as("ln_k"),
      (round(cov * cov / (den * denY), 6) + lit(0.0)).as("r2"))
    pts.crossJoin(broadcast(fit))
      .select(col("q"), col("__cut").as("doc_id_cut"), col("n_docs"),
        col("n_tokens"), col("vocab"), col("beta"), col("ln_k"), col("r2"))
      .orderBy("q")
  }

  def zipfFit(docs: DataFrame, topK: Int = 1000,
      textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(explode(TextFunctions.tokens(textCol)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum("cnt").as("__tot"))
    // bounded window (r16 audit): the frame below it is limit(topK) —
    // ≤ topK rows reach the unpartitioned rank, never the vocabulary
    val top = tf.orderBy(col("cnt").desc, col("tok")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
    val pts = top.select(log(col("rank").cast("double")).as("x"),
      log(col("cnt").cast("double")).as("y"),
      col("cnt"), col("rank"))
    val m = pts.agg(count(lit(1)).cast("double").as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      max(when(col("rank") === 1, col("cnt"))).as("top1"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val denY = col("n") * col("syy") - col("sy") * col("sy")
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    m.crossJoin(broadcast(total))
      .select(col("n").cast("long").as("n_terms"),
        round(col("top1") / col("__tot"), 6).as("top1_share"),
        round(cov / den, 6).as("slope"),
        round((col("sy") - cov / den * col("sx")) / col("n"), 6).as("intercept"),
        round(cov * cov / (den * denY), 6).as("r2"))
  }
}
